"""Physical-plan guards: the properties that make the pipeline hold at
1000-executor / 100TB scale are asserted on the plan itself, so a regression
(a row-wise Python UDF sneaking into the hot path, a broadcast turning into
a shuffle join, a scan losing pruning/pushdown) fails CI, not production.
"""

import pytest
from pyspark.sql import functions as F

from mysql_log_parser_spark import synth
from mysql_log_parser_spark.functions.fingerprint import with_fingerprint
from mysql_log_parser_spark.operators.aggregate import (
    class_digest,
    rollup_digest,
    split_rollup_digest,
)
from mysql_log_parser_spark.operators.enrich import build_dims, enrich_events
from mysql_log_parser_spark.operators.parse import parse_slowlog
from mysql_log_parser_spark.pipeline import events
from mysql_log_parser_spark.sources.tokens_table import TokensTable


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def tokens_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("tokens")
    synth.generate_parquet(str(d / "c0.parquet"), n_docs=6, events_per_doc=8, seed=13)
    return str(d)


def test_pipeline_has_no_rowwise_python(spark, tokens_dir):
    ev = events(spark.read.parquet(tokens_dir))
    plan = _plan(class_digest(ev, mode="sketch"))
    assert "BatchEvalPython" not in plan, "row-at-a-time Python UDF in the hot path"
    assert ("MapInArrow" in plan) or ("MapInPandas" in plan), "parse kernel missing"


def test_fingerprint_is_jvm_side(spark, tokens_dir):
    ev = parse_slowlog(spark.read.parquet(tokens_dir))
    plan = _plan(with_fingerprint(ev).select("fingerprint", "class_id"))
    # the regex chain must be Catalyst expressions, not any kind of Python eval
    assert "EvalPython" not in plan


def test_enrich_is_broadcast_join(spark, tokens_dir):
    ev = events(spark.read.parquet(tokens_dir))
    dims = build_dims(spark)
    enriched = enrich_events(
        ev, dims["dim_host"], dims["dim_db"], dims["dim_user"]
    )
    plan = _plan(enriched)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, "dim join fell back to a shuffle join"


def test_scan_prunes_columns(spark, tokens_dir):
    df = TokensTable(spark, tokens_dir).read().select("doc_id", "source")
    plan = _plan(df)
    assert "ReadSchema" in plan
    read_schema = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "tokens" not in read_schema, "projection did not prune the fat tokens column"
    assert "doc_id" in read_schema


def test_scan_pushes_filters(spark, tokens_dir):
    df = TokensTable(spark, tokens_dir).read(min_tokens=10, sources=["s0"])
    plan = _plan(df.select("doc_id"))
    pushed = plan[plan.index("PushedFilters") :].splitlines()[0]
    assert "n_tok" in pushed and "source" in pushed, pushed


def test_class_agg_is_partial_final(spark, tokens_dir):
    ev = events(spark.read.parquet(tokens_dir))
    plan = _plan(ev.groupBy("class_id").agg(F.count(F.lit(1)).alias("n")))
    # partial (map-side) aggregation must appear before the exchange
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_digest_job_parses_once(spark, tokens_dir):
    """digest_job's shape: the class+global rollup holds the only parse, and
    the two digests projected from its materialized result re-run none."""
    ev = events(spark.read.parquet(tokens_dir))
    rollup = rollup_digest(ev, mode="sketch")
    assert _plan(rollup).count("MapInArrow") == 1
    for out in split_rollup_digest(rollup.localCheckpoint()):
        assert "MapInArrow" not in _plan(out)


def test_streaming_digest_is_a_builtin_aggregate(spark, tokens_dir):
    """The running per-class digest is class_digest as a stateful streaming
    aggregate: no pandas-state operator, and no Python node besides the
    parse's one MapInArrow."""
    import re

    from mysql_log_parser_spark.streaming.pipeline import stream_events

    q = (
        class_digest(stream_events(spark, tokens_dir), mode="sketch")
        .writeStream.format("memory")
        .queryName("plan_guard_digest")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(300)
        plan = q._jsq.explainInternal(False)
    finally:
        q.stop()
    assert "StateStoreSave" in plan, plan
    assert "FlatMapGroupsInPandasWithState" not in plan
    python_nodes = re.findall(r"\b\w*(?:Python|Pandas|Arrow)\w*", plan)
    assert python_nodes == ["MapInArrow"], python_nodes


def test_windowed_stream_digest_is_class_digest(spark, tokens_dir):
    """The event-time windowed stream digest is class_digest grouped by
    window: a stateful aggregate of exactly count, sum, max and first
    (Catalyst prunes the unselected percentile and example aggregates), and
    no Python node besides the parse's one MapInArrow."""
    import re

    from mysql_log_parser_spark.streaming.pipeline import (
        stream_events,
        windowed_class_counts,
    )

    q = (
        windowed_class_counts(stream_events(spark, tokens_dir))
        .writeStream.format("memory")
        .queryName("plan_guard_windowed")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(300)
        plan = q._jsq.explainInternal(False)
    finally:
        q.stop()
    assert "StateStoreSave" in plan, plan
    assert "percentile_approx" not in plan and "min_by" not in plan
    funcs = {
        name
        for agg in re.findall(r"functions=\[(.*)\]\)", plan)
        for name in re.findall(r"(?:^|, )(?:partial_|merge_)?(\w+)\(", agg)
    }
    assert funcs == {"count", "sum", "max", "first"}, funcs
    python_nodes = re.findall(r"\b\w*(?:Python|Pandas|Arrow)\w*", plan)
    assert python_nodes == ["MapInArrow"], python_nodes


def _docs_df(spark):
    return spark.createDataFrame(
        [(i, f"src{i % 3}", f"some words repeated words here doc {i}") for i in range(30)],
        "doc_id long, source string, text string",
    )


def test_repetition_is_narrow_single_fold(spark):
    """Gopher repetition signals: zero shuffles, and each max-run fold is
    evaluated exactly once per row (CollapseProject must not duplicate the
    non-cheap aggregate() expressions referenced by the permille columns)."""
    from mysql_log_parser_spark.textops.quality import with_repetition

    plan = _plan(with_repetition(_docs_df(spark)).drop("text"))
    assert "Exchange" not in plan, "per-doc features must not shuffle"
    assert "EvalPython" not in plan
    # one fold for word max-run + one for bigram max-run, nothing duplicated
    assert plan.count("aggregate(") == 2, plan.count("aggregate(")


def test_decontaminate_broadcasts_probes(spark):
    from mysql_log_parser_spark.textops.decontam import (
        contamination_hits,
        probe_ngrams,
    )

    d = _docs_df(spark)
    hits = contamination_hits(d, probe_ngrams(d.where(F.col("doc_id") % 9 == 0)))
    plan = _plan(hits)
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan


def test_decontaminate_shuffle_path_never_broadcasts_probes(spark):
    """probes_broadcastable=False: the gram join must be a pinned shuffle
    hash join (the caller declared the probe set too big to broadcast) and
    the only broadcast is the bounded bucket prefilter."""
    from mysql_log_parser_spark.textops.decontam import (
        contamination_hits,
        probe_ngrams,
    )

    d = _docs_df(spark)
    probes = probe_ngrams(d.where(F.col("doc_id") % 9 == 0))
    plan = _plan(
        contamination_hits(d, probes, probes_broadcastable=False)
    )
    assert "ShuffledHashJoin" in plan, "gram join lost the pinned shuffle strategy"
    assert "LeftSemi, BuildRight" in plan or "BroadcastHashJoin" in plan, (
        "bucket prefilter missing"
    )
    assert "EvalPython" not in plan


def test_ann_rerank_prenorm_single_fold_per_pair(spark):
    """Brute-force top-k: norms computed once per side BEFORE the join
    (in the per-side Projects), so the post-join cosine is a single dot
    fold — not three folds per candidate pair."""
    from mysql_log_parser_spark.textops.similarity import cosine_topk_bruteforce

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, 2.0]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    df = cosine_topk_bruteforce(emb, emb.where(F.col("vec_id") < 2), k=3)
    plan = _plan(df)
    # norm folds (sqrt of self-dot): exactly one per join input, none after
    join_pos = plan.index("BroadcastNestedLoopJoin") if "BroadcastNestedLoopJoin" in plan else plan.index("Join")
    post_join = plan[:join_pos]  # executedPlan prints top-down: above = post-join
    assert post_join.count("SQRT") == 0, "norms recomputed per candidate pair"
    assert plan.count("SQRT(aggregate(") == 2, "expected one norm fold per side"


def test_upsample_is_narrow(spark):
    from mysql_log_parser_spark.textops.sampling import upsample

    plan = _plan(upsample(_docs_df(spark), {"src0": 2.5}))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_bucketed_join_is_exchange_free(spark, tmp_path):
    """Two tables bucketed by the join key at the same bucket count must
    join AND re-aggregate on that key with ZERO exchanges — the write-time
    shuffle is the only one ever paid."""
    import uuid

    from mysql_log_parser_spark.operators.bucketing import (
        colocated_join,
        write_bucketed,
    )

    tag = uuid.uuid4().hex[:8]
    ev = spark.range(200).select(
        (F.col("id") % 7).cast("string").alias("class_id"),
        (F.col("id") % 13).cast("double").alias("qt"),
    )
    cls = ev.groupBy("class_id").agg(F.avg("qt").alias("qt_avg"))
    write_bucketed(ev, f"t_ev_{tag}", str(tmp_path / "ev"), ("class_id",), 4)
    write_bucketed(cls, f"t_cls_{tag}", str(tmp_path / "cls"), ("class_id",), 4)
    out = (
        colocated_join(spark, f"t_ev_{tag}", f"t_cls_{tag}", ["class_id"])
        .groupBy("class_id")
        .agg(F.sum(F.when(F.col("qt") > F.col("qt_avg"), 1).otherwise(0)).alias("n"))
    )
    plan = _plan(out)
    assert "Exchange" not in plan, "bucketed join/agg reintroduced a shuffle"
    assert out.count() == 7


def test_vocab_topk_is_take_ordered(spark):
    """vocab_stats must compile to TakeOrderedAndProject (per-partition
    top-K + K-row merge), never a global row_number window that exchanges
    the whole vocabulary through one task."""
    import os

    from mysql_log_parser_spark.entry_queries_textops import q_vocab_stats

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        pytest.skip("driver testdata not available")
    plan = _plan(q_vocab_stats(spark, sf))
    assert "TakeOrderedAndProject" in plan, "vocab top-K lost the distributed take"


def test_token_topk_plans(spark):
    """Unigram/bigram token top-K: TakeOrderedAndProject (never a global
    window), a PARTIAL aggregate between explode and exchange (shuffle stays
    vocab-bounded, not token-count-bounded), and no row-wise Python — the
    only Python is the contract's Arrow-batched encoder."""
    import os

    from mysql_log_parser_spark.entry_queries_textops import (
        q_token_bigram_topk,
        q_token_id_topk,
    )

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        pytest.skip("driver testdata not available")
    for q in (q_token_id_topk, q_token_bigram_topk):
        plan = _plan(q(spark, sf))
        assert "TakeOrderedAndProject" in plan, "token top-K lost the distributed take"
        assert "partial_count" in plan or "partial count" in plan.lower(), (
            "map-side partial aggregate missing — shuffle would carry every token"
        )
        assert "BatchEvalPython" not in plan


def test_session_scale_configs_pinned(spark):
    """The session tuning CLAUDE.md calls load-bearing must stay on: AQE
    (runtime coalescing + skew-join splitting — the north-rule's skew
    mitigation besides explicit salting), Arrow batching, UTC."""
    conf = spark.conf
    assert conf.get("spark.sql.adaptive.enabled") == "true"
    assert conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    assert conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true"
    assert conf.get("spark.sql.execution.arrow.pyspark.enabled") == "true"
    assert conf.get("spark.sql.session.timeZone") == "UTC"


def test_aqe_splits_skewed_join(spark):
    """On a 90%-hot key, AQE must actually SPLIT the skewed partition in the
    sort-merge join (final adaptive plan marks the join skew=true) — the
    runtime half of the north-rule's skew story.  Timing evidence is
    BENCH.md round 3's skew row (1.7x at 2M rows, a local[32] box); this
    asserts the mechanism.

    Also pinned here: when the DOWNSTREAM aggregate is keyed on the join
    key itself, AQE refuses to split (splitting would break the required
    hash distribution).  The class digest itself needs no split: map-side
    partial aggregation reduces a hot class to one row per map task before
    its shuffle."""
    from pyspark.sql import functions as F

    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1m"
    )
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "512k")
    try:
        ev = spark.range(400_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0))
            .otherwise((F.col("id") % 63) + 1)
            .alias("class_id"),
            F.sha2(F.col("id").cast("string"), 256).alias("payload"),
        )
        dim = spark.range(64).select(F.col("id").alias("class_id"))

        # splittable shape: downstream agg NOT keyed on the join key
        j = ev.join(dim, "class_id").agg(
            F.sum(F.length("payload")).alias("s"), F.count(F.lit(1)).alias("n")
        )
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, f"AQE did not split the hot partition:\n{plan[:2000]}"

        # non-splittable shape: agg keyed on the join key — AQE must NOT
        # split
        j2 = ev.join(dim, "class_id").groupBy("class_id").count()
        j2.collect()
        plan2 = j2._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan2
        assert "skew=true" not in plan2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
        spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionFactor")
        spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")


def test_round3_queries_no_rowwise_python(spark):
    """Every new lazy gate query this round keeps Python out of the row
    path: Arrow kernels (ArrowEvalPython / MapInPandas) are the only
    Python, never BatchEvalPython."""
    import os

    from mysql_log_parser_spark import entry_queries as EQ
    from mysql_log_parser_spark.entry_queries_ext import EXT_QUERIES
    from mysql_log_parser_spark.entry_queries_textops import TEXTOPS_QUERIES
    from mysql_log_parser_spark.textops.bpe import bpe_merge_step

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        pytest.skip("driver testdata not available")
    lazy_new = ["seq_len_histogram", "token_id_topk",
                "token_bigram_topk", "slow_window_topk", "line_boilerplate",
                "word_commonness"]
    reg = dict(TEXTOPS_QUERIES)
    reg.update(EXT_QUERIES)
    for name in lazy_new:
        plan = _plan(reg[name][0](spark, sf))
        assert "BatchEvalPython" not in plan, name
    # the BPE merge kernel on the corpus, encoded as the BPE gates encode it
    toks = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", EQ.encode_tokens("text").alias("tokens")
    )
    plan = _plan(bpe_merge_step(toks, new_id=256))
    assert "MapInPandas" in plan and "BatchEvalPython" not in plan
    # multimodal_resize: kernel is mapInPandas by design
    plan = _plan(reg["multimodal_resize"][0](spark, sf))
    assert "MapInPandas" in plan and "BatchEvalPython" not in plan


def test_round4_queries_no_rowwise_python(spark):
    """Round-4 lazy gate queries: no BatchEvalPython in any plan, and the
    classifier/DSIR weight joins broadcast (bounded model tables never put
    a corpus-wide exchange on the hot path)."""
    import os

    from mysql_log_parser_spark.entry_queries_ext import EXT_QUERIES
    from mysql_log_parser_spark.entry_queries_textops import TEXTOPS_QUERIES

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        pytest.skip("driver testdata not available")
    reg = dict(TEXTOPS_QUERIES)
    reg.update(EXT_QUERIES)
    for name in ["dsir_weights", "quality_classifier", "ann_ivf_probe2",
                 "ann_ivfpq_adc"]:
        plan = _plan(reg[name][0](spark, sf))
        assert "BatchEvalPython" not in plan, name
    plan = _plan(reg["quality_classifier"][0](spark, sf))
    assert "BroadcastHashJoin" in plan


def test_round4b_queries_plan_shape(spark):
    """Second round-4 batch: the IVF-PQ rerank keeps BOTH stages on
    broadcast joins (shortlist is NQ x R rows — a sort-merge there would
    mean the corpus is on the wrong side), mix_temperature broadcasts its
    single-row totals, and none of the batch row-wises Python."""
    import os

    from mysql_log_parser_spark.entry_queries_ext import EXT_QUERIES
    from mysql_log_parser_spark.entry_queries_textops import TEXTOPS_QUERIES

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        pytest.skip("driver testdata not available")
    reg = dict(TEXTOPS_QUERIES)
    reg.update(EXT_QUERIES)
    for name in ["ann_ivfpq_rerank", "mix_temperature",
                 "winnow_fingerprints", "winnow_dup_pairs"]:
        plan = _plan(reg[name][0](spark, sf))
        assert "BatchEvalPython" not in plan, name
    rerank = _plan(reg["ann_ivfpq_rerank"][0](spark, sf))
    assert rerank.count("BroadcastHashJoin") >= 2 and "SortMergeJoin" not in rerank
    mix = _plan(reg["mix_temperature"][0](spark, sf))
    assert "BroadcastNestedLoopJoin" in mix or "BroadcastHashJoin" in mix


def test_span_stats_no_window_on_span_key(spark):
    """duplicate_span_stats counts span document-frequency with a
    groupBy("span") + join back (partial-final agg, AQE-skew-splittable
    join), NEVER a count-over-Window on the span key: a boilerplate span
    shared by millions of docs would land in ONE unsplittable WindowExec
    partition (VERDICT r4 finding #1).  The plan must carry no Window
    node at all."""
    from mysql_log_parser_spark.textops.dedup import duplicate_span_stats

    df = spark.createDataFrame(
        [(1, list(range(30))), (2, list(range(30))), (3, [1, 2])],
        "doc_id long, tokens array<int>",
    )
    plan = _plan(duplicate_span_stats(df, k=8))
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 2  # partial+final span count


def test_round5_queries_plan_shape(spark):
    """Round-5 additions: the sampled-BPE corpus-wide apply is ONE
    shuffle-free MapInPandas (no per-merge corpus pass on the apply
    side), the residual IVF-PQ query plans stay row-wise-Python-free,
    and the LSH ingest verdicts carry no Exchange beyond the band-key /
    doc-key joins (no row-wise Python anywhere)."""
    import os

    from mysql_log_parser_spark.entry_queries_ext import EXT_QUERIES
    from mysql_log_parser_spark.entry_queries_textops import TEXTOPS_QUERIES

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        pytest.skip("driver testdata not available")
    reg = dict(TEXTOPS_QUERIES)
    reg.update(EXT_QUERIES)
    for name in ["bpe_train_sampled", "ann_ivfpq_residual",
                 "incremental_lsh_append", "quality_calibrate",
                 "dedup_exact_tokens"]:
        plan = _plan(reg[name][0](spark, sf))
        assert "BatchEvalPython" not in plan, name

    # apply side alone: one Arrow pass, zero shuffle
    from mysql_log_parser_spark.textops.bpe import apply_merges

    df = spark.createDataFrame([(1, [97, 98, 99])], "doc_id long, tokens array<int>")
    plan = _plan(apply_merges(df, [(97, 98, 256), (256, 99, 257)]))
    assert "MapInPandas" in plan and "Exchange" not in plan


def test_calibrate_plan_histogram_not_perdoc_window(spark):
    """calibrate_per_source ranks through the per-(source, score)
    histogram: the per-doc side must reach the output through a
    BroadcastHashJoin with NO Window above it — the Window runs over the
    aggregated histogram rows only (below the join's build side), never
    partitioning the corpus by source."""
    from mysql_log_parser_spark.textops.sampling import calibrate_per_source

    df = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 10)],
        "doc_id long, source string, score long",
    )
    plan = _plan(calibrate_per_source(df))
    assert "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan
    # the Window sits under the broadcast exchange (build side), i.e. the
    # histogram branch — the probe side above the join is window-free
    probe_side = plan.split("BroadcastHashJoin")[0]
    assert "Window" not in probe_side
    assert plan.count("HashAggregate") >= 2  # partial+final histogram agg
