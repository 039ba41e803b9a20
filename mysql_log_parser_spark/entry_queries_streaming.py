"""Driver-contract queries that exercise the Structured Streaming paths —
the same rendered corpus is written out as tokens chunks, consumed through
readStream (file source), pushed through the REAL parse/fingerprint
operators, and the materialized result is compared against a DuckDB oracle
derived straight from the `events` table.

Both queries run a bounded (availableNow) stream to completion inside the
query callable and return the materialized result as a batch DataFrame, so
the standard row/schema/value-hash comparison applies — the streaming
operators get the same correctness gate as the batch ones.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mysql_log_parser_spark.entry_queries import (
    _ORACLE_EVENTS_CTE,
    docs_from_events,
    encode_tokens,
)
from mysql_log_parser_spark.operators.route import sink_counts
from mysql_log_parser_spark.streaming.pipeline import start_routed_sink, stream_events


def _scratch_dir(prefix: str) -> str:
    """mkdtemp that is reclaimed at interpreter exit — streaming inputs/sinks
    must outlive the (lazy) result DataFrame, so cleanup cannot be inline."""
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def _await_bounded(q, timeout_sec: int = 600) -> None:
    """Fail loudly if the bounded (availableNow) stream has not drained in
    time — a silent timeout would hash-compare a PARTIAL sink as if it were
    the complete result."""
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(
            f"bounded stream {q.name or q.id} still running after "
            f"{timeout_sec}s; refusing to read a partial sink"
        )


def _tokens_chunks(spark: SparkSession, sf_dir: str) -> str:
    """Render the corpus and write it as a 2-chunk tokens directory."""
    d = _scratch_dir("mlp_stream_in_")
    docs = docs_from_events(spark, sf_dir)
    (
        docs.repartition(2)
        .select(
            "doc_id",
            encode_tokens("text").alias("tokens"),
            "source",
        )
        .withColumn("n_tok", F.size("tokens"))
        .write.mode("overwrite")
        .parquet(d)
    )
    return d


def q_stream_route_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream -> parse -> fingerprint -> routed parquet sink,
    then per-sink counts over what the STREAM wrote (routed-row equality
    with the batch-derived oracle)."""
    ind = _tokens_chunks(spark, sf_dir)
    out = _scratch_dir("mlp_stream_out_")
    ckpt = _scratch_dir("mlp_stream_ckpt_")
    q = start_routed_sink(stream_events(spark, ind), out, ckpt)
    _await_bounded(q)
    return sink_counts(spark, out)


O_STREAM_ROUTE_COUNTS = _ORACLE_EVENTS_CTE + """
SELECT source,
       count(*) AS routed_rows,
       count(DISTINCT fingerprint) AS distinct_classes,
       sum(qt) AS qt_sum
FROM e GROUP BY source
"""


def q_stream_stateful_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The running per-class digest (aggregate.class_digest as a streaming
    aggregate in update mode), run to completion over the streamed corpus;
    the final per-class state must equal the batch aggregate."""
    from mysql_log_parser_spark.operators.aggregate import class_digest

    ind = _tokens_chunks(spark, sf_dir)
    name = f"mlp_stateful_{uuid.uuid4().hex[:8]}"
    q = (
        class_digest(stream_events(spark, ind), mode="sketch")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    _await_bounded(q)
    # one update row per class per micro-batch; the final state per class is
    # the row with the largest (monotone) count
    return (
        spark.table(name)
        .groupBy("class_id")
        .agg(
            F.max("total_queries").alias("total_queries"),
            F.max("query_time_sum").alias("qt_sum"),
            F.max("query_time_max").cast("double").alias("qt_max"),
        )
    )


O_STREAM_STATEFUL_DIGEST = _ORACLE_EVENTS_CTE + """
SELECT upper(substr(md5(fingerprint), 17, 16)) AS class_id,
       count(*) AS total_queries,
       sum(qt) AS qt_sum,
       max(qt) AS qt_max
FROM e GROUP BY fingerprint
"""


STREAMING_QUERIES = {
    "stream_route_counts": (q_stream_route_counts, O_STREAM_ROUTE_COUNTS),
    "stream_stateful_digest": (q_stream_stateful_digest, O_STREAM_STATEFUL_DIGEST),
}


def _ext_tokens_chunks(spark: SparkSession, sf_dir: str) -> str:
    """EXT corpus (per-event timestamps, admin lines, rate headers) rendered
    to a 2-chunk tokens directory for event-time streaming queries."""
    from mysql_log_parser_spark.entry_queries_ext import ext_docs_from_events

    d = _scratch_dir("mlp_stream_ext_in_")
    (
        ext_docs_from_events(spark, sf_dir)
        .repartition(2)
        .select("doc_id", encode_tokens("text").alias("tokens"), "source")
        .withColumn("n_tok", F.size("tokens"))
        .write.mode("overwrite")
        .parquet(d)
    )
    return d


def q_stream_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling windows (5 min) per query class over the STREAM,
    complete output mode: the final memory-sink table is the full windowed
    result regardless of micro-batch boundaries, so the comparison is exact.
    Event time is the parsed '# Time:' line (varies per event in the EXT
    corpus); admin events are excluded so class fingerprints match the
    oracle's derivation.  Late-data *eviction* (append mode + watermark
    drop) is exercised in tests/test_streaming.py; this query gates the
    windowed-aggregation semantics themselves."""
    from mysql_log_parser_spark.streaming.pipeline import windowed_class_counts

    ind = _ext_tokens_chunks(spark, sf_dir)
    name = f"mlp_winagg_{uuid.uuid4().hex[:8]}"
    ev = stream_events(spark, ind).where(~F.col("admin"))
    q = (
        windowed_class_counts(ev, window="5 minutes", watermark="10 minutes")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    _await_bounded(q)
    return spark.table(name).select(
        F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "class_id",
        "total_queries",
        F.col("query_time_sum").alias("qt_sum"),
        F.col("query_time_max").cast("double").alias("qt_max"),
    )


O_STREAM_WINDOW_AGG = """
WITH e AS (
  SELECT CAST(event_id % 60 AS BIGINT) AS mm,
         CAST(round(value*64)/64 AS DOUBLE) AS qt,
         'select c from t_' || event_type || ' where id=?' AS fingerprint
  FROM events WHERE event_id % 17 != 0
)
SELECT '2024-01-01 10:' || lpad(CAST((mm // 5) * 5 AS VARCHAR), 2, '0') || ':00' AS window_start,
       upper(substr(md5(fingerprint), 17, 16)) AS class_id,
       count(*) AS total_queries,
       sum(qt) AS qt_sum,
       max(qt) AS qt_max
FROM e GROUP BY 1, 2
"""

STREAMING_QUERIES["stream_window_agg"] = (q_stream_window_agg, O_STREAM_WINDOW_AGG)


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once upstream -> exactly-once downstream: every third doc is
    REDELIVERED (written to a second input chunk with identical doc_id), the
    stream parses both copies, and dropDuplicates on the event identity
    (doc_id, event_idx) holds per-key state that admits each event once
    into the routed sink.
    The oracle is the single-delivery per-sink derivation, so any duplicate
    that leaks through — or any legitimate event the state wrongly drops —
    flips the hash.  Bounded availableNow run; production would add a
    watermark to bound the dedup state to the redelivery horizon."""
    ind = _scratch_dir("mlp_stream_dup_in_")
    docs = docs_from_events(spark, sf_dir)
    tok = docs.repartition(2).select(
        "doc_id", encode_tokens("text").alias("tokens"), "source"
    ).withColumn("n_tok", F.size("tokens"))
    tok.write.mode("overwrite").parquet(ind)
    # the redelivered chunk: same doc_ids, same payload, appended later
    redeliver = docs.where(
        F.abs(F.hash("doc_id")) % 3 == 0
    ).repartition(1).select(
        "doc_id", encode_tokens("text").alias("tokens"), "source"
    ).withColumn("n_tok", F.size("tokens"))
    redeliver.write.mode("append").parquet(ind)

    out = _scratch_dir("mlp_stream_dup_out_")
    ckpt = _scratch_dir("mlp_stream_dup_ckpt_")
    ev = stream_events(spark, ind).dropDuplicates(["doc_id", "event_idx"])
    _await_bounded(start_routed_sink(ev, out, ckpt))
    return sink_counts(spark, out)


STREAMING_QUERIES["stream_dedup"] = (q_stream_dedup, O_STREAM_ROUTE_COUNTS)


# -- streaming heavy hitters (MG state -> exact recount) -----------------------

_SHH_K = 64
_SHH_TOP = 3


def q_stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass heavy hitters with the candidate pass STREAMED: per-source
    Misra-Gries summaries accumulate in bounded applyInPandasWithState
    state over a file-source stream of the documents tokens table, then a
    batch pass exactly re-counts only the surviving candidates (broadcast
    semi-join) and certifies the per-source top-3 against the N/(k+1)
    superset threshold — raising loudly rather than returning an
    uncertified table.  The MG merge order varies with micro-batching, but
    the certified exact top-3 is deterministic, so the standard value-hash
    oracle applies."""
    from pyspark.sql import Window

    from mysql_log_parser_spark.streaming.stateful import running_source_token_mg

    ind = _scratch_dir("mlp_stream_hh_")
    (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", encode_tokens("text").alias("tokens"), "source")
        .repartition(2)
        .write.mode("overwrite")
        .parquet(ind)
    )
    sch = spark.read.parquet(ind).schema
    st = spark.readStream.schema(sch).parquet(ind)

    name = f"mlp_shh_{uuid.uuid4().hex[:8]}"
    q = (
        running_source_token_mg(st, _SHH_K)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    _await_bounded(q)

    final = spark.table(name).groupBy("source").agg(
        F.max_by("tokens", "n_seen").alias("tokens")
    )
    cands = final.select("source", F.explode("tokens").alias("token")).distinct()

    toks = spark.read.parquet(ind)
    counted = (
        toks.select("source", F.explode("tokens").alias("token"))
        .join(F.broadcast(cands), ["source", "token"])
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("source").orderBy(F.desc("n"), F.asc("token"))
    top = (
        counted.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= _SHH_TOP)
        .select("source", F.col("token").cast("int").alias("token"), "n", "rank")
    )
    rows = top.collect()

    totals = {
        r["source"]: r["N"]
        for r in toks.select("source", F.size("tokens").alias("s"))
        .groupBy("source")
        .agg(F.sum("s").alias("N"))
        .collect()
    }
    by_src: dict = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    for src, n_total in totals.items():
        rs = sorted(by_src.get(src, []), key=lambda r: r["rank"])
        thr = n_total / (_SHH_K + 1)
        if len(rs) < _SHH_TOP or rs[-1]["n"] <= thr:
            raise RuntimeError(
                f"stream_heavy_hitters cannot certify top-{_SHH_TOP} for "
                f"source {src}: {len(rs)} rows, tail "
                f"{rs[-1]['n'] if rs else 0} vs N/(k+1) = {thr:.1f}"
            )
    return spark.createDataFrame(rows, schema=top.schema)


O_STREAM_HEAVY_HITTERS = f"""
WITH t AS (
  SELECT source,
         unnest(list_transform(list_filter(string_split(text, ''), c -> c != ''),
                               c -> unicode(c))) AS token
  FROM documents
), c AS (
  SELECT source, token, count(*) AS n FROM t GROUP BY source, token
)
SELECT source, CAST(token AS INTEGER) AS token, n, CAST(rank AS BIGINT) AS rank
FROM (
  SELECT source, token, n,
         row_number() OVER (PARTITION BY source ORDER BY n DESC, token) AS rank
  FROM c
) WHERE rank <= {_SHH_TOP}
"""

STREAMING_QUERIES["stream_heavy_hitters"] = (
    q_stream_heavy_hitters,
    O_STREAM_HEAVY_HITTERS,
)


# -- streaming incremental LSH near-dup (stream-static index join) --------------

def q_stream_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-time near-dup admission control: the arriving doc stream is
    shingled+minhashed in-flight (mapInPandas on the stream), banded, and
    STREAM-STATIC joined against the corpus's persisted banded signature
    index — the streaming face of textops/dedup.incremental_lsh_check, and
    the production shape for 'reject near-dups at ingest' (per-batch cost
    is the batch plus matched buckets; the corpus is never re-mined and no
    stream-stream join exists: the stream's own signature rides THROUGH
    the banding via band_long(keep_cols)).  Verified (delta, cand, jaccard)
    rows land append-mode in the sink; the per-doc verdict aggregation is
    batch over the drained sink.  Oracle: identical derivation to the
    batch gate (entry_queries_textops._o_incremental_lsh).

    Index MAINTENANCE is the same loop the batch ingester gates end-to-end
    (textops/dedup.incremental_lsh_ingest, `incremental_lsh_append` entry):
    per micro-batch, append the ACCEPTED docs' band_long + sh rows to the
    index tables and refresh the static side (unpersist/re-read — Spark
    stream-static joins do not see static-side updates within a persisted
    plan).  Here the static index is read-only for the gate's single
    bounded drain; the two-batch append semantics — accepted docs indexed,
    rejected never — are pinned by the batch twin's oracle."""
    from mysql_log_parser_spark.entry_queries_textops import (
        _BANDS,
        _MH,
        _NGRAM,
        _THRESH,
        _lsh_delta,
    )
    from mysql_log_parser_spark.textops.dedup import (
        band_long,
        jaccard,
        lsh_verdicts,
        shingle_minhash,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    ind = _scratch_dir("mlp_stream_lsh_in_")
    _lsh_delta(docs).repartition(2).write.mode("overwrite").parquet(ind)

    # persisted: a stream-static join re-evaluates the static side every
    # micro-batch, and base_sigs feeds BOTH the banded index and the
    # verify join — unpersisted, the corpus kernel would re-mine per
    # batch, which is exactly what this operator exists to avoid.
    base_sigs = shingle_minhash(docs, n=_NGRAM, num_hashes=_MH).persist()
    base_long = band_long(
        base_sigs, num_hashes=_MH, bands=_BANDS
    ).withColumnRenamed("doc_id", "cand_id")
    base_sh = base_sigs.select(
        F.col("doc_id").alias("cand_id"), F.col("sh").alias("sh_b")
    )

    stream = spark.readStream.schema("doc_id long, text string").parquet(ind)
    dlong = band_long(
        shingle_minhash(stream, n=_NGRAM, num_hashes=_MH),
        num_hashes=_MH, bands=_BANDS, keep_cols=("sh",),
    ).withColumnRenamed("doc_id", "delta_id")
    verified = (
        dlong.join(base_long, ["band_idx", "band_key"])
        .join(base_sh, "cand_id")
        .select(
            "delta_id", "cand_id",
            F.round(jaccard(F.col("sh"), F.col("sh_b")), 6).alias("j"),
        )
    )
    name = f"mlp_slsh_{uuid.uuid4().hex[:8]}"
    q = (
        verified.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_bounded(q)
    base_sigs.unpersist()  # the sink holds the verified rows; index done
    mat = spark.table(name).dropDuplicates(["delta_id", "cand_id"])
    return lsh_verdicts(
        mat,
        spark.read.parquet(ind).select(F.col("doc_id").alias("delta_id")),
        _THRESH,
    ).withColumnRenamed("delta_id", "doc_id")


def _o_stream_lsh() -> str:
    from mysql_log_parser_spark.entry_queries_textops import _o_incremental_lsh

    return _o_incremental_lsh()


STREAMING_QUERIES["stream_lsh_dedup"] = (q_stream_lsh_dedup, _o_stream_lsh())
