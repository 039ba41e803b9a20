"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

The implementations live in mysql_log_parser_spark.entry_queries; each Spark
query runs the real pipeline (render corpus -> parse via mapInPandas ->
fingerprint via Catalyst regex chain -> aggregate), while the oracle derives
the expected result independently from the source columns.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from mysql_log_parser_spark import entry_queries as EQ  # noqa: E402
from mysql_log_parser_spark.entry_queries_ext import EXT_QUERIES  # noqa: E402
from mysql_log_parser_spark.entry_queries_streaming import STREAMING_QUERIES  # noqa: E402
from mysql_log_parser_spark.entry_queries_textops import TEXTOPS_QUERIES  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full parse->fingerprint->aggregate digest over a tokenized
    corpus derived from /root/testdata/sf0.001 (tokens path exercised)."""
    from pyspark.sql import functions as F

    from mysql_log_parser_spark.operators.aggregate import class_digest
    from mysql_log_parser_spark.pipeline import events

    docs = EQ.docs_from_events(spark, "/root/testdata/sf0.001")
    tokens_tbl = docs.select(
        "doc_id", EQ.encode_tokens("text").alias("tokens"), "source"
    ).withColumn("n_tok", F.size("tokens"))

    return class_digest(events(tokens_tbl), mode="sketch")


# Entries without a CURRENT-round driver CORRECTNESS row enumerate FIRST:
# the driver's per-round gate records the first ~50 queries() entries in
# dict order, so (a) never-gated, (b) r02-row-only (VERDICT r4 "What's
# missing" #1 — the 13-entry tail the r4 cap cut), and (c) entries whose
# implementation changed after their r04 gate must lead; the cap's
# remainder is filled with the OLDEST (r03-latest) rows so every entry's
# driver row stays as fresh as 110 entries / 50-cap allows.
_VERIFY_FIRST = [
    # gates whose implementation or oracle moved onto one textops kernel:
    # theta sketches, the single winnowing kernel, the production
    # with_nearest_centroid / centroid_dots / near_dup_pairs_cosine
    "source_overlap_sketch",
    "ngram_novelty_sketch",
    "winnow_fingerprints",
    "winnow_dup_pairs",
    "embed_near_dup",
    "ann_ivf_topk",
    "ann_ivf_probe2",
    "ann_kmeans_step",
    "ann_kmeans_iter2",
    "ann_ivfpq_adc",
    "ann_ivfpq_rerank",
    "ann_pq_recall",
    "ann_ivfpq_residual",
    "ann_pq_recall_residual",
    "semantic_dedup",
    # gates whose implementation now calls the production class_digest /
    # route_partitioned + sink_counts (gate-freshness rotation)
    "slow_example_select",
    "slow_example_ts",
    "slow_route_counts",
    "stream_route_counts",
    "stream_window_agg",
    "stream_dedup",
    "slow_bucketed_join",
    # (a) new this round, never driver-gated
    "bpe_train_sampled",
    "incremental_lsh_append",
    "quality_calibrate",
    "dedup_exact_tokens",
    # (b) r02-latest rows — the full 13 fit this round (VERDICT r4 item 3)
    "slow_global_sketch",
    "stream_stateful_digest",
    "text_quality",
    "lang_id",
    "token_stats",
    "simhash_docs",
    "ann_cosine_topk",
    "dedup_exact",
    "split_assign",
    "stratified_sample",
    # (c) implementation changed after their r04 gate (round-5 commits:
    # skew-safe span counts, fast winnow kernel + negative injected ids,
    # double-safe DSIR, bounded LSH caches + shared oracle builder,
    # PQ encode routing + prenormed rerank + residual audit, snapshot-log
    # prefix guard, sampled-BPE oracle builder param)
    "dsir_weights",
    "incremental_lsh_dedup",
    "stream_lsh_dedup",
    "dedup_substring",
    "slow_snapshot_range",
    "bpe_train8",
    # (d) r03-latest rows, oldest first; module-touched ones lead
    "tokens_roundtrip",       # tokens_table.py prefix guard touched the module
    "slow_checkpoint_resume", # checkpoint/tokens source shared surface
    "slow_parse_events",
    "slow_class_agg",
    "slow_global_agg",
    "slow_enrich_team_agg",
    "fingerprint_checksum",
    "slow_stats_long",
    "slow_top_classes",
    "slow_histogram",
    "slow_user_agg",
    "slow_rate_limit_check",
    "slow_admin_filter",
    "multimodal_resize",
    "slow_window_topk",
    "slow_db_capture",
    "slow_set_skip",
    "slow_sliding_window",
    "slow_user_sketch",
    "slow_event_offsets",
]


def _all_queries() -> dict:
    merged = dict(EQ.QUERIES)
    merged.update(EXT_QUERIES)
    merged.update(STREAMING_QUERIES)
    merged.update(TEXTOPS_QUERIES)
    out = {n: merged[n] for n in _VERIFY_FIRST if n in merged}
    out.update(merged)
    return out


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator surface (SURVEY.md §2 + the
    training-data ops: dedup / similarity / text analysis)."""
    return {name: fn for name, (fn, _) in _all_queries().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalents (independent derivations).
    Queries without an entry here get the driver's weaker rows-only check."""
    return {name: sql for name, (_, sql) in _all_queries().items() if sql is not None}
