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


# The per-round correctness gate records only the first 50 queries()
# entries in dict order, so _VERIFY_FIRST (at most 50 names) decides which
# entries get a fresh CORRECTNESS row: first the gates whose implementation
# or oracle changed since their latest row, then the entries whose latest
# row is the OLDEST (r03), then the most recently changed of the rest.
_VERIFY_FIRST = [
    # the chained BPE training gate: the production bpe_train_n loop
    # against the full 8-round replay
    "bpe_train8",
    # r03-latest rows (gate-freshness rotation)
    "stream_dedup",
    "slow_user_sketch",
    "slow_event_offsets",
    "slow_rate_corrected",
    "sequence_pack",
    "pack_sequences",
    "quality_filter",
    "repetition_stats",
    "pii_redact",
    "decontaminate",
    "decontaminate_shuffle",
    "dedup_components",
    "mix_upsample",
    "token_budget",
    "vocab_stats",
    "curation_pipeline",
    "token_id_topk",
    "token_bigram_topk",
    "seq_len_histogram",
    "word_commonness",
    "ngram_novelty",
    "source_overlap",
    "prefix_dup_groups",
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
    # route_partitioned + sink_counts
    "slow_example_select",
    "slow_example_ts",
    "slow_route_counts",
    "stream_route_counts",
    "stream_window_agg",
    "slow_bucketed_join",
    # entries added or re-gated in round 5, filling the 50-entry cap
    "bpe_train_sampled",
    "incremental_lsh_append",
    "quality_calibrate",
    "dedup_exact_tokens",
    "slow_global_sketch",
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
