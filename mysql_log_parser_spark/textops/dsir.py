"""Data Selection via Importance Resampling (DSIR, Xie et al. 2023):
score every raw document by how target-like its hashed-unigram profile is,
so a pre-training pipeline can resample raw web text toward a trusted
target domain (the standard "make CommonCrawl look like Wikipedia" pass).

Two surfaces:

- ``importance_features`` — the GATED exact-integer core: per-doc target
  mass vs raw mass under a bounded hashed vocabulary, plus a permille
  ratio-of-masses proxy built from exact-integer operands (one IEEE
  division + floor, the engine-portable discipline used by
  word_commonness).  This is what the DuckDB oracle replays bit-for-bit.
- ``with_log_importance`` — the production statistic: add-1-smoothed
  log p_target(b) - log p_raw(b) summed over the doc's buckets (the
  actual DSIR estimator).  Float log sums are not engine-exact (libm
  last-ulp + summation order), so this column rides on the SAME plan but
  is asserted in unit tests against a numpy replay, not hash-gated.

Scale shape (the part that must survive 10^12 docs): both distributions
live in a table bounded at ``n_buckets`` rows — NEVER corpus-sized — that
joins back onto the exploded words (AQE broadcasts it while it fits; the
hashing trick exists precisely so it always fits).  The corpus is exploded
once, aggregated map-side per bucket, and the only doc-keyed shuffle is
the final per-doc sum.  No driver round-trips, no collect.

There is no counterpart in the reference (Go slow-log parser); this is
part of the training-data-pipeline surface the graft adds on top.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mysql_log_parser_spark.textops.quality import words_of


def hashed_bucket(col: Column, n_buckets: int, salt: str = "dsir") -> Column:
    """word -> bucket in [0, n_buckets) via md5 first-8-hex — the same
    engine-portable hash family as sampling.unit_hash, so the DuckDB
    oracle can mirror it digit-for-digit (no xxhash64, which DuckDB
    lacks)."""
    h = F.md5(F.concat(col, F.lit(f":{salt}")))
    return F.pmod(F.conv(F.substring(h, 1, 8), 16, 10).cast("long"), F.lit(n_buckets))


def importance_features(
    docs: DataFrame,
    target_filter: Column,
    n_buckets: int = 256,
    salt: str = "dsir",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-doc DSIR mass features under a hashed unigram model.

    Emits exact-integer columns only (gate-safe):

    - ``n_words``      — doc length in words
    - ``t_mass``       — sum over the doc's words of the TARGET corpus's
                         count in that word's bucket
    - ``r_mass``       — same against the RAW (full-corpus) distribution
    - ``dsir_permille``— floor((t_mass * R * 1000) / (r_mass * T)) where
                         T/R are the total target/raw masses: the
                         ratio-of-means proxy for the likelihood ratio
                         p_target/p_raw, == 1000 for a perfectly
                         domain-neutral doc.  r_mass >= n_words > 0 by
                         construction (every word counts itself in the
                         raw distribution), so the division is total.
                         The ratio is computed in IEEE DOUBLES, not int64:
                         at the corpus scale this module targets, the
                         numerator t_mass * R * 1000 blows past 2^63 and
                         would silently wrap under non-ANSI Spark (the
                         temperature_mix factor_permille precedent —
                         textops/sampling.py).  Every operand is an exact
                         integer below 2^53 far beyond gate scale, and *,
                         /, floor are correctly rounded, so the permille
                         stays bit-identical across engines as long as the
                         oracle evaluates the same double expression tree.

    ``target_filter`` selects the trusted target slice (e.g.
    ``F.col("source") == "wiki"``).  Docs with no words are dropped (they
    carry no unigram evidence; filter them upstream via quality_filter).
    """
    words = docs.select(
        F.col(id_col),
        F.explode(words_of(F.col(text_col))).alias("word"),
        target_filter.alias("_is_target"),
    ).withColumn("bucket", hashed_bucket(F.col("word"), n_buckets, salt))

    t_counts = (
        words.where(F.col("_is_target"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("t_cnt"))
    )
    r_counts = words.groupBy("bucket").agg(F.count(F.lit(1)).alias("r_cnt"))
    dist = r_counts.join(t_counts, "bucket", "left").select(
        "bucket",
        F.coalesce("t_cnt", F.lit(0)).alias("t_cnt"),
        F.col("r_cnt"),
    )

    per_doc = (
        words.join(dist, "bucket")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("t_cnt").alias("t_mass"),
            F.sum("r_cnt").alias("r_mass"),
        )
    )
    totals = dist.agg(
        F.sum("t_cnt").alias("_T"), F.sum("r_cnt").alias("_R")
    )
    return per_doc.crossJoin(F.broadcast(totals)).select(
        id_col,
        F.col("n_words").cast("long").alias("n_words"),
        F.col("t_mass").cast("long").alias("t_mass"),
        F.col("r_mass").cast("long").alias("r_mass"),
        F.floor(
            (
                F.col("t_mass").cast("double")
                * F.col("_R").cast("double")
                * F.lit(1000.0)
            )
            / (F.col("r_mass").cast("double") * F.col("_T").cast("double"))
        )
        .cast("long")
        .alias("dsir_permille"),
    )


def with_log_importance(
    docs: DataFrame,
    target_filter: Column,
    n_buckets: int = 256,
    salt: str = "dsir",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The actual DSIR estimator: log w(x) = sum over the doc's buckets of
    log((t_cnt+1)/(T+B)) - log((r_cnt+1)/(R+B)) (add-1 smoothing over the
    B-bucket hashed vocabulary).  Same plan shape as importance_features —
    bounded distribution table joined onto exploded words, one doc-keyed
    shuffle — with the float statistic computed JVM-side (codegen'd ln).
    Unit-tested against a numpy replay; not hash-gated (libm last-ulp)."""
    words = docs.select(
        F.col(id_col),
        F.explode(words_of(F.col(text_col))).alias("word"),
        target_filter.alias("_is_target"),
    ).withColumn("bucket", hashed_bucket(F.col("word"), n_buckets, salt))

    t_counts = (
        words.where(F.col("_is_target"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("t_cnt"))
    )
    r_counts = words.groupBy("bucket").agg(F.count(F.lit(1)).alias("r_cnt"))
    dist = r_counts.join(t_counts, "bucket", "left").select(
        "bucket",
        F.coalesce("t_cnt", F.lit(0)).alias("t_cnt"),
        F.col("r_cnt"),
    )
    totals = dist.agg(F.sum("t_cnt").alias("_T"), F.sum("r_cnt").alias("_R"))
    scored = words.join(dist, "bucket").crossJoin(F.broadcast(totals))
    term = F.log((F.col("t_cnt") + 1) / (F.col("_T") + n_buckets)) - F.log(
        (F.col("r_cnt") + 1) / (F.col("_R") + n_buckets)
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(term).alias("log_importance"),
    )
