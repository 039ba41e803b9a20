"""Report sink: the reference CLI's stdout digest (bin/parser-cli.go:124-151)
re-expressed over the aggregate DataFrames.

Layout mirrored: events/rate line, a percentile ladder phi=0..1 step 0.05
from the GK sketch (percentile_approx == GKSummary), exact p95/med, a
20-bucket histogram, then a block per class holding >10% of traffic
(bin/parser-cli.go:139).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mysql_log_parser_spark.operators.aggregate import GK_ACCURACY

PHIS = [round(0.05 * i, 2) for i in range(21)]


def _ladder_agg(col: str = "query_time") -> Column:
    """The phi=0..1 step .05 Query_time ladder from one GK sketch."""
    return F.percentile_approx(F.col(col).cast("double"), PHIS, GK_ACCURACY)


def _ladder(events: DataFrame, col: str = "query_time") -> list[float]:
    row = events.agg(_ladder_agg(col).alias("l")).first()
    return list(row.l) if row.l else []


def _rate_weight(events: DataFrame) -> Column:
    """Sessions one logged event stands for (pt-query-digest's observed*N
    math, surfaced by the reference CLI's digest; ref bin/parser-cli.go:
    124-151): its Log_slow_rate_limit, with 0 (no rate limiting seen)
    counting as itself.  Summing per event is exact even when sinks carry
    different limits."""
    if "rate_limit" in events.columns:
        return F.greatest(F.col("rate_limit"), F.lit(1))
    return F.lit(1)


def top_classes(events: DataFrame) -> DataFrame:
    """The report's per-class blocks: every class holding more than 10% of
    all events (10 * total_queries > total, bin/parser-cli.go:139), with
    its fingerprint, rate-limit corrected count and GK ladder.  The total
    comes from an unpartitioned window over the class-sized aggregate, so
    this is one pass over the events and no driver round-trip."""
    classes = events.groupBy("class_id").agg(
        F.first("fingerprint").alias("fingerprint"),
        F.count(F.lit(1)).alias("total_queries"),
        F.sum(_rate_weight(events)).cast("long").alias("corrected_queries"),
        _ladder_agg().alias("ladder"),
    )
    total = F.sum("total_queries").over(Window.partitionBy())
    return (
        classes.withColumn("_total", total)
        .where(10 * F.col("total_queries") > F.col("_total"))
        .drop("_total")
    )


def _histogram_lines(events: DataFrame, col: str = "query_time", buckets: int = 20) -> list[str]:
    from mysql_log_parser_spark.operators.aggregate import histogram

    rows = histogram(events, col, buckets).collect()
    total = sum(r.cnt for r in rows) or 1
    out = []
    for r in rows:
        bar = "#" * max(1, int(50 * r.cnt / total))
        out.append(f"  bucket {r.bucket:>2}: {r.cnt:>10}  {bar}")
    return out


def digest_report(events: DataFrame, elapsed_sec: float | None = None) -> str:
    """Render the text digest for a parsed+fingerprinted+promoted events DF."""
    ev = events.persist()
    try:
        total = ev.count()
        corrected_total = ev.agg(F.sum(_rate_weight(ev)).cast("long").alias("c")).first()["c"] or 0
        lines = []
        if elapsed_sec:
            lines.append(
                f"Events: {total}, time: {elapsed_sec:.6f} sec, "
                f"rate: {total / elapsed_sec:.6f}"
            )
        else:
            lines.append(f"Events: {total}")
        if corrected_total != total:
            lines.append(
                f"Rate-limit corrected events: {corrected_total} "
                f"(observed {total}, server logged 1/N sessions)"
            )

        ladder = _ladder(ev)
        for phi, val in zip(PHIS, ladder):
            lines.append(f"{phi:.2f} pct query time : {val:.6f}")
        lines += _histogram_lines(ev)

        for c in top_classes(ev).orderBy(F.desc("total_queries")).collect():
            if c.corrected_queries != c.total_queries:
                lines.append(
                    f"Query ID {c.class_id}, Events: {c.total_queries} "
                    f"(rate-limit corrected: {c.corrected_queries})"
                )
            else:
                lines.append(f"Query ID {c.class_id}, Events: {c.total_queries}")
            lines.append(f"  fingerprint: {c.fingerprint}")
            for phi, val in zip(PHIS, c.ladder or []):
                lines.append(f"  {phi:.2f} pct query time : {val:.6f}")
        return "\n".join(lines)
    finally:
        ev.unpersist()
