"""Skew-mitigation evidence (north_rule: "salted-key skew mitigation for hot
query classes", "AQE-tuned shuffles").

Builds a corpus where ONE class owns ~90% of 2M events, then times the
skew-sensitive shape — a sort-merge join of the event stream against a
per-class dimension (broadcast disabled to force the shuffle) — with AQE
skew-join splitting ON vs OFF on fresh sessions.  Without splitting, the
hot class's entire partition lands on one task; with it, AQE splits the
partition and the join parallelizes.  Prints one JSON line with both
timings.  The digest needs no salting by construction (map-side partials
bound any key's contribution per task); this AQE path covers the joins.

Usage: python bench_skew.py [n_events]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def run_leg(skew_on: bool, n_events: int) -> float:
    from pyspark.sql import functions as F

    from mysql_log_parser_spark.session import build_session

    spark = build_session(
        app_name=f"mlp-skew-{skew_on}",
        master="local[32]",
        shuffle_partitions=64,
        extra_conf={
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.skewJoin.enabled": str(skew_on).lower(),
            # make the hot partition count as skewed at this test size
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8m",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4m",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    # ~90% of rows in class 0, the rest uniform over 1..63; a wide payload
    # column so per-row join cost is realistic
    ev = spark.range(n_events).select(
        F.when(F.col("id") % 10 < 9, F.lit(0))
        .otherwise((F.col("id") % 63) + 1)
        .alias("class_id"),
        (F.col("id") % 997).alias("v"),
        F.sha2(F.col("id").cast("string"), 256).alias("payload"),
    )
    dim = spark.range(64).select(
        F.col("id").alias("class_id"), F.concat(F.lit("c"), F.col("id")).alias("name")
    )
    # warmup both sides (files/codegen)
    ev.limit(1000).join(dim, "class_id").write.format("noop").mode("overwrite").save()
    t0 = time.perf_counter()
    (
        ev.join(dim, "class_id")
        .groupBy("name")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    sec = time.perf_counter() - t0
    spark.stop()
    return sec


def main() -> None:
    n_events = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    best = {}
    for skew_on in (False, True):
        best[skew_on] = min(run_leg(skew_on, n_events) for _ in range(2))
    print(
        json.dumps(
            {
                "metric": "skew_join_aqe_speedup",
                "value": round(best[False] / best[True], 2),
                "unit": "x",
                "sec_skew_off": round(best[False], 2),
                "sec_skew_on": round(best[True], 2),
                "n_events": n_events,
                "hot_share": 0.9,
            }
        )
    )


if __name__ == "__main__":
    main()
