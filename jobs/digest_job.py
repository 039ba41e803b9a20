"""spark-submit entry point: the parser-cli equivalent as a cluster job.

    spark-submit --py-files $(python -c 'from mysql_log_parser_spark.session \
        import package_zip; print(package_zip())') \
      jobs/digest_job.py --input /path/tokens_parquet --output /path/out \
      [--mode sketch|exact] [--filter-admin Quit,Ping] [--routed] [--report]

Reads docs from the tokens table (or a raw log with --raw-log), turns them
into parsed, fingerprinted events with pipeline.events, optionally writes
per-source routed events, writes class/global digests and optionally prints
the text report.  All progress is chunk-resumable when --incremental is given
(input treated as a directory of chunk files; manifest under --output).

Both digests come from ONE pass over the events, like the reference CLI's
single accumulator loop (bin/parser-cli.go:76-101): rollup_digest computes
the class rows and the global row in one aggregation, that class-sized
result is materialized once, and class_digest/ and global_digest/ are
projected from it.  The events are scanned and parsed once per run.  An
event-free input still gets a one-row global_digest/ of zero counts.
"""

from __future__ import annotations

import argparse
import sys
import time

# observe_events' counter names, reported as zeros for an event-free input
_EVENT_COUNTERS = ("events", "qt_sum", "qt_max", "empty_fingerprints", "admin_events")


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument(
        "--raw-log",
        action="store_true",
        help="treat --input as a raw slow-log FILE or a DIRECTORY of rotated "
        "logs (the reference CLI's --log mode): parsed in parallel by byte "
        "ranges (sources/rawlog.py), events tagged per-file",
    )
    ap.add_argument("--chunk-mb", type=int, default=64, help="raw-log chunk size")
    ap.add_argument("--mode", default="sketch", choices=["sketch", "exact"])
    ap.add_argument("--filter-admin", default="")
    ap.add_argument("--routed", action="store_true")
    ap.add_argument("--report", action="store_true")
    ap.add_argument("--incremental", action="store_true")
    ap.add_argument(
        "--bench-json",
        action="store_true",
        help="print ONE JSON line {events, elapsed_sec, events_per_sec}: "
        "the digest span (the one class+global aggregation and both digest "
        "writes) timed inside the job after one untimed warmup "
        "materialization (bench.py's warm protocol; JVM/session startup and "
        "per-worker warmup excluded)",
    )
    args = ap.parse_args(argv)
    if args.raw_log and args.incremental:
        ap.error(
            "--raw-log and --incremental are mutually exclusive: chunk-"
            "manifest resume operates on a directory of chunk files; for a "
            "single raw file re-run --raw-log (byte ranges are recomputed)"
        )

    from pyspark.sql import Observation, SparkSession
    from pyspark.sql import functions as F

    from mysql_log_parser_spark.operators.aggregate import (
        global_digest,
        rollup_digest,
        split_rollup_digest,
    )
    from mysql_log_parser_spark.operators.checkpoint import CheckpointedRunner
    from mysql_log_parser_spark.operators.route import route_partitioned
    from mysql_log_parser_spark.pipeline import events
    from mysql_log_parser_spark.session import TOKEN_SCAN_CONF, build_session

    pre_existing = SparkSession.getActiveSession() is not None
    spark = build_session(
        app_name="mlp-digest-job",
        # don't retune a session some host process already owns
        extra_conf=None if pre_existing else TOKEN_SCAN_CONF,
    )
    admin_filter = tuple(x for x in args.filter_admin.split(",") if x)

    t0 = time.perf_counter()
    if args.incremental:
        runner = CheckpointedRunner(spark, args.output)
        runner.run_incremental(args.input, lambda docs: events(docs, admin_filter))
        ev = runner.events()
    else:
        if args.raw_log:
            from mysql_log_parser_spark.sources.rawlog import read_raw_docs

            # source=None (default): every event is tagged with its file's
            # basename — for a single file that IS the file name, and for a
            # directory of rotated logs each file keeps its own sink
            docs = read_raw_docs(spark, args.input, chunk_bytes=args.chunk_mb << 20)
        else:
            docs = spark.read.parquet(args.input)
        ev = events(docs, admin_filter)
    if args.routed:
        route_partitioned(ev, f"{args.output}/routed")
        ev = spark.read.parquet(f"{args.output}/routed")

    # metrics ride the digest aggregation itself (observe = map-side
    # counters on the existing action; no extra pass) — the north rule's
    # "metrics emitted" for plain batch runs; incremental runs get theirs
    # from the checkpoint manifest
    from mysql_log_parser_spark.operators.metrics import observe_events

    ev, obs = observe_events(ev)
    rollup = rollup_digest(ev, mode=args.mode)
    if args.bench_json:
        # Warm protocol, same as bench.py: one untimed materialization first
        # (per-Python-worker first-task page-fault/alloc penalty is 3-5x and
        # GROWS with worker count — measured cold, a 32-core run is slower
        # than an 8-core one), then time the digest span alone.
        rollup.write.format("noop").mode("overwrite").save()
    t1 = time.perf_counter()
    # the one pass over the events: the eager localCheckpoint runs the
    # aggregation now and keeps its class-sized result (one partition, so
    # the class digest stays one file); both digests are projected from it
    totals = Observation("mlp_rollup_totals")
    cd, gd = split_rollup_digest(
        rollup.observe(
            totals, F.count_if(F.col("is_global") == 1).alias("global_rows")
        ).localCheckpoint()
    )
    event_free = totals.get["global_rows"] == 0
    if event_free:
        # an event-free input leaves the rollup without its grand-total
        # row: write global_digest's one row of zero counts instead (sketch
        # form in both modes; exact percentiles of nothing cannot be
        # indexed).  The observation rides the localCheckpoint above and
        # limit(0) plans no scan, so this adds no job.  `obs` cannot tell:
        # on an empty input adaptive execution drops the stage carrying it.
        gd = global_digest(ev.limit(0), mode="sketch")
    cd.write.mode("overwrite").parquet(f"{args.output}/class_digest")
    gd.write.mode("overwrite").parquet(f"{args.output}/global_digest")
    bench_sec = time.perf_counter() - t1
    elapsed = time.perf_counter() - t0

    if args.bench_json:
        import json

        # total event count comes from the one-row global digest just
        # written — no extra pass over the corpus
        total = (
            spark.read.parquet(f"{args.output}/global_digest")
            .select("total_queries")
            .first()[0]
        )
        print(
            json.dumps(
                {
                    "events": int(total),
                    "elapsed_sec": round(bench_sec, 3),
                    "job_total_sec": round(elapsed, 3),
                    "events_per_sec": round(total / bench_sec, 1),
                    "master": spark.sparkContext.master,
                    "parallelism": spark.sparkContext.defaultParallelism,
                    # observed during the digest aggregation (no extra pass);
                    # an event-free run has no observed stage to read
                    "observed": (
                        dict.fromkeys(_EVENT_COUNTERS, 0) if event_free else obs.get
                    ),
                }
            )
        )
    if args.report:
        from mysql_log_parser_spark.report import digest_report

        print(digest_report(ev, elapsed_sec=elapsed))
    if not pre_existing:
        spark.stop()


if __name__ == "__main__":
    sys.path.insert(0, ".")
    main()
