"""Benchmark harness (driver contract).

Runs the headline pipeline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...,
   "events_per_sec": ..., "cpus": ...}

Protocol:

1. prepare (untimed, cached): render the deterministic slow-log corpus from
   {sf}/events.parquet, encode to the tokens-table input contract
   (doc_id, tokens array<int32>, n_tok, source), write parquet.
2. flagship (timed): tokens parquet -> detokenize+parse (mapInPandas) ->
   fingerprint (Catalyst regex chain) -> per-class digest (GK-sketch
   percentiles) -> noop sink.  `events_per_sec` over this span is the
   reference CLI's own throughput metric (bin/parser-cli.go:124-127).
3. secondary timings: the driver-contract queries + global digest + routed
   fan-out write.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed_min(fn, repeats: int, slow_cutoff: float = 8.0) -> float:
    """Min of up to `repeats` timed runs — the least-noise estimate on a
    shared box, where single runs have shown 10-35% spread with unchanged
    plans (BENCH.md regression table).  Queries slower than `slow_cutoff`
    stop after two runs: past that span the run-to-run spread is already
    small relative to the cost of a third run."""
    runs = []
    for i in range(repeats):
        t0 = time.perf_counter()
        fn()
        runs.append(time.perf_counter() - t0)
        if i >= 1 and runs[0] >= slow_cutoff:
            break
    return min(runs)


# -- no-Spark control kernel ---------------------------------------------------
# A pinned, deterministic workload in the same cost family as the parse hot
# path (regex metric extraction + md5 over rendered log lines), run once per
# core via multiprocessing.  Its wall time measures THE BOX, not the engine:
# round-over-round bench tables divide by it to separate plan regressions
# from host drift (BENCH.md r3 saw 15-25% same-plan swings).  Constants are
# frozen — changing them invalidates cross-round comparability.

_CONTROL_LINES = 2000
_CONTROL_REPS = 120


def _control_task(seed: int) -> int:
    import hashlib
    import re

    rx = re.compile(r"(\w+): (\d+\.?\d*)")
    text = "".join(
        f"# Query_time: {i % 97}.{i % 7}  Lock_time: 0.0 "
        f"Rows_sent: {i % 13}  Rows_examined: {i % 997}\n"
        for i in range(_CONTROL_LINES)
    )
    acc = 0
    for j in range(_CONTROL_REPS):
        for m in rx.finditer(text):
            acc ^= len(m.group(2))
        for line in text.splitlines():
            acc ^= int.from_bytes(
                hashlib.md5(line.encode() + bytes([j % 251, seed % 251])).digest()[:4],
                "big",
            )
    return acc


def control_kernel_sec(cpus: int, repeats: int = 2) -> float:
    """Wall seconds for `cpus` processes each running the pinned control
    task once (min over `repeats` timed pool runs; one untimed warmup pool
    absorbs fork/import cost)."""
    import multiprocessing as mp

    ctx = mp.get_context("fork")
    with ctx.Pool(processes=cpus) as pool:
        pool.map(_control_task, range(cpus))  # warmup
        runs = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            pool.map(_control_task, range(cpus))
            runs.append(time.perf_counter() - t0)
    return min(runs)


def prepare_tokens(spark, sf_dir: str, replicate: int = 1) -> str:
    """Materialize the tokens input table for `sf_dir` (cached in /tmp).

    `replicate` stamps R copies of each doc (distinct doc_ids) so the timed
    corpus is large enough that per-job overhead does not dominate — the
    throughput metric must reflect the pipeline, not Spark scheduling floor.
    """
    from pyspark.sql import functions as F

    from mysql_log_parser_spark import entry_queries as EQ

    tag = hashlib.md5(f"{sf_dir}:{replicate}".encode()).hexdigest()[:8]
    path = f"/tmp/mlp_bench_tokens_{tag}"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        docs = EQ.docs_from_events(spark, sf_dir)
        if replicate > 1:
            docs = docs.crossJoin(
                spark.range(replicate).select(F.col("id").alias("rep"))
            ).select(
                F.concat("doc_id", F.lit("_r"), F.col("rep").cast("string")).alias("doc_id"),
                "text",
                "source",
            )
        tokens = docs.repartition(256).select(
            "doc_id", EQ.encode_tokens("text").alias("tokens"), "source"
        ).withColumn("n_tok", F.size("tokens"))
        tokens.write.mode("overwrite").parquet(path)
    return path


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))

    from mysql_log_parser_spark import entry_queries as EQ
    from mysql_log_parser_spark.operators.aggregate import class_digest, global_digest
    from mysql_log_parser_spark.operators.route import route_partitioned
    from mysql_log_parser_spark.pipeline import events
    from mysql_log_parser_spark.session import TOKEN_SCAN_CONF, build_session

    # Small maxPartitionBytes gives one prepared file per split (256 tasks)
    # with NO shuffle of the raw tokens — repartitioning fat token rows
    # costs a multi-GB shuffle write that dominates the job (measured: 17
    # JVM threads in shuffle-file write0 while Python workers idle).
    spark = build_session(
        app_name="mlp-spark-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=max(8, 2 * cpus),
        extra_conf=TOKEN_SCAN_CONF,
    )
    spark.sparkContext.setLogLevel("ERROR")

    replicate = int(os.environ.get("SPARK_GRAFT_REPLICATE", "30"))
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count() * replicate
    tokens_path = prepare_tokens(spark, sf_dir, replicate)

    def pipeline_events():
        # One file per input split (maxPartitionBytes above): 256 parse tasks,
        # zero shuffle before the class agg — identical plan at every
        # parallelism level.
        return events(spark.read.parquet(tokens_path))

    # Warmup: one full materialization — warms JVM codegen, Arrow paths, and
    # every reused Python worker (first-task page-fault/alloc warmup is a
    # fixed per-worker cost that is irrelevant at production scale).
    _materialize(class_digest(pipeline_events(), mode="sketch"))

    timings: dict[str, float] = {}

    # Flagship: tokens table -> parse -> fingerprint -> per-class digest.
    # Min-of-N (default 3) everywhere: single-run timings on a shared box
    # have shown 10-35% spread with byte-identical plans, which a regression
    # table cannot distinguish from a real loss.
    repeats = int(os.environ.get("SPARK_GRAFT_REPEATS", "3"))
    flagship = _timed_min(
        lambda: _materialize(class_digest(pipeline_events(), mode="sketch")),
        repeats,
        slow_cutoff=float("inf"),  # the headline always gets all N runs
    )
    timings["pipeline_class_digest"] = round(flagship, 3)

    q_repeats = int(os.environ.get("SPARK_GRAFT_QUERY_REPEATS", "3"))
    timings["global_digest"] = round(
        _timed_min(
            lambda: _materialize(global_digest(pipeline_events(), mode="sketch")),
            q_repeats,
        ),
        3,
    )
    timings["route_fanout_write"] = round(
        _timed_min(
            lambda: route_partitioned(
                pipeline_events(), "/tmp/mlp_bench_routed", mode="overwrite"
            ),
            q_repeats,
        ),
        3,
    )

    # Structured Streaming leg: the SAME corpus through readStream -> parse
    # -> fingerprint -> routed sink (availableNow), one bounded run.
    # Skipped in flagship-only mode (SPARK_GRAFT_QUERIES=flagship).
    stream_sec = None
    if os.environ.get("SPARK_GRAFT_QUERIES", "all") != "flagship":
        import shutil
        import tempfile

        from mysql_log_parser_spark.streaming.pipeline import (
            start_routed_sink,
            stream_events,
        )

        s_out = tempfile.mkdtemp(prefix="mlp_bench_stream_out_")
        s_ckpt = tempfile.mkdtemp(prefix="mlp_bench_stream_ckpt_")
        t0 = time.perf_counter()
        q = start_routed_sink(stream_events(spark, tokens_path), s_out, s_ckpt)
        q.awaitTermination()
        stream_sec = time.perf_counter() - t0
        timings["stream_routed_write"] = round(stream_sec, 3)
        shutil.rmtree(s_out, ignore_errors=True)
        shutil.rmtree(s_ckpt, ignore_errors=True)

    if os.environ.get("SPARK_GRAFT_QUERIES", "all") != "flagship":
        from mysql_log_parser_spark.entry_queries_ext import EXT_QUERIES
        from mysql_log_parser_spark.entry_queries_textops import TEXTOPS_QUERIES

        timed = dict(EQ.QUERIES)
        timed.update(EXT_QUERIES)
        timed.update(TEXTOPS_QUERIES)
        # the O(N^2) correctness baseline is deliberately not a benchmark surface
        timed.pop("ngram_jaccard_pairs", None)
        # sketch-vs-exact gate queries carry exact-mode collect_list bounds
        # (test-scale gate machinery); their production path, percentile_approx,
        # is already what the flagship benches
        timed.pop("slow_class_agg_sketch", None)
        timed.pop("slow_global_sketch", None)
        timed.pop("slow_report_ladder", None)
        # the chunked raw-log query spends its time RENDERING a log file on
        # the driver (toLocalIterator) before the scan; the scan itself is
        # the same parse kernel the flagship already benches
        timed.pop("slow_rawlog_chunked", None)
        # crash/restart gate machinery: two full checkpointed pipeline WRITES
        # per invocation; the write path is already benched by
        # route_fanout_write and the parse by the flagship
        timed.pop("slow_checkpoint_resume", None)
        for name, (fn, _) in timed.items():
            timings[name] = round(
                _timed_min(lambda: _materialize(fn(spark, sf_dir)), q_repeats), 3
            )

    # Box-drift control: pinned no-Spark kernel on the same core count.
    # `flagship_over_control` is the drift-normalized headline — compare IT
    # across rounds; raw seconds move with the host.
    control = control_kernel_sec(cpus)

    out = {
        "metric": "end_to_end_pipeline_sec",
        "value": round(flagship, 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir,
        "events": n_events,
        "events_per_sec": round(n_events / flagship, 1),
        "cpus": cpus,
        "control_sec": round(control, 3),
        "flagship_over_control": round(flagship / control, 3),
    }
    if stream_sec is not None:
        out["stream_events_per_sec"] = round(n_events / stream_sec, 1)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
