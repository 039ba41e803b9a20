"""Benchmark of the slow-log pipeline at local[nproc], driven through the
program's public entry points.

    python3 perfbench/run.py --workload digest --seed 1 --seconds 10 --trace 0

Workloads (one closed-loop caller: each job starts after the previous one
finishes):

  digest  jobs/digest_job.main(["--input", tokens, "--output", out])
  ingest  the same main with --incremental over a directory of chunk files

Each run builds its inputs from --seed, starts the session and runs one
untimed warmup job on a small warm corpus, then measures jobs on the
measured input for --seconds.  Every job's output is checked against the
generator's own tally.  With --trace 0 the last stdout line carries the
end-to-end metrics.  With --trace 1 the measured jobs alternate between
Spark's event log on (with a span around the call) and off, and the last
line carries the per-layer metrics.  The line before the last is the full
run record: every metric with its unit and sample count, the job walls, the
spans and any failed checks.  See README.md for the metric definitions.

The benchmark sets only SPARK_GRAFT_CPUS (the core count), a scratch
SPARK_LOCAL_DIRS (and temp dirs, so nothing is written outside the
checkout) and, in the traced run, an uncompressed event log.  Every other
setting is the program's own.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
UNITS = {m["name"]: m["unit"] for m in SPEC["end_to_end"] + SPEC["per_layer"]}

# Input sizes per workload.  Each digest_job.main call starts and stops its
# own SparkContext and a fresh set of Python workers: ~8 s per call on a
# 4-core box whatever the input.  Both inputs are as large as the run budget
# allows (48 runs of one process each in under an hour, two measured jobs
# per run): per-row work is about 40% of a digest job.  An ingest
# job pays ~1.5-2 s per chunk file in Spark jobs, read-backs and commits,
# which is what it measures, so its input stays small.  The warm input is a
# small corpus from the same generator: the first job in a fresh JVM pays
# ~12 s of class loading and code generation whatever its size, and a warm
# corpus of a few hundred events left the first measured job up to 25%
# slower than the next.
SIZES = {
    "digest": {"events": 50_000, "files": 6, "warm_events": 5_000, "warm_files": 6},
    "ingest": {"events": 9_000, "files": 6, "warm_events": 1_500, "warm_files": 1},
}
WARM_SEED_OFFSET = 1_000_003  # the warm corpus never repeats the measured one


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


@dataclass
class RunResult:
    wall_s: float
    ok: bool
    errors: list[str]
    output_bytes: int = 0
    classes_out: int = 0
    empty_fingerprints: int = 0
    chunk_phase_end_ms: float | None = None
    chunk_walls: list[float] | None = None
    traced: bool = False


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


@dataclass
class Input:
    corpus: object  # gen.Corpus
    dir: str
    files: int


class Workload:
    """Inputs, the timed public call and the output check of one workload."""

    def __init__(self, name: str, seed: int, work: str):
        self.name = name
        self.seed = seed
        self.work = work
        self.size = SIZES[name]
        self.main: Input | None = None
        self.warm: Input | None = None

    def generate(self) -> None:
        import gen

        self.main = Input(gen.generate(self.seed, self.size["events"]),
                          os.path.join(self.work, "input"), self.size["files"])
        self.warm = Input(gen.generate(self.seed + WARM_SEED_OFFSET, self.size["warm_events"]),
                          os.path.join(self.work, "warm-input"), self.size["warm_files"])
        for inp in (self.main, self.warm):
            gen.write_tokens(inp.corpus, inp.dir, inp.files)

    def call(self, inp: Input, out: str) -> None:
        from jobs import digest_job

        argv = ["--input", inp.dir, "--output", out]
        if self.name == "ingest":
            argv.append("--incremental")
        digest_job.main(argv)

    def check(self, inp: Input, out: str) -> RunResult:
        import check

        res = RunResult(wall_s=0.0, ok=True, errors=[])
        cd = check.read_rows(os.path.join(out, "class_digest"))
        res.errors += check.check_class_digest(cd, inp.corpus)
        res.errors += check.check_global_digest(
            check.read_rows(os.path.join(out, "global_digest")), inp.corpus
        )
        res.classes_out = len(cd)
        res.empty_fingerprints = sum(r["total_queries"] for r in cd if not r["fingerprint"])
        if self.name == "ingest":
            records = check.read_manifest(out)
            res.errors += check.check_manifest(records, inp.corpus, inp.files)
            mdir = os.path.join(out, "_manifest")
            res.chunk_phase_end_ms = max(
                os.stat(os.path.join(mdir, f)).st_mtime_ns / 1e6
                for f in os.listdir(mdir) if f.endswith(".json")
            )
            res.chunk_walls = [r["wall_sec"] for r in records]
        res.output_bytes = _dir_bytes(out)
        res.ok = not res.errors
        return res

    def run_once(self, inp: Input, out: str, spans=None) -> RunResult:
        """One closed-loop job: the public call, timed (and spanned when
        `spans` is given), then its check."""
        t0 = time.perf_counter()
        try:
            with spans.span("run") if spans is not None else contextlib.nullcontext():
                self.call(inp, out)
        except Exception:  # a failed job counts in `failed`; keep measuring
            wall = time.perf_counter() - t0
            return RunResult(wall, False, [traceback.format_exc(limit=3)])
        wall = time.perf_counter() - t0
        try:
            res = self.check(inp, out)
        except (OSError, KeyError, ValueError) as e:
            res = RunResult(0.0, False, [f"output unreadable: {e!r}"])
        res.wall_s = wall
        shutil.rmtree(out, ignore_errors=True)
        return res

    def warmup(self) -> RunResult:
        """One untimed job on the warm corpus, checked like every other job."""
        res = self.run_once(self.warm, os.path.join(self.work, "out-warmup"))
        _report(self.name, "warmup", res)
        return res


def _report(workload: str, tag: str, res: RunResult) -> None:
    for e in res.errors:
        print(f"perfbench: {workload} {tag} failed: {e}", file=sys.stderr)


def _loop(wl: Workload, seconds: float, spans=None, traced_first: bool = True) -> list[RunResult]:
    """Closed loop over the measured input: at least two jobs, and a further
    job starts while at least half of the last job's wall remains in the
    `seconds` window.  The first measured job is 5-20% slower than later
    ones, so a run that measured one job would report another statistic.

    With `spans`, jobs alternate between event log on (spanned) and off,
    starting with on when `traced_first`."""
    results = []
    t0 = time.perf_counter()
    while True:
        traced = spans is not None and (len(results) % 2 == 0) == traced_first
        if spans is not None:
            _set_event_log(traced)
        out = os.path.join(wl.work, f"out-{len(results)}")
        res = wl.run_once(wl.main, out, spans if traced else None)
        res.traced = traced
        results.append(res)
        _report(wl.name, f"job {len(results)}", res)
        if len(results) >= 2 and time.perf_counter() - t0 + res.wall_s / 2 >= seconds:
            return results


def _set_event_log(on: bool, log_dir: str | None = None) -> None:
    """Sessions built from here on log uncompressed events to `log_dir`, or
    do not log (JVM system properties seed every new SparkConf)."""
    from pyspark import SparkContext

    props = SparkContext._jvm.java.lang.System
    if log_dir is not None:
        os.makedirs(log_dir, exist_ok=True)
        props.setProperty("spark.eventLog.dir", "file://" + log_dir)
        props.setProperty("spark.eventLog.compress", "false")
    props.setProperty("spark.eventLog.enabled", "true" if on else "false")


def _fingerprint_probe(wl: Workload, spans, reps: int = 3) -> float:
    """with_fingerprint alone over the input's query texts (as the parser
    emits them, taken from the generator), noop sink; median of `reps`."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from mysql_log_parser_spark.functions.fingerprint import with_fingerprint
    from mysql_log_parser_spark.session import build_session

    qfile = os.path.join(wl.work, "queries.parquet")
    pq.write_table(pa.table({"query": pa.array(wl.main.corpus.queries, pa.string())}), qfile)
    spark = build_session()
    try:
        queries = spark.read.parquet(qfile)
        for _ in range(reps):
            with spans.span("fingerprint.probe"):
                with_fingerprint(queries).write.format("noop").mode("overwrite").save()
        return statistics.median(s.seconds for s in spans.named("fingerprint.probe"))
    finally:
        spark.stop()


def _stop_jvm(timeout: float = 60.0) -> None:
    """Shut the gateway JVM down and wait for it and its Python workers."""
    import procfs
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        gw.proc.stdin.close()
        try:
            gw.proc.wait(timeout)
        except subprocess.TimeoutExpired:
            gw.proc.kill()
            gw.proc.wait(timeout)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + timeout
    while len(procfs.descendants(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.1)
    for pid in procfs.descendants(os.getpid())[1:]:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def _metric(name: str, value: float, samples: int) -> dict:
    return {"value": float(value), "unit": UNITS[name], "samples": samples}


def _median_metric(name: str, values: list[float]) -> dict:
    return _metric(name, statistics.median(values) if values else 0.0, len(values))


def run(workload: str, seed: int, seconds: float, traced: bool, work: str) -> dict:
    import bench
    import procfs
    import tracing
    from mysql_log_parser_spark.session import build_session

    cpus = cpu_count()
    spans = tracing.SpanRecorder()
    control_s = bench.control_kernel_sec(cpus) if traced else None  # before any JVM thread

    # setup: session start, input generation, warmup
    wl = Workload(workload, seed, work)
    t0 = time.perf_counter()
    with spans.span("session.start", parent="setup"):
        build_session().stop()
    wl.generate()
    warm = wl.warmup()
    setup_s = time.perf_counter() - t0

    log_dir = os.path.join(work, "eventlog")
    if traced:
        _set_event_log(False, log_dir)
    steal0, total0 = procfs.cpu_jiffies()
    with procfs.PeakRss() as peak:
        results = _loop(wl, seconds, spans if traced else None, traced_first=seed % 2 == 1)
    steal1, total1 = procfs.cpu_jiffies()
    n_events = wl.main.corpus.n_events
    plain = [r for r in results if r.ok and not r.traced]
    metrics: dict[str, dict] = {}
    if not traced:
        metrics["events_per_s"] = _median_metric(
            "events_per_s", [n_events / r.wall_s for r in plain]
        )
        metrics["setup_s"] = _metric("setup_s", setup_s, 1)
        metrics["output_bytes_per_event"] = _median_metric(
            "output_bytes_per_event", [r.output_bytes / n_events for r in plain]
        )
    else:
        _set_event_log(False)
        probe_s = _fingerprint_probe(wl, spans)
        _stop_jvm()
        apps = tracing.read_event_logs(log_dir)
        traced_runs = [r for r in results if r.traced]
        per_run = [
            tracing.layer_metrics(
                tracing.RunView(apps, span), cpus, res.chunk_phase_end_ms, res.chunk_walls
            )
            for span, res in zip(spans.named("run"), traced_runs)
        ]
        for name in per_run[0]:
            metrics[name] = _median_metric(name, [m[name] for m in per_run])
        good = [r for r in traced_runs if r.ok] or traced_runs
        metrics["session.start_s"] = _metric(
            "session.start_s", spans.named("session.start")[0].seconds, 1
        )
        metrics["fingerprint.isolated_s"] = _metric(
            "fingerprint.isolated_s", probe_s, len(spans.named("fingerprint.probe"))
        )
        metrics["fingerprint.classes_out"] = _median_metric(
            "fingerprint.classes_out", [r.classes_out for r in good]
        )
        metrics["fingerprint.empty"] = _median_metric(
            "fingerprint.empty", [r.empty_fingerprints for r in good]
        )
        metrics["host.control_s"] = _metric("host.control_s", control_s, 1)
        metrics["host.cpus"] = _metric("host.cpus", cpus, 1)
        metrics["host.peak_rss_mb"] = _metric("host.peak_rss_mb", peak.peak_bytes / 2**20, 1)
        metrics["host.steal_ratio"] = _metric(
            "host.steal_ratio", (steal1 - steal0) / max(1, total1 - total0), 1
        )
        metrics["trace.overhead_ratio"] = _metric(
            "trace.overhead_ratio",
            statistics.median(r.wall_s for r in traced_runs)
            / statistics.median(r.wall_s for r in results if not r.traced),
            len(results),
        )
        metrics = {m["name"]: metrics[m["name"]] for m in SPEC["per_layer"]}
    results = [warm] + results

    return {
        "workload": workload,
        "seed": seed,
        "trace": int(traced),
        "cpus": cpus,
        "events": n_events,
        "attempted": len(results),
        "failed": sum(1 for r in results if not r.ok),
        "metrics": metrics,
        "job_walls_s": [r.wall_s for r in results],
        "errors": [e for r in results for e in r.errors],
        "spans": [vars(s) for s in spans.spans],
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in SPEC["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(1, ROOT)
    try:
        import bench  # noqa: F401  (host control kernel)
        import jobs.digest_job  # noqa: F401
        import mysql_log_parser_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    # the JVM's temp files, and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    try:
        record = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:  # another run still uses it
            pass

    print(json.dumps({"perfbench_record": record}))
    print(
        json.dumps(
            {
                "correct": record["failed"] == 0,
                "attempted": record["attempted"],
                "failed": record["failed"],
                "metrics": {
                    k: {"value": v["value"], "unit": v["unit"]}
                    for k, v in record["metrics"].items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
