"""Scaling-efficiency protocol (BASELINE.json north_rule).

No real cluster exists in this sandbox, so N vs 4N executors is evidenced by
running the IDENTICAL job on the IDENTICAL prepared input at two
parallelism levels (separate JVMs), reporting throughput at each and

    efficiency(N -> 4N) = (events_per_sec@4N / events_per_sec@N) / 4

The pair is derived from the usable core count C (the process's CPU
affinity): N = max(1, C // 4), so 1 -> 4 on a 4-core box and 8 -> 32 on a
32-core one.  On a single box the larger leg can saturate MEMORY BANDWIDTH
rather than the engine (a 32-core box measured a pure-multiprocessing run
of the same parse kernel at only ~0.54 efficiency 8 -> 32), so compare
against the control kernel's own scaling before blaming Spark.  Target
>= 0.8 on a compute-bound pair.  Results go to BENCH/BASELINE.md.  Usage:

    python bench_scaling.py [sf_dir] [replicate]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys


def run(cpus: int, sf_dir: str, replicate: int) -> dict:
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=sf_dir,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_REPLICATE=str(replicate),
        SPARK_GRAFT_QUERIES="flagship",  # scaling legs time the pipeline only
        SPARK_GRAFT_REPEATS="3",  # min-of-3 per leg: single-box noise control
    )
    out = subprocess.run(
        [sys.executable, os.path.join(os.path.dirname(__file__), "bench.py")],
        env=env,
        capture_output=True,
        text=True,
        timeout=2400,
    )
    lines = [l for l in out.stdout.strip().splitlines() if l.startswith("{")]
    if not lines:
        raise RuntimeError(f"bench.py produced no JSON at cpus={cpus}:\n{out.stderr[-2000:]}")
    return json.loads(lines[-1])


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    replicate = int(sys.argv[2]) if len(sys.argv) > 2 else 30

    n = max(1, len(os.sched_getaffinity(0)) // 4)
    legs = {c: run(c, sf_dir, replicate) for c in (n, 4 * n)}
    r = {c: legs[c]["events_per_sec"] for c in legs}
    print(
        json.dumps(
            {
                "metric": "scaling_efficiency",
                "value": round((r[4 * n] / r[n]) / 4, 3),
                "unit": "ratio",
                "pair": f"{n}->{4 * n} cores (N vs 4N)",
                "events": legs[4 * n]["events"],
                "events_per_sec": {str(c): r[c] for c in legs},
                "pipeline_sec": {str(c): legs[c]["value"] for c in legs},
                # pinned no-Spark control per leg (bench.py control kernel):
                # divides out box drift round-over-round, and its own
                # N->4N degradation IS the measured bandwidth ceiling
                "control_sec": {str(c): legs[c].get("control_sec") for c in legs},
                "flagship_over_control": {
                    str(c): legs[c].get("flagship_over_control") for c in legs
                },
                "sf": sf_dir,
                "replicate": replicate,
            }
        )
    )


if __name__ == "__main__":
    main()
