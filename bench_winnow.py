"""Winnow gram-hash kernel microbench (VERDICT r4 item 2 done-criterion).

Times `winnow_fingerprints` over the same replicated corpus with the
gate/oracle gram hash (hash_fn=gram_hashes_md5: one Python hashlib.md5
call per character position) vs the production default
(hash_fn=gram_hashes_fast: vectorized numpy rolling polynomial hash).
Both feed the same run-dedup selection (checked with injected hashes in
tests/test_winnow.py); only the gram-hash values differ, so row counts
are near-identical (expected density 2/(w+1) either way) but not equal.

Two ratios are reported:
- kernel_ratio: single-core in-process hash+select throughput over the
  raw sf corpus (min-of-3) — isolates the per-position interpreter cost
  the verdict flagged; this is the number that decides whether one
  executor core is hash-bound at 100 TB.
- operator_ratio: the full Spark operator wall-clock at the replicated
  corpus — smaller, because once hashing is vectorized the operator is
  bound by the shared Arrow transfer of ~2/(w+1) fingerprint rows per
  position, a cost both hashes pay identically.

Usage: python bench_winnow.py [sf_dir] [replicate] [cpus]
Defaults: /root/testdata/sf0.1, 20 (-> 100k docs / ~30 MB text), 32.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from mysql_log_parser_spark.session import build_session
from mysql_log_parser_spark.textops.winnow import (
    K,
    W,
    _select_fingerprints,
    gram_hashes_fast,
    gram_hashes_md5,
    winnow_fingerprints,
)


def kernel_bench(sf_dir: str) -> dict:
    """Single-core in-process hash+select timing (min-of-3) over the raw
    corpus — no Spark, no Arrow: the per-position kernel cost itself."""
    import duckdb

    texts = [
        r[0]
        for r in duckdb.sql(
            "SELECT text FROM read_parquet("
            f"'{sf_dir}/documents.parquet') WHERE length(text) >= {K + W - 1}"
        ).fetchall()
    ]
    n_pos = sum(len(t) - K + 1 for t in texts)

    out = {}
    for name, fn in (("md5", gram_hashes_md5), ("fast", gram_hashes_fast)):
        best = min(
            _timed(
                lambda: [
                    _select_fingerprints(fn(t, K, len(t) - K + 1), W)
                    for t in texts
                ]
            )
            for _ in range(3)
        )
        out[name] = {
            "seconds": round(best, 3),
            "positions_per_sec": round(n_pos / best),
        }
    out["ratio"] = round(
        out["fast"]["positions_per_sec"] / out["md5"]["positions_per_sec"], 1
    )
    out["n_positions"] = n_pos
    return out


def _timed(fn) -> float:
    t0 = time.monotonic()
    fn()
    return time.monotonic() - t0


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    replicate = int(sys.argv[2]) if len(sys.argv) > 2 else 20
    cpus = int(sys.argv[3]) if len(sys.argv) > 3 else 32

    kern = kernel_bench(sf_dir)

    spark = build_session(master=f"local[{cpus}]", shuffle_partitions=cpus)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    reps = spark.range(replicate).select(F.col("id").alias("rep"))
    corpus = (
        docs.crossJoin(reps)
        .select(
            (F.col("doc_id") * replicate + F.col("rep")).alias("doc_id"),
            "text",
        )
        .repartition(cpus * 2)
        .persist()
    )
    n_docs = corpus.count()
    n_pos = corpus.select(
        F.sum(F.greatest(F.length("text") - (K - 1), F.lit(0)))
    ).first()[0]

    results = {}
    # fast first: its warmup is cheaper
    for name, fn in (("fast", gram_hashes_fast), ("md5", gram_hashes_md5)):
        winnow_fingerprints(corpus, hash_fn=fn).count()  # warmup
        dt, rows = 1e9, 0
        for _ in range(3):  # min-of-3: single-box IO noise control
            t0 = time.monotonic()
            rows = winnow_fingerprints(corpus, hash_fn=fn).count()
            dt = min(dt, time.monotonic() - t0)
        results[name] = {
            "seconds": round(dt, 3),
            "fp_rows": rows,
            "positions_per_sec": round(n_pos / dt),
        }
    corpus.unpersist()
    print(
        json.dumps(
            {
                "metric": "winnow_kernel_ratio",
                "value": kern["ratio"],
                "unit": "x (fast vs md5, single-core hash+select)",
                "kernel_bench": kern,
                "operator_ratio": round(
                    results["fast"]["positions_per_sec"]
                    / results["md5"]["positions_per_sec"],
                    2,
                ),
                "n_docs": n_docs,
                "n_positions": int(n_pos),
                "cpus": cpus,
                "operator": results,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
