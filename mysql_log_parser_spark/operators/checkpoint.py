"""Resumable incremental processing with per-chunk lineage + metrics.

The reference's resume contract (EP2, SURVEY.md §3): the caller persists
`Event.Offset` and restarts the parser with Options.StartOffset
(/root/reference/log/parser/options.go:4, slow.go:46-49); a partial event at
the seek point is discarded.  At table scale the equivalent unit of progress
is an input *chunk* (a parquet file of the tokens table, or an Iceberg
snapshot id): the runner processes only chunks not yet committed to its
manifest, writes each chunk's output idempotently, and commits the manifest
entry last — so a crash anywhere re-processes at most the in-flight chunks
(exactly the reference's partial-event-discard semantics, one level up).

Pending chunks run side by side, at most defaultParallelism at a time (the
reference CLI's worker pool, bin/parser-cli.go:53-56): a chunk is a
one-task write plus a one-task read-back, so run one after another they
leave all cores but one idle.  A crash therefore re-processes at most
defaultParallelism chunks, and manifest entries commit in completion
order, not in chunk-name order.

Intra-doc byte-offset resume is ALSO supported end-to-end via the parser's
`start_offset` column (tested against the reference's StartOffset goldens);
this module handles the chunk level above it.

Manifest: one JSON file per committed chunk under <output>/_manifest/, with
row counts, per-source routed counts (lineage), and wall-time metrics.
Commit is atomic via write-temp + rename.

Chunk store: <output>/data/chunk=<name>/ holds each event once.  The
promoted metric columns (parse.PROMOTED_COLUMNS) are second copies of
`time_metrics`/`number_metrics` entries, so chunks are written without
them and `events()` derives them on read.  Chunks committed with them (the
earlier full-width layout) read back the same.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections import Counter
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from mysql_log_parser_spark.operators.parse import PROMOTED_COLUMNS, promote_metrics


class CheckpointedRunner:
    def __init__(self, spark: SparkSession, output_dir: str):
        self.spark = spark
        self.output_dir = output_dir
        self.manifest_dir = os.path.join(output_dir, "_manifest")
        os.makedirs(self.manifest_dir, exist_ok=True)

    # -- manifest -------------------------------------------------------------

    def committed_chunks(self) -> dict[str, dict]:
        out = {}
        for name in sorted(os.listdir(self.manifest_dir)):
            if name.endswith(".json"):
                with open(os.path.join(self.manifest_dir, name)) as f:
                    rec = json.load(f)
                out[rec["chunk"]] = rec
        return out

    def _commit(self, rec: dict) -> None:
        safe = rec["chunk"].replace("/", "_").replace("=", "_")
        tmp = os.path.join(self.manifest_dir, f".{safe}.{uuid.uuid4().hex}.tmp")
        dst = os.path.join(self.manifest_dir, f"{safe}.json")
        with open(tmp, "w") as f:
            json.dump(rec, f)
        os.replace(tmp, dst)  # atomic commit

    # -- incremental run ------------------------------------------------------

    def pending_chunks(self, input_dir: str) -> list[str]:
        chunks = sorted(
            n for n in os.listdir(input_dir)
            if n.endswith(".parquet") and not n.startswith(("_", "."))
        )
        done = self.committed_chunks()
        return [c for c in chunks if c not in done]

    def run_incremental(
        self,
        input_dir: str,
        process: Callable[[DataFrame], DataFrame],
        max_chunks: int | None = None,
    ) -> list[dict]:
        """Process uncommitted chunks of `input_dir` through `process`
        (docs df -> events df), appending each chunk's output under
        <output>/data/chunk=<name>/ and committing its lineage last.

        Up to defaultParallelism chunks run at once, one driver thread
        each; Spark's FIFO scheduler serves the earliest-submitted job's
        tasks first, so extra threads only fill otherwise idle cores.  The
        caller's job group and local properties carry over to the threads.
        Each chunk commits as soon as it finishes, so manifest files appear
        in completion order and a crash re-processes at most the chunks
        still in flight.  `wall_sec` includes any time a chunk's jobs
        waited for a core.  If a chunk fails, the other chunks still run and
        commit, then the first failure in pending order is raised.

        Returns the manifest records written this run, in pending order.
        """
        pending = self.pending_chunks(input_dir)[: max_chunks or None]
        if not pending:
            return []
        width = min(len(pending), self.spark.sparkContext.defaultParallelism)
        with ThreadPoolExecutor(max_workers=width) as pool:
            # wrapped here, in the caller's thread, once per chunk: the
            # wrapper copies the caller's local properties when it is made
            # and installs that copy in the worker thread, so each chunk
            # needs its own (Spark SQL keeps its execution id in them)
            futures = [
                pool.submit(
                    inheritable_thread_target(self.spark)(self._run_chunk),
                    input_dir, chunk, process,
                )
                for chunk in pending
            ]
            return [f.result() for f in futures]

    def _run_chunk(
        self, input_dir: str, chunk: str, process: Callable[[DataFrame], DataFrame]
    ) -> dict:
        """Write one chunk's events, read its lineage back, commit it."""
        t0 = time.perf_counter()
        docs = self.spark.read.parquet(os.path.join(input_dir, chunk))
        # metrics ride along with the write action (df.observe) — no
        # extra count jobs over the input or the pipeline
        in_obs = Observation(f"in_{chunk}")
        out_obs = Observation(f"out_{chunk}")
        docs = docs.observe(in_obs, F.count(F.lit(1)).alias("rows_in"))
        ev = process(docs).observe(out_obs, F.count(F.lit(1)).alias("events_out"))
        out_path = os.path.join(self.output_dir, "data", f"chunk={chunk}")
        # idempotent per-chunk write: a re-run of an uncommitted chunk
        # overwrites its own partial output; the promoted columns are
        # copies of map entries, derived again by events()
        ev.drop(*PROMOTED_COLUMNS).write.mode("overwrite").parquet(out_path)

        # per-partition lineage: row counts per routed source AND per
        # written output file, from one grouped read-back of this chunk
        by_source, by_file = Counter(), Counter()
        for r in (
            self.spark.read.parquet(out_path)
            .groupBy("source", F.input_file_name().alias("f"))
            .agg(F.count("*").alias("cnt"))
            .collect()
        ):
            by_source[r["source"]] += r["cnt"]
            by_file[os.path.basename(r["f"])] += r["cnt"]
        rec = {
            "chunk": chunk,
            "rows_in": int(in_obs.get["rows_in"]),
            "events_out": int(out_obs.get["events_out"]),
            "by_source": by_source,
            "by_partition_file": by_file,
            "output_partitions": len(by_file),
            "wall_sec": round(time.perf_counter() - t0, 3),
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        self._commit(rec)
        return rec

    def events(self) -> DataFrame:
        """All committed events (reads only committed chunk dirs), with the
        promoted metric columns derived from the metric maps.

        They are derived for every chunk, not only when the read schema
        lacks them: without mergeSchema Spark takes the schema from one
        footer, so a store mixing full-width chunks with map-only ones may
        read the columns as present yet null for the map-only chunks."""
        done = self.committed_chunks()
        paths = [
            os.path.join(self.output_dir, "data", f"chunk={c}") for c in done
        ]
        if not paths:
            raise ValueError("no committed chunks")
        return promote_metrics(self.spark.read.parquet(*paths))
