"""Fan-out routing: per-`source` sinks (BASELINE.json north_rule).

Two strategies, both single-shuffle-free on the event stream:

1. `route_partitioned` (default, the scale path): one write of the whole
   event stream partitioned by `source`.  Hive-style partition dirs give
   per-sink datasets with partition pruning on read; dynamic partition
   overwrite keeps re-runs idempotent per sink.  This is ONE job, one pass —
   at 10^12 rows a per-sink loop would re-trigger the upstream N times.

2. `route_loop`: per-source filtered writes, for genuinely heterogeneous
   sinks (different formats/locations).  Caches the parsed events once so
   the parse stage is not recomputed per sink.

Sinks are directory-backed tables (parquet by default).  If an Iceberg
catalog is configured on the session, pass format="iceberg" and table
identifiers instead of paths — the code paths are identical otherwise.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class PosixSinkStore:
    """Write-side storage seam for the routed-sink maintenance operators —
    the twin of the read side's PosixLogStore (sources/rawlog.py): the
    partition-swap discipline below needs exactly these three directory
    primitives, so an HDFS/object-store deployment drops in by implementing
    them; the swap ALGORITHM stays storage-agnostic.

    Semantics contract: `rename` must move a directory tree to a new name.
    On posix this is atomic, which is what makes the `.old` swap crash-safe.
    S3-style object stores have NO rename (only copy+delete, non-atomic,
    eventually consistent): an implementation there must either emulate it
    behind a commit manifest (write the new tree, flip one pointer object,
    garbage-collect later) or — the real production answer, as the
    upsert_routed docstring says — not be used at all, because an Iceberg /
    Delta table gives MERGE INTO and atomic snapshot swap natively.
    Instances are plain config carriers (picklable, no open handles)."""

    def is_dir(self, path: str) -> bool:
        return os.path.isdir(path)

    def rename(self, src: str, dst: str) -> None:
        os.rename(src, dst)

    def remove_dir(self, path: str) -> None:
        import shutil

        shutil.rmtree(path, ignore_errors=True)


def route_partitioned(
    events: DataFrame,
    base_path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    (
        events.write.format(fmt)
        .mode(mode)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("source")
        .save(base_path)
    )


def route_loop(
    events: DataFrame,
    base_path: str,
    sources: list[str] | None = None,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> dict[str, str]:
    """Per-sink filtered writes over a cached events frame.

    At scale ALWAYS pass `sources` explicitly (the sink topology is config,
    not data): the None fallback schedules a distinct() job over the events
    to discover them, acceptable only for small ad-hoc sink sets."""
    if sources is None:
        sources = [r.source for r in events.select("source").distinct().collect()]
    events = events.persist()
    try:
        paths = {}
        for src in sources:
            p = os.path.join(base_path, f"source={src}")
            events.where(F.col("source") == src).drop("source").write.format(fmt).mode(
                mode
            ).save(p)
            paths[src] = p
        return paths
    finally:
        events.unpersist()


def read_sink(spark: SparkSession, base_path: str, source: str | None = None) -> DataFrame:
    """Read the routed table; filtering on `source` prunes to one partition
    dir (verify via explain: PartitionFilters)."""
    df = spark.read.parquet(base_path)
    if source is not None:
        df = df.where(F.col("source") == source)
    return df


def sink_counts(spark: SparkSession, base_path: str) -> DataFrame:
    """Per-sink routed-row counts, distinct classes and Query_time sum (the
    routed-row equality / aggregate-count parity check surface)."""
    return (
        spark.read.parquet(base_path)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("routed_rows"),
            F.countDistinct("class_id").alias("distinct_classes"),
            F.sum(F.col("query_time").cast("double")).alias("qt_sum"),
        )
    )


def compact_routed(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    records_per_file: int,
    fmt: str = "parquet",
) -> DataFrame:
    """Compact a routed layout's small files: rewrite `src_path` to
    `dst_path` with one shuffle on `source` (so each sink's rows land
    together) and `maxRecordsPerFile` bounding file sizes.

    Routed sinks accumulate small files at scale — every micro-batch or
    incremental chunk appends its own files per partition dir, and a
    100 TB/day stream makes listing + open costs dominate reads within
    weeks.  Compaction is a rewrite to a NEW path (never in-place: Spark
    cannot safely overwrite a path it is reading), swapped in by the caller
    once the write commits — the same write-then-rename discipline as the
    checkpoint runner (operators/checkpoint.py).

    Returns per-source (files_before, files_after, rows) so callers can
    assert the compaction actually compacted."""
    df = spark.read.format(fmt).load(src_path)
    (
        df.repartition(F.col("source"))
        .write.format(fmt)
        .mode("overwrite")
        .option("maxRecordsPerFile", str(int(records_per_file)))
        .partitionBy("source")
        .save(dst_path)
    )

    def _files_per_source(path: str) -> DataFrame:
        d = spark.read.format(fmt).load(path)
        return (
            d.withColumn("_f", F.input_file_name())
            .groupBy("source")
            .agg(
                F.countDistinct("_f").alias("files"),
                F.count(F.lit(1)).alias("rows"),
            )
        )

    before = _files_per_source(src_path).withColumnRenamed("files", "files_before")
    after = (
        _files_per_source(dst_path)
        .withColumnRenamed("files", "files_after")
        .withColumnRenamed("rows", "rows_after")
    )
    return before.join(after, "source").select(
        "source",
        "files_before",
        "files_after",
        "rows",
        (F.col("rows") == F.col("rows_after")).alias("rows_match"),
    )


def upsert_routed(
    spark: SparkSession,
    base_path: str,
    updates: DataFrame,
    key_cols: tuple[str, ...] = ("doc_id", "event_idx"),
    store: PosixSinkStore | None = None,
) -> list[str]:
    """Partition-scoped upsert (MERGE INTO emulation for the parquet-dir
    layout; an Iceberg deployment gets this natively and the call sites are
    identical): rows in `updates` replace same-key rows and append new keys,
    touching ONLY the `source` partitions that appear in `updates` — every
    other sink's files stay byte-identical, so downstream consumers of
    untouched sinks see no new snapshot.

    Mechanics: read only the affected partitions (partition pruning),
    anti-join out the updated keys, union the updates, write to a staging
    dir, then swap each affected partition dir via rename — the checkpoint
    runner's write-temp-then-rename discipline (operators/checkpoint.py),
    because Spark cannot overwrite a path it is reading.  The retired
    partition is kept as `<dir>.old` until its replacement is in place, so
    a crash mid-swap leaves the data recoverable, never half-gone.
    Returns the list of rewritten partition values.

    The MERGE is scoped PER PARTITION: `source` is always part of the
    anti-join keys (appended if absent from `key_cols`), so the same
    (doc_id, event_idx) living in two affected source partitions updates
    each partition's own row — without this, one source's update would
    delete the other source's row and re-insert only its own.

    `store` abstracts the directory mutations (default: posix, where
    rename is atomic and the swap crash-safe).  See PosixSinkStore for the
    object-store caveat: no atomic rename there — use a commit-manifest
    emulation or, in production, Iceberg/Delta MERGE INTO instead of this
    parquet-dir emulation."""
    import uuid

    store = store if store is not None else PosixSinkStore()
    srcs = sorted(
        r["source"] for r in updates.select("source").distinct().collect()
    )
    if not srcs:
        return []
    current = spark.read.parquet(base_path).where(F.col("source").isin(srcs))
    keys = [c for c in key_cols]
    if "source" not in keys:
        keys.append("source")
    merged = current.join(
        updates.select(*keys).dropDuplicates(keys), on=keys, how="left_anti"
    ).unionByName(updates)

    stage = f"{base_path}_stage_{uuid.uuid4().hex[:8]}"
    merged.write.mode("overwrite").partitionBy("source").parquet(stage)
    for src in srcs:
        src_dir = os.path.join(stage, f"source={src}")
        dst_dir = os.path.join(base_path, f"source={src}")
        if store.is_dir(dst_dir):  # brand-new sources have no dir to retire
            tmp_old = dst_dir + ".old"
            store.rename(dst_dir, tmp_old)
            store.rename(src_dir, dst_dir)
            store.remove_dir(tmp_old)
        else:
            store.rename(src_dir, dst_dir)
    store.remove_dir(stage)
    # drop any cached file listings for the swapped partitions — readers
    # created before the upsert would otherwise chase renamed-away files
    spark.catalog.refreshByPath(base_path)
    return srcs
