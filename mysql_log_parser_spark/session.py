"""SparkSession factory with scale-oriented defaults.

Designed for a multi-executor cluster at 10^12-row scale; tested on local[N].
Every knob here is plain public Spark configuration:

- AQE on (runtime shuffle coalescing + skew-join splitting) — the runtime
  counterpart of the reference's fixed worker pool (bin/parser-cli.go:53-56).
- Arrow enabled for all pandas UDF exchange (the parse stage is mapInPandas).
- shuffle.partitions sized ~2x cores for local mode; on a real cluster set
  spark.sql.shuffle.partitions ~= 2-3x total executor cores (AQE coalesces
  down, it cannot split a too-coarse map side other than via skew handling).
- Parquet files are written zstd (Apache Iceberg's default since 1.4), so
  every digest, routed sink and checkpoint chunk shares one codec.
- The driver heap defaults to half of physical memory, capped at 16g
  (`default_driver_memory`); SPARK_DRIVER_MEMORY overrides it.
"""

from __future__ import annotations

import os
import tempfile
import uuid
import zipfile

from pyspark.sql import SparkSession

# Token-table scans: token docs expand ~20x through the parse (array<int32>
# -> event rows), so input splits are sized for the EXPANDED working set
# (one prepared file per split, no shuffle of the raw tokens) and parquet/
# Arrow batches are kept small on fat array rows (measured deltas in
# BENCH.md).  All runtime-settable SQL confs, so they apply under
# spark-submit too.  Pass as build_session(extra_conf=...).
TOKEN_SCAN_CONF = {
    "spark.sql.files.maxPartitionBytes": "4m",
    "spark.sql.files.openCostInBytes": "4m",
    "spark.sql.parquet.columnarReaderBatchSize": "256",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "512",
}


def default_driver_memory(phys_bytes: int | None = None) -> str:
    """Half of physical memory (`phys_bytes`, default this host's), capped
    at 16g, as a Spark size string in MiB."""
    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(16 << 10, phys_bytes >> 21)}m"


def package_zip() -> str:
    """Zip the package for shipping to executors (the spark-submit
    --py-files artifact).  Rebuilt per call; tiny."""
    root = os.path.dirname(os.path.abspath(__file__))
    dst = os.path.join(tempfile.gettempdir(), f"mlp_spark_pkg_{uuid.uuid4().hex[:8]}.zip")
    with zipfile.ZipFile(dst, "w", zipfile.ZIP_DEFLATED) as z:
        for dirpath, _dirnames, filenames in os.walk(root):
            for fn in filenames:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    rel = os.path.join(
                        "mysql_log_parser_spark", os.path.relpath(full, root)
                    )
                    z.write(full, rel)
    return dst


def build_session(
    app_name: str = "mysql-log-parser-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    # Under spark-submit the driver JVM already exists and carries the
    # --master from the submit command line (PythonRunner exports
    # PYSPARK_GATEWAY_PORT to the user script); setting .master() here would
    # silently override the cluster the operator asked for.  Inherit it.
    under_submit = master is None and "PYSPARK_GATEWAY_PORT" in os.environ
    usable = str(len(os.sched_getaffinity(0)))  # cores this process may run on
    if master is None and not under_submit:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", usable)
        master = f"local[{cpus}]"
    if shuffle_partitions is None and not under_submit:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else usable
        shuffle_partitions = 64 if n == "*" else max(8, 2 * int(n))

    b = SparkSession.builder.appName(app_name)
    if not under_submit:
        b = b.master(master)
    b = (
        b
        # local mode: driver == executor; default 1g heap starves the
        # vectorized parquet reader on wide array columns.  NB: oversized
        # heaps (48g) measurably DESTABILIZE this workload (G1 churns on the
        # humongous token-array vectors; run-to-run swings of 5x) — 8-16g is
        # the stable band at local[32].  A heap past physical memory is
        # never safe, hence half of it by default.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY", default_driver_memory()),
        )
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Fat array<int32> token rows: the parquet reader's default 4096-row
        # columnar batches become ~50MB vectors whose reserve/copy cycles
        # dominate the scan, and oversized Arrow batches starve the Python
        # workers.  These defaults target token-table scans; override per
        # workload via extra_conf.
        .config("spark.sql.parquet.columnarReaderBatchSize", "512")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
    )
    if shuffle_partitions is not None:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    if shuffle_partitions is None:
        # submit mode: size the shuffle off the cluster the submit gave us
        # (2x total cores; AQE coalesces down, it cannot split a too-coarse
        # map side other than via skew handling)
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(max(8, 2 * spark.sparkContext.defaultParallelism)),
        )
    # Ship the package to Python workers (equivalent of --py-files); without
    # this, mapInPandas UDFs fail to unpickle when the driver's cwd is not
    # the repo root.
    spark.sparkContext.addPyFile(package_zip())
    return spark
