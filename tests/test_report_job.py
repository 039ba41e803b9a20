"""Report sink + spark-submit job script surfaces."""

import os
import sys

import pytest
from pyspark.sql import functions as F

from mysql_log_parser_spark import synth
from mysql_log_parser_spark.pipeline import events
from mysql_log_parser_spark.report import digest_report, top_classes


def test_digest_report(spark, tmp_path):
    p = str(tmp_path / "tokens.parquet")
    synth.generate_parquet(p, n_docs=10, events_per_doc=20, seed=3)
    ev = events(spark.read.parquet(p))
    rep = digest_report(ev, elapsed_sec=1.5)
    assert rep.startswith("Events: 200, time: 1.500000 sec, rate: 133.333333")
    assert "1.00 pct query time" in rep
    assert "bucket  0:" in rep
    assert "Query ID " in rep and "fingerprint: " in rep
    # no rate limiting seen in the synth corpus -> no corrected line
    assert "Rate-limit corrected" not in rep


def test_digest_report_rate_corrected(spark, tmp_path):
    """When events carry Log_slow_rate_limit=N the report surfaces the
    pt-query-digest observed*N correction, globally and per class."""
    p = str(tmp_path / "tokens.parquet")
    synth.generate_parquet(p, n_docs=10, events_per_doc=20, seed=3)
    ev = events(spark.read.parquet(p)).withColumn(
        "rate_limit", F.lit(100)
    )
    rep = digest_report(ev)
    assert "Rate-limit corrected events: 20000 (observed 200" in rep
    assert "(rate-limit corrected: " in rep  # per-class line


def test_top_classes_boundary(spark):
    """A class holding exactly 10% of the events is not reported; one event
    more and it is (10 * total_queries > total, bin/parser-cli.go:139)."""
    classes = ["at10"] * 10 + ["above10"] * 11 + [f"c{i}" for i in range(79)]
    ev = spark.createDataFrame(
        [(c, f"select {c}", 1.0) for c in classes],
        "class_id string, fingerprint string, query_time double",
    )
    rows = top_classes(ev).collect()
    assert [(r.class_id, r.total_queries, r.corrected_queries) for r in rows] == [
        ("above10", 11, 11)
    ]
    assert rows[0].fingerprint == "select above10"
    assert len(rows[0].ladder) == 21 and set(rows[0].ladder) == {1.0}


def test_digest_job_cli(spark, tmp_path):
    """Drive jobs/digest_job.py main() end-to-end (incremental mode)."""
    ind = tmp_path / "in"
    ind.mkdir()
    synth.generate_parquet(str(ind / "c0.parquet"), n_docs=4, events_per_doc=10, seed=9)
    out = str(tmp_path / "out")

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    import digest_job

    digest_job.main(
        ["--input", str(ind), "--output", out, "--mode", "exact", "--incremental"]
    )
    cd = spark.read.parquet(f"{out}/class_digest")
    gd = spark.read.parquet(f"{out}/global_digest").first()
    assert gd.total_queries == 40
    assert cd.count() == gd.unique_queries


@pytest.mark.parametrize(
    "flags", [[], ["--incremental"], ["--incremental", "--routed"]],
    ids=["plain", "incremental", "incremental-routed"],
)
def test_digest_job_sink_codec_and_layout(spark, tmp_path, flags):
    """Every parquet file a digest_job run writes is zstd; checkpoint
    chunks hold none of the promoted metric columns (events() derives
    them), and routed files keep all of them for their readers' filters."""
    import glob

    import pyarrow.parquet as pq

    from mysql_log_parser_spark.operators.parse import PROMOTED_COLUMNS

    ind = tmp_path / "in"
    ind.mkdir()
    for c in range(2):
        synth.generate_parquet(
            str(ind / f"c{c}.parquet"), n_docs=4, events_per_doc=10, seed=41 + c
        )
    out = str(tmp_path / "out")

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    import digest_job

    digest_job.main(["--input", str(ind), "--output", out, *flags])
    files = [
        f for f in glob.glob(f"{out}/**/*.parquet", recursive=True)
        if os.path.isfile(f)  # chunk dirs are named chunk=<file>.parquet
    ]
    assert files
    codecs = set()
    for f in files:
        md = pq.ParquetFile(f).metadata
        codecs |= {
            md.row_group(i).column(j).compression
            for i in range(md.num_row_groups)
            for j in range(md.num_columns)
        }
    assert codecs == {"ZSTD"}

    promoted = set(PROMOTED_COLUMNS)
    chunks = [f for f in files if "/data/chunk=" in f]
    routed = [f for f in files if "/routed/" in f]
    assert bool(chunks) == ("--incremental" in flags)
    assert bool(routed) == ("--routed" in flags)
    for f in chunks:
        assert not promoted & set(pq.read_schema(f).names)
    for f in routed:
        assert promoted <= set(pq.read_schema(f).names)
    assert spark.read.parquet(f"{out}/global_digest").first().total_queries == 80


@pytest.mark.parametrize("mode", ["sketch", "exact"])
@pytest.mark.parametrize("incremental", [False, True])
def test_digest_job_event_free_input(spark, tmp_path, capsys, mode, incremental):
    """Docs holding only mysqld banner lines parse to no events; the job
    still writes an empty class digest and global_digest's one row of zero
    counts (its sketch-mode row, in both modes), and --bench-json reports
    zero events with every observe_events counter at zero."""
    import json

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mysql_log_parser_spark.operators.aggregate import global_digest
    from mysql_log_parser_spark.operators.metrics import observe_events

    banner = (
        "/usr/sbin/mysqld, Version: 5.6.15-log (binary). started with:\n"
        "Tcp port: 3306  Unix socket: /var/lib/mysql/mysql.sock\n"
        "Time                 Id Command    Argument\n"
    )
    toks = np.frombuffer(banner.encode(), dtype=np.uint8).astype(np.int32).tolist()
    ind = tmp_path / "in"
    ind.mkdir()
    for c in range(2):
        pq.write_table(
            pa.table({
                "doc_id": [f"banner:{c}:{d}" for d in range(3)],
                "tokens": pa.array([toks] * 3, pa.list_(pa.int32())),
                "n_tok": pa.array([len(toks)] * 3, pa.int32()),
                "source": [f"src{d}" for d in range(3)],
            }),
            str(ind / f"c{c}.parquet"),
        )
    out = str(tmp_path / "out")

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    import digest_job

    capsys.readouterr()
    digest_job.main(
        ["--input", str(ind), "--output", out, "--mode", mode, "--bench-json"]
        + (["--incremental"] if incremental else [])
    )
    leg = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert leg["events"] == 0 and leg["events_per_sec"] == 0
    probe, counters = observe_events(
        spark.createDataFrame(
            [(1.0, "select ?", False)],
            "query_time double, fingerprint string, admin boolean",
        )
    )
    probe.collect()
    assert leg["observed"] == dict.fromkeys(counters.get, 0)
    ev = events(spark.read.parquet(str(ind)))
    assert ev.count() == 0
    assert spark.read.parquet(f"{out}/class_digest").count() == 0
    gd = spark.read.parquet(f"{out}/global_digest")
    assert [(f.name, f.dataType) for f in gd.schema] == [
        (f.name, f.dataType) for f in global_digest(ev, mode).schema
    ]
    rows = gd.collect()
    assert rows == global_digest(ev, "sketch").collect()
    assert rows[0]["total_queries"] == 0 and rows[0]["unique_queries"] == 0
    assert rows[0]["query_time_cnt"] == 0 and rows[0]["mixed_rate_limits"] is False


def test_spark_submit_py_files(tmp_path):
    """North-rule packaging contract: run the digest job through a REAL
    `spark-submit --py-files <pkg.zip>` subprocess — the package must be
    importable from the shipped zip alone (cwd is outside the repo)."""
    import shutil
    import subprocess

    from mysql_log_parser_spark.session import package_zip

    submit = shutil.which("spark-submit")
    if submit is None:
        import pytest

        pytest.skip("spark-submit not on PATH")

    ind = tmp_path / "in"
    ind.mkdir()
    synth.generate_parquet(str(ind / "c0.parquet"), n_docs=4, events_per_doc=10, seed=21)
    out = str(tmp_path / "out")
    job = os.path.join(os.path.dirname(__file__), "..", "jobs", "digest_job.py")

    # SPARK_GRAFT_CPUS deliberately DISAGREES with --master: the job must
    # inherit the submit's master, not rebuild one from the env default
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEMORY="2g")
    res = subprocess.run(
        [
            submit,
            "--master", "local[4]",
            "--py-files", package_zip(),
            job,
            "--input", str(ind),
            "--output", out,
            "--mode", "sketch",
            "--bench-json",
        ],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]

    # --bench-json prints ONE parseable line with in-job timing, and the
    # job must inherit spark-submit's --master (NOT env SPARK_GRAFT_CPUS=4's
    # default path — both say 4 here, so assert the reported master string)
    import json

    lines = [l for l in res.stdout.strip().splitlines() if l.startswith("{")]
    assert lines, res.stdout[-2000:]
    leg = json.loads(lines[-1])
    assert leg["events"] == 40
    assert leg["elapsed_sec"] > 0
    assert leg["master"] == "local[4]"
    # observed metrics ride the digest write (no extra pass): totals must
    # agree with the digest, and no event may fall through fingerprinting
    assert leg["observed"]["events"] == 40
    assert leg["observed"]["empty_fingerprints"] == 0
    assert leg["observed"]["qt_sum"] > 0

    import duckdb

    gd = duckdb.sql(f"SELECT total_queries FROM read_parquet('{out}/global_digest/*.parquet')").fetchone()
    assert gd[0] == 40


def test_digest_job_raw_log_mode(spark, tmp_path):
    """--raw-log: point the CLI job at ONE raw slow-log file (the reference
    CLI's own input mode) and get the same digests."""
    log = tmp_path / "slow.log"
    parts = []
    for i in range(30):
        parts.append(
            f"# Time: 240101 10:{i % 60:02d}:00\n"
            f"# User@Host: u[u] @ h []\n"
            f"# Query_time: {i}.500000  Lock_time: 0.000000 Rows_sent: 1  Rows_examined: 2\n"
            f"SELECT c FROM t{i % 3} WHERE id={i};\n"
        )
    log.write_text("".join(parts))
    out = str(tmp_path / "out")

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    import digest_job

    digest_job.main(
        ["--input", str(log), "--output", out, "--mode", "exact",
         "--raw-log", "--chunk-mb", "1", "--routed"]
    )
    gd = spark.read.parquet(f"{out}/global_digest").first()
    assert gd.total_queries == 30
    assert gd.unique_queries == 3
    # routed layout carries the file name as the source tag, not NULL
    routed = spark.read.parquet(f"{out}/routed")
    assert routed.where(F.col("source") == "slow.log").count() == 30


def test_digest_job_input_modes_agree(spark, tmp_path):
    """One corpus with Ping admin events, run as a tokens dir, as an
    --incremental chunk dir and as a --raw-log file, each with
    --filter-admin Ping: all three write the same class and global digests.
    The raw log lists the docs in (doc_id, event_idx) order, so example
    ties resolve to the same event in every mode."""
    import pyarrow.parquet as pq

    from mysql_log_parser_spark import tokenizer

    ind = tmp_path / "in"
    ind.mkdir()
    for c in range(2):
        synth.generate_parquet(
            str(ind / f"c{c}.parquet"), n_docs=12, events_per_doc=15, seed=31 + c
        )
    docs = pq.read_table(str(ind)).to_pylist()
    assert any("administrator command: Ping" in tokenizer.decode(d["tokens"]) for d in docs)
    log = tmp_path / "slow.log"
    log.write_text(
        "".join(tokenizer.decode(d["tokens"]) for d in sorted(docs, key=lambda d: d["doc_id"]))
    )

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    import digest_job

    digests = []
    for name, inp, flags in [
        ("tokens", ind, []),
        ("incremental", ind, ["--incremental"]),
        ("raw", log, ["--raw-log"]),
    ]:
        out = str(tmp_path / f"out_{name}")
        digest_job.main(
            ["--input", str(inp), "--output", out, "--filter-admin", "Ping",
             "--mode", "exact", *flags]
        )
        digests.append(
            tuple(
                sorted(spark.read.parquet(f"{out}/{d}").collect(), key=str)
                for d in ("class_digest", "global_digest")
            )
        )
    (gd,) = digests[0][1]
    assert gd.total_queries == 2 * 12 * 15 - sum(
        tokenizer.decode(d["tokens"]).count("administrator command: Ping") for d in docs
    )
    assert "ping" not in {r.fingerprint for r in digests[0][0]}
    assert digests[1] == digests[0]
    assert digests[2] == digests[0]
