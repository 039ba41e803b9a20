"""Distributed raw-log byte-range scan: for ANY chunk size, the union of
chunk parses must equal the single-reader parse — every event exactly once,
with correct absolute offsets (the split-log contract)."""

import pytest
from pyspark.sql import functions as F

from mysql_log_parser_spark.operators.parse import parse_slowlog
from mysql_log_parser_spark.sources.rawlog import read_raw_docs, with_file_offset


def _parse_raw(spark, path, admin_filter=None, **kw):
    return parse_slowlog(read_raw_docs(spark, path, **kw), admin_filter)


def _make_log(tmp_path, n_events=40):
    """Deterministic log with varied shapes: multi-line queries, admin
    commands, SET lines, a use-db line, and a no-newline tail."""
    parts = ["/usr/sbin/mysqld, Version: 5.7 started with:\nTcp port: 3306\n"]
    for i in range(n_events):
        parts.append(f"# Time: 240101 10:{i % 60:02d}:00\n")
        parts.append(f"# User@Host: u{i % 3}[u{i % 3}] @ h{i % 2} []\n")
        parts.append(
            f"# Query_time: {i + 0.5:.6f}  Lock_time: 0.000000 "
            f"Rows_sent: {i}  Rows_examined: {i * 10}\n"
        )
        if i % 11 == 0:
            parts.append("# administrator command: Ping;\n")
        elif i % 7 == 0:
            parts.append("SET timestamp=1704103200;\n")
            parts.append(f"SELECT a,\n  b\nFROM t{i}\nWHERE id={i};\n")
        elif i % 5 == 0:
            parts.append(f"use db{i % 4};\n")
            parts.append(f"UPDATE t{i} SET x=1 WHERE id={i};\n")
        else:
            parts.append(f"SELECT c FROM t{i} WHERE id={i};\n")
    parts.append("# Time: 240101 11:00:00\n# User@Host: u[u] @ h []\npartial tail no newline")
    text = "".join(parts)
    p = tmp_path / "big.log"
    p.write_bytes(text.encode())
    return str(p), text


def _key_set(ev):
    qt = F.element_at("time_metrics", "Query_time")
    rows = ev.select("file_offset", "query", "ts", qt.alias("qt"), "admin").collect()
    return sorted(
        (r[0], r[1], r[2], r[3], r[4]) for r in rows
    )


@pytest.mark.parametrize("chunk_bytes", [97, 500, 1 << 20])
def test_chunked_equals_whole(spark, tmp_path, chunk_bytes):
    path, text = _make_log(tmp_path)
    whole = parse_slowlog(
        spark.createDataFrame([("w", text, "")], "doc_id string, text string, source string")
    )
    # undo the +1 intra-doc quirk to get honest byte offsets for comparison
    whole = whole.withColumn(
        "file_offset", F.col("offset") - (F.col("offset") != 0).cast("long")
    )
    chunked = with_file_offset(
        _parse_raw(spark, path, chunk_bytes=chunk_bytes, overlap=4096)
    )
    w, c = _key_set(whole), _key_set(chunked)
    assert len(w) > 30
    assert c == w, f"chunk_bytes={chunk_bytes}: {len(c)} vs {len(w)} events"


def test_overlap_too_small_fails_loudly(spark, tmp_path):
    path, _ = _make_log(tmp_path)
    with pytest.raises(Exception, match="overlap"):
        _parse_raw(spark, path, chunk_bytes=64, overlap=16).count()


def test_admin_filter_applies(spark, tmp_path):
    path, _ = _make_log(tmp_path)
    ev = _parse_raw(spark, path, chunk_bytes=400, overlap=4096, admin_filter={"Ping"})
    assert ev.where(F.col("admin")).count() == 0


def test_prologue_events_without_boundary_kept(spark, tmp_path):
    """Chunk 0 must start at byte 0 even when the file does NOT start with
    a boundary line: a rotated log's first event (no '# Time:' of its own)
    is parsed, not silently dropped."""
    text = (
        "# User@Host: u0[u0] @ h0 []\n"
        "# Query_time: 1.000000  Lock_time: 0.000000 Rows_sent: 1  Rows_examined: 2\n"
        "SELECT first_event FROM t WHERE id=0;\n"
        "# Time: 240101 10:01:00\n"
        "# User@Host: u1[u1] @ h1 []\n"
        "# Query_time: 2.000000  Lock_time: 0.000000 Rows_sent: 1  Rows_examined: 2\n"
        "SELECT second_event FROM t WHERE id=1;\n"
    )
    p = tmp_path / "rotated.log"
    p.write_bytes(text.encode())
    whole = parse_slowlog(
        spark.createDataFrame([("w", text, "")], "doc_id string, text string, source string")
    )
    for chunk_bytes in (40, 1 << 20):
        ev = _parse_raw(spark, str(p), chunk_bytes=chunk_bytes, overlap=4096)
        got = sorted(r["query"] for r in ev.select("query").collect())
        want = sorted(r["query"] for r in whole.select("query").collect())
        assert got == want and len(got) == 2, (chunk_bytes, got)


def test_cli_raw_log_incremental_conflict(tmp_path):
    import os
    import sys

    import pytest as _pytest

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    import digest_job

    with _pytest.raises(SystemExit):
        digest_job.main(
            ["--input", "x", "--output", "y", "--raw-log", "--incremental"]
        )


def test_directory_of_rotated_logs(spark, tmp_path):
    """A directory of rotated logs parses as the union of its files, each
    event tagged with its file's basename when source=None."""
    d = tmp_path / "logs"
    d.mkdir()
    for f in range(3):
        _make_log(d, n_events=10)  # writes big.log; rename per file
        (d / "big.log").rename(d / f"slow.{f}.log")
    ev = _parse_raw(spark, str(d), chunk_bytes=300, overlap=4096, source=None)
    per = {r["source"]: r["cnt"] for r in
           ev.groupBy("source").agg(F.count("*").alias("cnt")).collect()}
    assert set(per) == {"slow.0.log", "slow.1.log", "slow.2.log"}
    assert len(set(per.values())) == 1  # identical files -> identical counts


class _FakeRangeStore:
    """In-memory 'remote object store': blobs live ONLY in this dict, so any
    posix fallback in the scanner would fail — parity through this store
    proves every byte flows through the size/list/read_range seam.  Range
    semantics mirror an HTTP range GET (short read past EOF)."""

    def __init__(self, blobs: dict):
        self.blobs = dict(blobs)

    def is_dir(self, path):
        return not path.endswith(".log")

    def list_files(self, path):
        return sorted(p for p in self.blobs if p.startswith(path + "/"))

    def size(self, path):
        return len(self.blobs[path])

    def read_range(self, path, start, length):
        assert 0 <= start <= len(self.blobs[path]), (path, start)
        assert length >= 0
        return self.blobs[path][start : start + length]


def test_fake_remote_store_range_reads(spark, tmp_path):
    """The scanner over a remote-style store (no file on disk) must equal
    the posix parse of the same bytes, at chunk sizes forcing many ranged
    reads, including the directory-listing path."""
    _, text = _make_log(tmp_path, n_events=25)
    blob = text.encode()
    store = _FakeRangeStore({"bucket/a.log": blob, "bucket/b.log": blob})
    whole = parse_slowlog(
        spark.createDataFrame([("w", text, "")], "doc_id string, text string, source string")
    )
    want = sorted(r["query"] for r in whole.select("query").collect())
    for chunk_bytes in (200, 1 << 20):
        ev = _parse_raw(
            spark, "bucket", chunk_bytes=chunk_bytes, overlap=4096, store=store
        )
        per = {
            r["source"]: sorted(x["query"] for x in ev.where(F.col("source") == r["source"]).select("query").collect())
        for r in ev.select("source").distinct().collect()}
        assert set(per) == {"a.log", "b.log"}
        assert per["a.log"] == want and per["b.log"] == want, chunk_bytes


def test_gzipped_rotated_logs(spark, tmp_path):
    """A rotated-logs directory mixing plain and .gz files: gzip members are
    parsed as whole-file tasks (gzip cannot be range-split), plain members
    keep byte-range chunking, every event lands exactly once with its own
    file's basename as source."""
    import gzip


    def render(lo, hi):
        return "".join(
            f"# Time: 240101 10:{i % 60:02d}:00\n"
            f"# User@Host: u[u] @ h []\n"
            f"# Query_time: {i}.250000  Lock_time: 0.000000 Rows_sent: 1  Rows_examined: 2\n"
            f"SELECT c FROM t{i % 3} WHERE id={i};\n"
            for i in range(lo, hi)
        )

    d = tmp_path / "logs"
    d.mkdir()
    (d / "slow.log").write_text(render(0, 40))
    (d / "slow.log.1.gz").write_bytes(gzip.compress(render(40, 70).encode()))

    ev = _parse_raw(spark, str(d), chunk_bytes=1 << 10)
    rows = ev.select("source", "query").collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], set()).add(r["query"])
    assert set(by_src) == {"slow.log", "slow.log.1.gz"}
    assert len(by_src["slow.log"]) == 40
    assert len(by_src["slow.log.1.gz"]) == 30
    ids = {
        int(q.rsplit("=", 1)[1]) for qs in by_src.values() for q in qs
    }
    assert ids == set(range(70)), "events lost or duplicated across members"


def test_gzip_member_streams_into_bounded_subdocs(spark, tmp_path):
    """A gzip member larger than chunk_bytes must decompress into MULTIPLE
    boundary-snapped sub-docs (bounded task memory), with events identical
    to the plain-file parse of the same bytes and honest decompressed-
    stream offsets through with_file_offset."""
    import gzip

    from mysql_log_parser_spark.sources.rawlog import (
        _gz_stream_docs,
        PosixLogStore,
        with_file_offset,
    )

    text = "".join(
        f"# Time: 240101 10:{i % 60:02d}:00\n"
        f"# User@Host: u[u] @ h []\n"
        f"# Query_time: {i}.250000  Lock_time: 0.000000 Rows_sent: 1  Rows_examined: 2\n"
        f"SELECT c FROM t{i % 3} WHERE id={i};\n"
        for i in range(60)
    )
    d = tmp_path / "logs"
    d.mkdir()
    gz = d / "slow.log.1.gz"
    gz.write_bytes(gzip.compress(text.encode()))

    # sub-doc split is bounded and lossless at the byte level
    docs = list(
        _gz_stream_docs(
            PosixLogStore(), str(gz), gz.stat().st_size, 1 << 10, 4096
        )
    )
    assert len(docs) > 1, "member did not split into multiple sub-docs"
    assert b"".join(b for _, b in docs) == text.encode()
    assert docs[0][0] == 0
    for (base_a, buf_a), (base_b, _) in zip(docs, docs[1:]):
        assert base_b == base_a + len(buf_a)
        assert text.encode()[base_b:].startswith(b"# Time:"), "cut off-boundary"

    # parsed events == whole-text parse, offsets are decompressed-stream honest
    ev = with_file_offset(
        _parse_raw(spark, str(d), chunk_bytes=1 << 10, overlap=4096)
    )
    whole = parse_slowlog(
        spark.createDataFrame(
            [("w", text, "")], "doc_id string, text string, source string"
        )
    ).withColumn("file_offset", F.col("offset") - (F.col("offset") != 0).cast("long"))
    key = lambda df: sorted(  # noqa: E731
        (r[0], r[1]) for r in df.select("file_offset", "query").collect()
    )
    assert key(ev) == key(whole)

    # a single event larger than chunk_bytes + overlap fails loudly
    big = (
        "# Time: 240101 10:00:00\n# User@Host: u[u] @ h []\n"
        "# Query_time: 1.0  Lock_time: 0.0 Rows_sent: 1  Rows_examined: 2\n"
        "SELECT '" + "x" * 5000 + "';\n"
    )
    gz2 = tmp_path / "big.gz"
    gz2.write_bytes(gzip.compress((big * 3).encode()))
    with pytest.raises(ValueError, match="exceeds chunk_bytes"):
        list(
            _gz_stream_docs(
                PosixLogStore(), str(gz2), gz2.stat().st_size, 512, 1024
            )
        )


def test_empty_and_all_empty_log_files(spark, tmp_path):
    """Zero-byte rotation artifacts must be skipped (gzip.decompress rejects
    an empty member), and an all-empty directory is a valid zero-event
    read, not a crash."""
    import gzip


    d = tmp_path / "logs"
    d.mkdir()
    (d / "slow.log").write_text(
        "# Time: 240101 10:00:00\n# User@Host: u[u] @ h []\n"
        "# Query_time: 1.250000  Lock_time: 0.000000 Rows_sent: 1  Rows_examined: 2\n"
        "SELECT c FROM t0 WHERE id=1;\n"
    )
    (d / "slow.log.1.gz").write_bytes(b"")
    (d / "slow.log.2").write_text("")
    assert _parse_raw(spark, str(d)).count() == 1

    e = tmp_path / "empty"
    e.mkdir()
    (e / "a.log").write_text("")
    assert _parse_raw(spark, str(e)).count() == 0


def test_rawlog_scanner_matches_direct_parse_on_reference_fixtures(spark, tmp_path):
    """Ingestion-path parity on the REFERENCE's own fixture logs: the
    byte-range scanner (tiny chunks, forcing cuts inside events) must
    produce exactly the events a direct whole-file parse does — same
    queries, same metrics, same per-event fields."""
    import os
    import shutil

    ref = "/root/reference/test/logs"
    if not os.path.isdir(ref):
        pytest.skip("reference fixtures not available")
    for name in ("slow001.log", "slow010.log", "slow015.log"):
        src = os.path.join(ref, name)
        if not os.path.exists(src):
            continue
        p = tmp_path / name
        shutil.copy(src, p)

        direct = parse_slowlog(
            spark.createDataFrame(
                [(name, open(src, encoding="utf-8", errors="replace").read(), name)],
                "doc_id string, text string, source string",
            )
        )
        # slow015 carries a single ~80 KB event: overlap must exceed the
        # largest event (the loud-failure contract tested elsewhere)
        chunked = _parse_raw(spark, str(p), chunk_bytes=256, overlap=1 << 17)

        cols = ["query", "user", "host", "db", "ts", "admin"]
        d = sorted(tuple(r) for r in direct.select(*cols).collect())
        c = sorted(tuple(r) for r in chunked.select(*cols).collect())
        assert c == d, f"{name}: scanner diverged from direct parse"
        assert len(d) > 0 or name == "empty.log"
