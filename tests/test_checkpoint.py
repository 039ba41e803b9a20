"""Kill-and-resume semantics of the chunk-checkpointed runner, plus the
intra-doc byte-offset resume contract (Options.StartOffset equivalent)."""

import glob
import os
import threading

import pytest

from mysql_log_parser_spark import synth
from mysql_log_parser_spark.operators.checkpoint import CheckpointedRunner
from mysql_log_parser_spark.pipeline import events


@pytest.fixture()
def chunked_input(tmp_path):
    d = tmp_path / "in"
    d.mkdir()
    for i in range(4):
        synth.generate_parquet(
            str(d / f"chunk{i}.parquet"), n_docs=6, events_per_doc=10, seed=100 + i
        )
    return str(d)


def test_incremental_resume(spark, chunked_input, tmp_path):
    out = str(tmp_path / "out")
    runner = CheckpointedRunner(spark, out)

    # first run "crashes" after 2 chunks
    recs = runner.run_incremental(chunked_input, events, max_chunks=2)
    assert len(recs) == 2
    assert len(runner.committed_chunks()) == 2

    # resume: only the remaining chunks are processed
    recs2 = CheckpointedRunner(spark, out).run_incremental(chunked_input, events)
    assert len(recs2) == 2
    assert {r["chunk"] for r in recs} | {r["chunk"] for r in recs2} == {
        f"chunk{i}.parquet" for i in range(4)
    }

    # resumed output == from-scratch output
    resumed = runner.events().count()
    scratch = events(spark.read.parquet(*(f"{chunked_input}/chunk{i}.parquet" for i in range(4)))).count()
    assert resumed == scratch == 4 * 6 * 10

    # third run: nothing to do
    assert CheckpointedRunner(spark, out).run_incremental(chunked_input, events) == []

    # lineage present per chunk
    rec = runner.committed_chunks()["chunk0.parquet"]
    assert rec["rows_in"] == 6 and rec["events_out"] == 60
    assert sum(rec["by_source"].values()) == 60 and rec["wall_sec"] > 0
    # per-partition (output file) lineage sums to the chunk total
    assert sum(rec["by_partition_file"].values()) == 60
    assert rec["output_partitions"] == len(rec["by_partition_file"]) >= 1


def test_idempotent_reprocess_of_uncommitted(spark, chunked_input, tmp_path):
    """A chunk whose output was written but not committed is re-processed
    and overwritten without duplication (the partial-event-discard analogue)."""
    out = str(tmp_path / "out")
    runner = CheckpointedRunner(spark, out)
    runner.run_incremental(chunked_input, events, max_chunks=1)
    # simulate crash-after-write-before-commit for chunk1
    docs = spark.read.parquet(os.path.join(chunked_input, "chunk1.parquet"))
    events(docs).limit(3).write.mode("overwrite").parquet(
        os.path.join(out, "data", "chunk=chunk1.parquet")
    )
    runner.run_incremental(chunked_input, events)
    assert runner.events().count() == 4 * 6 * 10  # no dupes, no loss


def test_late_arriving_chunk(spark, chunked_input, tmp_path):
    """Resume across the chunk boundary when NEW input arrives after a full
    run: only the new chunk is processed, committed output is untouched."""
    out = str(tmp_path / "out")
    runner = CheckpointedRunner(spark, out)
    runner.run_incremental(chunked_input, events)
    assert len(runner.committed_chunks()) == 4

    synth.generate_parquet(
        os.path.join(chunked_input, "chunk9.parquet"),
        n_docs=6, events_per_doc=10, seed=999,
    )
    recs = CheckpointedRunner(spark, out).run_incremental(chunked_input, events)
    assert [r["chunk"] for r in recs] == ["chunk9.parquet"]
    assert runner.events().count() == 5 * 6 * 10


@pytest.mark.parametrize("old", ["chunk0.parquet", "chunk3.parquet"])
def test_resume_across_layouts(spark, chunked_input, tmp_path, old):
    """A store whose first or last chunk in path order was committed
    full-width (promoted metric columns stored) resumes into map-only
    chunks, and events() reads back the frame and class digest of a
    from-scratch run.  Spark takes the schema from one footer, so the
    promoted columns must be derived for every chunk, whichever it is."""
    import pyarrow.parquet as pq

    from mysql_log_parser_spark.operators.aggregate import class_digest
    from mysql_log_parser_spark.operators.parse import PROMOTED_COLUMNS

    out = str(tmp_path / "out")
    runner = CheckpointedRunner(spark, out)
    old_dir = os.path.join(out, "data", f"chunk={old}")
    events(spark.read.parquet(os.path.join(chunked_input, old))).write.parquet(old_dir)
    runner._commit({"chunk": old, "rows_in": 6, "events_out": 60})
    recs = runner.run_incremental(chunked_input, events)
    assert len(recs) == 3 and old not in {r["chunk"] for r in recs}

    for c in (f"chunk{i}.parquet" for i in range(4)):
        files = glob.glob(os.path.join(out, "data", f"chunk={c}", "*.parquet"))
        assert files
        for f in files:
            stored = set(PROMOTED_COLUMNS) & set(pq.read_schema(f).names)
            assert stored == (set(PROMOTED_COLUMNS) if c == old else set())

    scratch = events(
        spark.read.parquet(*(f"{chunked_input}/chunk{i}.parquet" for i in range(4)))
    )
    got = runner.events()
    assert got.columns == scratch.columns

    def digest(ev):
        return sorted(class_digest(ev, "exact").collect(), key=lambda r: r["class_id"])

    assert digest(got) == digest(scratch)


class _ChunkFailure(Exception):
    pass


def test_failed_chunk_propagates_others_commit(spark, chunked_input, tmp_path):
    """One chunk's failure is raised from run_incremental, the chunks run
    beside it still commit valid records, and a restart processes only
    the failed chunk."""
    out = str(tmp_path / "out")

    def fail_chunk2(docs):
        if any(f.endswith("chunk2.parquet") for f in docs.inputFiles()):
            raise _ChunkFailure("chunk2")
        return events(docs)

    runner = CheckpointedRunner(spark, out)
    with pytest.raises(_ChunkFailure):
        runner.run_incremental(chunked_input, fail_chunk2)
    done = runner.committed_chunks()
    assert sorted(done) == ["chunk0.parquet", "chunk1.parquet", "chunk3.parquet"]
    for rec in done.values():
        assert rec["rows_in"] == 6 and rec["events_out"] == 60
        assert sum(rec["by_source"].values()) == 60
        assert sum(rec["by_partition_file"].values()) == 60

    recs = CheckpointedRunner(spark, out).run_incremental(chunked_input, events)
    assert [r["chunk"] for r in recs] == ["chunk2.parquet"]
    assert runner.events().count() == 4 * 6 * 10


def test_chunks_run_concurrently_in_pending_order(spark, chunked_input, tmp_path):
    """Pending chunks are processed from more than one driver thread, each
    inheriting the caller's local properties, and the records come back in
    pending order with the same lineage as a one-chunk-at-a-time run."""
    sc = spark.sparkContext
    threads, props = set(), set()

    def process(docs):
        threads.add(threading.get_ident())
        props.add(sc.getLocalProperty("mlp.test.caller"))
        return events(docs)

    sc.setLocalProperty("mlp.test.caller", "run_incremental")
    try:
        recs = CheckpointedRunner(spark, str(tmp_path / "a")).run_incremental(
            chunked_input, process
        )
    finally:
        sc.setLocalProperty("mlp.test.caller", None)
    assert len(threads) > 1
    assert props == {"run_incremental"}

    one_by_one = []
    seq = CheckpointedRunner(spark, str(tmp_path / "b"))
    while step := seq.run_incremental(chunked_input, events, max_chunks=1):
        one_by_one += step
    lineage = ("chunk", "rows_in", "events_out", "by_source")
    assert [r["chunk"] for r in recs] == [f"chunk{i}.parquet" for i in range(4)]
    assert [{k: r[k] for k in lineage} for r in recs] == [
        {k: r[k] for k in lineage} for r in one_by_one
    ]


class _FakeReader:
    def __init__(self):
        self.fmt, self.opts, self.loaded = None, {}, None

    def format(self, f):
        self.fmt = f
        return self

    def option(self, k, v):
        self.opts[k] = v
        return self

    def load(self, loc):
        self.loaded = loc
        return "SENTINEL_DF"


class _FakeConf:
    def get(self, key, default=None):
        if key == "spark.sql.catalog.cat":
            return "org.apache.iceberg.spark.SparkCatalog"
        return default


class _FakeSpark:
    """Just enough SparkSession surface to assert the Iceberg reader-option
    contract without an Iceberg catalog in the sandbox."""

    def __init__(self):
        self.conf = _FakeConf()
        self.read = _FakeReader()


def test_iceberg_snapshot_range_reader_options():
    """read_snapshot_range builds an incremental Iceberg read with
    start/end-snapshot-id options (the Options.StartOffset analogue at table
    granularity, ref:log/parser/options.go:4)."""
    from mysql_log_parser_spark.sources.tokens_table import TokensTable

    fake = _FakeSpark()
    df = TokensTable(fake, "cat.db.tokens").read_snapshot_range(10, 20)
    assert df == "SENTINEL_DF"
    assert fake.read.fmt == "iceberg"
    assert fake.read.opts == {"start-snapshot-id": "10", "end-snapshot-id": "20"}
    assert fake.read.loaded == "cat.db.tokens"

    fake2 = _FakeSpark()
    TokensTable(fake2, "cat.db.tokens").read_snapshot_range(7)
    assert fake2.read.opts == {"start-snapshot-id": "7"}

    # bootstrap: start=0 is the empty-table checkpoint, not a snapshot id —
    # Iceberg rejects start-snapshot-id=0, so the read must time-travel to
    # `end` (or full-scan when end is None) instead
    fake3 = _FakeSpark()
    TokensTable(fake3, "cat.db.tokens").read_snapshot_range(0, 20)
    assert fake3.read.opts == {"snapshot-id": "20"}

    fake4 = _FakeSpark()
    TokensTable(fake4, "cat.db.tokens").read_snapshot_range(0)
    assert fake4.read.opts == {}


def test_snapshot_resume_dir_backed(spark, tmp_path):
    """The snapshot resume loop on a dir-backed table: process, persist
    current_snapshot_id(), append, then read (saved, current] — the delta
    is exactly the appended rows, ids are stable under append, and
    committed + delta == full table (Iceberg's (start, end] contract,
    emulated per tokens_table.snapshots())."""
    from mysql_log_parser_spark import synth
    from mysql_log_parser_spark.sources.tokens_table import TokensTable

    loc = tmp_path / "tokens"
    loc.mkdir()

    def append(name, seed, n):
        # one chunk file per append, named in append order
        synth.generate_parquet(str(loc / name), n_docs=n, events_per_doc=2, seed=seed)

    t = TokensTable(spark, str(loc))
    assert t.current_snapshot_id() == 0
    assert t.read_snapshot_range(0).count() == 0

    append("c000.parquet", seed=1, n=3)
    append("c001.parquet", seed=2, n=4)
    saved = t.current_snapshot_id()
    assert saved == 2
    first = t.read_snapshot_range(0, saved)
    assert first.count() == 7

    append("c002.parquet", seed=3, n=5)
    # history not renumbered: the old range reads the same rows
    assert t.read_snapshot_range(0, saved).count() == 7
    delta = t.read_snapshot_range(saved)
    assert delta.count() == 5
    ids_first = {r["doc_id"] for r in first.select("doc_id").collect()}
    ids_delta = {r["doc_id"] for r in delta.select("doc_id").collect()}
    assert not ids_first & ids_delta
    full = {r["doc_id"] for r in t.read().select("doc_id").collect()}
    assert ids_first | ids_delta == full


def test_snapshot_log_prefix_guard(spark, tmp_path):
    """assert_log_extends fails LOUDLY when the dir-backed snapshot log is
    renumbered: a file injected that sorts BEFORE an already-committed
    chunk shifts every later chunk's emulated snapshot id, so a resume
    from the old checkpoint would silently double-read/drop chunks — the
    guard must refuse instead (VERDICT r4 next-round #8)."""
    import pytest

    from mysql_log_parser_spark import synth
    from mysql_log_parser_spark.sources.tokens_table import TokensTable

    loc = tmp_path / "tokens"
    loc.mkdir()
    synth.generate_parquet(str(loc / "c100.parquet"), n_docs=3, events_per_doc=2, seed=1)
    synth.generate_parquet(str(loc / "c101.parquet"), n_docs=3, events_per_doc=2, seed=2)
    t = TokensTable(spark, str(loc))
    saved_log = t.snapshots()
    saved_id = t.current_snapshot_id()
    assert saved_id == 2

    # an append-order append keeps extending the log: guard passes
    synth.generate_parquet(str(loc / "c102.parquet"), n_docs=2, events_per_doc=2, seed=3)
    t.assert_log_extends(saved_log)
    assert t.read_snapshot_range(saved_id, saved_log=saved_log).count() > 0

    # inject a file that SORTS BEFORE committed history: ids renumber,
    # prefix breaks, both the direct guard and the guarded read must raise
    synth.generate_parquet(str(loc / "c000.parquet"), n_docs=1, events_per_doc=2, seed=4)
    with pytest.raises(ValueError, match="renumbered"):
        t.assert_log_extends(saved_log)
    with pytest.raises(ValueError, match="renumbered"):
        t.read_snapshot_range(saved_id, saved_log=saved_log)
    # without the saved log the misread is silent — exactly why callers
    # should persist snapshots() with the checkpoint
    assert t.read_snapshot_range(saved_id).count() > 0
