"""End-to-end pipeline tests: synth corpus -> parse -> fingerprint -> enrich
-> route -> aggregate, with per-sink routed-row equality and per-class
aggregate-count parity (BASELINE.json north_star correctness gates)."""

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from mysql_log_parser_spark import synth
from mysql_log_parser_spark.operators.aggregate import class_digest, global_digest
from mysql_log_parser_spark.operators.enrich import build_dims, enrich_events
from mysql_log_parser_spark.operators.route import read_sink, route_partitioned, sink_counts
from mysql_log_parser_spark.pipeline import events


@pytest.fixture(scope="module")
def synth_docs(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("synth") / "tokens.parquet")
    synth.generate_parquet(p, n_docs=40, events_per_doc=25, n_sources=4, seed=7)
    return spark.read.parquet(p)


def test_synth_deterministic(tmp_path):
    a = synth.generate(n_docs=3, events_per_doc=5, seed=11)
    b = synth.generate(n_docs=3, events_per_doc=5, seed=11)
    assert a.equals(b)
    c = synth.generate(n_docs=3, events_per_doc=5, seed=12)
    assert not a.equals(c)


def test_pipeline_events(spark, synth_docs):
    ev = events(synth_docs)
    n = ev.count()
    assert n == 40 * 25  # every synth event parses to exactly one row
    # every event has a class id and promoted Query_time
    assert ev.where(F.col("class_id").isNull()).count() == 0
    assert ev.where(F.col("query_time").isNull()).count() == 0
    # admin events carry the extracted command as Query (slow.go:276), so the
    # fingerprint is the normalized command, not the admin-passthrough form
    admin = ev.where("admin").select("fingerprint").distinct().collect()
    assert {r.fingerprint for r in admin} == {"ping"}


def test_admin_filter_pipeline(spark, synth_docs):
    base = events(synth_docs)
    filt = events(synth_docs, ("Ping",))
    n_admin = base.where("admin").count()
    assert n_admin > 0
    assert filt.where("admin").count() == 0
    assert base.count() - filt.count() == n_admin


def test_routing_parity(spark, synth_docs, tmp_path):
    ev = events(synth_docs).persist()
    out = str(tmp_path / "routed")
    route_partitioned(ev, out)

    # per-sink routed-row equality: every event lands in exactly its source sink
    expect = {r.source: r.cnt for r in ev.groupBy("source").agg(F.count("*").alias("cnt")).collect()}
    got = {r.source: r.routed_rows for r in sink_counts(spark, out).collect()}
    assert got == expect

    # per-fingerprint aggregate-count parity within one sink
    src = sorted(expect)[0]
    direct = {
        r.class_id: r.cnt
        for r in ev.where(F.col("source") == src)
        .groupBy("class_id").agg(F.count("*").alias("cnt")).collect()
    }
    routed = {
        r.class_id: r.cnt
        for r in read_sink(spark, out, src).groupBy("class_id").agg(F.count("*").alias("cnt")).collect()
    }
    assert routed == direct
    ev.unpersist()


def test_partition_pruning(spark, synth_docs, tmp_path):
    out = str(tmp_path / "routed2")
    route_partitioned(events(synth_docs), out)
    plan = read_sink(spark, out, "src1")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "src1" in plan


def test_enrich_broadcast(spark, synth_docs):
    dims = build_dims(spark)
    ev = enrich_events(events(synth_docs), **dims)
    # known host gets attributes; synth 'web-42' host is not in dims -> nulls
    row = ev.where(F.col("host") == "localhost").select("datacenter").first()
    assert row.datacenter is not None
    row = ev.where(F.col("host") == "web-42").select("datacenter").first()
    assert row.datacenter is None
    plan = ev._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_digests(spark, synth_docs):
    ev = events(synth_docs).persist()
    cd = class_digest(ev, mode="exact")
    gd = global_digest(ev, mode="exact").first()
    total = ev.count()
    assert gd.total_queries == total
    assert gd.unique_queries == cd.count()
    # per-class counts sum to the total
    assert sum(r.total_queries for r in cd.collect()) == total
    # example is the argmax by query_time within each class
    k = cd.orderBy(F.desc("total_queries")).first()
    mx = ev.where(F.col("class_id") == k.class_id).agg(F.max("query_time")).first()[0]
    assert abs(k.example_query_time - mx) < 1e-9
    ev.unpersist()


@pytest.mark.parametrize("mode", ["exact", "sketch"])
def test_example_ties_are_layout_independent(spark, mode):
    """Every event of the class has the same Query_time: the example is the
    smallest (doc_id, event_idx), whatever order the partitions hold them in."""
    def doc(i):
        return "".join(
            f"# Time: 240101 10:00:{j:02d}\n# User@Host: u[u] @ h []\n"
            "# Query_time: 1.500000  Lock_time: 0.000000 Rows_sent: 1  Rows_examined: 1\n"
            f"SELECT c FROM t WHERE id={10 * i + j};\n"
            for j in range(3)
        )

    rows = [(f"d{i}", doc(i), "s0") for i in range(8)]
    got = []
    for layout in (rows, rows[::-1]):
        docs = spark.sparkContext.parallelize(layout, 4).toDF(
            "doc_id string, text string, source string"
        )
        (r,) = class_digest(events(docs), mode=mode).collect()
        got.append((r.example_query, r.example_ts))
    assert got[0] == got[1] == ("SELECT c FROM t WHERE id=0", "2024-01-01 10:00:00")


def test_route_loop_heterogeneous(spark, tmp_path):
    """Per-sink loop writes (heterogeneous-sink path) must route every event
    exactly once, matching the partitioned single-pass strategy."""
    from mysql_log_parser_spark import synth
    from mysql_log_parser_spark.operators.route import route_loop, route_partitioned
    from mysql_log_parser_spark.pipeline import events

    p = str(tmp_path / "tokens.parquet")
    synth.generate_parquet(p, n_docs=8, events_per_doc=10, seed=17)
    ev = events(spark.read.parquet(p))

    loop_base = str(tmp_path / "loop")
    part_base = str(tmp_path / "part")
    paths = route_loop(ev, loop_base)
    route_partitioned(ev, part_base)

    part = spark.read.parquet(part_base)
    total = 0
    for src, path in paths.items():
        n = spark.read.parquet(path).count()
        assert n == part.where(part.source == src).count()
        total += n
    assert total == ev.count() == 80


def test_asof_join_semantics(spark):
    """As-of join: latest right value at-or-before each left time, per key;
    null when nothing precedes; right row at equal time applies."""
    from mysql_log_parser_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [("a", 5), ("a", 10), ("a", 15), ("b", 3), ("b", 30)], "k string, t long"
    )
    right = spark.createDataFrame(
        [("a", 10, "v10"), ("a", 12, "v12"), ("b", 31, "v31")],
        "k string, rt long, v string",
    )
    got = {
        (r.k, r.t): r.v
        for r in asof_join(left, right, "k", "t", "rt", ["v"]).collect()
    }
    assert got == {
        ("a", 5): None,     # nothing in force yet
        ("a", 10): "v10",   # equal-time right row applies
        ("a", 15): "v12",   # latest preceding
        ("b", 3): None,
        ("b", 30): None,    # v31 is in the future
    }


def test_compact_routed(spark, synth_docs, tmp_path):
    """Compaction must shrink per-sink file counts without changing a row:
    write the routed layout deliberately fragmented (32 shuffle partitions
    per sink), compact to a new path, check files_after < files_before,
    per-row content equality, and that reads of the compacted layout still
    partition-prune."""
    from mysql_log_parser_spark.operators.route import compact_routed

    ev = events(synth_docs)
    src = str(tmp_path / "routed_small")
    # fragment: repartition high before the partitioned write
    route_partitioned(ev.repartition(32), src)
    dst = str(tmp_path / "routed_compact")

    stats = compact_routed(spark, src, dst, records_per_file=100_000).collect()
    assert stats, "no sources compacted"
    for r in stats:
        assert r["rows_match"], r
        assert r["files_after"] <= r["files_before"], r
        assert r["files_after"] == 1, f"expected 1 file per sink at this size: {r}"
    assert sum(r["files_before"] for r in stats) > len(stats)

    a = spark.read.parquet(src).orderBy("doc_id", "event_idx").collect()
    b = spark.read.parquet(dst).orderBy("doc_id", "event_idx").collect()
    assert a == b

    plan = (
        spark.read.parquet(dst)
        .where(F.col("source") == stats[0]["source"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [isnotnull(source" in plan


def test_observed_metrics_ride_the_action(spark, synth_docs):
    """observe_events counters must match direct aggregates and be readable
    after a single action (no second scan scheduled)."""
    from mysql_log_parser_spark.operators.metrics import observe_events

    ev = events(synth_docs)
    observed, obs = observe_events(ev)
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    direct = ev.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("query_time").cast("double")).alias("s"),
        F.sum(F.when(F.col("admin"), 1).otherwise(0)).alias("a"),
    ).first()
    assert m["events"] == direct["n"]
    assert abs(m["qt_sum"] - direct["s"]) < 1e-9
    assert m["admin_events"] == direct["a"]
    assert m["empty_fingerprints"] == 0


def test_upsert_routed_touches_only_affected_partitions(spark, synth_docs, tmp_path):
    """MERGE INTO emulation: updated keys replaced, new keys appended, and
    the files of every UNAFFECTED sink stay byte-identical (same paths,
    sizes, mtimes) — consumers of untouched sinks see no new snapshot."""
    import os

    from mysql_log_parser_spark.operators.route import upsert_routed

    ev = events(synth_docs)
    base = str(tmp_path / "routed")
    route_partitioned(ev, base)

    def snapshot(src):
        d = os.path.join(base, f"source={src}")
        return {
            f: (os.path.getsize(os.path.join(d, f)), os.path.getmtime(os.path.join(d, f)))
            for f in sorted(os.listdir(d))
        }

    srcs = sorted(r.source for r in ev.select("source").distinct().collect())
    target, untouched = srcs[0], srcs[1:]
    before_untouched = {s: snapshot(s) for s in untouched}

    # update one existing row (bump query_time) and insert one new key;
    # materialize the key row BEFORE the upsert renames its file away
    one = spark.read.parquet(base).where(F.col("source") == target).limit(1)
    key = one.first()
    one = spark.createDataFrame([key], schema=one.schema)
    upd_existing = one.withColumn("query_time", F.lit(999.0))
    upd_new = one.withColumn("doc_id", F.concat(F.col("doc_id"), F.lit("_new")))
    updates = upd_existing.unionByName(upd_new)

    rewritten = upsert_routed(spark, base, updates)
    assert rewritten == [target]

    after = spark.read.parquet(base)
    got = after.where(
        (F.col("doc_id") == key["doc_id"]) & (F.col("event_idx") == key["event_idx"])
    ).collect()
    assert len(got) == 1 and got[0]["query_time"] == 999.0, "key not replaced"
    assert (
        after.where(F.col("doc_id") == key["doc_id"] + "_new").count() == 1
    ), "new key not appended"
    # total rows: original + 1 inserted
    assert after.count() == ev.count() + 1

    for s in untouched:
        assert snapshot(s) == before_untouched[s], f"sink {s} was rewritten"


def test_upsert_routed_scopes_merge_per_source(spark, tmp_path):
    """The same (doc_id, event_idx) key living in TWO affected source
    partitions must merge independently per partition: updating source a's
    row while touching source b with an unrelated row must NOT delete b's
    copy of the shared key (the anti-join is scoped by source)."""
    from mysql_log_parser_spark.operators.route import route_partitioned, upsert_routed

    schema = "doc_id string, event_idx long, query_time double, source string"
    base_rows = [
        ("d1", 0, 1.0, "a"),
        ("d1", 0, 2.0, "b"),  # same key, different sink
        ("d2", 0, 3.0, "b"),
    ]
    base = str(tmp_path / "routed")
    route_partitioned(spark.createDataFrame(base_rows, schema), base)

    updates = spark.createDataFrame(
        [("d1", 0, 10.0, "a"), ("d2", 0, 30.0, "b")], schema
    )
    assert upsert_routed(spark, base, updates) == ["a", "b"]

    got = {
        (r["doc_id"], r["source"]): r["query_time"]
        for r in spark.read.parquet(base).collect()
    }
    assert got == {
        ("d1", "a"): 10.0,  # updated
        ("d1", "b"): 2.0,   # untouched — the bug deleted this row
        ("d2", "b"): 30.0,  # updated
    }


def test_upsert_routed_mutations_route_through_store_seam(spark, tmp_path, monkeypatch):
    """Every directory mutation of the upsert swap must go through the
    SinkStore seam (the object-store portability boundary): a recording
    store sees the full retire -> swap-in -> GC sequence per affected
    partition, and direct os.rename calls from route.py are forbidden."""
    from mysql_log_parser_spark.operators import route
    from mysql_log_parser_spark.operators.route import (
        PosixSinkStore,
        route_partitioned,
        upsert_routed,
    )

    schema = "doc_id string, event_idx long, query_time double, source string"
    base = str(tmp_path / "routed")
    route_partitioned(
        spark.createDataFrame([("d1", 0, 1.0, "a"), ("d2", 0, 2.0, "b")], schema),
        base,
    )

    real_rename = os.rename

    def no_direct_rename(src, dst):
        raise AssertionError(f"os.rename bypassed the store seam: {src}")

    monkeypatch.setattr(route.os, "rename", no_direct_rename)

    # the store carries its own rename (the seam under test), so it must
    # keep working while route.py's os.rename is poisoned
    class WorkingRecordingStore(PosixSinkStore):
        def __init__(self):
            self.ops = []

        def rename(self, src, dst):
            self.ops.append(("rename", src, dst))
            real_rename(src, dst)

        def remove_dir(self, path):
            self.ops.append(("remove_dir", path))
            import shutil

            shutil.rmtree(path, ignore_errors=True)

    store = WorkingRecordingStore()
    updates = spark.createDataFrame([("d1", 0, 9.0, "a")], schema)
    assert upsert_routed(spark, base, updates, store=store) == ["a"]

    kinds = [op[0] for op in store.ops]
    # retire old, swap staged in, GC .old, GC stage dir — in that order
    assert kinds == ["rename", "rename", "remove_dir", "remove_dir"]
    assert store.ops[0][2].endswith(".old")
    assert store.ops[1][2].endswith("source=a")
    got = {r["doc_id"]: r["query_time"] for r in spark.read.parquet(base).collect()}
    assert got == {"d1": 9.0, "d2": 2.0}


def test_tokens_table_json_and_orc_formats(spark, synth_docs, tmp_path):
    """The tokens source reads the same contract from JSON-lines and ORC
    layouts: digests computed over each format must equal the parquet
    baseline row-for-row (json needs the explicit schema — inference would
    type token ids as doubles)."""
    from mysql_log_parser_spark.operators.aggregate import class_digest
    from mysql_log_parser_spark.sources.tokens_table import TokensTable

    pq = str(tmp_path / "pq")
    js = str(tmp_path / "js")
    oc = str(tmp_path / "oc")
    synth_docs.write.parquet(pq)
    synth_docs.write.json(js)
    synth_docs.write.orc(oc)

    def digest(path, fmt):
        ev = events(TokensTable(spark, path).read(fmt=fmt))
        return sorted(
            (r["class_id"], r["total_queries"], r["query_time_sum"])
            for r in class_digest(ev, mode="sketch")
            .select("class_id", "total_queries", "query_time_sum")
            .collect()
        )

    base = digest(pq, "parquet")
    assert base
    assert digest(js, "json") == base
    assert digest(oc, "orc") == base
