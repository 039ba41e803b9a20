"""Differential test of the one-pass digest: the class and global digests
projected from rollup_digest must match class_digest and global_digest run
on their own — bit-for-bit in exact mode, within the GK rank band for the
sketched percentiles."""

import bisect
import math

import pytest
from pyspark.sql import functions as F

from mysql_log_parser_spark import synth
from mysql_log_parser_spark.operators.aggregate import (
    GK_ACCURACY,
    class_digest,
    global_digest,
    rollup_digest,
    split_rollup_digest,
)
from mysql_log_parser_spark import pipeline

# () -> (rate_type, rate_limit) columns per event; the synth corpus has none
RATE_VARIANTS = {
    "none": None,
    "single": lambda: (F.lit("query"), F.lit(100)),
    # half the events limited at 1:100, a quarter at 1:10, the rest unlimited
    "mixed": lambda: (
        F.when(F.col("event_idx") % 4 == 3, F.lit("")).otherwise(F.lit("query")),
        F.when(F.col("event_idx") % 4 == 2, F.lit(10)).otherwise(F.lit(100)),
    ),
}


@pytest.fixture(scope="module")
def events(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("split") / "tokens.parquet")
    synth.generate_parquet(p, n_docs=12, events_per_doc=25, seed=3)
    return pipeline.events(spark.read.parquet(p)).persist()


def _variant(events, rate):
    if RATE_VARIANTS[rate] is None:
        return events
    rate_type, rate_limit = RATE_VARIANTS[rate]()
    return events.withColumn("rate_type", rate_type).withColumn(
        "rate_limit", rate_limit.cast(events.schema["rate_limit"].dataType)
    )


def _split(events, mode):
    return split_rollup_digest(rollup_digest(events, mode=mode).localCheckpoint())


@pytest.mark.parametrize("rate", sorted(RATE_VARIANTS))
def test_split_is_bit_identical_in_exact_mode(spark, events, rate):
    ev = _variant(events, rate)
    cd, gd = _split(ev, "exact")
    want_cd, want_gd = class_digest(ev, mode="exact"), global_digest(ev, mode="exact")
    assert cd.schema == want_cd.schema
    assert gd.schema == want_gd.schema
    assert sorted(cd.collect()) == sorted(want_cd.collect())
    got, want = gd.collect(), want_gd.collect()
    assert got == want
    assert got[0].mixed_rate_limits is (rate == "mixed")


def _in_rank_band(sorted_vals: list, phi: float, value) -> bool:
    """`value` is one of the group's values and its rank range overlaps
    phi * n within the GK error band of n / GK_ACCURACY (+1 for rounding)."""
    lo = bisect.bisect_left(sorted_vals, value)
    hi = bisect.bisect_right(sorted_vals, value)
    n = len(sorted_vals)
    tol = math.ceil(n / GK_ACCURACY) + 1
    return hi > lo and hi >= phi * n - tol and lo <= phi * n + tol


def _assert_sketch_row(got: dict, want: dict, values: dict[str, list], label):
    assert got.keys() == want.keys(), label
    for col, w in want.items():
        metric, _, stat = col.rpartition("_")
        if stat in ("med", "pct95"):
            phi = 0.5 if stat == "med" else 0.95
            assert _in_rank_band(values[metric], phi, got[col]), (label, col, got[col])
        elif stat == "stddev":
            assert got[col] == pytest.approx(w, rel=1e-12), (label, col)
        else:
            assert got[col] == w, (label, col)


@pytest.mark.parametrize("rate", sorted(RATE_VARIANTS))
def test_split_matches_sketch_digests(spark, events, rate):
    ev = _variant(events, rate)
    metrics = ("query_time", "lock_time", "rows_sent", "rows_examined")
    sorted_lists = [F.array_sort(F.collect_list(m)).alias(m) for m in metrics]
    per_class = {
        r["class_id"]: r.asDict()
        for r in ev.groupBy("class_id").agg(*sorted_lists).collect()
    }
    overall = ev.agg(*sorted_lists).first().asDict()

    cd, gd = _split(ev, "sketch")
    want_cd = {r["class_id"]: r.asDict() for r in class_digest(ev).collect()}
    got_cd = {r["class_id"]: r.asDict() for r in cd.collect()}
    assert got_cd.keys() == want_cd.keys()
    for cid, want in want_cd.items():
        _assert_sketch_row(got_cd[cid], want, per_class[cid], cid)
    (got_gd,), (want_gd,) = gd.collect(), global_digest(ev).collect()
    _assert_sketch_row(got_gd.asDict(), want_gd.asDict(), overall, "global")
    assert got_gd.mixed_rate_limits is (rate == "mixed")


def test_rate_type_is_layout_independent(spark):
    """A log with two rate types, 8 events each: rate_type is the least
    (rate_type, rate_limit) pair's type whatever order the partitions hold
    the events in, from global_digest in both modes and from the split."""
    def doc(i):
        return (
            "# Time: 240101 10:00:00\n# User@Host: u[u] @ h []\n"
            "# Query_time: 1.000000  Lock_time: 0.000000 Rows_sent: 1  Rows_examined: 1\n"
            f"# Log_slow_rate_type: {'query' if i < 8 else 'session'}  Log_slow_rate_limit: 10\n"
            f"SELECT c FROM t WHERE id={i};\n"
        )

    rows = [(f"d{i:02d}", doc(i), "s0") for i in range(16)]
    got = []
    for layout in (rows, rows[::-1]):
        docs = spark.sparkContext.parallelize(layout, 4).toDF(
            "doc_id string, text string, source string"
        )
        ev = pipeline.events(docs)
        for mode in ("exact", "sketch"):
            for gd in (global_digest(ev, mode), _split(ev, mode)[1]):
                (r,) = gd.collect()
                got.append((r.rate_type, r.mixed_rate_limits))
    assert got == [("query", True)] * 8, got
