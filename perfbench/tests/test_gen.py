"""Generator determinism and the tally against a hand-checked corpus.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import check  # noqa: E402
import gen  # noqa: E402


def test_same_seed_same_inputs(tmp_path):
    a, b = gen.generate(5, 400), gen.generate(5, 400)
    assert a.texts == b.texts and a.doc_sources == b.doc_sources
    assert np.array_equal(a.ev_class, b.ev_class) and np.array_equal(a.ev_k, b.ev_k)
    gen.write_tokens(a, str(tmp_path / "a"), 3)
    gen.write_tokens(b, str(tmp_path / "b"), 3)
    for name in sorted(os.listdir(tmp_path / "a")):
        assert pq.read_table(tmp_path / "a" / name).equals(pq.read_table(tmp_path / "b" / name))


def test_other_seed_other_inputs():
    assert gen.generate(5, 400).texts != gen.generate(6, 400).texts
    assert gen.HOLDOUT_SEED not in range(0, 100)


def test_exact_event_count_and_uneven_files(tmp_path):
    c = gen.generate(3, 777)
    assert c.n_events == 777
    # every event renders exactly one Query_time line; meta lines never do
    assert sum(t.count("# Query_time: ") for t in c.texts) == 777
    paths = gen.write_tokens(c, str(tmp_path), 4)
    rows = [pq.read_metadata(p).num_rows for p in paths]
    assert sum(rows) == len(c.texts)
    assert rows == sorted(rows, reverse=True) and rows[0] > rows[-1]


def _hand_corpus() -> gen.Corpus:
    # two classes; events: (class, source, k)
    events = [(0, 0, 64), (0, 1, 32), (0, 0, 128), (1, 1, 1), (1, 1, 3)]
    cls, src, k = (np.array(col) for col in zip(*events))
    return gen.Corpus(
        doc_ids=["d0", "d1"],
        texts=["", ""],
        doc_sources=["src0", "src1"],
        class_ids=["AAAA", "BBBB"],
        fingerprints=["select ?", "ping"],
        ev_class=cls,
        ev_source=src,
        ev_k=k,
    )


def test_tally_by_hand():
    t = gen.tally(_hand_corpus())
    a, b = t["AAAA"], t["BBBB"]
    assert (a.count, a.qt_sum, a.qt_min, a.qt_max) == (3, 3.5, 0.5, 2.0)
    assert (b.count, b.qt_sum, b.qt_min, b.qt_max) == (2, 0.0625, 1 / 64, 3 / 64)
    g, n_classes = gen.global_tally(_hand_corpus())
    assert (g.count, g.qt_sum, n_classes) == (5, 3.5625, 2)


def test_fingerprints_and_class_ids():
    _keys, fps = gen.class_table(2)
    assert "update t1 set v = ? where id in(?+)" in fps and "ping" in fps
    # golden vector of the reference checksum
    assert gen.class_id("hello world") == "93CB22BB8F5ACDC3"


def _row(g: gen.Group, cid: str, fp: str, **over) -> dict:
    row = {
        "class_id": cid,
        "fingerprint": fp,
        "total_queries": g.count,
        "query_time_cnt": g.count,
        "query_time_sum": g.qt_sum,
        "query_time_min": g.qt_min,
        "query_time_max": g.qt_max,
        "query_time_med": float(g.k_sorted[len(g.k_sorted) // 2]) / 64,
        "query_time_pct95": g.qt_max,
    }
    row.update(over)
    return row


def test_check_accepts_the_tally_and_rejects_a_wrong_sum():
    c = _hand_corpus()
    t = gen.tally(c)
    rows = [_row(t["AAAA"], "AAAA", "select ?"), _row(t["BBBB"], "BBBB", "ping")]
    assert check.check_class_digest(rows, c) == []
    rows[0]["query_time_sum"] += 1 / 64
    assert any("query_time_sum" in e for e in check.check_class_digest(rows, c))
    assert any("missing" in e for e in check.check_class_digest(rows[:1], c))


def test_rank_band():
    k = np.arange(1, 1001)  # 1000 distinct steps
    assert check.within_rank_band(k, 0.5, 500 / 64)
    assert check.within_rank_band(k, 0.5, 509 / 64)  # within 1% + 1 rank
    assert not check.within_rank_band(k, 0.5, 530 / 64)
    assert not check.within_rank_band(k, 0.5, 500.5 / 64)  # not a member


def test_manifest_reconciles_per_source():
    c = _hand_corpus()  # events per source: src0 2, src1 3
    recs = [
        {"chunk": "a", "rows_in": 1, "events_out": 2, "by_source": {"src0": 2}},
        {"chunk": "b", "rows_in": 1, "events_out": 3, "by_source": {"src1": 3}},
    ]
    assert check.check_manifest(recs, c, 2) == []
    recs[1]["by_source"] = {"src0": 1, "src1": 2}
    assert any("per source" in e for e in check.check_manifest(recs, c, 2))
    assert any("events_out sums to 2" in e for e in check.check_manifest(recs[:1], c, 1))
