"""Structured Streaming parity: the streaming pipeline over progressively
arriving chunks must equal the batch pipeline over the union."""

import pytest
from pyspark.sql import functions as F

from mysql_log_parser_spark import synth
from mysql_log_parser_spark.pipeline import events
from mysql_log_parser_spark.streaming.pipeline import start_routed_sink, stream_events


def test_stream_matches_batch(spark, tmp_path):
    ind = tmp_path / "in"
    ind.mkdir()
    synth.generate_parquet(str(ind / "c0.parquet"), n_docs=5, events_per_doc=8, seed=1)
    synth.generate_parquet(str(ind / "c1.parquet"), n_docs=5, events_per_doc=8, seed=2)

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    ev = stream_events(spark, str(ind))
    q = start_routed_sink(ev, out, ckpt)
    q.awaitTermination(120)

    # second batch of files arrives; resume from streaming checkpoint
    synth.generate_parquet(str(ind / "c2.parquet"), n_docs=5, events_per_doc=8, seed=3)
    q = start_routed_sink(stream_events(spark, str(ind)), out, ckpt)
    q.awaitTermination(120)

    streamed = spark.read.parquet(out)
    batch = events(spark.read.parquet(str(ind)))
    assert streamed.count() == batch.count() == 3 * 5 * 8

    s = {(r.source, r.class_id): r.cnt for r in
         streamed.groupBy("source", "class_id").agg(F.count("*").alias("cnt")).collect()}
    b = {(r.source, r.class_id): r.cnt for r in
         batch.groupBy("source", "class_id").agg(F.count("*").alias("cnt")).collect()}
    assert s == b


def test_windowed_counts_stream(spark, tmp_path):
    from mysql_log_parser_spark.streaming.pipeline import windowed_class_counts

    ind = tmp_path / "in"
    ind.mkdir()
    synth.generate_parquet(str(ind / "c0.parquet"), n_docs=4, events_per_doc=10, seed=5)

    agg = windowed_class_counts(stream_events(spark, str(ind)))
    q = (
        agg.writeStream.format("memory")
        .queryName("wincounts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select sum(total_queries) s from wincounts").first()
    assert rows.s == 4 * 10


def _rank_band(vals, pct, n):
    """Values at the 1-based ranks bounding a GK(eps=0.01) answer for
    phi=pct/100 over the sorted `vals`: [max(1, (pct-1)*n//100),
    min(n, (pct+1)*n//100 + 2)], the slow_class_agg_sketch gate's rule."""
    return vals[max(1, (pct - 1) * n // 100) - 1], vals[min(n, (pct + 1) * n // 100 + 2) - 1]


def test_stateful_running_digest(spark, tmp_path):
    """class_digest as a streaming aggregate in update mode: per-class state
    must accumulate ACROSS micro-batches (after chunk 2, totals include
    chunk 1's events), and the final state is the batch digest."""
    from mysql_log_parser_spark.operators.aggregate import class_digest

    ind = tmp_path / "in"
    ind.mkdir()
    synth.generate_parquet(str(ind / "c0.parquet"), n_docs=4, events_per_doc=6, seed=7)

    q = (
        class_digest(stream_events(spark, str(ind)), mode="sketch")
        .writeStream.format("memory")
        .queryName("running_digest")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        first = {
            r.class_id: r.total_queries
            for r in spark.sql("select * from running_digest").collect()
        }
        assert sum(first.values()) == 4 * 6

        # second chunk arrives mid-stream; keyed state carries over
        synth.generate_parquet(str(ind / "c1.parquet"), n_docs=4, events_per_doc=6, seed=8)
        q.processAllAvailable()
    finally:
        q.stop()

    # memory sink keeps every update row; a class's final state is its row
    # with the largest (monotone) count
    final = {}
    for r in spark.sql("select * from running_digest").collect():
        if r.class_id not in final or r.total_queries > final[r.class_id].total_queries:
            final[r.class_id] = r
    assert sum(r.total_queries for r in final.values()) == 2 * 4 * 6

    batch = events(spark.read.parquet(str(ind)))
    exact = ["total_queries", "query_time_sum", "query_time_min", "query_time_max"]
    want = {r.class_id: r for r in class_digest(batch, mode="sketch").collect()}
    assert {k: [r[c] for c in exact] for k, r in final.items()} == {
        k: [r[c] for c in exact] for k, r in want.items()
    }

    vals = {
        r.class_id: sorted(r.v)
        for r in batch.groupBy("class_id").agg(F.collect_list("query_time").alias("v")).collect()
    }
    for k, r in final.items():
        n = r.query_time_cnt
        for pct, got in ((50, r.query_time_med), (95, r.query_time_pct95)):
            lo, hi = _rank_band(vals[k], pct, n)
            assert lo <= got <= hi, (k, pct, got, lo, hi)


def _ts_docs(spark, path, minutes, start_id=0):
    """One single-event doc per minute value, written as a tokens chunk."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = []
    for k, mm in enumerate(minutes):
        text = (
            f"# Time: 240101 10:{mm:02d}:00\n"
            "# User@Host: u[u] @ h []\n"
            "# Query_time: 1.000000  Lock_time: 0.000000 "
            "Rows_sent: 1  Rows_examined: 1\n"
            "SELECT c FROM t WHERE id=1;\n"
        )
        toks = np.frombuffer(text.encode(), dtype=np.uint8).astype("int32")
        rows.append((f"d{start_id + k}", list(toks), len(toks), "s0"))
    t = pa.Table.from_pandas(
        pd.DataFrame(rows, columns=["doc_id", "tokens", "n_tok", "source"]),
        schema=pa.schema(
            [
                ("doc_id", pa.string()),
                ("tokens", pa.list_(pa.int32())),
                ("n_tok", pa.int64()),
                ("source", pa.string()),
            ]
        ),
        preserve_index=False,
    )
    pq.write_table(t, path)


def test_watermark_drops_late_rows(spark, tmp_path):
    """Append mode + watermark: a row older than (max event time - delay)
    arriving in a later micro-batch is DROPPED — its already-finalized
    window is emitted with the on-time count only, and never re-emitted."""
    from mysql_log_parser_spark.streaming.pipeline import windowed_class_counts

    ind = tmp_path / "in"
    ind.mkdir()
    # batch 1: minutes 0, 11, 20, 30 -> watermark after batch 1 = 10:28
    _ts_docs(spark, str(ind / "c0.parquet"), [0, 11, 20, 30])

    agg = windowed_class_counts(
        stream_events(spark, str(ind)), window="5 minutes", watermark="2 minutes"
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("late_drop")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: a LATE event at 10:11 (< watermark 10:28, dropped) plus a
        # fresh event at 10:40 that advances the clock
        _ts_docs(spark, str(ind / "c1.parquet"), [11, 40], start_id=10)
        q.processAllAvailable()
        rows = {
            r["start"].strftime("%H:%M"): r["total_queries"]
            for r in spark.sql(
                "select win.start as start, total_queries from late_drop"
            ).collect()
        }
    finally:
        q.stop()
    # the 10:10 window was finalized with ONLY the on-time event
    assert rows.get("10:10") == 1
    # each emitted window appears exactly once, and nothing beyond the
    # watermark (10:38) was emitted
    assert "10:40" not in rows
