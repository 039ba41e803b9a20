"""The event-log reader and layer attribution on a small recorded log.

The fixture is the event log of one ``digest_job.main`` call at local[2]
over 300 generated events in two files (plan strings and unused fields
trimmed).  Its span is the wall-clock window the call ran in.
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import tracing  # noqa: E402

LOG = os.path.join(HERE, "data", "digest_eventlog.jsonl")
SPAN = tracing.Span("run", 1792194316245.7983, 1792194335737.3013)


def _app() -> tracing.App:
    return tracing.read_app([LOG])


def test_reader():
    app = _app()
    assert (app.start, app.end) == (1792194316383, 1792194334778)
    assert len(app.jobs) == 6 and len(app.tasks) == 8
    assert sorted(app.executions) == [0, 1]
    names = {n.name for x in app.executions.values() for n in x.nodes.values()}
    assert {"Scan parquet ", "MapInArrow", "ObjectHashAggregate", "Exchange"} <= names


def test_layers_of_one_digest_job():
    app = _app()
    m = tracing.layer_metrics(tracing.RunView([app], SPAN), cores=2)
    # class digest and global digest each re-parse both files
    assert m["parse.passes_per_run"] == 2
    assert m["parse.rows_out"] == 600
    assert m["sources.files_read"] == 4 and m["sources.tasks"] == 4
    assert m["sink.files_written"] == 2
    assert m["spark.jobs"] == 6 and m["spark.tasks"] == 8
    assert m["spark.failed_task_ratio"] == 0
    assert m["parse.python_run_s"] > 0 and m["aggregate.shuffle_records"] > 0
    assert m["checkpoint.chunks"] == 0 and m["checkpoint.readback_s"] == 0
    want = ((app.start - SPAN.start_ms) + (SPAN.end_ms - app.end)) / 1e3
    assert m["session.restart_s"] == want
    assert 0 < m["spark.core_idle_ratio"] < 1


def test_jobs_outside_the_span_are_not_counted():
    app = _app()
    early = tracing.Span("run", SPAN.start_ms - 60_000, SPAN.start_ms - 1)
    m = tracing.layer_metrics(tracing.RunView([app], early), cores=2)
    assert m["spark.jobs"] == 0 and m["parse.rows_out"] == 0


def test_chunk_phase_split():
    app = _app()
    first = app.executions[0]
    m = tracing.layer_metrics(
        tracing.RunView([app], SPAN), cores=2,
        chunk_phase_end_ms=first.start + 1, chunk_walls=[2.0],
    )
    # the one execution before the split writes, so it is no read-back
    assert m["checkpoint.chunks"] == 1 and m["checkpoint.jobs_per_chunk"] == 1
    assert m["checkpoint.readback_s"] == 0 and m["checkpoint.chunk_wall_max_s"] == 2.0


def test_span_recorder():
    rec = tracing.SpanRecorder()
    with rec.span("outer"):
        with rec.span("inner", parent="outer"):
            pass
    inner, outer = rec.spans
    assert inner.parent == "outer" and outer.start_ms <= inner.start_ms <= inner.end_ms <= outer.end_ms

