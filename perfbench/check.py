"""Output checks: the program's digests and manifest against the generator's
own tally.  Each check returns a list of human-readable mismatches; an empty
list means the output is correct.

Counts, sums, minima and maxima must match exactly (Query_time is k/64, so
float sums are exact in any order).  Percentiles come from a Greenwald-Khanna
sketch (``percentile_approx`` with accuracy 100, rank error 1%), so a
reported percentile only has to be one of the group's values whose rank lies
within the sketch's rank band around the target rank.
"""

from __future__ import annotations

import json
import math
import os

import numpy as np
import pyarrow.parquet as pq

from gen import QT_STEPS, SOURCES, Corpus, Group, global_tally, tally

GK_ACCURACY = 100
MAX_REPORTED = 5  # mismatches listed per check; the rest are counted


def within_rank_band(k_sorted: np.ndarray, phi: float, value: float) -> bool:
    """True when `value` is a member of the group whose rank range overlaps
    phi * n within the GK error band of n / GK_ACCURACY (+1 for rounding)."""
    k = value * QT_STEPS
    if k != int(k):
        return False
    lo = int(np.searchsorted(k_sorted, k, side="left"))
    hi = int(np.searchsorted(k_sorted, k, side="right"))
    if hi == lo:
        return False
    n = len(k_sorted)
    tol = math.ceil(n / GK_ACCURACY) + 1
    target = phi * n
    return hi >= target - tol and lo <= target + tol


def _group_errors(label: str, row: dict, want: Group, count_col: str) -> list[str]:
    errs = []
    got = {
        count_col: row[count_col],
        "query_time_cnt": row["query_time_cnt"],
        "query_time_sum": row["query_time_sum"],
        "query_time_min": row["query_time_min"],
        "query_time_max": row["query_time_max"],
    }
    exp = {
        count_col: want.count,
        "query_time_cnt": want.count,
        "query_time_sum": want.qt_sum,
        "query_time_min": want.qt_min,
        "query_time_max": want.qt_max,
    }
    for col, e in exp.items():
        if got[col] is None or float(got[col]) != float(e):
            errs.append(f"{label}: {col} = {got[col]}, expected {e}")
    for col, phi in (("query_time_med", 0.5), ("query_time_pct95", 0.95)):
        v = row[col]
        if v is None or not within_rank_band(want.k_sorted, phi, float(v)):
            errs.append(f"{label}: {col} = {v} outside the GK rank band")
    return errs


def _truncate(errs: list[str]) -> list[str]:
    if len(errs) > MAX_REPORTED:
        return errs[:MAX_REPORTED] + [f"... and {len(errs) - MAX_REPORTED} more"]
    return errs


def read_rows(path: str) -> list[dict]:
    return pq.read_table(path).to_pylist()


def check_class_digest(rows: list[dict], corpus: Corpus) -> list[str]:
    """Class digest rows against the tally."""
    want = tally(corpus)
    fp_of = dict(zip(corpus.class_ids, corpus.fingerprints))
    errs = []
    seen = set()
    for row in rows:
        key = row["class_id"]
        if key in seen:
            errs.append(f"{key}: duplicate digest row")
            continue
        seen.add(key)
        if key not in want:
            errs.append(f"{key}: unexpected class (fingerprint {row['fingerprint']!r})")
            continue
        if row["fingerprint"] != fp_of[key]:
            errs.append(f"{key}: fingerprint {row['fingerprint']!r}, expected {fp_of[key]!r}")
        errs += _group_errors(key, row, want[key], "total_queries")
    missing = set(want) - seen
    if missing:
        errs.append(f"{len(missing)} expected classes missing, e.g. {sorted(missing)[:3]}")
    return _truncate(errs)


def check_global_digest(rows: list[dict], corpus: Corpus) -> list[str]:
    if len(rows) != 1:
        return [f"global digest has {len(rows)} rows, expected 1"]
    row = rows[0]
    want, n_classes = global_tally(corpus)
    errs = _group_errors("global", row, want, "total_queries")
    if row["unique_queries"] != n_classes:
        errs.append(f"global: unique_queries = {row['unique_queries']}, expected {n_classes}")
    return _truncate(errs)


def read_manifest(out_dir: str) -> list[dict]:
    mdir = os.path.join(out_dir, "_manifest")
    recs = []
    for name in sorted(os.listdir(mdir)):
        if name.endswith(".json"):
            with open(os.path.join(mdir, name)) as f:
                recs.append(json.load(f))
    return recs


def check_manifest(records: list[dict], corpus: Corpus, chunks: int) -> list[str]:
    """The manifest reconciles: every chunk committed once, events out equal
    the events generated, rows in equal the docs, and the per-source lineage
    equals the generated events per source."""
    errs = []
    if len(records) != chunks:
        errs.append(f"manifest has {len(records)} chunks, expected {chunks}")
    events_out = sum(r["events_out"] for r in records)
    rows_in = sum(r["rows_in"] for r in records)
    if events_out != corpus.n_events:
        errs.append(f"manifest events_out sums to {events_out}, expected {corpus.n_events}")
    if rows_in != len(corpus.texts):
        errs.append(f"manifest rows_in sums to {rows_in}, expected {len(corpus.texts)}")
    by_source = dict.fromkeys(SOURCES, 0)
    for r in records:
        if sum(r["by_source"].values()) != r["events_out"]:
            errs.append(f"chunk {r['chunk']}: by_source does not sum to events_out")
        for s, n in r["by_source"].items():
            by_source[s] = by_source.get(s, 0) + n
    want = dict(zip(SOURCES, np.bincount(corpus.ev_source, minlength=len(SOURCES)).tolist()))
    if by_source != want:
        errs.append(f"manifest events per source {by_source}, expected {want}")
    return _truncate(errs)
