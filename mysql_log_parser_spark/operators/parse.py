"""Slow-log event assembly: tokens/text docs -> structured event rows.

This is the Spark re-expression of the reference's streaming state-machine
parser (/root/reference/log/parser/slow.go:73-323).  The reference walks a
byte stream line-by-line with three states (idle / inHeader / inQuery) and
emits events on state transitions.  Here each input row is one self-contained
log *document* (event boundaries never cross docs), so the scan is
embarrassingly parallel: one `mapInArrow` pass, vectorized with numpy/pandas
inside each Arrow batch — no per-row Python UDFs, no line-level shuffle.

Arrow-native I/O: token arrays are decoded via one bulk buffer copy per
batch, and the three dynamic metric maps are emitted as Arrow MapArrays
built directly from long-form (event, name, value) numpy arrays with
searchsorted offsets — no per-event Python dicts anywhere (per-dict
pandas->Arrow conversion was a 10x tax at 10^6-event scale).

State machine transitions (slow.go:124-132, 152-243, 270-289) collapse to a
vectorizable form because the automaton is reset-dominated:

  - a header line (`^#\\s+[A-Z]`, slow.go:18) always puts it in `header`
  - an admin line (`# admin` prefix, slow.go:231) always emits+resets to idle
  - any other line maps header->query, keeps query, keeps idle

so the state of every line is a function of the *most recent* header/admin
line (a grouped forward-fill), and event ids are a cumulative sum over
header-run starts.  Parity details reproduced exactly:

  - meta-line filter incl. the >=20-byte fast path       slow.go:107-119
  - offset bookkeeping incl. the documented +1 quirk     slow.go:93-100, 164-166
  - trailing line without '\\n' dropped entirely          slow.go:87-91
  - `# Time` ts extract + combined Time+User lines       slow.go:169-182
  - `User@Host` user/host extract (IP ignored)           slow.go:17, 183-189
  - metrics findall + suffix/value-based typing          slow.go:196-222
  - unparseable uint -> 0, float32 time metrics          slow.go:201, 219
  - `use db;` capture only before first query line       slow.go:245-251
  - SET last_insert_id/insert_id/timestamp skipped       slow.go:21, 252-256
  - admin command extraction + FilterAdminCommand        slow.go:270-289
  - events without Query_time discarded                  slow.go:305-311
  - Db/Query trailing-separator cleanup                  slow.go:313-315
  - tail flush only when queryLines > 0                  slow.go:135-137
"""

from __future__ import annotations

import re
from typing import Iterable, Iterator

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

# Regexes, 1:1 with slow.go:16-21 (Python `\Z` == Go `\z`).
TIME_RE = re.compile(r"Time: (\S+\s{1,2}\S+)", re.ASCII)
USER_RE = re.compile(r"User@Host: ([^\[]+|\[[^[]+\]).*?@ (\S*) \[(.*)\]", re.ASCII)
HEADER_RE = re.compile(r"#\s+[A-Z]", re.ASCII)  # anchored via .match (== Go ^ semantics)
METRICS_RE = re.compile(r"(\w+): (\S+|\Z)", re.ASCII)
ADMIN_RE = re.compile(r"command: (.+)", re.ASCII)
SET_RE = re.compile(r"SET (?:last_insert_id|insert_id|timestamp)")

_UINT_RE = re.compile(r"[0-9]+\Z")  # strconv.ParseUint: no sign prefix permitted
# meta lines (slow.go:107-119): '/...with:\n' | 'Time ' | 'Tcp ' | 'TCP ' prefix
_META_RE = re.compile(r"(?:/.*with:\Z|Time |Tcp |TCP )", re.ASCII)

_ARROW_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("source", pa.string()),
        ("event_idx", pa.int32()),
        ("offset", pa.int64()),
        ("ts", pa.string()),
        ("admin", pa.bool_()),
        ("query", pa.string()),
        ("user", pa.string()),
        ("host", pa.string()),
        ("db", pa.string()),
        ("rate_type", pa.string()),
        ("rate_limit", pa.int32()),
        ("time_metrics", pa.map_(pa.string(), pa.float32())),
        ("number_metrics", pa.map_(pa.string(), pa.int64())),
        ("bool_metrics", pa.map_(pa.string(), pa.bool_())),
    ]
)

EVENT_SCHEMA = from_arrow_schema(_ARROW_SCHEMA)

_EMPTY_LONG = (np.empty(0, dtype=np.int64), np.empty(0, dtype=object), np.empty(0))


def _empty_batch() -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [pa.array([], type=f.type) for f in _ARROW_SCHEMA], schema=_ARROW_SCHEMA
    )


def _group_bounds(sorted_keys: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(unique keys, group start, group end) over a non-decreasing key array."""
    b = np.flatnonzero(np.concatenate(([True], sorted_keys[1:] != sorted_keys[:-1])))
    return sorted_keys[b], b, np.append(b[1:], len(sorted_keys))


def _split_doc(text: str, start_offset: int) -> tuple[list[str], np.ndarray, np.ndarray]:
    """Split one doc into (lines, adjusted byte offsets, byte lengths incl '\\n').

    Reproduces slow.go:87-100: a final line without '\\n' is dropped (the
    reader breaks on EOF error before processing it); lineOffset is the
    byte offset of the line start, +1 when nonzero (the documented quirk).
    """
    empty = np.empty(0, dtype=np.int64)
    if start_offset > 0:
        text = text.encode("utf-8")[start_offset:].decode("utf-8", errors="replace")
    parts = text.split("\n")
    lines = parts[:-1]  # content after the last '\n' (incl. no-newline tail) dropped
    if not lines:
        return [], empty, empty
    if text.isascii():
        lens = np.fromiter((len(l) + 1 for l in lines), dtype=np.int64, count=len(lines))
    else:
        lens = np.fromiter(
            (len(l.encode("utf-8")) + 1 for l in lines), dtype=np.int64, count=len(lines)
        )
    starts = start_offset + np.concatenate(([0], np.cumsum(lens)[:-1]))
    return lines, starts + (starts != 0), lens  # +1 quirk (slow.go:96-100)


def _dedup_last(eids: np.ndarray, names: np.ndarray) -> np.ndarray:
    """Mask keeping the LAST occurrence per (eid, name) — map overwrite
    semantics (later metric lines win, dict-insert order in the reference)."""
    if len(eids) == 0:
        return np.empty(0, dtype=bool)
    return ~pd.DataFrame({"e": eids, "n": names}).duplicated(keep="last").to_numpy()


def _map_array(
    out_eids: np.ndarray,
    eids: np.ndarray,
    names: np.ndarray,
    values: np.ndarray,
    item_type: pa.DataType,
) -> pa.MapArray:
    """Arrow MapArray for the emitted events: long-form entries (eid-sorted)
    sliced per event via searchsorted offsets.  No per-row Python."""
    n_out = len(out_eids)
    if len(eids):
        pos = np.searchsorted(out_eids, eids)
        pos_c = np.minimum(pos, max(n_out - 1, 0))
        keep = (pos < n_out) & (out_eids[pos_c] == eids)
        eids, names, values = eids[keep], names[keep], values[keep]
    offsets = np.empty(n_out + 1, dtype=np.int32)
    offsets[:-1] = np.searchsorted(eids, out_eids, side="left")
    offsets[-1] = len(eids)
    return pa.MapArray.from_arrays(
        pa.array(offsets, pa.int32()),
        pa.array(names, pa.string()),
        pa.array(values, item_type),
    )


def _parse_core(
    doc_ids: list,
    sources: list,
    texts: list,
    start_offsets: list,
    admin_filter: frozenset[str],
) -> pa.RecordBatch:
    n_docs = len(doc_ids)
    all_lines: list[str] = []
    all_offs: list[np.ndarray] = []
    all_lens: list[np.ndarray] = []
    doc_idx_parts: list[np.ndarray] = []
    for di in range(n_docs):
        lines, offs, lens = _split_doc(texts[di], int(start_offsets[di]))
        if lines:
            all_lines.extend(lines)
            all_offs.append(offs)
            all_lens.append(lens)
            doc_idx_parts.append(np.full(len(lines), di, dtype=np.int64))
    if not all_lines:
        return _empty_batch()

    offs = np.concatenate(all_offs)
    blen = np.concatenate(all_lens)  # byte lengths incl '\n'
    doc_idx = np.concatenate(doc_idx_parts)

    # Meta-line filter (slow.go:107-119); length check is on bytes incl '\n'.
    meta_match = _META_RE.match
    meta = np.fromiter(
        (bool(meta_match(l)) for l in all_lines), dtype=bool, count=len(all_lines)
    ) & (blen >= 20)
    keep = ~meta
    lines_arr = np.array(all_lines, dtype=object)[keep]
    offs, doc_idx = offs[keep], doc_idx[keep]
    n = len(lines_arr)
    if n == 0:
        return _empty_batch()

    # Line classification (slow.go:18, 231).
    h_match = HEADER_RE.match
    H = np.fromiter((bool(h_match(l)) for l in lines_arr), dtype=bool, count=n)
    A = np.fromiter(
        (l.startswith("# admin") for l in lines_arr), dtype=bool, count=n
    )  # disjoint from H (lowercase 'a')

    # State derivation: grouped forward-fill of the last control line.
    ctrl = np.where(H, 1, np.where(A, 2, 0)).astype(np.float64)
    ctrl[ctrl == 0] = np.nan
    lc = pd.Series(ctrl).groupby(doc_idx).ffill()  # last control at/<= i (NaN=none)
    lc_prev = lc.groupby(doc_idx).shift(1)  # last control strictly before i
    lc = lc.to_numpy()
    lc_prev = lc_prev.to_numpy()

    # Event starts: header line whose predecessor (same doc) is not a header.
    prev_H = np.concatenate(([False], H[:-1]))
    first_of_doc = np.concatenate(([True], doc_idx[1:] != doc_idx[:-1]))
    prev_H &= ~first_of_doc
    event_start = H & ~prev_H
    eid = np.cumsum(event_start)  # 1-based once inside an event; 0 = pre-first-event

    # Which lines are live (processed by the automaton)?
    a_live = A & (lc_prev == 1)  # admin line only when state != idle (slow.go:124-132)
    q_live = (~H) & (~A) & (lc == 1)  # other line in header/query state
    live = (H | a_live | q_live) & (eid > 0)

    l_lines = lines_arr[live]
    l_offs = offs[live]
    l_doc = doc_idx[live]
    l_eid = eid[live]
    l_H = H[live]
    l_A = (A & a_live)[live]
    l_Q = q_live[live]
    l_start = event_start[live]
    if len(l_lines) == 0:
        return _empty_batch()

    # ---- per-event skeleton (index = eid, ascending) -------------------------
    ev = pd.DataFrame(
        {"doc": l_doc[l_start], "offset": l_offs[l_start]}, index=l_eid[l_start]
    )

    # ---- header lines ---------------------------------------------------------
    hlines = l_lines[l_H]
    heids = l_eid[l_H]
    nh = len(hlines)
    is_time = np.fromiter((l.startswith("# Time") for l in hlines), dtype=bool, count=nh)
    is_user = np.fromiter((l.startswith("# User") for l in hlines), dtype=bool, count=nh)

    if is_time.any():
        t_eids, t_vals = [], []
        for e, l in zip(heids[is_time], hlines[is_time]):
            m = TIME_RE.search(l)
            if m:
                t_eids.append(e)
                t_vals.append(m.group(1))
        if t_eids:
            uk, _, b = _group_bounds(np.asarray(t_eids))
            ev["ts"] = pd.Series(np.asarray(t_vals, dtype=object)[b - 1], index=uk)
    ul_mask = is_user | is_time
    if ul_mask.any():
        u_eids, u_user, u_host = [], [], []
        for e, l in zip(heids[ul_mask], hlines[ul_mask]):
            m = USER_RE.search(l)
            if m:
                u_eids.append(e)
                u_user.append(m.group(1))
                u_host.append(m.group(2))
        if u_eids:
            uk, _, b = _group_bounds(np.asarray(u_eids))
            ev["user"] = pd.Series(np.asarray(u_user, dtype=object)[b - 1], index=uk)
            ev["host"] = pd.Series(np.asarray(u_host, dtype=object)[b - 1], index=uk)

    # ---- metrics lines (findall + typing, slow.go:196-222) --------------------
    t_long = n_long = b_long = _EMPTY_LONG
    ml_mask = ~is_time & ~is_user
    if ml_mask.any():
        m_eids, m_names, m_vals = [], [], []
        findall = METRICS_RE.findall
        for e, l in zip(heids[ml_mask], hlines[ml_mask]):
            for nm, vl in findall(l):
                m_eids.append(e)
                m_names.append(nm)
                m_vals.append(vl)
        if m_eids:
            ex_e = np.asarray(m_eids)
            ex_n = np.asarray(m_names, dtype=object)
            ex_v = pd.Series(np.asarray(m_vals, dtype=object))
            name = pd.Series(ex_n)
            k_time = (name.str.endswith("_time") | name.str.endswith("_wait")).to_numpy()
            k_bool = (~k_time) & ex_v.isin(("Yes", "No")).to_numpy()
            k_schema = (~k_time) & (~k_bool) & (ex_n == "Schema")
            k_rt = (~k_time) & (~k_bool) & (ex_n == "Log_slow_rate_type")
            k_rl = (~k_time) & (~k_bool) & (ex_n == "Log_slow_rate_limit")
            k_num = ~(k_time | k_bool | k_schema | k_rt | k_rl)

            def _long(mask: np.ndarray, conv) -> tuple:
                if not mask.any():
                    return _EMPTY_LONG
                e, nm, v = ex_e[mask], ex_n[mask], conv(ex_v[mask])
                dd = _dedup_last(e, nm)
                return e[dd], nm[dd], np.asarray(v)[dd]

            def _f32(v: pd.Series) -> np.ndarray:
                # ParseFloat(x, 32): float32 rounding; parse error -> 0 (slow.go:201)
                return (
                    pd.to_numeric(v, errors="coerce").fillna(0.0).to_numpy().astype(np.float32)
                )

            def _u64(v: pd.Series) -> np.ndarray:
                # ParseUint errors -> 0 (slow.go:219); clamp to int64 range
                ok = v.str.match(_UINT_RE).fillna(False)
                out = pd.to_numeric(v.where(ok, "0"), errors="coerce").fillna(0)
                return out.clip(upper=np.iinfo(np.int64).max).to_numpy().astype("int64")

            t_long = _long(k_time, _f32)
            n_long = _long(k_num, _u64)
            b_long = _long(k_bool, lambda v: (v == "Yes").to_numpy())

            def _last_scalar(mask: np.ndarray) -> pd.Series:
                if not mask.any():
                    return pd.Series(dtype=object)
                uk, _, b = _group_bounds(ex_e[mask])
                return pd.Series(ex_v.to_numpy()[mask][b - 1], index=uk)

            sch = _last_scalar(k_schema)
            if len(sch):
                ev["db_schema"] = sch
            rt = _last_scalar(k_rt)
            if len(rt):
                ev["rate_type"] = rt
            rl = _last_scalar(k_rl)
            if len(rl):
                ok = rl.str.match(_UINT_RE).fillna(False)
                ev["rate_limit"] = (
                    pd.to_numeric(rl.where(ok, "0"), errors="coerce").fillna(0).astype("int64")
                    % 256
                )

    # ---- query-ish lines (slow.go:245-267) -------------------------------------
    if l_Q.any():
        qlines_all = l_lines[l_Q]
        qeids_all = l_eid[l_Q]
        nq = len(qlines_all)
        set_search = SET_RE.search
        is_set = np.fromiter((bool(set_search(l)) for l in qlines_all), dtype=bool, count=nq)
        is_use = np.fromiter((l.startswith("use ") for l in qlines_all), dtype=bool, count=nq)
        base = ~is_set & ~is_use
        # count of real query lines at/<= each position, reset per event
        cum = np.cumsum(base)
        _, a_all, _ = _group_bounds(qeids_all)
        grp_start_cum = np.repeat(cum[a_all] - base[a_all], np.diff(np.append(a_all, nq)))
        bases_before = cum - grp_start_cum
        consumed_use = is_use & (bases_before == 0)
        is_query = base | (is_use & (bases_before > 0))

        if consumed_use.any():
            u_eids = qeids_all[consumed_use]
            u_dbs = np.array(
                [l[4:].rstrip(";") for l in qlines_all[consumed_use]], dtype=object
            )
            uk, _, b = _group_bounds(u_eids)
            ev["db_use"] = pd.Series(u_dbs[b - 1], index=uk)
            ev["has_use"] = ev.index.isin(uk)

        if is_query.any():
            qe = qeids_all[is_query]
            qlines = qlines_all[is_query]
            uk, a, b = _group_bounds(qe)
            ev["qcount"] = pd.Series(b - a, index=uk)
            ev["query"] = pd.Series(
                ["\n".join(qlines[i:j]) for i, j in zip(a, b)], index=uk, dtype=object
            )

    # ---- admin lines (slow.go:270-289) ------------------------------------------
    if l_A.any():
        a_eids, a_cmds = [], []
        for e, l in zip(l_eid[l_A], l_lines[l_A]):
            m = ADMIN_RE.search(l)
            if m:
                a_eids.append(e)
                c = m.group(1)
                a_cmds.append(c[:-1] if c.endswith(";") else c)
        if a_eids:
            uk, _, b = _group_bounds(np.asarray(a_eids))
            ev["admin_cmd"] = pd.Series(np.asarray(a_cmds, dtype=object)[b - 1], index=uk)

    # ---- emission + finalize (slow.go:291-323, 135-137) --------------------------
    for col in ("ts", "user", "host", "db_schema", "db_use", "rate_type", "query"):
        if col not in ev.columns:
            ev[col] = ""
        else:
            ev[col] = ev[col].fillna("")
    if "admin_cmd" not in ev.columns:
        ev["admin_cmd"] = np.nan
    if "has_use" not in ev.columns:
        ev["has_use"] = False
    else:
        ev["has_use"] = ev["has_use"].fillna(False)
    if "rate_limit" not in ev.columns:
        ev["rate_limit"] = 0
    ev["rate_limit"] = ev["rate_limit"].fillna(0).astype("int32")
    if "qcount" not in ev.columns:
        ev["qcount"] = 0
    ev["qcount"] = ev["qcount"].fillna(0).astype("int64")

    ev["admin"] = ev["admin_cmd"].notna()
    # emit rule: admin-terminated | followed by another event in-doc | has query
    last_in_doc = ~ev["doc"].duplicated(keep="last")
    emit = ev["admin"].to_numpy() | ~last_in_doc.to_numpy() | (ev["qcount"] > 0).to_numpy()
    # discard events without Query_time (slow.go:305-311)
    te, tn, _tv = t_long
    qt_eids = np.unique(te[tn == "Query_time"]) if len(te) else np.empty(0, dtype=np.int64)
    emit &= np.isin(ev.index.to_numpy(), qt_eids)
    # FilterAdminCommand (slow.go:280-288)
    if admin_filter:
        emit &= ~(ev["admin"] & ev["admin_cmd"].isin(admin_filter)).to_numpy()
    ev = ev[emit]
    n_out = len(ev)
    if n_out == 0:
        return _empty_batch()

    out_eids = ev.index.to_numpy()
    query = np.where(ev["admin"], ev["admin_cmd"].fillna(""), ev["query"])
    query = np.array(
        [q[:-1] if q.endswith(";") else q for q in query], dtype=object
    )  # TrimSuffix(';') once (slow.go:315)
    db = np.where(ev["has_use"], ev["db_use"], ev["db_schema"])
    db = np.array(
        [d[:-2] if d.endswith(";\n") else d for d in db], dtype=object
    )  # TrimSuffix(';\n') (slow.go:314)

    doc_arr = np.array(doc_ids, dtype=object)
    src_arr = np.array(sources, dtype=object)
    ev_doc = ev["doc"].to_numpy()
    event_idx = ev.groupby("doc").cumcount().to_numpy().astype(np.int32)

    return pa.RecordBatch.from_arrays(
        [
            pa.array(doc_arr[ev_doc], pa.string()),
            pa.array(src_arr[ev_doc], pa.string()),
            pa.array(event_idx, pa.int32()),
            pa.array(ev["offset"].to_numpy().astype(np.int64), pa.int64()),
            pa.array(ev["ts"].to_numpy(), pa.string()),
            pa.array(ev["admin"].to_numpy(), pa.bool_()),
            pa.array(query, pa.string()),
            pa.array(ev["user"].to_numpy(), pa.string()),
            pa.array(ev["host"].to_numpy(), pa.string()),
            pa.array(db, pa.string()),
            pa.array(ev["rate_type"].to_numpy(), pa.string()),
            pa.array(ev["rate_limit"].to_numpy().astype(np.int32), pa.int32()),
            _map_array(out_eids, *t_long, pa.float32()),
            _map_array(out_eids, *n_long, pa.int64()),
            _map_array(out_eids, *b_long, pa.bool_()),
        ],
        schema=_ARROW_SCHEMA,
    )


# -- batch adapters -------------------------------------------------------------

def _batch_inputs(batch: pa.RecordBatch) -> tuple[list, list, list, list]:
    names = batch.schema.names
    nd = batch.num_rows
    doc_ids = batch.column(names.index("doc_id")).to_pylist()
    sources = (
        batch.column(names.index("source")).to_pylist() if "source" in names else [""] * nd
    )
    if "text" in names:
        texts = batch.column(names.index("text")).to_pylist()
    else:
        arr = batch.column(names.index("tokens"))
        lens = arr.value_lengths().to_numpy(zero_copy_only=False)
        lens = np.nan_to_num(lens, nan=0).astype(np.int64)
        flat = arr.flatten().to_numpy(zero_copy_only=False).astype(np.uint8)
        data = flat.tobytes()  # one bulk copy for the whole batch
        ends = np.cumsum(lens)
        starts = ends - lens
        texts = [data[s:e].decode("utf-8") for s, e in zip(starts, ends)]
    if "start_offset" in names:
        so = batch.column(names.index("start_offset")).to_pylist()
        start_offsets = [int(x) if x is not None else 0 for x in so]
    else:
        start_offsets = [0] * nd
    return doc_ids, sources, texts, start_offsets


def _parse_batch(pdf: pd.DataFrame, admin_filter: frozenset[str]) -> pd.DataFrame:
    """Pandas adapter (tests / direct use): same kernel, dict-valued maps."""
    n = len(pdf)
    doc_ids = pdf["doc_id"].tolist() if n else []
    sources = pdf["source"].tolist() if "source" in pdf.columns and n else [""] * n
    if "text" in pdf.columns:
        texts = pdf["text"].tolist()
    else:
        texts = [
            np.asarray(t, dtype=np.int64).astype(np.uint8).tobytes().decode("utf-8")
            for t in pdf["tokens"]
        ]
    if "start_offset" in pdf.columns and n:
        start_offsets = pdf["start_offset"].fillna(0).astype("int64").tolist()
    else:
        start_offsets = [0] * n
    rb = _parse_core(doc_ids, sources, texts, start_offsets, admin_filter)
    return rb.to_pandas(maps_as_pydicts="strict")


def parse_slowlog(
    df: DataFrame,
    admin_filter: Iterable[str] | None = None,
) -> DataFrame:
    """Parse a docs DataFrame into structured slow-log events.

    `df` needs `doc_id` plus either `tokens` (array<int>) or `text` (string);
    optional `source` (propagated) and `start_offset` (per-doc resume seek,
    the Options.StartOffset equivalent, slow.go:46-49).

    Returns a DataFrame with EVENT_SCHEMA.  One narrow Arrow pass; no shuffle.
    """
    filt = frozenset(admin_filter or ())
    cols = [c for c in ("doc_id", "tokens", "text", "source", "start_offset") if c in df.columns]

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows:
                yield _parse_core(*_batch_inputs(batch), filt)

    return df.select(*cols).mapInArrow(gen, schema=EVENT_SCHEMA)


# Hot metrics promoted to top-level columns: (column, map column, map key).
# Checkpoint chunks store only the maps and derive these on read.
PROMOTED_METRICS = (
    ("query_time", "time_metrics", "Query_time"),
    ("lock_time", "time_metrics", "Lock_time"),
    ("rows_sent", "number_metrics", "Rows_sent"),
    ("rows_examined", "number_metrics", "Rows_examined"),
    ("rows_affected", "number_metrics", "Rows_affected"),
    ("bytes_sent", "number_metrics", "Bytes_sent"),
)
PROMOTED_COLUMNS = tuple(c for c, _, _ in PROMOTED_METRICS)


def promote_metrics(events: DataFrame) -> DataFrame:
    """Promote hot metrics to top-level columns so Catalyst can prune,
    push down, and aggregate them vectorized (SURVEY.md §1.1).  A column
    that already exists is re-derived from its map in place."""
    return events.withColumns(
        {c: F.element_at(F.col(m), k) for c, m, k in PROMOTED_METRICS}
    )
