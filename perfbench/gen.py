"""Seeded input generator and independent expected tally.

The generator renders slow-log documents from its own templates (it does
not use ``mysql_log_parser_spark.synth``) and keeps, next to every event,
the class it was drawn from, its source and its Query_time step ``k``
(Query_time = k/64, exact in float32 and float64).  The expected digest is
computed from those arrays alone, so no expected number ever goes through
the parser or the fingerprint chain: each template states the fingerprint
its queries must map to, written out by hand.

Templates cover every parser branch: the minimal header, a header without
``# Time``, the rich Percona header (Schema, bool metrics), ``use db``
consumed before the query, ``SET timestamp`` lines that are skipped,
multi-line queries with comments, stored-procedure calls, administrator
commands and mysqld restart banners (meta lines).
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Seed held back for confirming a claimed gain on inputs nobody tuned on.
HOLDOUT_SEED = 7919

QT_STEPS = 64  # Query_time = k / QT_STEPS
K_MAX = 256  # Query_time in (0, 4] s
TABLES = 50  # tables per query template
ZIPF_S = 1.1  # class popularity skew
MEAN_DOC_EVENTS = 40
SOURCES = ("src0", "src1", "src2", "src3")
SOURCE_WEIGHTS = (0.4, 0.3, 0.2, 0.1)
ADMIN_COMMANDS = ("Ping", "Quit", "Statistics")

_BANNER = (
    "/usr/sbin/mysqld, Version: 8.0.36 (MySQL Community Server - GPL). started with:\n"
    "Tcp port: 3306  Unix socket: /var/run/mysqld/mysqld.sock\n"
    "Time                 Id Command    Argument\n"
)
_USERS = ("app[app] @ web-1 []", "etl[etl] @ 10.0.0.7 [10.0.0.7]", "root[root] @ localhost []")


def _metrics(k: int, rs: int) -> str:
    return (
        f"# Query_time: {k / QT_STEPS:.6f}  Lock_time: 0.000000 "
        f"Rows_sent: {rs}  Rows_examined: {rs * 10}\n"
    )


def _header(variant: int, k: int, n: int, db: str) -> str:
    user = _USERS[n % len(_USERS)]
    ts = f"# Time: 240101 {n % 24:2d}:{n % 60:02d}:{(7 * n) % 60:02d}\n"
    if variant == 0:  # minimal
        return ts + f"# User@Host: {user}\n" + _metrics(k, n)
    if variant == 1:  # no # Time line
        return f"# User@Host: {user}\n" + _metrics(k, n)
    # rich Percona header: Schema, Bytes_sent and bool metrics
    return (
        ts
        + f"# User@Host: {user}\n"
        + f"# Thread_id: {n}  Schema: {db}  Last_errno: 0  Killed: 0\n"
        + _metrics(k, n)
        + f"# Bytes_sent: {n * 7}  Tmp_tables: 0  Tmp_disk_tables: 0  Tmp_table_sizes: 0\n"
        + "# QC_Hit: No  Full_scan: Yes  Full_join: No  Tmp_table: No  Tmp_table_on_disk: No\n"
    )


# Query templates: (name, body(table, n) -> text, fingerprint(table) -> str).
# Each fingerprint is the expected output of the reference rewrite chain,
# derived by hand from the template text.
def _point_select(t: int, n: int) -> str:
    return f"SELECT c FROM t{t} WHERE id={n} AND name='n{n}';\n"


def _multi_update(t: int, n: int) -> str:
    return (
        f"use db{t % 16};\nSET timestamp={1400000000 + n};\n"
        f"UPDATE t{t}\nSET    v = '{n}'\nWHERE  id IN ({n}, {n + 1}, {n + 2});\n"
    )


def _insert_values(t: int, n: int) -> str:
    return f"INSERT INTO t{t} (a, b, c) VALUES ({n}, 'x{n}', {n}.5);\n"


def _order_limit(t: int, n: int) -> str:
    return f"SELECT col FROM big{t} ORDER BY col ASC LIMIT {n};\n"


def _commented_select(t: int, n: int) -> str:
    return (
        f"SELECT a,\n       b\nFROM   t{t} /* hint */\n"
        f"WHERE  x > {n}\n  AND  y IS NULL;\n"
    )


def _call(t: int, n: int) -> str:
    return f"CALL proc{t}({n}, 'a');\n"


TEMPLATES = (
    ("point_select", _point_select, lambda t: f"select c from t{t} where id=? and name=?"),
    ("multi_update", _multi_update, lambda t: f"update t{t} set v = ? where id in(?+)"),
    ("insert_values", _insert_values, lambda t: f"insert into t{t} (a, b, c) values(?+)"),
    ("order_limit", _order_limit, lambda t: f"select col from big{t} order by col limit ?"),
    (
        "commented_select",
        _commented_select,
        lambda t: f"select a, b from t{t} where x > ? and y is ?",
    ),
    ("call", _call, lambda t: f"call proc{t}"),
)
ADMIN_TEMPLATE = len(TEMPLATES)  # template index of administrator commands


def query_text(body: str) -> str:
    """The query the parser emits for a template body: ``use`` and
    ``SET timestamp`` lines dropped, lines joined by newlines, one trailing
    semicolon trimmed."""
    lines = [
        line for line in body.rstrip("\n").split("\n")
        if not line.startswith(("use ", "SET timestamp"))
    ]
    q = "\n".join(lines)
    return q[:-1] if q.endswith(";") else q


def class_id(fingerprint: str) -> str:
    """Upper-cased second half of the MD5 hex digest of the fingerprint."""
    return hashlib.md5(fingerprint.encode("utf-8")).hexdigest()[16:].upper()


@dataclass
class Corpus:
    """Generated documents plus the per-event truth they were rendered from."""

    doc_ids: list[str]
    texts: list[str]
    doc_sources: list[str]
    # class table: one row per (template, table) class
    class_ids: list[str]
    fingerprints: list[str]
    # per event, in document order
    ev_class: np.ndarray  # index into class_ids
    ev_source: np.ndarray  # index into SOURCES
    ev_k: np.ndarray  # Query_time = k / QT_STEPS
    queries: list[str] = field(default_factory=list)  # query text as the parser emits it
    n_events: int = field(init=False)

    def __post_init__(self) -> None:
        self.n_events = len(self.ev_k)


def class_table(tables: int) -> tuple[list[tuple[int, int]], list[str]]:
    """(template, table) pairs and their fingerprints; admin commands last."""
    keys, fps = [], []
    for ti, (_name, _body, fp) in enumerate(TEMPLATES):
        for t in range(tables):
            keys.append((ti, t))
            fps.append(fp(t))
    for ai, cmd in enumerate(ADMIN_COMMANDS):
        keys.append((ADMIN_TEMPLATE, ai))
        fps.append(cmd.lower())
    return keys, fps


def _rank_order(rng: np.random.Generator, tables: int) -> np.ndarray:
    """Class index for each popularity rank: templates take turns rank by
    rank (so every seed has the same template mix), each template's tables
    in a seed-shuffled order; admin commands sit at ranks 10, 20 and 30."""
    per_template = [ti * tables + rng.permutation(tables) for ti in range(len(TEMPLATES))]
    order = list(np.stack(per_template, axis=1).ravel())
    admin0 = len(TEMPLATES) * tables
    for i in range(len(ADMIN_COMMANDS)):
        order.insert(10 * (i + 1), admin0 + i)
    return np.asarray(order)


def _class_probs(n: int, zipf_s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** zipf_s
    return p / p.sum()


def generate(seed: int, n_events: int) -> Corpus:
    """Render exactly `n_events` events into documents of varying length.

    Classes are (template, table) pairs plus the admin commands, drawn
    zipf-skewed (`ZIPF_S`) over the ranks of `_rank_order`.
    """
    rng = np.random.default_rng(seed)
    keys, fps = class_table(TABLES)
    n_cls = len(keys)
    ev_class = _rank_order(rng, TABLES)[
        rng.choice(n_cls, size=n_events, p=_class_probs(n_cls, ZIPF_S))
    ]
    ev_k = rng.integers(1, K_MAX + 1, size=n_events)
    ev_n = rng.integers(0, 1000, size=n_events)
    ev_variant = rng.integers(0, 3, size=n_events)

    # documents: lognormal lengths, each doc from one source
    lens = []
    left = n_events
    while left > 0:
        m = int(np.clip(rng.lognormal(np.log(MEAN_DOC_EVENTS), 0.8), 1, 8 * MEAN_DOC_EVENTS))
        lens.append(min(m, left))
        left -= lens[-1]
    doc_src = rng.choice(len(SOURCES), size=len(lens), p=SOURCE_WEIGHTS)
    banner = rng.random(len(lens)) < 0.2
    ev_source = np.repeat(doc_src, lens)

    doc_ids, texts, queries = [], [], []
    i = 0
    for d, m in enumerate(lens):
        parts = [_BANNER] if banner[d] else []
        for j in range(i, i + m):
            ti, t = keys[ev_class[j]]
            k, n = int(ev_k[j]), int(ev_n[j])
            if ti == ADMIN_TEMPLATE:
                parts.append(_header(int(ev_variant[j]) % 2, k, n, ""))
                parts.append(f"# administrator command: {ADMIN_COMMANDS[t]};\n")
                queries.append(ADMIN_COMMANDS[t])
            else:
                variant = 2 if ti == 1 else int(ev_variant[j])
                body = TEMPLATES[ti][1](t, n)
                parts.append(_header(variant, k, n, f"db{t % 16}"))
                parts.append(body)
                queries.append(query_text(body))
        i += m
        doc_ids.append(f"bench:{seed}:{d}")
        texts.append("".join(parts))
    return Corpus(
        doc_ids=doc_ids,
        texts=texts,
        doc_sources=[SOURCES[s] for s in doc_src],
        class_ids=[class_id(f) for f in fps],
        fingerprints=fps,
        ev_class=ev_class,
        ev_source=ev_source,
        ev_k=ev_k,
        queries=queries,
    )


def tokens_table(corpus: Corpus, lo: int = 0, hi: int | None = None) -> pa.Table:
    """Docs [lo, hi) in the tokens-table shape (doc_id, tokens, n_tok, source)."""
    texts = corpus.texts[lo:hi]
    raw = [t.encode("utf-8") for t in texts]
    lens = np.fromiter((len(b) for b in raw), dtype=np.int32, count=len(raw))
    offsets = np.concatenate(([0], np.cumsum(lens, dtype=np.int64))).astype(np.int32)
    values = np.frombuffer(b"".join(raw), dtype=np.uint8).astype(np.int32)
    return pa.table(
        {
            "doc_id": pa.array(corpus.doc_ids[lo:hi], pa.string()),
            "tokens": pa.ListArray.from_arrays(pa.array(offsets), pa.array(values)),
            "n_tok": pa.array(lens, pa.int32()),
            "source": pa.array(corpus.doc_sources[lo:hi], pa.string()),
        }
    )


def file_shares(files: int) -> np.ndarray:
    """Fixed uneven split of the docs over `files` files: each file holds
    0.8x the previous one's share.  Fixed, so the seed changes only content."""
    w = 0.8 ** np.arange(files)
    return w / w.sum()


def write_tokens(corpus: Corpus, out_dir: str, files: int) -> list[str]:
    """Write the docs as `files` parquet files of uneven size, in doc order;
    file names sort in write order."""
    n_docs = len(corpus.texts)
    bounds = np.round(np.concatenate(([0.0], np.cumsum(file_shares(files)))) * n_docs)
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i, (lo, hi) in enumerate(zip(bounds[:-1].astype(int), bounds[1:].astype(int))):
        p = os.path.join(out_dir, f"part-{i:04d}.parquet")
        pq.write_table(tokens_table(corpus, lo, hi), p, row_group_size=256)
        paths.append(p)
    return paths


@dataclass
class Group:
    """Expected Query_time statistics of one digest row."""

    count: int
    k_sorted: np.ndarray  # sorted Query_time steps

    @property
    def qt_sum(self) -> float:
        return float(self.k_sorted.sum()) / QT_STEPS

    @property
    def qt_min(self) -> float:
        return float(self.k_sorted[0]) / QT_STEPS

    @property
    def qt_max(self) -> float:
        return float(self.k_sorted[-1]) / QT_STEPS


def tally(corpus: Corpus) -> dict[str, Group]:
    """Expected class digest keyed by class_id."""
    order = np.lexsort((corpus.ev_k, corpus.ev_class))
    cls_s, k_s = corpus.ev_class[order], corpus.ev_k[order]
    starts = np.flatnonzero(np.concatenate(([True], cls_s[1:] != cls_s[:-1])))
    ends = np.append(starts[1:], len(cls_s))
    return {
        corpus.class_ids[int(cls_s[a])]: Group(count=int(b - a), k_sorted=k_s[a:b])
        for a, b in zip(starts, ends)
    }


def global_tally(corpus: Corpus) -> tuple[Group, int]:
    """Expected global digest: all events, and the number of distinct classes."""
    return (
        Group(count=corpus.n_events, k_sorted=np.sort(corpus.ev_k)),
        len(np.unique(corpus.ev_class)),
    )
