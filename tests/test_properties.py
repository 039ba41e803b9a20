"""Property-based tests (hypothesis) — coverage the reference's golden-only
strategy lacks: invariants over arbitrary inputs, not just the 17 fixtures.

Spark-backed properties batch many generated docs into ONE DataFrame per
example and cap max_examples, so each property costs a handful of Spark jobs
rather than hundreds.
"""

from __future__ import annotations

import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from mysql_log_parser_spark import tokenizer


# -- tokenizer: lossless codec over arbitrary unicode (pure Python, fast) -----

@given(st.text(max_size=2000))
@settings(max_examples=200)
def test_tokenizer_roundtrip(text):
    toks = tokenizer.encode(text)
    assert tokenizer.decode(toks) == text
    assert all(0 <= t < 256 for t in toks)
    assert len(toks) == len(text.encode("utf-8"))


# -- fingerprint/checksum: output invariants over arbitrary SQL-ish text ------

_SQLISH = st.text(
    alphabet=st.sampled_from(
        list("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789")
        + list(" \n\t'\"`,.()*=<>-+_/#;?")
    ),
    min_size=1,
    max_size=120,
)


@given(st.lists(_SQLISH, min_size=1, max_size=30, unique=True))
@settings(max_examples=5, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_fingerprint_checksum_invariants(spark, texts):
    from pyspark.sql import functions as F

    from mysql_log_parser_spark.functions.fingerprint import checksum, fingerprint

    df = spark.createDataFrame([(t,) for t in texts], "q string")
    rows = df.select(
        "q",
        fingerprint(F.col("q")).alias("fp"),
        checksum(fingerprint(F.col("q"))).alias("cs"),
    ).collect()
    by_q = {}
    for r in rows:
        # checksum: upper-cased 16-hex-digit second half of md5
        assert re.fullmatch(r"[0-9A-F]{16}", r.cs), (r.q, r.cs)
        # fingerprint is lowercase with collapsed whitespace (post-FP7/FP12)
        assert "  " not in r.fp and "\n" not in r.fp and "\t" not in r.fp
        assert r.fp == r.fp.lower() or r.fp.startswith("administrator command: ")
        by_q[r.q] = (r.fp, r.cs)
    # determinism: a second evaluation produces identical results
    again = {r.q: (r.fp, r.cs) for r in df.select(
        "q",
        fingerprint(F.col("q")).alias("fp"),
        checksum(fingerprint(F.col("q"))).alias("cs"),
    ).collect()}
    assert again == by_q


# -- parser: never crashes, structural invariants over arbitrary doc text -----

_LINEISH = st.one_of(
    st.just("# Time: 240101 10:00:00"),
    st.just("# User@Host: u[u] @ h []"),
    st.just("# Query_time: 1.5  Lock_time: 0.0  Rows_sent: 1  Rows_examined: 2"),
    st.just("# administrator command: Quit;"),
    st.just("SELECT 1;"),
    st.just("use db;"),
    st.just("SET timestamp=123;"),
    st.text(alphabet=st.characters(blacklist_characters="\n", codec="utf-8"), max_size=60),
)


@given(st.lists(st.lists(_LINEISH, min_size=0, max_size=25), min_size=1, max_size=12))
@settings(max_examples=5, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_parser_structural_invariants(spark, docs_lines):
    from pyspark.sql import functions as F

    from mysql_log_parser_spark.operators.parse import parse_slowlog

    docs = spark.createDataFrame(
        [(f"d{i}", "\n".join(lines) + "\n", "s0") for i, lines in enumerate(docs_lines)],
        "doc_id string, text string, source string",
    )
    ev = parse_slowlog(docs).collect()  # must not raise
    # event_idx is contiguous from 0 within each doc; offsets are monotone
    by_doc: dict = {}
    for r in ev:
        by_doc.setdefault(r.doc_id, []).append(r)
    for rows in by_doc.values():
        rows.sort(key=lambda r: r.event_idx)
        assert [r.event_idx for r in rows] == list(range(len(rows)))
        offs = [r.offset for r in rows]
        assert offs == sorted(offs)


@given(
    minutes=st.lists(st.integers(min_value=0, max_value=59), min_size=3, max_size=25),
    chunk_bytes=st.integers(min_value=50, max_value=2000),
)
@settings(max_examples=5, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_rawlog_split_invariant(spark, tmp_path_factory, minutes, chunk_bytes):
    """For ANY event sequence and ANY chunk size, the byte-range parallel
    scan equals the single-reader parse (split-log contract)."""
    from pyspark.sql import functions as F

    from mysql_log_parser_spark.operators.parse import parse_slowlog
    from mysql_log_parser_spark.sources.rawlog import read_raw_docs, with_file_offset

    parts = []
    for i, mm in enumerate(minutes):
        parts.append(
            f"# Time: 240101 10:{mm:02d}:00\n"
            f"# User@Host: u{i}[u{i}] @ h []\n"
            f"# Query_time: {i}.250000  Lock_time: 0.000000 Rows_sent: 1  Rows_examined: 2\n"
            f"SELECT c FROM t{i} WHERE id={i};\n"
        )
    text = "".join(parts)
    p = tmp_path_factory.mktemp("rawlog") / "log"
    p.write_bytes(text.encode())

    whole = parse_slowlog(
        spark.createDataFrame(
            [("w", text, "")], "doc_id string, text string, source string"
        )
    ).withColumn("file_offset", F.col("offset") - (F.col("offset") != 0).cast("long"))
    chunked = with_file_offset(
        parse_slowlog(read_raw_docs(spark, str(p), chunk_bytes=chunk_bytes, overlap=8192))
    )
    key = lambda df: sorted(
        (r[0], r[1], r[2]) for r in df.select("file_offset", "query", "ts").collect()
    )
    assert key(chunked) == key(whole)


# -- BPE merge kernel: greedy overlap == non-overlapping string replace -------

@given(
    st.lists(st.integers(min_value=97, max_value=99), max_size=40),
    st.integers(min_value=97, max_value=99),
    st.integers(min_value=97, max_value=99),
)
@settings(max_examples=300, deadline=None)  # first call pays numpy lazy import
def test_bpe_merge_one_matches_str_replace(tokens, p1, p2):
    """merge_one must agree with str.replace (the DuckDB oracle's engine)
    on arbitrary sequences over a 3-symbol alphabet — the densest possible
    overlap regime, including p1 == p2 runs like 'aaaa'."""
    from mysql_log_parser_spark.textops.bpe import merge_one

    s = "".join(chr(t) for t in tokens)
    expected = [
        256 if c == "\x01" else ord(c)
        for c in s.replace(chr(p1) + chr(p2), "\x01")
    ]
    got = list(merge_one(tokens, p1, p2, 256))
    assert got == expected


# -- Misra-Gries summary: superset guarantee over arbitrary streams -----------

@given(
    st.lists(st.integers(min_value=0, max_value=9), min_size=1, max_size=300),
    st.integers(min_value=2, max_value=8),
)
@settings(max_examples=200, deadline=None)  # first call pays pandas lazy paths
def test_mg_merge_superset_guarantee(stream, k):
    """After any sequence of MG merges, every token with true frequency
    > N/(k+1) must survive in the summary (the guarantee heavy_hitters'
    candidate generation rests on), and the summary never exceeds k
    entries."""
    import numpy as np
    import pandas as pd

    from mysql_log_parser_spark.textops.heavyhitters import _mg_merge

    acc = None
    # feed in chunks of 7 to exercise the merge path, not one big batch
    for i in range(0, len(stream), 7):
        chunk = np.asarray(stream[i : i + 7])
        u, c = np.unique(chunk, return_counts=True)
        acc = _mg_merge(acc, pd.Series(c, index=u), k)
    assert len(acc) <= k
    n = len(stream)
    from collections import Counter

    for tok, cnt in Counter(stream).items():
        if cnt > n / (k + 1):
            assert tok in acc.index, (tok, cnt, n, k)
