"""Local mirror of the driver's correctness gate: run each __spark_entry__
query on sf0.01 via Spark AND its DuckDB oracle, compare row counts, columns,
and (order-insensitively) all values."""

import os

import duckdb
import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
]

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="driver testdata not available"
)


def _duck(sql: str) -> pd.DataFrame:
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con.execute(sql).df()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64").round(9)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _dtype_kind(s: pd.Series) -> str:
    """Canonical dtype kind: the driver's value-hash is type-sensitive, so a
    DuckDB HUGEINT (surfacing as float64/object) vs a Spark BIGINT must FAIL
    here too, not be silently coerced.  i/u fold together; everything else
    keeps its numpy kind."""
    k = s.dtype.kind
    return "i" if k in ("i", "u") else k


@pytest.mark.parametrize("name", list(entry_mod.queries().keys()))
def test_query_vs_oracle(spark, name):
    q = entry_mod.queries()[name]
    sql = entry_mod.oracle_sql()[name]
    got_raw = q(spark, SF_DIR).toPandas()
    want_raw = _duck(sql)
    for c in sorted(got_raw.columns):
        if c in want_raw.columns:
            gk, wk = _dtype_kind(got_raw[c]), _dtype_kind(want_raw[c])
            assert gk == wk, (
                f"{name}.{c}: dtype kind mismatch spark={got_raw[c].dtype} "
                f"vs oracle={want_raw[c].dtype} — the driver's type-sensitive "
                f"hash will flag this (add a CAST in the oracle SQL)"
            )
    got = _normalize(got_raw)
    want = _normalize(want_raw)
    assert list(got.columns) == list(want.columns), (
        f"{name} columns: {list(got.columns)} != {list(want.columns)}"
    )
    assert len(got) == len(want), f"{name} rows: {len(got)} != {len(want)}"
    for c in got.columns:
        g, w = got[c].to_numpy(), want[c].to_numpy()
        if g.dtype.kind == "f":
            assert np.allclose(g, w, rtol=0, atol=0, equal_nan=True), (
                f"{name}.{c}: max abs diff {np.max(np.abs(g - w))}"
            )
        else:
            bad = g != w
            assert not bad.any(), f"{name}.{c}: first mismatch {g[bad][:3]} vs {w[bad][:3]}"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.limit(5).collect()
    assert df.count() > 0
    assert "class_id" in df.columns and "total_queries" in df.columns
    assert rows[0].total_queries >= 1


def test_verify_first_names_are_entries():
    """_all_queries skips _VERIFY_FIRST names that are not entries, so a
    stale name (a removed gate) would linger unnoticed without this check.
    The list also fits the 50-entry per-round cap with no name twice, so
    every name in it gets a CORRECTNESS row."""
    stale = [n for n in entry_mod._VERIFY_FIRST if n not in entry_mod.queries()]
    assert not stale, stale
    assert len(set(entry_mod._VERIFY_FIRST)) == len(entry_mod._VERIFY_FIRST) <= 50
