"""Winnowing fingerprints (textops/winnow.py): equality against an
independent pure-python reference for both gram hashes, the paper's local
guarantee (shared substring >= k+w-1 chars -> shared fingerprint),
density, the POSCAP guard, and plan shape."""

import hashlib
import os

import pytest

from pyspark.sql import functions as F

from mysql_log_parser_spark.textops.winnow import (
    K,
    POSCAP,
    W,
    gram_hashes_md5,
    winnow_fingerprints,
)

SF = "/root/testdata/sf0.01"


def _ref_winnow(text: str, k: int = K, w: int = W) -> set:
    """Independent reference: literal transcription of Schleimer et al.'s
    definition — per window, pick min hash with rightmost tie-break."""
    n = len(text)
    if n - k + 1 < w:
        return set()
    hs = [
        int(hashlib.md5(text[i:i + k].encode()).hexdigest()[:8], 16)
        for i in range(n - k + 1)
    ]
    out = set()
    for s in range(len(hs) - w + 1):
        best, best_pos = None, None
        for j in range(s, s + w):
            if best is None or hs[j] < best or (hs[j] == best and j > best_pos):
                best, best_pos = hs[j], j
        out.add((best_pos + 1, best))  # 1-indexed positions
    return out


@pytest.fixture(scope="module")
def docs(spark):
    texts = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "aaaaaaaaaaaaaaaa"),          # all-equal hashes: tie-break path
        (3, "abcdefgh"),                  # exactly k + w - 1 chars: 1 window
        (4, "short"),                     # < k + w - 1: no fingerprints
        (5, "the quick brown fox jumps over the lazy dog EXTRA TAIL HERE"),
    ]
    return spark.createDataFrame(texts, ["doc_id", "text"])


def test_matches_reference(spark, docs):
    want = {
        (did, fp, pos)
        for did, txt in docs.collect()
        for pos, fp in _ref_winnow(txt)
    }
    got = {
        (r["doc_id"], r["fp"], r["pos"])
        for r in winnow_fingerprints(docs, hash_fn=gram_hashes_md5).collect()
    }
    assert got == want


def test_local_guarantee_shared_substring(spark, docs):
    """Docs 1 and 5 share a long prefix -> winnowing MUST surface shared
    fingerprints (the property simhash/minhash don't give per-substring)."""
    fps = winnow_fingerprints(docs, hash_fn=gram_hashes_md5).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    shared = by_doc[1] & by_doc[5]
    assert len(shared) >= len(by_doc[1]) * 0.8  # tail only perturbs the end
    assert 4 not in by_doc  # too short
    assert len(by_doc[3]) == 1  # single window -> single fingerprint


def test_matches_reference_on_corpus(spark):
    """The md5-hash kernel equals the pure-python reference replay on
    every doc of the sf0.01 corpus, and emits each row once."""
    if not os.path.isdir(SF):
        pytest.skip("driver testdata not available")
    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    want = {
        (did, fp, pos)
        for did, txt in d.collect()
        for pos, fp in _ref_winnow(txt)
    }
    rows = winnow_fingerprints(d, hash_fn=gram_hashes_md5).collect()
    got = {tuple(r) for r in rows}
    assert got == want and len(got) > 0
    assert len(rows) == len(got)


def test_density(spark):
    """Expected selected density is 2/(w+1) of k-gram positions (paper §5);
    pin a generous band so regressions in window handling get caught."""
    if not os.path.isdir(SF):
        pytest.skip("driver testdata not available")
    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    row = (
        winnow_fingerprints(d, hash_fn=gram_hashes_md5)
        .agg(F.count(F.lit(1)).alias("n_fp"))
        .crossJoin(d.agg(F.sum(F.length("text") - K + 1).alias("n_pos")))
        .first()
    )
    density = row["n_fp"] / row["n_pos"]
    assert 0.3 < density < 0.5  # 2/(4+1) = 0.4


def test_poscap_guard(spark):
    big = spark.createDataFrame([(1, "x" * POSCAP)], ["doc_id", "text"])
    with pytest.raises(Exception, match="POSCAP"):
        winnow_fingerprints(big, hash_fn=gram_hashes_md5).collect()


def test_selection_parity_injected_hashes():
    """The selection every gram hash feeds (_select_fingerprints): with
    INJECTED hash arrays — including deliberate all-equal and
    repeated-min ties — it must pick exactly the positions the paper's
    literal definition picks (min hash, RIGHTMOST position on ties,
    distinct), each once."""
    import numpy as np

    from mysql_log_parser_spark.textops.winnow import _select_fingerprints

    cases = [
        np.array([5, 3, 3, 9, 1, 1, 1, 7], dtype=np.int64),
        np.zeros(10, dtype=np.int64),                       # all ties
        np.arange(10, 0, -1, dtype=np.int64),               # strictly falling
        np.arange(1, 11, dtype=np.int64),                   # strictly rising
    ]
    for hs in cases:
        for w in (2, 3, 4):
            want = set()
            for s in range(len(hs) - w + 1):
                best, best_pos = None, None
                for j in range(s, s + w):
                    if best is None or hs[j] < best or (hs[j] == best and j > best_pos):
                        best, best_pos = int(hs[j]), j
                want.add((best, best_pos + 1))
            fp, pos = _select_fingerprints(hs, w)
            got = set(zip(fp.tolist(), pos.tolist()))
            assert got == want, (hs.tolist(), w)
            assert len(fp) == len(got)  # distinct rows, no run missed


def _ref_winnow_fast(text: str, k: int = K, w: int = W) -> set:
    """Pure-python replay with the FAST gram hash: same rolling polynomial hash
    recomputed per position with Python big ints (mod 2^64), then the
    paper's literal selection — an implementation-independent check that
    the vectorized numpy arithmetic (wraparound, finalizer, truncation)
    computes the hash it claims to."""
    from mysql_log_parser_spark.textops.winnow import _FAST_BASE, _FAST_MIX

    n = len(text)
    npos = n - k + 1
    if npos < w:
        return set()
    M = 1 << 64
    hs = []
    for i in range(npos):
        h = 0
        for ch in text[i:i + k]:
            h = (h * _FAST_BASE + ord(ch)) % M
        hs.append(((h * _FAST_MIX) % M) >> 32)
    out = set()
    for s in range(npos - w + 1):
        best, best_pos = None, None
        for j in range(s, s + w):
            if best is None or hs[j] < best or (hs[j] == best and j > best_pos):
                best, best_pos = hs[j], j
        out.add((best_pos + 1, best))
    return out


def test_fast_kernel_matches_python_replay(spark):
    texts = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "aaaaaaaaaaaaaaaa"),
        (3, "abcdefgh"),
        (4, "short"),
        (5, "unicode éèê accents and 中文 chars here"),
    ]
    docs = spark.createDataFrame(texts, ["doc_id", "text"])
    want = {
        (did, fp, pos)
        for did, txt in texts
        for pos, fp in _ref_winnow_fast(txt)
    }
    rows = winnow_fingerprints(docs).collect()
    got = {(r["doc_id"], r["fp"], r["pos"]) for r in rows}
    assert got == want
    # the batched run-dedup must emit DISTINCT rows
    assert len(rows) == len(got)


def test_fast_kernel_guarantee_and_density(spark):
    """The fast hash keeps the paper's properties: shared >= k+w-1 char
    substrings share a fingerprint, and density stays ~2/(w+1)."""
    if not os.path.isdir(SF):
        pytest.skip("driver testdata not available")
    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    mut = d.where(F.col("doc_id") % 5 == 0).select(
        (-(F.col("doc_id") + 1)).alias("doc_id"),
        F.concat("text", F.lit(" zzz tail")).alias("text"),
    )
    corpus = d.unionByName(mut)
    fps = winnow_fingerprints(corpus)
    row = (
        fps.agg(F.count(F.lit(1)).alias("n_fp"))
        .crossJoin(corpus.agg(F.sum(F.length("text") - K + 1).alias("n_pos")))
        .first()
    )
    assert 0.3 < row["n_fp"] / row["n_pos"] < 0.5  # 2/(w+1) = 0.4
    pair = (
        fps.where(F.col("doc_id") >= 0)
        .join(
            fps.where(F.col("doc_id") < 0).select(
                (-F.col("doc_id") - 1).alias("doc_id"), F.col("fp").alias("fp2")
            ),
            "doc_id",
        )
        .where(F.col("fp") == F.col("fp2"))
        .count()
    )
    assert pair > 0  # every mutated copy shares fingerprints with its source


def test_fast_kernel_poscap_guard(spark):
    big = spark.createDataFrame([(1, "x" * POSCAP)], ["doc_id", "text"])
    with pytest.raises(Exception, match="POSCAP"):
        winnow_fingerprints(big).collect()


def test_plan_shape(spark, docs):
    for fps in (winnow_fingerprints(docs), winnow_fingerprints(docs, hash_fn=gram_hashes_md5)):
        plan = fps._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" in plan and "BatchEvalPython" not in plan
        # the kernel emits final rows with NO exchange at all
        assert "Exchange" not in plan
