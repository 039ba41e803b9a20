"""Distributed BPE merge step over token arrays.

One iteration of byte-pair-encoding tokenizer training, the tokens-payload
twin of the k-means step (entry_queries_ext.q_kmeans_step): find the
highest-frequency adjacent token pair across the corpus, then rewrite every
sequence with the pair collapsed to a new token id.

Scale shape:
- pair selection is the bigram top-K plan (single Catalyst ``transform``
  pairing -> partial agg -> TakeOrderedAndProject) — only the ONE winning
  pair crosses the driver, like k-means' O(k*d) centroid state;
- the merge itself is an Arrow-batched mapInPandas kernel: per-sequence
  numpy match + greedy left-to-right overlap resolution (the semantics of a
  non-overlapping global string replace, which is what every BPE trainer
  implements), no shuffle at all — the rewrite is embarrassingly parallel.

The reference has no tokenizer surface; this is a north-star operator for
the pre-tokenized-training-sequence table the north_rule targets.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class BigramsExhausted(Exception):
    """No sequence in the corpus has an adjacent pair left to merge.  Its
    own type, so a trainer can stop on exhaustion without also swallowing
    engine errors (PySparkRuntimeError is a RuntimeError)."""


def top_bigram(tokens_df: DataFrame) -> tuple[int, int, int]:
    """Highest-frequency adjacent pair across all ``tokens`` arrays,
    ties broken by ascending (lead, next).  Returns (lead, next, count);
    raises BigramsExhausted if no sequence has length >= 2."""
    pairs = tokens_df.where(F.size("tokens") >= 2).select(
        F.explode(
            F.expr(
                "transform(slice(tokens, 1, size(tokens) - 1),"
                " (t, i) -> struct(t AS lead, element_at(tokens, i + 2) AS nxt))"
            )
        ).alias("p")
    )
    best = (
        pairs.groupBy("p.lead", "p.nxt")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("lead"), F.asc("nxt"))
        .limit(1)
        .collect()
    )
    if not best:
        raise BigramsExhausted("top_bigram: no sequence of length >= 2 in corpus")
    r = best[0]
    return int(r["lead"]), int(r["nxt"]), int(r["n"])


def merge_one(a, p1: int, p2: int, nid: int):
    """Greedy left-to-right merge of one sequence (numpy int array in/out).
    Module-level so the overlap semantics are property-testable without a
    Spark session (tests/test_properties.py vs str.replace)."""
    import numpy as np

    a = np.asarray(a, dtype=np.int64)
    n = len(a)
    if n < 2:
        return a.astype(np.int32)
    cand = np.nonzero((a[:-1] == p1) & (a[1:] == p2))[0]
    keep = []
    last = -2
    for i in cand:
        if i >= last + 2:
            keep.append(i)
            last = i
    if not keep:
        return a.astype(np.int32)
    parts = []
    prev = 0
    for i in keep:
        parts.append(a[prev:i])
        parts.append(np.array([nid], dtype=np.int64))
        prev = i + 2
    parts.append(a[prev:])
    return np.concatenate(parts).astype(np.int32)


def apply_merge(
    tokens_df: DataFrame, pair: tuple[int, int], new_id: int
) -> DataFrame:
    """Rewrite every tokens array with occurrences of `pair` collapsed to
    `new_id`, greedy left-to-right (overlapping matches resolve exactly like
    a non-overlapping global string replace: 'aaaa' + (a,a) -> [X, X]).

    Input needs (doc_id, tokens); output is
    (doc_id long, tokens_merged array<int>, n_before long, n_after long).
    Arrow-batched; the only Python loop is over MATCH POSITIONS of one
    sequence, not over tokens."""
    p1, p2 = int(pair[0]), int(pair[1])
    nid = int(new_id)

    def merge(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_tokens, out_before, out_after = [], [], []
            for a in pdf["tokens"]:
                m = merge_one(a, p1, p2, nid)
                out_tokens.append(m)
                out_before.append(len(a))
                out_after.append(len(m))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "tokens_merged": out_tokens,
                    "n_before": pd.Series(out_before, dtype="int64"),
                    "n_after": pd.Series(out_after, dtype="int64"),
                }
            )

    return tokens_df.select("doc_id", "tokens").mapInPandas(
        merge,
        "doc_id long, tokens_merged array<int>, n_before long, n_after long",
    )


def bpe_merge_step(tokens_df: DataFrame, new_id: int) -> DataFrame:
    """One full BPE training iteration: select the top pair, apply it.
    Returns the apply_merge output; the chosen pair is recoverable as the
    unique id `new_id` in the rewritten sequences."""
    lead, nxt, _n = top_bigram(tokens_df)
    return apply_merge(tokens_df, (lead, nxt), new_id)


def bpe_train_n(
    tokens_df: DataFrame,
    n_merges: int,
    first_id: int = 256,
) -> tuple[DataFrame, list[dict]]:
    """N chained BPE training rounds — the operator a real tokenizer-
    training pipeline ships (the bpe_train8 gate replays all 8 rounds).

    Each round: distributed top-1 pair selection (partial agg ->
    TakeOrderedAndProject, ONE row crosses the driver) then the Arrow-
    batched merge rewrite.  The corpus is persisted between rounds so
    round i+1's selection and rewrite share round i's materialization
    instead of replaying the whole merge chain; the grandparent
    materialization is unpersisted as soon as its child is materialized,
    so executor storage holds at most two corpus generations regardless of
    N.  A full corpus pass per merge is inherent to BPE (every trainer
    does it); per-round wall time is returned so callers can assert the
    ~linear cost profile.

    Returns (merged_df, rounds): merged_df has (doc_id, tokens) with merge
    i collapsed to id first_id + i; rounds[i] records
    {lead, next, new_id, count, seconds}.  merged_df is returned STILL
    PERSISTED (so consumers don't replay the merge chain) — callers own
    releasing it via merged_df.unpersist() when done; every earlier
    generation is already released here.

    Training STOPS EARLY (len(rounds) < n_merges) when the corpus runs
    dry of adjacent pairs (top_bigram raises BigramsExhausted) — every
    real trainer's exhaustion rule, and the case a small hash sample
    (bpe_train_sampled) can actually hit; a raise here would throw away
    every merge already learned.  Any other error, engine errors included,
    propagates after the persisted generations are released (no storage
    leak from a mid-training failure)."""
    import time

    cur = tokens_df.select("doc_id", "tokens")
    rounds: list[dict] = []
    persisted: list[DataFrame] = []
    try:
        for i in range(int(n_merges)):
            t0 = time.monotonic()
            try:
                lead, nxt, cnt = top_bigram(cur)
            except BigramsExhausted:
                break  # no sequence with >= 2 tokens left: vocab exhausted
            cur = apply_merge(cur, (lead, nxt), first_id + i).select(
                "doc_id", F.col("tokens_merged").alias("tokens")
            ).persist()
            persisted.append(cur)
            cur.count()  # materialize now so the timing covers the rewrite
            # and the parent can be released next round
            if len(persisted) >= 3:
                persisted[-3].unpersist()
            rounds.append(
                {
                    "lead": lead,
                    "next": nxt,
                    "new_id": first_id + i,
                    "count": cnt,
                    "seconds": time.monotonic() - t0,
                }
            )
    except BaseException:
        for p in persisted:
            p.unpersist()
        raise
    # the final generation is already materialized: its parent is pure
    # leak from here on (unreachable through the returned plan)
    if len(persisted) >= 2:
        persisted[-2].unpersist()
    return cur, rounds


def bpe_train_sampled(
    tokens_df: DataFrame,
    n_merges: int,
    sample_pred,
    first_id: int = 256,
) -> tuple[DataFrame, list[dict]]:
    """Hash-sampled BPE training — the production-vocab path: TRAIN the
    ranked merge table on a deterministic sample of the corpus (boolean
    Column `sample_pred`, e.g. a hash-of-doc_id band), then APPLY it
    corpus-wide in ONE shuffle-free Arrow pass (`apply_merges`).

    Exact `bpe_train_n` costs one full corpus pass PER merge — a 30k-merge
    production vocab means 30k corpus passes, which is why every real
    trainer (SentencePiece, HF tokenizers, GPT-2's) trains on a bounded
    sample.  Here pass cost drops from ``n_merges * |corpus|`` to
    ``n_merges * |sample| + |corpus|``: at a 1% hash sample a 30k-merge
    vocab costs ~300 corpus-equivalents of training reads plus one
    corpus-wide tokenize, vs 30k corpus passes exact — a ~100x pass-count
    reduction, tunable by the sample rate.

    Determinism: the merge rewrite is per-document, so training on the
    sample is byte-identical to restricting the full chained trainer to
    the sampled docs — which is exactly what the DuckDB oracle replays
    (bigram argmax over sampled docs only, replace applied corpus-wide).

    Returns (tokenized_df, rounds): tokenized_df is the apply_merges
    output over the FULL corpus (doc_id, tokens_merged, n_before,
    n_after); rounds is the trainer's merge table metadata.  Nothing is
    left persisted.  A sample that runs dry (or selects nothing) yields
    len(rounds) < n_merges — the learned prefix of the merge table is
    still applied corpus-wide (empty sample -> identity tokenization),
    matching bpe_train_n's exhaustion rule."""
    sample = tokens_df.where(sample_pred).select("doc_id", "tokens")
    merged_sample, rounds = bpe_train_n(sample, n_merges, first_id)
    merged_sample.unpersist()
    merges = [(r["lead"], r["next"], r["new_id"]) for r in rounds]
    return apply_merges(tokens_df, merges), rounds


def apply_merges(
    tokens_df: DataFrame, merges: list[tuple[int, int, int]]
) -> DataFrame:
    """Tokenize-with-trained-vocab: apply a FULL ranked merge table
    [(lead, next, new_id), ...] in ONE Arrow pass — the inference-side twin
    of bpe_train_n, and the operator that actually runs over the 10^12-row
    corpus once training is done.

    Each sequence applies the merges independently in rank order (merge_one
    per rank, the same greedy non-overlapping kernel the trainer uses), so
    the pass is shuffle-free and embarrassingly parallel: no corpus pass per
    merge, no driver state beyond the merge table itself, cost
    O(len(merges) * n_tok) per sequence in numpy.  Later ranks may reference
    ids minted by earlier ranks (that is what makes it BPE).

    Output: (doc_id long, tokens_merged array<int>, n_before long,
    n_after long)."""
    ms = [(int(a), int(b), int(n)) for a, b, n in merges]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_tokens, out_before, out_after = [], [], []
            for a in pdf["tokens"]:
                m = a
                for p1, p2, nid in ms:
                    m = merge_one(m, p1, p2, nid)
                out_tokens.append(m)
                out_before.append(len(a))
                out_after.append(len(m))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "tokens_merged": out_tokens,
                    "n_before": pd.Series(out_before, dtype="int64"),
                    "n_after": pd.Series(out_after, dtype="int64"),
                }
            )

    return tokens_df.select("doc_id", "tokens").mapInPandas(
        run,
        "doc_id long, tokens_merged array<int>, n_before long, n_after long",
    )
