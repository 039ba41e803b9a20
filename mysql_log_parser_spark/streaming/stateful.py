"""Custom stateful streaming operator: per-source Misra-Gries heavy hitters.

A built-in streaming aggregate covers any state Spark can merge itself (the
running per-class digest is aggregate.class_digest over the event stream in
update mode).  A Misra-Gries summary is not one of those: its merge step
(textops/heavyhitters._mg_merge) is Python, so it runs as an
``applyInPandasWithState`` operator with explicit keyed state, merged per
micro-batch from Arrow-vectorized pandas slices and emitted in `update` mode
after every batch.  State is O(k) per source and survives restart via the
streaming checkpoint.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

MG_OUTPUT_SCHEMA = "source string, n_seen long, tokens array<int>, weights array<long>"
MG_STATE_SCHEMA = "n_seen long, tokens array<int>, weights array<long>"


def running_source_token_mg(tokens_stream: DataFrame, k_counters: int) -> DataFrame:
    """Streaming per-source Misra-Gries summary over `tokens` arrays —
    bounded O(k) keyed state per source, merged per micro-batch with the
    SAME mergeable step the batch operator uses
    (textops/heavyhitters._mg_merge), emitted in update mode with a
    monotone `n_seen` so the final summary per source is selectable with
    max_by.

    The summary is a certified candidate SUPERSET for heavy tokens (every
    token with per-source frequency >= N_src/(k+1) survives any merge
    order); an exact re-count downstream turns it into an exact top-K —
    the streaming half of the two-pass heavy-hitters design."""
    k = int(k_counters)

    def _upd(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        from mysql_log_parser_spark.textops.heavyhitters import _mg_merge

        if state.exists:
            n_seen, toks, wts = state.get
            acc = (
                pd.Series(
                    np.asarray(wts, dtype=np.int64),
                    index=np.asarray(toks, dtype=np.int64),
                )
                if len(toks)
                else None
            )
        else:
            n_seen, acc = 0, None
        for pdf in pdfs:
            n_seen += int(len(pdf))
            arrs = [np.asarray(a, dtype=np.int64) for a in pdf["tokens"]]
            arrs = [a for a in arrs if len(a)]
            if not arrs:
                continue
            u, c = np.unique(np.concatenate(arrs), return_counts=True)
            acc = _mg_merge(acc, pd.Series(c, index=u), k)
        toks = [] if acc is None else [int(t) for t in acc.index]
        wts = [] if acc is None else [int(w) for w in acc.values]
        state.update((n_seen, toks, wts))
        yield pd.DataFrame(
            {
                "source": [key[0]],
                "n_seen": [n_seen],
                "tokens": [toks],
                "weights": [wts],
            }
        )

    return (
        tokens_stream.select("source", "tokens")
        .groupBy("source")
        .applyInPandasWithState(
            _upd,
            MG_OUTPUT_SCHEMA,
            MG_STATE_SCHEMA,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )
