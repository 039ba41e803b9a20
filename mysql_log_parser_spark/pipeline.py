"""docs -> parsed, fingerprinted, metric-promoted events: the front half of
the reference CLI's dataflow (bin/parser-cli.go:43-70).  Every source
(tokens table, raw-log byte ranges, checkpoint chunks, streams, gate
corpora) yields docs and reaches events through `events`.  Digests,
enrichment and routing are the operators' own functions
(operators/aggregate.py, operators/enrich.py, operators/route.py).
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame

from mysql_log_parser_spark.functions.fingerprint import with_fingerprint
from mysql_log_parser_spark.operators.parse import parse_slowlog, promote_metrics


def events(docs: DataFrame, admin_filter: Iterable[str] = ()) -> DataFrame:
    """docs(doc_id, tokens|text, source) -> parsed+fingerprinted events.
    One narrow Arrow pass + a codegen'd regex projection; no shuffle."""
    return promote_metrics(with_fingerprint(parse_slowlog(docs, admin_filter)))
