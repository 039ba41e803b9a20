"""Pipeline facade: docs -> parsed, fingerprinted, metric-promoted events
(the front half of the reference CLI's dataflow, bin/parser-cli.go:43-70).
Digests, enrichment and routing are the operators' own functions
(operators/aggregate.py, operators/enrich.py, operators/route.py).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from mysql_log_parser_spark.functions.fingerprint import with_fingerprint
from mysql_log_parser_spark.operators.parse import parse_slowlog, promote_metrics


@dataclass
class SlowLogPipeline:
    spark: SparkSession
    admin_filter: tuple[str, ...] = ()

    def events(self, docs: DataFrame) -> DataFrame:
        """docs(doc_id, tokens|text, source) -> parsed+fingerprinted events.
        One narrow Arrow pass + a codegen'd regex projection; no shuffle."""
        ev = parse_slowlog(docs, admin_filter=self.admin_filter)
        ev = with_fingerprint(ev)
        return promote_metrics(ev)
