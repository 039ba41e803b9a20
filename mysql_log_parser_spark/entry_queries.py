"""Driver-contract queries: each pairs a Spark pipeline run with an
independent DuckDB oracle over the same source tables.

The log pipeline's input is a tokens table; the driver's test data is a
TPC-H-ish star schema.  Bridge: render a deterministic slow-log corpus FROM
the `events` table (pure SQL-expressible rendering), push it through the
*real* pipeline (detokenize -> mapInPandas parse -> fingerprint -> aggregate),
and have the oracle compute the expected results directly from the source
columns — an independent derivation that never goes through the parser.

Numeric design for order-independent exactness: Query_time is quantized to
k/64 (round(value*64)/64), which is exactly representable in float32 and
float64 and prints exactly under %.6f — so parse (float32), accumulate
(float64) and the oracle's double arithmetic agree bit-for-bit regardless of
aggregation order.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, IntegerType

from mysql_log_parser_spark.functions.fingerprint import checksum, fingerprint
from mysql_log_parser_spark.operators.aggregate import class_digest, global_digest
from mysql_log_parser_spark.operators.enrich import enrich_events
from mysql_log_parser_spark.pipeline import events

EVENTS_PER_DOC = 20


# -- corpus rendering ---------------------------------------------------------

def _event_text() -> F.Column:
    qt = F.round(F.col("value") * 64) / 64
    rs = F.col("user_id") % 100
    rex = F.col("event_id") % 1000
    u = F.col("user_id") % 8
    h = F.col("user_id") % 4
    return F.concat(
        F.lit("# Time: 240101 10:00:00\n"),
        F.format_string("# User@Host: u%d[u%d] @ h%d []\n", u, u, h),
        F.format_string(
            "# Query_time: %.6f  Lock_time: 0.000000 Rows_sent: %d  Rows_examined: %d\n",
            qt, rs, rex,
        ),
        F.format_string("SELECT c FROM t_%s WHERE id=%d;\n", F.col("event_type"), F.col("event_id")),
    )


@pandas_udf(ArrayType(IntegerType()))
def encode_tokens(texts: pd.Series) -> pd.Series:
    """Vectorized text -> token-array encoder (input-table contract)."""
    return texts.map(
        lambda t: np.frombuffer(t.encode("utf-8"), dtype=np.uint8).astype(np.int32)
    )


def render_docs(
    spark: SparkSession, sf_dir: str, event_text: F.Column, prefix: str
) -> DataFrame:
    """events.parquet -> deterministic docs (doc_id, text, source): every
    EVENTS_PER_DOC consecutive event ids, each rendered by `event_text`,
    form doc `prefix`<n> in event-id order; doc n goes to source s<n % 4>."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    per = ev.select(
        F.floor(F.col("event_id") / EVENTS_PER_DOC).cast("long").alias("dnum"),
        F.col("event_id"),
        event_text.alias("txt"),
    )
    return per.groupBy("dnum").agg(
        F.concat(F.lit(prefix), F.col("dnum").cast("string")).alias("doc_id"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("event_id", "txt"))), lambda x: x["txt"]
            ),
            "",
        ).alias("text"),
        F.concat(F.lit("s"), (F.col("dnum") % 4).cast("string")).alias("source"),
    ).drop("dnum")


def docs_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return render_docs(spark, sf_dir, _event_text(), "d")


def parsed_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real pipeline over the rendered corpus."""
    return events(docs_from_events(spark, sf_dir))


_ORACLE_EVENTS_CTE = f"""
WITH e AS (
  SELECT 'd' || CAST(event_id // {EVENTS_PER_DOC} AS VARCHAR) AS doc_id,
         's' || CAST((event_id // {EVENTS_PER_DOC}) % 4 AS VARCHAR) AS source,
         CAST(event_id % {EVENTS_PER_DOC} AS BIGINT) AS event_idx,
         'u' || CAST(user_id % 8 AS VARCHAR) AS usr,
         'h' || CAST(user_id % 4 AS VARCHAR) AS host,
         CAST(round(value*64)/64 AS DOUBLE) AS qt,
         CAST(user_id % 100 AS BIGINT) AS rows_sent,
         CAST(event_id % 1000 AS BIGINT) AS rows_examined,
         'select c from t_' || event_type || ' where id=?' AS fingerprint,
         'SELECT c FROM t_' || event_type || ' WHERE id=' || CAST(event_id AS VARCHAR) AS query,
         event_id
  FROM events
)
"""


# -- queries ------------------------------------------------------------------

def _qt(stat: str, alias: str | None = None) -> F.Column:
    """A digest's query_time_<stat> column as the gates' double qt_<stat>."""
    return F.col(f"query_time_{stat}").cast("double").alias(alias or f"qt_{stat}")


def q_parse_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = parsed_events(spark, sf_dir)
    return ev.select(
        "doc_id",
        F.col("event_idx").cast("long").alias("event_idx"),
        F.col("source"),
        F.col("user").alias("usr"),
        "host",
        "query",
        F.col("query_time").cast("double").alias("qt"),
        F.col("rows_sent").alias("rows_sent"),
        F.col("rows_examined").alias("rows_examined"),
    )


O_PARSE_EVENTS = (
    _ORACLE_EVENTS_CTE
    + "SELECT doc_id, event_idx, source, usr, host, query, qt, rows_sent, rows_examined FROM e"
)


def q_class_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = class_digest(parsed_events(spark, sf_dir), mode="exact")
    return d.select(
        "class_id",
        "fingerprint",
        "total_queries",
        *[_qt(s) for s in ("sum", "min", "max", "avg")],
        _qt("pct95", "qt_p95"),
        _qt("med"),
        F.col("rows_sent_sum").alias("rs_sum"),
        F.col("rows_examined_sum").alias("rex_sum"),
        F.col("rows_examined_avg").alias("rex_avg"),
    )


O_CLASS_AGG = _ORACLE_EVENTS_CTE + """
SELECT upper(substr(md5(fingerprint), 17, 16)) AS class_id,
       fingerprint,
       count(*) AS total_queries,
       sum(qt) AS qt_sum,
       min(qt) AS qt_min,
       max(qt) AS qt_max,
       sum(qt)/count(*) AS qt_avg,
       list_sort(list(qt))[CAST(95*count(*)//100 AS INT)+1] AS qt_p95,
       list_sort(list(qt))[CAST(50*count(*)//100 AS INT)+1] AS qt_med,
       CAST(sum(rows_sent) AS BIGINT) AS rs_sum,
       CAST(sum(rows_examined) AS BIGINT) AS rex_sum,
       CAST(floor(sum(rows_examined)/count(*)) AS BIGINT) AS rex_avg
FROM e GROUP BY fingerprint
"""


def q_global_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = global_digest(parsed_events(spark, sf_dir), mode="exact")
    return d.select(
        "total_queries",
        "unique_queries",
        *[_qt(s) for s in ("sum", "min", "max")],
        _qt("pct95", "qt_p95"),
        F.col("rows_sent_sum").alias("rs_sum"),
    )


O_GLOBAL_AGG = _ORACLE_EVENTS_CTE + """
SELECT count(*) AS total_queries,
       count(DISTINCT fingerprint) AS unique_queries,
       sum(qt) AS qt_sum,
       min(qt) AS qt_min,
       max(qt) AS qt_max,
       list_sort(list(qt))[CAST(95*count(*)//100 AS INT)+1] AS qt_p95,
       CAST(sum(rows_sent) AS BIGINT) AS rs_sum
FROM e
"""


def q_route_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fan-out parity surface: the events routed to per-source sinks
    (route_partitioned), then per-sink routed-row and distinct-class counts
    over what was written (sink_counts)."""
    import atexit
    import shutil
    import tempfile

    from mysql_log_parser_spark.operators.route import route_partitioned, sink_counts

    d = tempfile.mkdtemp(prefix="mlp_routed_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    route_partitioned(parsed_events(spark, sf_dir), d)
    return sink_counts(spark, d)


O_ROUTE_COUNTS = _ORACLE_EVENTS_CTE + """
SELECT source,
       count(*) AS routed_rows,
       count(DISTINCT fingerprint) AS distinct_classes,
       sum(qt) AS qt_sum
FROM e GROUP BY source
"""


def q_enrich_team_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-join enrichment (operators/enrich.py): users dim derived
    deterministically, then per-team totals over the enriched events."""
    dim = (
        spark.range(8)
        .select(
            F.concat(F.lit("u"), F.col("id").cast("string")).alias("user"),
            F.concat(F.lit("team"), (F.col("id") % 3).cast("string")).alias("team"),
        )
    )
    return (
        enrich_events(parsed_events(spark, sf_dir), dim_user=dim)
        .groupBy("team")
        .agg(
            F.count(F.lit(1)).alias("events"),
            F.sum(F.col("query_time").cast("double")).alias("qt_sum"),
            F.countDistinct("class_id").alias("distinct_classes"),
        )
    )


O_ENRICH_TEAM_AGG = _ORACLE_EVENTS_CTE + """
SELECT 'team' || CAST((CAST(substr(usr, 2) AS BIGINT)) % 3 AS VARCHAR) AS team,
       count(*) AS events,
       sum(qt) AS qt_sum,
       count(DISTINCT fingerprint) AS distinct_classes
FROM e GROUP BY 1
"""


def q_fingerprint_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint + checksum conformance over SQL rendered from `orders`."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    k = F.col("o_orderkey")
    txt = (
        F.when(k % 4 == 0, F.format_string(
            "SELECT * FROM ord WHERE o_key = %d AND status='%s'", k, F.col("o_orderstatus")))
        .when(k % 4 == 1, F.format_string(
            "INSERT INTO ord (a, b, c) VALUES (%d, '%s', 3.5)", k, F.col("o_orderpriority")))
        .when(k % 4 == 2, F.format_string(
            "select name from cust where id in (%d, %d, %d) order by name asc limit 10",
            k, k + 1, k + 2))
        .otherwise(F.format_string("use db%d", k % 10))
    )
    df = o.select(k.alias("o_orderkey"), txt.alias("q"))
    return df.select(
        "o_orderkey",
        fingerprint(F.col("q")).alias("fingerprint"),
        checksum(fingerprint(F.col("q"))).alias("class_id"),
    )


O_FINGERPRINT_CHECKSUM = """
WITH f AS (
  SELECT o_orderkey,
         CASE CAST(o_orderkey % 4 AS INT)
           WHEN 0 THEN 'select * from ord where o_key = ? and status=?'
           WHEN 1 THEN 'insert into ord (a, b, c) values(?+)'
           WHEN 2 THEN 'select name from cust where id in(?+) order by name limit ?'
           ELSE 'use ?'
         END AS fingerprint
  FROM orders
)
SELECT o_orderkey, fingerprint, upper(substr(md5(fingerprint), 17, 16)) AS class_id FROM f
"""


def q_stats_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-form EventStats over the exploded dynamic metric maps (the
    reference's per-metric-name accumulators, stats.go:8-12)."""
    from mysql_log_parser_spark.operators.aggregate import stats_long

    ev = parsed_events(spark, sf_dir)
    st = stats_long(ev, group_cols=("class_id",), mode="exact")
    d = lambda c: F.col(c).cast("double").alias(c)  # noqa: E731
    return st.select(
        "class_id", "kind", "metric", F.col("cnt").cast("long").alias("cnt"),
        d("sum"), d("min"), d("avg"), d("pct95"), d("med"), d("max"),
    )


O_STATS_LONG = _ORACLE_EVENTS_CTE + """
, base AS (
  SELECT upper(substr(md5(fingerprint), 17, 16)) AS class_id, qt, rows_sent, rows_examined
  FROM e
), t AS (
  SELECT class_id, 'time' AS kind, m.metric,
         count(*) AS cnt,
         sum(CASE WHEN m.metric = 'Query_time' THEN qt ELSE 0.0 END) AS sum,
         min(CASE WHEN m.metric = 'Query_time' THEN qt ELSE 0.0 END) AS min,
         avg(CASE WHEN m.metric = 'Query_time' THEN qt ELSE 0.0 END) AS avg,
         CASE WHEN m.metric = 'Query_time'
              THEN list_sort(list(qt))[CAST(95*count(*)//100 AS INT)+1] ELSE 0.0 END AS pct95,
         CASE WHEN m.metric = 'Query_time'
              THEN list_sort(list(qt))[CAST(50*count(*)//100 AS INT)+1] ELSE 0.0 END AS med,
         max(CASE WHEN m.metric = 'Query_time' THEN qt ELSE 0.0 END) AS max
  FROM base, (SELECT unnest(['Query_time', 'Lock_time']) AS metric) m
  GROUP BY class_id, m.metric
), n AS (
  SELECT class_id, 'number' AS kind, metric,
         count(*) AS cnt,
         CAST(sum(v) AS DOUBLE) AS sum,
         CAST(min(v) AS DOUBLE) AS min,
         CAST(floor(sum(v)/count(*)) AS DOUBLE) AS avg,
         CAST(list_sort(list(v))[CAST(95*count(*)//100 AS INT)+1] AS DOUBLE) AS pct95,
         CAST(list_sort(list(v))[CAST(50*count(*)//100 AS INT)+1] AS DOUBLE) AS med,
         CAST(max(v) AS DOUBLE) AS max
  FROM (
    SELECT class_id, 'Rows_sent' AS metric, rows_sent AS v FROM base
    UNION ALL
    SELECT class_id, 'Rows_examined', rows_examined FROM base
  ) x
  GROUP BY class_id, metric
)
SELECT class_id, kind, metric, cnt, sum, min, avg, pct95, med, max FROM t
UNION ALL
SELECT class_id, kind, metric, cnt, sum, min, avg, pct95, med, max FROM n
"""


def q_top_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Report filter: classes with > 10% of total traffic (parser-cli.go:139),
    as the report sink selects them (report.top_classes)."""
    from mysql_log_parser_spark.report import top_classes

    return top_classes(parsed_events(spark, sf_dir)).select(
        "class_id", "fingerprint", "total_queries"
    )


O_TOP_CLASSES = _ORACLE_EVENTS_CTE + """
SELECT upper(substr(md5(fingerprint), 17, 16)) AS class_id,
       fingerprint,
       count(*) AS total_queries
FROM e GROUP BY fingerprint
HAVING count(*) > (SELECT count(*) FROM e) / 10
"""


def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20-bucket equi-width Query_time histogram (the GKq.Histo(20) report,
    parser-cli.go:137) as a width_bucket-style aggregation."""
    from mysql_log_parser_spark.operators.aggregate import histogram

    ev = parsed_events(spark, sf_dir).withColumn(
        "query_time", F.col("query_time").cast("double")
    )
    return histogram(ev, "query_time", buckets=20).select(
        F.col("bucket").cast("long").alias("bucket"), F.col("cnt")
    )


O_HISTOGRAM = _ORACLE_EVENTS_CTE + """
, b AS (SELECT min(qt) AS lo, max(qt) AS hi FROM e)
SELECT CAST(least(floor((qt - lo) / ((hi - lo) / 20)), 19) AS BIGINT) AS bucket,
       count(*) AS cnt
FROM e, b GROUP BY 1
"""


QUERIES = {
    "slow_parse_events": (q_parse_events, O_PARSE_EVENTS),
    "slow_class_agg": (q_class_agg, O_CLASS_AGG),
    "slow_global_agg": (q_global_agg, O_GLOBAL_AGG),
    "slow_route_counts": (q_route_counts, O_ROUTE_COUNTS),
    "slow_enrich_team_agg": (q_enrich_team_agg, O_ENRICH_TEAM_AGG),
    "fingerprint_checksum": (q_fingerprint_checksum, O_FINGERPRINT_CHECKSUM),
    "slow_stats_long": (q_stats_long, O_STATS_LONG),
    "slow_top_classes": (q_top_classes, O_TOP_CLASSES),
    "slow_histogram": (q_histogram, O_HISTOGRAM),
}


def q_user_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(user, host) activity digest — pt-query-digest's --group-by
    user view over this engine's events: event count, Query_time mass,
    distinct query classes touched.  Same partial-agg shuffle shape as the
    class digest, keyed on the user dimension instead."""
    ev = parsed_events(spark, sf_dir)
    return ev.groupBy(F.col("user").alias("usr"), "host").agg(
        F.count(F.lit(1)).alias("total_queries"),
        F.sum(F.col("query_time").cast("double")).alias("qt_sum"),
        F.countDistinct("class_id").alias("distinct_classes"),
        F.max(F.col("rows_examined")).alias("rex_max"),
    )


O_USER_AGG = _ORACLE_EVENTS_CTE + """
SELECT usr, host,
       count(*) AS total_queries,
       sum(qt) AS qt_sum,
       count(DISTINCT upper(substr(md5(fingerprint), 17, 16))) AS distinct_classes,
       CAST(max(rows_examined) AS BIGINT) AS rex_max
FROM e GROUP BY usr, host
"""

QUERIES["slow_user_agg"] = (q_user_agg, O_USER_AGG)
