"""Second wave of driver-contract queries: the remaining SURVEY.md §2
surfaces (example selection A9, rate-limit consistency A11, admin filtering
F5, event-time windowing) plus training-data ops not yet exposed (exact
n-gram Jaccard dedup, multimodal binary feature plumbing, IVF-style ANN).

Each Spark query is paired with an independent DuckDB oracle.  The slow-log
queries render a second corpus variant (rate-limit header lines, interleaved
admin-command events, per-event timestamps) and push it through the REAL
parser; oracles derive expectations straight from the `events` source table.
"""

from __future__ import annotations

import hashlib

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mysql_log_parser_spark.entry_queries import (
    _ORACLE_EVENTS_CTE,
    _event_text,
    _qt,
    docs_from_events,
    encode_tokens,
    parsed_events,
    render_docs,
)
from mysql_log_parser_spark.operators.aggregate import (
    class_digest,
    global_digest,
    stats_long,
)
from mysql_log_parser_spark.operators.parse import parse_slowlog
from mysql_log_parser_spark.pipeline import events
from mysql_log_parser_spark.textops.dedup import ngram_jaccard_pairs_bruteforce
from mysql_log_parser_spark.textops.multimodal import extract_features
from mysql_log_parser_spark.textops.similarity import (
    centroid_dots,
    cosine,
    with_nearest_centroid,
)

HEXD = "0123456789abcdef"
EVENTS_PER_DOC = 20


# -- extended corpus: rate limits + admin commands + per-event timestamps -----

def _ext_event_text() -> F.Column:
    """Render one event in Percona slow-log format (slow011.log rate lines,
    slow009.log admin lines): varying minute, Log_slow_rate_* header line,
    every 17th event an administrator command instead of a statement."""
    eid = F.col("event_id")
    dnum = F.floor(eid / EVENTS_PER_DOC).cast("long")
    qt = F.round(F.col("value") * 64) / 64
    u = F.col("user_id") % 8
    h = F.col("user_id") % 4
    rl = F.when(dnum % 4 == 3, 10 + eid % 2).otherwise(10 + dnum % 4)
    header = F.concat(
        F.format_string("# Time: 240101 10:%02d:00\n", eid % 60),
        F.format_string("# User@Host: u%d[u%d] @ h%d []\n", u, u, h),
        F.format_string(
            "# Query_time: %.6f  Lock_time: 0.000000  Rows_sent: %d  Rows_examined: %d\n",
            qt, F.col("user_id") % 100, eid % 1000,
        ),
        F.format_string("# Log_slow_rate_type: query  Log_slow_rate_limit: %d\n", rl),
        F.format_string(
            "# QC_Hit: %s  Full_scan: %s\n",
            F.when(eid % 3 == 0, F.lit("Yes")).otherwise(F.lit("No")),
            F.when(eid % 5 == 0, F.lit("Yes")).otherwise(F.lit("No")),
        ),
    )
    body = F.when(eid % 17 == 0, F.lit("# administrator command: Quit;\n")).otherwise(
        F.format_string("SELECT c FROM t_%s WHERE id=%d;\n", F.col("event_type"), eid)
    )
    return F.concat(header, body)


def ext_docs_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return render_docs(spark, sf_dir, _ext_event_text(), "x")


def ext_parsed_events(spark: SparkSession, sf_dir: str, admin_filter=()) -> DataFrame:
    return events(ext_docs_from_events(spark, sf_dir), admin_filter)


_ORACLE_EXT_CTE = f"""
WITH e AS (
  SELECT CAST(event_id AS BIGINT) AS event_id,
         's' || CAST((event_id // {EVENTS_PER_DOC}) % 4 AS VARCHAR) AS source,
         CAST(event_id % 60 AS BIGINT) AS mm,
         CAST(round(value*64)/64 AS DOUBLE) AS qt,
         (event_id % 17 = 0) AS is_admin,
         CAST(CASE WHEN (event_id // {EVENTS_PER_DOC}) % 4 = 3
                   THEN 10 + event_id % 2
                   ELSE 10 + (event_id // {EVENTS_PER_DOC}) % 4 END AS BIGINT) AS rl
  FROM events
)
"""


# -- A11: rate-limit consistency (class.go:20-30, 41-55) ----------------------

def q_rate_limit_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-sink rate-limit consistency: a sink whose events carry more than
    one distinct (rate_type, rate_limit) pair is the MixedRateLimitsError
    condition (class.go:20-30) surfaced as a flag column."""
    ev = ext_parsed_events(spark, sf_dir)
    distinct_rates = F.countDistinct(F.struct("rate_type", "rate_limit"))
    return ev.groupBy("source").agg(
        distinct_rates.alias("distinct_rates"),
        F.min("rate_limit").cast("long").alias("rl_min"),
        F.max("rate_limit").cast("long").alias("rl_max"),
        (distinct_rates > 1).alias("mixed"),
    )


O_RATE_LIMIT_CHECK = _ORACLE_EXT_CTE + """
SELECT source,
       count(DISTINCT rl) AS distinct_rates,
       min(rl) AS rl_min,
       max(rl) AS rl_max,
       count(DISTINCT rl) > 1 AS mixed
FROM e GROUP BY source
"""


# -- F5: admin-command filter (options.go:6, slow.go:280-288) -----------------

def q_admin_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FilterAdminCommand={'Quit'}: suppressed events never reach the sink;
    per-sink surviving-row counts prove the filter semantics."""
    ev = ext_parsed_events(spark, sf_dir, admin_filter={"Quit"})
    return ev.groupBy("source").agg(
        F.count(F.lit(1)).alias("kept_rows"),
        F.sum(F.col("query_time").cast("double")).alias("qt_sum"),
    )


O_ADMIN_FILTER = _ORACLE_EXT_CTE + """
SELECT source, count(*) AS kept_rows, sum(qt) AS qt_sum
FROM e WHERE NOT is_admin GROUP BY source
"""


# -- event-time windowed aggregation (north-star streaming surface) -----------

def q_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-minute event-time tumbling windows over the parsed Ts column — the
    batch twin of the Structured Streaming path (streaming/pipeline.py)."""
    ev = ext_parsed_events(spark, sf_dir).withColumn(
        "ts_parsed", F.to_timestamp("ts", "yyMMdd H:mm:ss")
    )
    return (
        ev.groupBy(F.window("ts_parsed", "5 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("events"),
            F.sum(F.col("query_time").cast("double")).alias("qt_sum"),
            F.sum(F.col("admin").cast("long")).alias("admin_events"),
        )
        .select(
            (F.floor(F.minute("w.start") / 5)).cast("long").alias("bucket"),
            "events",
            "qt_sum",
            "admin_events",
        )
    )


O_WINDOW_AGG = _ORACLE_EXT_CTE + """
SELECT mm // 5 AS bucket,
       count(*) AS events,
       sum(qt) AS qt_sum,
       CAST(sum(CASE WHEN is_admin THEN 1 ELSE 0 END) AS BIGINT) AS admin_events
FROM e GROUP BY 1
"""


# -- A9: example selection (class.go:100-116) ---------------------------------

def _example_columns() -> list[F.Column]:
    """A class_digest's example as the gates' columns: the winner's event
    id (from its query text), Query_time as a double, and reformatted Ts."""
    return [
        F.regexp_extract("example_query", "id=(\\d+)", 1).cast("long").alias("example_id"),
        F.col("example_query_time").cast("double").alias("example_qt"),
        "example_ts",
    ]


def q_example_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class example = the class_digest example: the query text with the
    largest Query_time, ties going to the smallest (doc_id, event_idx) so the
    winner does not depend on how the events are partitioned."""
    return class_digest(parsed_events(spark, sf_dir), "exact").select(
        "class_id", "fingerprint", "total_queries", "example_query", *_example_columns()
    )


O_EXAMPLE_SELECT = _ORACLE_EVENTS_CTE + """
, r AS (
  SELECT fingerprint, query, event_id, qt,
         row_number() OVER (PARTITION BY fingerprint ORDER BY qt DESC, doc_id, event_idx) AS rn,
         count(*) OVER (PARTITION BY fingerprint) AS total_queries
  FROM e
)
SELECT upper(substr(md5(fingerprint), 17, 16)) AS class_id,
       fingerprint,
       total_queries,
       query AS example_query,
       CAST(event_id AS BIGINT) AS example_id,
       qt AS example_qt,
       strftime(strptime('240101 10:00:00', '%y%m%d %H:%M:%S'),
                '%Y-%m-%d %H:%M:%S') AS example_ts
FROM r WHERE rn = 1
"""


def q_example_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """example_ts over the EXT corpus, where the Time line VARIES per event
    (minute = event_id % 60): the class_digest winner's raw '# Time:' text is
    reparsed and reformatted (class.go:106-110), so the hash covers both the
    winner selection of ts and the yyMMdd->ISO reformat.  Admin events are
    excluded so the statement fingerprints match the oracle's derivation."""
    ev = ext_parsed_events(spark, sf_dir).where(~F.col("admin"))
    return class_digest(ev, "exact").select(
        "class_id", "fingerprint", "total_queries", *_example_columns()
    )


O_EXAMPLE_TS = f"""
WITH e AS (
  SELECT CAST(event_id AS BIGINT) AS event_id,
         'x' || CAST(event_id // {EVENTS_PER_DOC} AS VARCHAR) AS doc_id,
         CAST(event_id % {EVENTS_PER_DOC} AS BIGINT) AS event_idx,
         CAST(event_id % 60 AS BIGINT) AS mm,
         CAST(round(value*64)/64 AS DOUBLE) AS qt,
         'select c from t_' || event_type || ' where id=?' AS fingerprint
  FROM events WHERE event_id % 17 != 0
), r AS (
  SELECT fingerprint, event_id, qt, mm,
         row_number() OVER (PARTITION BY fingerprint ORDER BY qt DESC, doc_id, event_idx) AS rn,
         count(*) OVER (PARTITION BY fingerprint) AS total_queries
  FROM e
)
SELECT upper(substr(md5(fingerprint), 17, 16)) AS class_id,
       fingerprint,
       total_queries,
       CAST(event_id AS BIGINT) AS example_id,
       qt AS example_qt,
       strftime(strptime('240101 10:' || lpad(CAST(mm AS VARCHAR), 2, '0') || ':00',
                         '%y%m%d %H:%M:%S'),
                '%Y-%m-%d %H:%M:%S') AS example_ts
FROM r WHERE rn = 1
"""


# -- exact n-gram Jaccard near-dup pairs (brute-force baseline) ---------------

_NJ_N, _NJ_T = 3, 0.5


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where(F.col("doc_id") % 3 == 0)
        .select("doc_id", "text")
    )
    # negative injected ids (char_diversity scheme): collision-free with
    # real corpus ids at any scale
    nd = d.where(F.col("doc_id") % 6 == 0).select(
        (-(F.col("doc_id") + 1)).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzz qqq")).alias("text"),
    )
    return ngram_jaccard_pairs_bruteforce(
        d.unionByName(nd), n=_NJ_N, threshold=_NJ_T
    )


O_NGRAM_JACCARD = f"""
WITH c AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
  UNION ALL
  SELECT -(doc_id + 1), text || ' zzz qqq' FROM documents WHERE doc_id % 6 = 0
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len(ws) - {_NJ_N - 1}, 0)),
           i -> array_to_string(ws[i:i + {_NJ_N - 1}], ' ')
         )) AS sh
  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS ws FROM c)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       len(list_filter(a.sh, x -> list_contains(b.sh, x)))
         / (len(a.sh) + len(b.sh) - len(list_filter(a.sh, x -> list_contains(b.sh, x)))) AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE len(list_filter(a.sh, x -> list_contains(b.sh, x)))
      / (len(a.sh) + len(b.sh) - len(list_filter(a.sh, x -> list_contains(b.sh, x)))) >= {_NJ_T}
"""


# -- multimodal: binary column -> Arrow-batched feature extraction ------------

_MM_DIM = 8


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real multimodal plumbing over opaque binary payloads: documents.text
    encoded to a binary column, decoded/featurized by the mapInPandas kernel
    (textops/multimodal.py, deterministic fake decode = md5-seeded floats).
    Features are emitted as exact permille integers so the oracle can
    reproduce them from md5 hex digits alone."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    media = d.select(
        F.concat(F.lit("m"), F.col("doc_id").cast("string")).alias("id"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("image"))
        .when(F.col("doc_id") % 3 == 1, F.lit("audio"))
        .otherwise(F.lit("video"))
        .alias("kind"),
        F.encode(F.col("text"), "utf-8").alias("data"),
    )
    feats = extract_features(media, decoder="fake", dim=_MM_DIM)
    return feats.select(
        "id",
        "kind",
        F.col("n_bytes").cast("long").alias("n_bytes"),
        *[
            F.round(F.element_at("feature", j + 1) * 1000)
            .cast("long")
            .alias(f"feat{j}")
            for j in (0, 1, 3)
        ],
    )


def _o_multimodal() -> str:
    # byte k (0-based) of the md5 digest, from its hex string h
    def byte(k: int) -> str:
        hi = f"(strpos('{HEXD}', substr(h, {2 * k + 1}, 1)) - 1)"
        lo = f"(strpos('{HEXD}', substr(h, {2 * k + 2}, 1)) - 1)"
        return f"({hi} * 16 + {lo})"

    # little-endian uint32 j over the 16-byte digest repeated (fake decode
    # tiles the digest to dim*4 bytes)
    def u32(j: int) -> str:
        parts = [f"{byte((4 * j + b) % 16)} * {256 ** b}" for b in range(4)]
        return "(" + " + ".join(parts) + ")"

    feats = ", ".join(f"CAST({u32(j)} % 1000 AS BIGINT) AS feat{j}" for j in (0, 1, 3))
    return f"""
WITH m AS (
  SELECT 'm' || CAST(doc_id AS VARCHAR) AS id,
         CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         md5(text) AS h
  FROM documents
)
SELECT id, kind, n_bytes, {feats} FROM m
"""


O_MULTIMODAL = _o_multimodal()


# -- IVF-style ANN: coarse quantize to centroid cells, search within cell -----

_IVF_C = 4          # number of centroid cells
_IVF_DIM = 64
_IVF_K = 5
_IVF_NQ = 8


def _centroid_literals(k: int = _IVF_C) -> list[list[float]]:
    """Deterministic centroids in [-1, 1]^dim from md5 — precomputed so both
    engines embed identical double literals."""
    cents = []
    for c in range(k):
        row = []
        for j in range(_IVF_DIM):
            h = hashlib.md5(f"c{c}d{j}".encode()).hexdigest()
            row.append(((int(h[:8], 16) % 2001) - 1000) / 1000.0)
        cents.append(row)
    return cents


def _o_centroid_dots(vec: str, cents: list[list[float]]) -> str:
    """DuckDB twin of similarity.centroid_dots: the list of dot(vec, c_i),
    each folded in index order like the Catalyst aggregate."""
    return f"list_transform({cents}, ct -> list_dot_product({vec}, ct))"


def _o_cell(dots: str) -> str:
    """DuckDB twin of similarity.with_nearest_centroid's cell: the 0-based
    index of the FIRST maximal entry of the dot list `dots` (ties to the
    smallest cell, as array_position(array_max) does)."""
    return f"CAST(list_indexof({dots}, list_max({dots})) - 1 AS BIGINT)"


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe=1: assign every vector to its nearest (max-dot) centroid
    cell, then brute-force top-k only within the query's cell.  At scale the
    cell assignment is a narrow map and the per-cell search shuffles on the
    cell id instead of broadcasting the whole corpus."""
    cents = _centroid_literals()
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
    )
    cells = with_nearest_centroid(e, cents)
    q = cells.where(F.col("vec_id") < _IVF_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), "cell"
    )
    n = cells.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("nv"), "cell")
    scored = (
        n.join(F.broadcast(q), "cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos6", F.round(cosine(F.col("qv"), F.col("nv")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos6"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _IVF_K)
        .select(
            "query_id", "cell", "neighbor_id", "cos6",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def _o_ann_ivf() -> str:
    cents = _centroid_literals()
    dots = f"{_o_centroid_dots('v', cents)} AS dl"
    cell = _o_cell("dl")
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), d AS (
  SELECT vec_id, v, {dots} FROM e
), cells AS (
  SELECT vec_id, v, {cell} AS cell FROM d
), scored AS (
  SELECT q.vec_id AS query_id, q.cell AS cell, n.vec_id AS neighbor_id,
         round(list_dot_product(q.v, n.v)
               / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(n.v, n.v))), 6) AS cos6
  FROM cells q JOIN cells n ON q.cell = n.cell
  WHERE q.vec_id < {_IVF_NQ} AND n.vec_id != q.vec_id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos6 DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, cell, neighbor_id, cos6, rank FROM ranked WHERE rank <= {_IVF_K}
"""


O_ANN_IVF = _o_ann_ivf()


EXT_QUERIES = {
    "slow_rate_limit_check": (q_rate_limit_check, O_RATE_LIMIT_CHECK),
    "slow_admin_filter": (q_admin_filter, O_ADMIN_FILTER),
    "slow_window_agg": (q_window_agg, O_WINDOW_AGG),
    "slow_example_select": (q_example_select, O_EXAMPLE_SELECT),
    "slow_example_ts": (q_example_ts, O_EXAMPLE_TS),
    "ngram_jaccard_pairs": (q_ngram_jaccard, O_NGRAM_JACCARD),
    "multimodal_features": (q_multimodal_features, O_MULTIMODAL),
    "ann_ivf_topk": (q_ann_ivf_topk, O_ANN_IVF),
}


# -- rollup: class + global digest in one shuffle ------------------------------

def q_rollup_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mysql_log_parser_spark.operators.aggregate import rollup_digest

    r = rollup_digest(parsed_events(spark, sf_dir), mode="exact")
    return r.select(
        "class_id",
        "is_global",
        "total_queries",
        "unique_queries",
        F.col("query_time_sum").cast("double").alias("qt_sum"),
        F.col("query_time_pct95").cast("double").alias("qt_p95"),
        F.col("rows_examined_sum").alias("rex_sum"),
    )


O_ROLLUP_DIGEST = _ORACLE_EVENTS_CTE + """
SELECT upper(substr(md5(fingerprint), 17, 16)) AS class_id,
       CAST(0 AS BIGINT) AS is_global,
       count(*) AS total_queries,
       CAST(1 AS BIGINT) AS unique_queries,
       sum(qt) AS qt_sum,
       list_sort(list(qt))[CAST(95*count(*)//100 AS INT)+1] AS qt_p95,
       CAST(sum(rows_examined) AS BIGINT) AS rex_sum
FROM e GROUP BY fingerprint
UNION ALL
SELECT NULL,
       CAST(1 AS BIGINT),
       count(*),
       count(DISTINCT fingerprint),
       sum(qt),
       list_sort(list(qt))[CAST(95*count(*)//100 AS INT)+1],
       CAST(sum(rows_examined) AS BIGINT)
FROM e
"""

EXT_QUERIES["slow_rollup_digest"] = (q_rollup_digest, O_ROLLUP_DIGEST)


# -- bucketed co-located join: shuffle paid once at write time ----------------

def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events and their per-class stats written as SAME-bucket-count tables
    on class_id (operators/bucketing.py), then joined and re-aggregated on
    that key — the standing-table layout where every class-keyed join and
    groupBy after the one write-time shuffle is exchange-free (plan-asserted
    in tests/test_plans.py).  Result: per class, how many events exceed the
    class's own mean Query_time; the oracle derives the same from the source
    events, so bucket routing that lost or duplicated any row flips the
    hash."""
    import atexit
    import shutil
    import tempfile
    import uuid

    from mysql_log_parser_spark.operators.bucketing import (
        colocated_join,
        write_bucketed,
    )

    d = tempfile.mkdtemp(prefix="mlp_bucketed_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    tag = uuid.uuid4().hex[:8]
    ev = parsed_events(spark, sf_dir)
    write_bucketed(
        ev.select("class_id", F.col("query_time").cast("double").alias("qt")),
        f"mlp_ev_{tag}", f"{d}/ev", ("class_id",), 8, sort_cols=("class_id",),
    )
    cls = class_digest(ev, "exact").select(
        "class_id",
        "fingerprint",
        F.col("total_queries").alias("cnt"),
        F.col("query_time_sum").alias("qt_sum"),
    )
    write_bucketed(cls, f"mlp_cls_{tag}", f"{d}/cls", ("class_id",), 8)
    j = colocated_join(spark, f"mlp_ev_{tag}", f"mlp_cls_{tag}", ["class_id"])
    above = F.when(F.col("qt") > F.col("qt_sum") / F.col("cnt"), 1).otherwise(0)
    return j.groupBy("class_id").agg(
        F.first("fingerprint").alias("fingerprint"),
        F.count(F.lit(1)).alias("total_queries"),
        F.sum(above).alias("n_above_avg"),
    )


O_BUCKETED_JOIN = _ORACLE_EVENTS_CTE + """
, cls AS (
  SELECT fingerprint, count(*) AS cnt, sum(qt) AS qt_sum FROM e GROUP BY fingerprint
)
SELECT upper(substr(md5(e.fingerprint), 17, 16)) AS class_id,
       e.fingerprint,
       count(*) AS total_queries,
       CAST(sum(CASE WHEN e.qt > c.qt_sum / c.cnt THEN 1 ELSE 0 END) AS BIGINT) AS n_above_avg
FROM e JOIN cls c ON c.fingerprint = e.fingerprint
GROUP BY e.fingerprint
"""

EXT_QUERIES["slow_bucketed_join"] = (q_bucketed_join, O_BUCKETED_JOIN)


# -- A4: bool-metric aggregation over the dynamic map (stats.go:39-42, 88-106) -

def q_bool_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BoolStats {Cnt, True} per metric name, per sink, from the exploded
    bool_metrics map — the dynamic-schema escape hatch aggregated long-form
    (aggregate.stats_long's bool rows)."""
    st = stats_long(ext_parsed_events(spark, sf_dir), ("source",))
    return st.where(F.col("kind") == "bool").select("source", "metric", "cnt", "true_cnt")


O_BOOL_STATS = _ORACLE_EXT_CTE + """
SELECT source, m.metric,
       count(*) AS cnt,
       CAST(sum(CASE WHEN (m.metric = 'QC_Hit' AND event_id % 3 = 0)
                       OR (m.metric = 'Full_scan' AND event_id % 5 = 0)
                     THEN 1 ELSE 0 END) AS BIGINT) AS true_cnt
FROM e, (SELECT unnest(['QC_Hit', 'Full_scan']) AS metric) m
GROUP BY source, m.metric
"""

EXT_QUERIES["slow_bool_stats"] = (q_bool_stats, O_BOOL_STATS)


# -- S2: resume from byte offset (Options.StartOffset, slow.go:46-49) ----------

def q_resume_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc start_offset seek: each doc resumes exactly at its second
    event's first byte, so event 0 of every doc is skipped and the remaining
    events parse cleanly — the reference's caller-persisted StartOffset
    contract (slow.go:43-49) expressed as a per-doc column."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    first_len = (
        ev.where(F.col("event_id") % EVENTS_PER_DOC == 0)
        .select(
            F.floor(F.col("event_id") / EVENTS_PER_DOC).cast("long").alias("dnum"),
            F.octet_length(_event_text()).alias("start_offset"),
        )
        .select(
            F.concat(F.lit("d"), F.col("dnum").cast("string")).alias("doc_id"),
            "start_offset",
        )
    )
    docs = docs_from_events(spark, sf_dir).join(first_len, "doc_id")
    return events(docs).groupBy("source").agg(
        F.count(F.lit(1)).alias("kept_rows"),
        F.sum(F.col("query_time").cast("double")).alias("qt_sum"),
    )


O_RESUME_OFFSET = _ORACLE_EVENTS_CTE + """
SELECT source, count(*) AS kept_rows, sum(qt) AS qt_sum
FROM e WHERE event_idx != 0 GROUP BY source
"""

EXT_QUERIES["slow_resume_offset"] = (q_resume_offset, O_RESUME_OFFSET)


# -- multimodal: video frame-sampling plan (JVM-side expansion) ----------------

def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every-10th-frame sampling plan for video rows: the (id, n_frames) ->
    frame_idx expansion runs JVM-side (explode(sequence(...))); only the
    actual frame decode is the stubbed Python kernel."""
    from mysql_log_parser_spark.textops.multimodal import frame_sample

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    media = d.where(F.col("doc_id") % 3 == 2).select(
        F.concat(F.lit("m"), F.col("doc_id").cast("string")).alias("id"),
        F.lit("video").alias("kind"),
        F.struct(
            (30 * (F.col("doc_id") % 10 + 1)).cast("int").alias("n_frames")
        ).alias("meta"),
    )
    return frame_sample(media, every_n=10).select(
        "id", F.col("frame_idx").cast("long").alias("frame_idx")
    )


O_FRAME_SAMPLE = """
SELECT 'm' || CAST(doc_id AS VARCHAR) AS id,
       CAST(unnest(range(0, CAST(30 * (doc_id % 10 + 1) AS BIGINT), 10)) AS BIGINT) AS frame_idx
FROM documents WHERE doc_id % 3 = 2
"""

EXT_QUERIES["multimodal_frame_sample"] = (q_frame_sample, O_FRAME_SAMPLE)


# -- per-sink per-class digest (north-star: per-sink aggregate-count parity) ---

def q_sink_class_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """class_digest grouped by (source, class_id) — the per-sink digest the
    routed sinks feed (north_star: per-fingerprint aggregate-count parity
    per sink)."""
    ev = parsed_events(spark, sf_dir)
    d = class_digest(ev, mode="exact", group_extra=("source",))
    return d.select(
        "source",
        "class_id",
        "fingerprint",
        "total_queries",
        _qt("sum"),
        _qt("pct95", "qt_p95"),
        F.col("rows_sent_sum").alias("rs_sum"),
    )


O_SINK_CLASS_AGG = _ORACLE_EVENTS_CTE + """
SELECT source,
       upper(substr(md5(fingerprint), 17, 16)) AS class_id,
       fingerprint,
       count(*) AS total_queries,
       sum(qt) AS qt_sum,
       list_sort(list(qt))[CAST(95*count(*)//100 AS INT)+1] AS qt_p95,
       CAST(sum(rows_sent) AS BIGINT) AS rs_sum
FROM e GROUP BY source, fingerprint
"""

EXT_QUERIES["slow_sink_class_agg"] = (q_sink_class_agg, O_SINK_CLASS_AGG)


# -- k-means step: one Lloyd iteration over the IVF cells ----------------------

_KM_DIMS = 8  # compare the first 8 centroid coordinates per cell


def q_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One k-means (Lloyd) iteration: assign every embedding to its nearest
    seed centroid (the IVF assignment), then recompute centroids as the
    per-cell elementwise mean — the building block of the iterative loop,
    expressed as assignment (broadcast literals, narrow) + one keyed agg."""
    cents = _centroid_literals()
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
    )
    cells = with_nearest_centroid(e, cents)
    return (
        cells.select("cell", F.posexplode("v").alias("pos", "x"))
        .where(F.col("pos") < _KM_DIMS)
        .groupBy("cell", F.col("pos").cast("long").alias("pos"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            # rounded at the boundary: raw avg doubles differ in ulps across
            # summation orders (partitioning), exact values do not survive
            F.round(F.avg("x"), 6).alias("mean"),
        )
    )


def _o_kmeans_step() -> str:
    cents = _centroid_literals()
    dots = f"{_o_centroid_dots('v', cents)} AS dl"
    cell = _o_cell("dl")
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), d AS (
  SELECT vec_id, v, {dots} FROM e
), cells AS (
  SELECT vec_id, v, {cell} AS cell FROM d
)
SELECT cell, CAST(p - 1 AS BIGINT) AS pos, count(*) AS n, round(avg(v[p]), 6) AS mean
FROM cells, (SELECT unnest(generate_series(1, {_KM_DIMS})) AS p)
GROUP BY cell, p
"""


O_KMEANS_STEP = _o_kmeans_step()

EXT_QUERIES["ann_kmeans_step"] = (q_kmeans_step, O_KMEANS_STEP)


# -- session windows: gap-based per-user sessionization ------------------------

_SESS_GAP_MIN = 5


def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F.session_window: per-user sessions that extend while consecutive
    events arrive within the gap — the merge-on-overlap windowing primitive
    (vs fixed tumbling windows in slow_window_agg)."""
    ev = ext_parsed_events(spark, sf_dir).withColumn(
        "ts_parsed", F.to_timestamp("ts", "yyMMdd H:mm:ss")
    )
    return (
        ev.groupBy(
            F.col("user").alias("usr"),
            F.session_window("ts_parsed", f"{_SESS_GAP_MIN} minutes").alias("w"),
        )
        .agg(
            F.count(F.lit(1)).alias("events"),
            F.sum(F.col("query_time").cast("double")).alias("qt_sum"),
        )
        .select(
            "usr",
            F.minute("w.start").cast("long").alias("session_start_min"),
            "events",
            "qt_sum",
        )
    )


_O_SESS_USER_CTE = _ORACLE_EXT_CTE + """
, eu AS (
  SELECT 'u' || CAST(user_id % 8 AS VARCHAR) AS usr, mm, qt FROM (
    SELECT e.*, ev.user_id FROM e JOIN events ev USING (event_id)
  )
)
"""


O_SESSION_WINDOW = _O_SESS_USER_CTE + f"""
, o AS (
  SELECT usr, mm, qt,
         CASE WHEN mm - lag(mm) OVER (PARTITION BY usr ORDER BY mm) >= {_SESS_GAP_MIN}
              THEN 1 ELSE 0 END AS new_sess
  FROM eu
), s AS (
  SELECT usr, mm, qt,
         sum(new_sess) OVER (PARTITION BY usr ORDER BY mm
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
  FROM o
)
SELECT usr, min(mm) AS session_start_min, count(*) AS events, sum(qt) AS qt_sum
FROM s GROUP BY usr, sess_id
"""

EXT_QUERIES["slow_session_window"] = (q_session_window, O_SESSION_WINDOW)


# -- as-of join: config state effective at each event's timestamp --------------

def q_asof_config(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Config changes (per-user limit revisions at minutes 0/20/40) as-of
    joined onto the parsed event stream: every event gets the limit in
    force at its minute.  union-tag strategy — one shuffle on the key."""
    from mysql_log_parser_spark.operators.joins import asof_join

    ev = ext_parsed_events(spark, sf_dir).select(
        F.col("user").alias("usr"),
        F.minute(F.to_timestamp("ts", "yyMMdd H:mm:ss")).cast("long").alias("mm"),
        F.col("query_time").cast("double").alias("qt"),
    )
    cfg = (
        spark.range(8)
        .select(F.concat(F.lit("u"), F.col("id").cast("string")).alias("usr"), F.col("id"))
        .crossJoin(spark.range(3).select((F.col("id") * 20).alias("eff_mm")))
        .select(
            "usr",
            "eff_mm",
            (100 + F.col("id") * 10 + F.col("eff_mm")).cast("long").alias("cfg_limit"),
        )
    )
    joined = asof_join(ev, cfg, on="usr", left_time="mm", right_time="eff_mm",
                       value_cols=["cfg_limit"])
    return joined.groupBy("usr", "cfg_limit").agg(
        F.count(F.lit(1)).alias("events"),
        F.sum("qt").alias("qt_sum"),
    )


O_ASOF_CONFIG = _ORACLE_EXT_CTE + """
, eu AS (
  SELECT 'u' || CAST(ev.user_id % 8 AS VARCHAR) AS usr,
         CAST(ev.user_id % 8 AS BIGINT) AS uid, e.mm, e.qt
  FROM e JOIN events ev USING (event_id)
)
SELECT usr,
       100 + uid * 10 + (CASE WHEN mm >= 40 THEN 40 WHEN mm >= 20 THEN 20 ELSE 0 END) AS cfg_limit,
       count(*) AS events,
       sum(qt) AS qt_sum
FROM eu GROUP BY 1, 2
"""

EXT_QUERIES["slow_asof_config"] = (q_asof_config, O_ASOF_CONFIG)


# -- range join: classify events into latency bands ----------------------------

_BANDS = [(0.0, 64.0, "fast"), (64.0, 128.0, "ok"), (128.0, 192.0, "slow"), (192.0, None, "critical")]


def q_range_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mysql_log_parser_spark.operators.joins import range_join_broadcast

    ev = parsed_events(spark, sf_dir).select(
        F.col("query_time").cast("double").alias("qt")
    )
    bands = spark.createDataFrame(_BANDS, "lo double, hi double, band string")
    return range_join_broadcast(ev, bands, "qt").groupBy("band").agg(
        F.count(F.lit(1)).alias("events"),
        F.sum("qt").alias("qt_sum"),
    )


O_RANGE_BANDS = _ORACLE_EVENTS_CTE + """
SELECT CASE WHEN qt < 64 THEN 'fast' WHEN qt < 128 THEN 'ok'
            WHEN qt < 192 THEN 'slow' ELSE 'critical' END AS band,
       count(*) AS events,
       sum(qt) AS qt_sum
FROM e GROUP BY 1
"""

EXT_QUERIES["slow_range_bands"] = (q_range_bands, O_RANGE_BANDS)


# -- pivot: long-form per-metric stats reshaped to wide ------------------------

def q_stats_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupBy().pivot() over the exploded number-metrics map: per class,
    one column per metric name (values pinned so the pivot is a fixed-width
    plan — unpinned pivots trigger a distinct-values job first)."""
    ev = parsed_events(spark, sf_dir)
    n = ev.select("class_id", F.explode("number_metrics").alias("metric", "v"))
    return (
        n.groupBy("class_id")
        .pivot("metric", ["Rows_sent", "Rows_examined"])
        .agg(F.sum("v"))
        .select(
            "class_id",
            F.col("Rows_sent").alias("rows_sent_sum"),
            F.col("Rows_examined").alias("rows_examined_sum"),
        )
    )


O_STATS_PIVOT = _ORACLE_EVENTS_CTE + """
SELECT upper(substr(md5(fingerprint), 17, 16)) AS class_id,
       CAST(sum(rows_sent) AS BIGINT) AS rows_sent_sum,
       CAST(sum(rows_examined) AS BIGINT) AS rows_examined_sum
FROM e GROUP BY fingerprint
"""

EXT_QUERIES["slow_stats_pivot"] = (q_stats_pivot, O_STATS_PIVOT)


# -- k-means, 2 iterations: the iterative driver-loop pattern ------------------

def q_kmeans_iter2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Lloyd iterations: after the first assignment, the k x dim centroid
    means (tiny state) are COLLECTED to the driver and re-broadcast as
    literals for the second assignment — the canonical structure of an
    iterative algorithm on Spark: per-iteration keyed aggregation, driver
    round-trip only for O(k*d) state, never the data."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
    )

    # iteration 1: seed centroids -> assignment -> elementwise means
    a1 = with_nearest_centroid(e, _centroid_literals())
    m1 = (
        a1.select("cell", F.posexplode("v").alias("pos", "x"))
        .groupBy("cell", "pos")
        .agg(F.avg("x").alias("mean"))
        .collect()
    )
    from decimal import ROUND_HALF_UP, Decimal

    def _round9(x: float) -> float:
        # DuckDB round() is half-AWAY-FROM-ZERO; Python round() is
        # half-to-even — a mean on a 9dp half boundary would flip an
        # iteration-2 assignment between engines.  Quantize the shortest
        # decimal repr with HALF_UP (= away from zero for either sign) so
        # both engines pin identical centroid literals.
        return float(Decimal(repr(x)).quantize(Decimal("1e-9"), rounding=ROUND_HALF_UP))

    cents2: dict[int, list[float]] = {}
    for r in m1:
        # 9dp rounding pins the iteration-2 centroids against ulp-level
        # partial-aggregation ordering differences between engines/layouts
        cents2.setdefault(int(r.cell), [0.0] * _IVF_DIM)[int(r.pos)] = _round9(float(r.mean))
    # empty cells keep their seed centroid
    seeds = _centroid_literals()
    new_cents = [cents2.get(c, seeds[c]) for c in range(_IVF_C)]

    # iteration 2 with the updated centroids
    a2 = with_nearest_centroid(e, new_cents)
    return a2.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.aggregate("v", F.lit(0.0), lambda a, x: a + x)), 6).alias("coord_sum6"),
    )


def _o_kmeans_iter2() -> str:
    cents = _centroid_literals()
    dots1 = f"{_o_centroid_dots('v', cents)} AS dl"
    # iteration-2 dot products: sum over dims of v[p] * centroid2[cell][p],
    # centroid2 = per-(cell,pos) mean from iteration 1 (seeds for empty cells)
    dots2 = ", ".join(
        f"""(SELECT COALESCE(sum(v[m.pos + 1] * m.mean), list_dot_product(v, {cents[c]}))
             FROM m WHERE m.cell = {c}) AS e{c}"""
        for c in range(_IVF_C)
    )
    dots2_list = "[" + ", ".join(f"e{c}" for c in range(_IVF_C)) + "]"
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), d1 AS (
  SELECT vec_id, v, {dots1} FROM e
), a1 AS (
  SELECT vec_id, v, {_o_cell("dl")} AS cell FROM d1
), m AS (
  SELECT cell, CAST(p - 1 AS BIGINT) AS pos, round(avg(v[p]), 9) AS mean
  FROM a1, (SELECT unnest(generate_series(1, {_IVF_DIM})) AS p)
  GROUP BY cell, p
), d2 AS (
  SELECT vec_id, v, {dots2} FROM e
), a2 AS (
  SELECT vec_id, v, {_o_cell(dots2_list)} AS cell FROM d2
)
SELECT cell, count(*) AS n,
       round(sum(list_sum(v)), 6) AS coord_sum6
FROM a2 GROUP BY cell
"""


O_KMEANS_ITER2 = _o_kmeans_iter2()

EXT_QUERIES["ann_kmeans_iter2"] = (q_kmeans_iter2, O_KMEANS_ITER2)


# -- A7: GK-sketch digest, oracle-gated with eps rank bounds ------------------

def _rank_band(vals, pct, n):
    """1-based [lo, hi] element_at bounds for the GK guarantee: a sketch
    quantile at phi=pct/100 with eps=0.01 returns an element whose rank is
    within eps*n of phi*n (QuantileSummaries.query contract; the reference's
    gkquantile carries the same bound, ref:log/stats.go:24,65).  Band =
    [floor((pct-1)*n/100), floor((pct+1)*n/100)+2] clamped to [1, n] — the
    exact-rank convention (stats.go:126-128) widened by eps plus one rank of
    slack on each side for floor/ceil boundary conventions."""
    lo = F.greatest(F.lit(1), F.floor((F.lit(pct) - 1) * n / 100).cast("int"))
    hi = F.least(n.cast("int"), F.floor((F.lit(pct) + 1) * n / 100).cast("int") + 2)
    return F.element_at(vals, lo), F.element_at(vals, hi)


def _sorted_qt(ev: DataFrame, keys: tuple[str, ...] = ()) -> DataFrame:
    """Each group's exact ascending Query_time values: the reference the GK
    rank bands are cut from."""
    qt = F.col("query_time").cast("double")
    return ev.groupBy(*keys).agg(F.array_sort(F.collect_list(qt)).alias("_vals"))


def _sketch_in_bands(ev: DataFrame, digest: DataFrame, keys: tuple[str, ...] = ()) -> DataFrame:
    """A sketch-mode digest's query_time_pct95/_med against the exact eps-rank
    bands of its group.  Emits the bounds (hash-compared exactly) and
    in-bounds booleans (TRUE on the oracle side), so a sketch drifting
    outside the GK guarantee flips the hash."""
    vals = _sorted_qt(ev, keys)
    j = digest.join(vals, list(keys)) if keys else digest.crossJoin(vals)
    cnt = F.col("total_queries")
    lo95, hi95 = _rank_band(F.col("_vals"), 95, cnt)
    lo50, hi50 = _rank_band(F.col("_vals"), 50, cnt)
    sk95, sk50 = F.col("query_time_pct95"), F.col("query_time_med")
    return j.select(
        *keys,
        cnt,
        lo95.alias("qt_lo95"),
        hi95.alias("qt_hi95"),
        lo50.alias("qt_lo50"),
        hi50.alias("qt_hi50"),
        ((sk95 >= lo95) & (sk95 <= hi95)).alias("p95_in_bounds"),
        ((sk50 >= lo50) & (sk50 <= hi50)).alias("p50_in_bounds"),
    )


def q_class_agg_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION percentile path: class_digest's sketch mode (Spark's
    QuantileSummaries is Greenwald-Khanna; accuracy=100 == the reference's
    GKSummary eps=0.01, ref:log/stats.go:24) gated against exact rank-error
    bounds computed independently by both engines."""
    ev = parsed_events(spark, sf_dir)
    return _sketch_in_bands(ev, class_digest(ev, mode="sketch"), ("class_id",))


O_CLASS_AGG_SKETCH = _ORACLE_EVENTS_CTE + """
SELECT upper(substr(md5(fingerprint), 17, 16)) AS class_id,
       count(*) AS total_queries,
       list_sort(list(qt))[greatest(1, CAST(94*count(*)//100 AS INT))] AS qt_lo95,
       list_sort(list(qt))[least(CAST(count(*) AS INT), CAST(96*count(*)//100 AS INT)+2)] AS qt_hi95,
       list_sort(list(qt))[greatest(1, CAST(49*count(*)//100 AS INT))] AS qt_lo50,
       list_sort(list(qt))[least(CAST(count(*) AS INT), CAST(51*count(*)//100 AS INT)+2)] AS qt_hi50,
       CAST(TRUE AS BOOLEAN) AS p95_in_bounds,
       CAST(TRUE AS BOOLEAN) AS p50_in_bounds
FROM e GROUP BY fingerprint
"""

EXT_QUERIES["slow_class_agg_sketch"] = (q_class_agg_sketch, O_CLASS_AGG_SKETCH)


# -- S7: report percentile ladder (bin/parser-cli.go:130-137), oracle-gated ---

def q_report_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CLI report's phi=0..1 step .05 GK ladder, per class holding >10%
    of traffic (report.top_classes, ref:bin/parser-cli.go:130-151): one row
    per (class, phi) with exact eps-rank bounds and the sketch-in-bounds
    flag.  phi=0/1 degenerate to min/max and stay in-band via the clamps."""
    from mysql_log_parser_spark.report import top_classes

    ev = parsed_events(spark, sf_dir)
    top = top_classes(ev).select("class_id", F.col("total_queries").alias("n"), "ladder")
    lad = top.join(_sorted_qt(ev, ("class_id",)), "class_id").select(
        "class_id", "n", "_vals", F.posexplode("ladder").alias("i", "_sk")
    )
    pct = F.col("i") * 5
    lo, hi = _rank_band(F.col("_vals"), pct, F.col("n"))
    return lad.select(
        "class_id",
        pct.cast("long").alias("phi_pct"),
        "n",
        lo.alias("qt_lo"),
        hi.alias("qt_hi"),
        ((F.col("_sk") >= lo) & (F.col("_sk") <= hi)).alias("in_bounds"),
    )


O_REPORT_LADDER = _ORACLE_EVENTS_CTE + """
, c AS (
  SELECT upper(substr(md5(fingerprint), 17, 16)) AS class_id,
         count(*) AS n,
         list_sort(list(qt)) AS vals
  FROM e GROUP BY fingerprint
  HAVING count(*) > (SELECT count(*) FROM e) / 10
)
SELECT class_id,
       CAST(p.i * 5 AS BIGINT) AS phi_pct,
       n,
       vals[greatest(1, CAST((p.i*5 - 1) * n // 100 AS INT))] AS qt_lo,
       vals[least(CAST(n AS INT), CAST((p.i*5 + 1) * n // 100 AS INT) + 2)] AS qt_hi,
       CAST(TRUE AS BOOLEAN) AS in_bounds
FROM c, (SELECT unnest(generate_series(0, 20)) AS i) p
"""

EXT_QUERIES["slow_report_ladder"] = (q_report_ladder, O_REPORT_LADDER)


# -- distributed raw-log byte-range scan (single huge file, parallel parse) ---

def q_rawlog_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Render the corpus as ONE raw log file, parse it with byte-range
    chunking (64 KiB chunks -> many parallel tasks, boundary snap + partial
    discard at every cut: sources/rawlog.py), and digest per class.  The
    oracle derives the same digest straight from the events table, so every
    lost/duplicated event at any chunk cut flips the hash."""
    import atexit
    import os
    import shutil
    import tempfile

    from mysql_log_parser_spark.sources.rawlog import read_raw_docs

    # corpus-sized scratch file: must outlive the returned (lazy) DataFrame,
    # so cleanup is deferred to interpreter exit rather than leaked entirely
    d = tempfile.mkdtemp(prefix="mlp_rawlog_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    path = os.path.join(d, "all.log")
    ordered = (
        docs_from_events(spark, sf_dir)
        .withColumn("dnum", F.regexp_extract("doc_id", r"d(\d+)", 1).cast("long"))
        .orderBy("dnum")
        .select("text")
    )
    with open(path, "w") as f:
        for r in ordered.toLocalIterator():
            f.write(r["text"])
    ev = events(read_raw_docs(spark, path, chunk_bytes=64 << 10, overlap=32 << 10))
    return class_digest(ev, mode="exact").select(
        "class_id", "fingerprint", "total_queries", _qt("sum")
    )


O_RAWLOG_CHUNKED = _ORACLE_EVENTS_CTE + """
SELECT upper(substr(md5(fingerprint), 17, 16)) AS class_id,
       fingerprint,
       count(*) AS total_queries,
       sum(qt) AS qt_sum
FROM e GROUP BY fingerprint
"""

EXT_QUERIES["slow_rawlog_chunked"] = (q_rawlog_chunked, O_RAWLOG_CHUNKED)


# -- checkpointed resume: crash after one chunk, restart, digest everything ---

def _class_sums(ev: DataFrame) -> DataFrame:
    """Per-class count and Query_time / Rows_examined sums, read off the
    production class digest."""
    return class_digest(ev, mode="exact").select(
        "class_id",
        "fingerprint",
        "total_queries",
        _qt("sum"),
        F.col("rows_examined_sum").alias("rex_sum"),
    )


def q_checkpoint_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The resume contract end-to-end through the REAL checkpoint machinery
    (operators/checkpoint.py): the corpus is split into 3 tokens chunks, a
    first run commits exactly ONE chunk and 'crashes' (max_chunks=1), a
    fresh runner restarts against the same manifest and processes only the
    pending chunks, and the digest over all committed events must equal the
    oracle's direct full-corpus derivation — events lost at the crash point
    or double-processed on restart flip the hash.  Mirrors the reference's
    caller-persisted StartOffset restart (ref:log/parser/slow.go:43-49) at
    chunk granularity."""
    import atexit
    import shutil
    import tempfile

    from mysql_log_parser_spark.operators.checkpoint import CheckpointedRunner

    ind = tempfile.mkdtemp(prefix="mlp_ckpt_in_")
    out = tempfile.mkdtemp(prefix="mlp_ckpt_out_")
    for d in (ind, out):
        atexit.register(shutil.rmtree, d, ignore_errors=True)
    docs = docs_from_events(spark, sf_dir)
    for i in range(3):
        docs.where(F.pmod(F.xxhash64("doc_id"), F.lit(3)) == i).write.mode(
            "overwrite"
        ).parquet(f"{ind}/c{i}.parquet")

    first = CheckpointedRunner(spark, out)
    first.run_incremental(ind, events, max_chunks=1)  # "crash" after 1 chunk
    restarted = CheckpointedRunner(spark, out)        # fresh runner, same manifest
    recs = restarted.run_incremental(ind, events)
    assert len(recs) == 2, f"restart reprocessed {3 - len(recs)} committed chunks"
    return _class_sums(restarted.events())


O_CHECKPOINT_RESUME = _ORACLE_EVENTS_CTE + """
SELECT upper(substr(md5(fingerprint), 17, 16)) AS class_id,
       fingerprint,
       count(*) AS total_queries,
       sum(qt) AS qt_sum,
       CAST(sum(rows_examined) AS BIGINT) AS rex_sum
FROM e GROUP BY fingerprint
"""

EXT_QUERIES["slow_checkpoint_resume"] = (q_checkpoint_resume, O_CHECKPOINT_RESUME)


# -- semantic dedup (SemDeDup-style): cluster -> within-cell near-dup -> keep --

_SD_THRESH = 0.95
_SD_DUP_MOD = 13
_SD_ITERS = 2
_SD_K = 32        # cell count — a PARAMETER that must grow ~sqrt(N) with the
                  # corpus (k=32 at gate scale; a fixed handful of cells would
                  # degenerate the per-cell join to all-pairs at 100 TB)
_SD_CAP = 4096    # loud per-cell candidate cap (semantic_dedup_pairs)


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) via the library operator
    (textops/dedup.py:semantic_dedup_components): k=32 coarse cells bound
    the candidate set (single nested-literal argmax assignment — one fold
    regardless of k), exact prenormed cosine within a cell finds semantic
    duplicates, bounded min-label propagation picks one canonical survivor
    per group.  The per-cell cap (loud raise_error on overflow) makes the
    "never all pairs" claim hold by construction at any N; centroids are
    deterministic seeds here, refined by the k-means operators in
    production.  Exact dups are injected (negative ids -(vec_id+1),
    identical vector -> cosine 1.0) so there is signal."""
    from mysql_log_parser_spark.textops.dedup import semantic_dedup_components

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    # negative injected ids (char_diversity scheme): collision-free at any N
    dupes = e.where(F.col("vec_id") % _SD_DUP_MOD == 0).select(
        (-(F.col("vec_id") + 1)).alias("vec_id"), "v"
    )
    corpus = e.unionByName(dupes)
    return semantic_dedup_components(
        corpus,
        _centroid_literals(_SD_K),
        threshold=_SD_THRESH,
        id_col="vec_id",
        vec_col="v",
        iters=_SD_ITERS,
        cell_cap=_SD_CAP,
    )


def _o_semantic_dedup() -> str:
    cents = _centroid_literals(_SD_K)
    from mysql_log_parser_spark.entry_queries_textops import _o_label_prop

    return f"""
WITH c AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  UNION ALL
  SELECT -(vec_id + 1), embedding::DOUBLE[] FROM embeddings
  WHERE vec_id % {_SD_DUP_MOD} = 0
), d AS (
  SELECT vec_id, v,
         {_o_centroid_dots("v", cents)} AS dl
  FROM c
), cells AS (
  SELECT vec_id, v, {_o_cell("dl")} AS cell FROM d
), pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE round(list_dot_product(a.v, b.v)
              / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6)
        >= {_SD_THRESH}
), {_o_label_prop(_SD_ITERS, "vec_id")}
SELECT v AS vec_id, label AS component, v = label AS keep FROM l{_SD_ITERS}
"""


O_SEMANTIC_DEDUP = _o_semantic_dedup()

EXT_QUERIES["semantic_dedup"] = (q_semantic_dedup, O_SEMANTIC_DEDUP)


# -- telemetry: per-class traffic spike detection (z-score over minutes) ------

def q_spike_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(class, minute) event counts scored against the class's own
    minute distribution.  Mean/variance are derived from EXACT integer sums
    (n, sum(c), sum(c^2)) so the float z-score is one well-defined
    expression over integers — immune to float summation-order drift
    between partitions or engines; stddev_pop-style accumulation is NOT
    used for exactly that reason."""
    ev = ext_parsed_events(spark, sf_dir).where(~F.col("admin"))
    mm = F.minute(F.to_timestamp("ts", "yyMMdd H:mm:ss")).cast("long")
    per_min = ev.groupBy("class_id", mm.alias("mm")).agg(
        F.count(F.lit(1)).alias("c")
    )
    stats = per_min.groupBy("class_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("sq"),
    )
    j = per_min.join(F.broadcast(stats), "class_id")
    n, s, sq = F.col("n"), F.col("s"), F.col("sq")
    mean = s.cast("double") / n
    var = (n * sq - s * s).cast("double") / (n * n).cast("double")
    # var == 0 (all minutes equal) must be pinned explicitly: Spark's 0/0 is
    # NULL (non-ANSI) while DuckDB's IEEE division yields NaN, so an
    # unguarded z would flip the oracle hash on any uniform-count class.
    # Both engines emit z6 = NULL, spike = FALSE for the degenerate case.
    z = F.when(var > 0, (F.col("c") - mean) / F.sqrt(var))
    z6 = F.round(z, 6)
    return j.select(
        "class_id",
        "mm",
        F.col("c").alias("events"),
        z6.alias("z6"),
        F.coalesce(z6 > 2.0, F.lit(False)).alias("spike"),
    )


O_SPIKE_DETECT = """
WITH e AS (
  SELECT upper(substr(md5('select c from t_' || event_type || ' where id=?'), 17, 16)) AS class_id,
         CAST(event_id % 60 AS BIGINT) AS mm
  FROM events WHERE event_id % 17 != 0
), pm AS (
  SELECT class_id, mm, count(*) AS c FROM e GROUP BY class_id, mm
), st AS (
  SELECT class_id, count(*) AS n, sum(c) AS s, sum(c*c) AS sq
  FROM pm GROUP BY class_id
)
SELECT pm.class_id, pm.mm, CAST(pm.c AS BIGINT) AS events,
       CASE WHEN n*sq - s*s > 0
            THEN round((pm.c - CAST(s AS DOUBLE)/n)
                       / sqrt(CAST(n*sq - s*s AS DOUBLE) / CAST(n*n AS DOUBLE)), 6)
            END AS z6,
       COALESCE(CASE WHEN n*sq - s*s > 0
                     THEN round((pm.c - CAST(s AS DOUBLE)/n)
                                / sqrt(CAST(n*sq - s*s AS DOUBLE) / CAST(n*n AS DOUBLE)), 6)
                     END > 2.0, FALSE) AS spike
FROM pm JOIN st USING (class_id)
"""

EXT_QUERIES["slow_spike_detect"] = (q_spike_detect, O_SPIKE_DETECT)


# -- HLL distinct-count sketch, gated like the GK sketch ----------------------

_HLL_RSD = 0.05


def q_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) per sink, gated against the
    exact distinct count with a 3*rsd relative-error band — the same
    exact-bounds-plus-in-bounds-boolean pattern as the GK percentile gate:
    the exact values hash-compare, the boolean flips if the sketch drifts
    outside its guarantee."""
    ev = ext_parsed_events(spark, sf_dir).where(~F.col("admin"))
    eid = F.regexp_extract("query", "id=(\\d+)", 1).cast("long")
    agg = ev.withColumn("eid", eid).groupBy("source").agg(
        F.countDistinct("eid").alias("exact_distinct"),
        F.approx_count_distinct("eid", rsd=_HLL_RSD).alias("_approx"),
    )
    err = F.abs(F.col("_approx") - F.col("exact_distinct")) / F.col("exact_distinct")
    return agg.select(
        "source",
        "exact_distinct",
        (err <= 3 * _HLL_RSD).alias("hll_in_bounds"),
    )


O_DISTINCT_SKETCH = _ORACLE_EXT_CTE + """
SELECT source,
       count(DISTINCT event_id) AS exact_distinct,
       CAST(TRUE AS BOOLEAN) AS hll_in_bounds
FROM e WHERE NOT is_admin GROUP BY source
"""

EXT_QUERIES["slow_distinct_sketch"] = (q_distinct_sketch, O_DISTINCT_SKETCH)


def q_global_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GlobalClass counterpart of slow_class_agg_sketch: global_digest's
    sketch-mode percentiles gated against exact eps-rank bounds over ALL
    events."""
    ev = parsed_events(spark, sf_dir)
    return _sketch_in_bands(ev, global_digest(ev, mode="sketch"))


O_GLOBAL_SKETCH = _ORACLE_EVENTS_CTE + """
SELECT count(*) AS total_queries,
       list_sort(list(qt))[greatest(1, CAST(94*count(*)//100 AS INT))] AS qt_lo95,
       list_sort(list(qt))[least(CAST(count(*) AS INT), CAST(96*count(*)//100 AS INT)+2)] AS qt_hi95,
       list_sort(list(qt))[greatest(1, CAST(49*count(*)//100 AS INT))] AS qt_lo50,
       list_sort(list(qt))[least(CAST(count(*) AS INT), CAST(51*count(*)//100 AS INT)+2)] AS qt_hi50,
       CAST(TRUE AS BOOLEAN) AS p95_in_bounds,
       CAST(TRUE AS BOOLEAN) AS p50_in_bounds
FROM e
"""

EXT_QUERIES["slow_global_sketch"] = (q_global_sketch, O_GLOBAL_SKETCH)


# -- multimodal resize (nearest-neighbor over opaque buffers) ------------------

_RSZ_TW, _RSZ_TH = 8, 4


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The resize leg of the multimodal plumbing (textops/multimodal.py
    resize_images): documents.text as the opaque grayscale buffer, per-doc
    width/height derived deterministically, nearest-neighbor resample to
    8x4 in the Arrow kernel.  The oracle recomputes every resampled byte
    with the same index math (cyclic tiling + y*h//th, x*w//tw) and md5s
    the resized buffer, so a one-pixel drift flips the hash."""
    from mysql_log_parser_spark.textops.multimodal import resize_images

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        F.col("doc_id") % 3 == 0
    )
    media = d.select(
        F.concat(F.lit("m"), F.col("doc_id").cast("string")).alias("id"),
        F.lit("image").alias("kind"),
        F.encode(F.col("text"), "utf-8").alias("data"),
        F.struct(
            (16 + F.col("doc_id") % 7).cast("int").alias("width"),
            (8 + F.col("doc_id") % 5).cast("int").alias("height"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.lit(None).cast("int").alias("n_frames"),
        ).alias("meta"),
    )
    out = resize_images(media, _RSZ_TW, _RSZ_TH)
    return out.select(
        "id",
        F.col("meta.width").cast("long").alias("out_w"),
        F.col("meta.height").cast("long").alias("out_h"),
        F.lower(F.md5("data")).alias("resized_md5"),
    )


O_MULTIMODAL_RESIZE = f"""
WITH m AS (
  SELECT 'm' || CAST(doc_id AS VARCHAR) AS id,
         CAST(16 + doc_id % 7 AS BIGINT) AS w,
         CAST(8 + doc_id % 5 AS BIGINT) AS h,
         text
  FROM documents WHERE doc_id % 3 = 0
)
SELECT id,
       CAST({_RSZ_TW} AS BIGINT) AS out_w,
       CAST({_RSZ_TH} AS BIGINT) AS out_h,
       lower(md5(array_to_string(
         [text[((((i // {_RSZ_TW}) * h // {_RSZ_TH}) * w
                 + ((i % {_RSZ_TW}) * w // {_RSZ_TW})) % length(text)) + 1
               :((((i // {_RSZ_TW}) * h // {_RSZ_TH}) * w
                 + ((i % {_RSZ_TW}) * w // {_RSZ_TW})) % length(text)) + 1]
          for i in range(0, {_RSZ_TW * _RSZ_TH})],
         ''))) AS resized_md5
FROM m
"""

EXT_QUERIES["multimodal_resize"] = (q_multimodal_resize, O_MULTIMODAL_RESIZE)


# -- line-level boilerplate removal (C4/RefinedWeb-style) ----------------------

# Threshold as an exact integer ratio (df/total >= 9/10 evaluated as
# 10*df >= 9*total): a float 0.9*total product can round off the exact
# value right at the boundary and disagree with an engine evaluating the
# same threshold in DECIMAL — integer arithmetic is identical everywhere.
_BP_NUM, _BP_DEN = 9, 10


def q_line_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-line removal over the rendered corpus: any line present
    in >= 90% of docs (here, the constant `# Time:` header and the hot
    User@Host lines) is dropped from every doc, preserving the order of
    what remains — the C4/RefinedWeb line-dedup step, over THIS engine's
    own rendered slow-log text.

    Scale shape: posexplode -> per-line distinct-doc frequency (partial
    agg, line-vocab-bounded shuffle) -> broadcast anti-join of the tiny
    boilerplate set -> per-doc reassembly (collect_list bounded by doc
    size, same bound as sequence packing).  The oracle re-renders all four
    line forms per event from the events table with printf and replays the
    filter with list ops, so a one-character render drift flips the hash."""
    docs = docs_from_events(spark, sf_dir)
    lines = docs.select(
        "doc_id", F.posexplode(F.split("text", "\n")).alias("pos", "line")
    ).where(F.col("line") != "")
    total = docs.count()
    bp = (
        lines.groupBy("line")
        .agg(F.countDistinct("doc_id").alias("df"))
        .where(F.col("df") * _BP_DEN >= _BP_NUM * total)
        .select("line")
    )
    kept = lines.join(F.broadcast(bp), "line", "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s["line"],
                ),
                "\n",
            )
        ).alias("cleaned_md5"),
    )
    base = docs.select(
        "doc_id",
        F.size(F.filter(F.split("text", "\n"), lambda l: l != "")).cast("long").alias(
            "n_lines"
        ),
    )
    return base.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        "n_lines",
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce(F.col("cleaned_md5"), F.md5(F.lit(""))).alias("cleaned_md5"),
    )


O_LINE_BOILERPLATE = _ORACLE_EVENTS_CTE + f"""
, ll AS (
  SELECT doc_id, event_id,
         ['# Time: 240101 10:00:00',
          '# User@Host: ' || usr || '[' || usr || '] @ ' || host || ' []',
          printf('# Query_time: %.6f  Lock_time: 0.000000 Rows_sent: %d  Rows_examined: %d',
                 qt, rows_sent, rows_examined),
          query || ';'] AS ls
  FROM e
), dl AS (
  SELECT doc_id, flatten(list(ls ORDER BY event_id)) AS lines
  FROM ll GROUP BY doc_id
), lf AS (
  SELECT line, count(DISTINCT doc_id) AS df
  FROM (SELECT doc_id, unnest(lines) AS line FROM dl) GROUP BY line
), bp AS (
  SELECT coalesce(list(line), []) AS bl
  FROM lf WHERE df * {_BP_DEN} >= {_BP_NUM} * (SELECT count(*) FROM dl)
)
SELECT doc_id,
       CAST(len(lines) AS BIGINT) AS n_lines,
       CAST(len(list_filter(lines, x -> NOT list_contains(bl, x)))
            AS BIGINT) AS n_kept,
       md5(array_to_string(
         list_filter(lines, x -> NOT list_contains(bl, x)),
         chr(10))) AS cleaned_md5
FROM dl, bp
"""

EXT_QUERIES["line_boilerplate"] = (q_line_boilerplate, O_LINE_BOILERPLATE)


# -- windowed top-K classes (ranked tumbling windows) --------------------------

_WTOP_K = 3


def q_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K query classes per 5-minute event-time tumbling window — the
    ranked flavor of slow_window_agg (what a dashboard's 'top queries per
    interval' panel runs).  Per-(window, class) counts aggregate with
    map-side partials; the rank window is partitioned BY WINDOW, so each
    partition holds at most |classes| rows — never a global exchange.
    Admin commands are excluded (they carry no statement class)."""
    ev = (
        ext_parsed_events(spark, sf_dir)
        .where(~F.col("admin"))
        .withColumn("ts_parsed", F.to_timestamp("ts", "yyMMdd H:mm:ss"))
    )
    counts = ev.groupBy(
        F.window("ts_parsed", "5 minutes").alias("w"), "fingerprint"
    ).agg(F.count(F.lit(1)).alias("n"))
    from pyspark.sql import Window as W

    bucket = F.floor(F.minute("w.start") / 5).cast("long")
    ranked = counts.select(bucket.alias("bucket"), "fingerprint", "n").withColumn(
        "rank",
        F.row_number()
        .over(
            W.partitionBy("bucket").orderBy(F.desc("n"), F.asc("fingerprint"))
        )
        .cast("long"),
    )
    return ranked.where(F.col("rank") <= _WTOP_K)


O_WINDOW_TOPK = f"""
WITH e AS (
  SELECT CAST((event_id % 60) // 5 AS BIGINT) AS bucket,
         'select c from t_' || event_type || ' where id=?' AS fingerprint
  FROM events WHERE event_id % 17 != 0
), c AS (
  SELECT bucket, fingerprint, count(*) AS n FROM e GROUP BY bucket, fingerprint
)
SELECT bucket, fingerprint, n, CAST(rank AS BIGINT) AS rank FROM (
  SELECT bucket, fingerprint, n,
         row_number() OVER (PARTITION BY bucket
                            ORDER BY n DESC, fingerprint) AS rank
  FROM c
) WHERE rank <= {_WTOP_K}
"""

EXT_QUERIES["slow_window_topk"] = (q_window_topk, O_WINDOW_TOPK)


# -- F4 gate: use-db capture through the real parser ---------------------------


def q_db_capture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-gates the use-db capture (operators/parse.py:374-391, ref
    slow.go:245-267): every 5th event carries a `use db_<k>;` line before
    its statement, which the parser must consume as that EVENT's db (not
    part of the query, no carry-over), while all other events keep an
    empty db.  Exercises the full render -> tokens -> parse path."""
    eid = F.col("event_id")
    txt = F.concat(
        F.lit("# Time: 240101 10:00:00\n"),
        F.format_string(
            "# User@Host: u%d[u%d] @ h%d []\n",
            F.col("user_id") % 8, F.col("user_id") % 8, F.col("user_id") % 4,
        ),
        F.format_string(
            "# Query_time: %.6f  Lock_time: 0.000000 Rows_sent: 1  Rows_examined: 2\n",
            F.round(F.col("value") * 64) / 64,
        ),
        F.when(eid % 5 == 0, F.format_string("use db_%d;\n", eid % 3)).otherwise(
            F.lit("")
        ),
        F.format_string(
            "SELECT c FROM t_%s WHERE id=%d;\n", F.col("event_type"), eid
        ),
    )
    parsed = parse_slowlog(render_docs(spark, sf_dir, txt, "d"))
    return parsed.select(
        "doc_id",
        F.col("event_idx").cast("long").alias("event_idx"),
        "db",
        "query",
    )


O_DB_CAPTURE = f"""
SELECT 'd' || CAST(event_id // {EVENTS_PER_DOC} AS VARCHAR) AS doc_id,
       CAST(event_id % {EVENTS_PER_DOC} AS BIGINT) AS event_idx,
       CASE WHEN event_id % 5 = 0 THEN 'db_' || CAST(event_id % 3 AS VARCHAR)
            ELSE '' END AS db,
       'SELECT c FROM t_' || event_type || ' WHERE id=' ||
         CAST(event_id AS VARCHAR) AS query
FROM events
"""

EXT_QUERIES["slow_db_capture"] = (q_db_capture, O_DB_CAPTURE)


# -- F3 gate: SET-variable line skip ------------------------------------------


def q_set_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-gates the SET-variable skip (operators/parse.py:372-375, ref
    slow.go:249-253): every 7th event carries a `SET timestamp=...;` line
    before its statement; the parser must drop it so the event's query is
    exactly the SELECT — if a SET line leaks into any query string the
    value hash flips."""
    eid = F.col("event_id")
    txt = F.concat(
        F.lit("# Time: 240101 10:00:00\n"),
        F.lit("# User@Host: u[u] @ h []\n"),
        F.format_string(
            "# Query_time: %.6f  Lock_time: 0.000000 Rows_sent: 1  Rows_examined: 2\n",
            F.round(F.col("value") * 64) / 64,
        ),
        F.when(eid % 7 == 0, F.format_string("SET timestamp=%d;\n", eid)).otherwise(
            F.lit("")
        ),
        F.format_string(
            "SELECT c FROM t_%s WHERE id=%d;\n", F.col("event_type"), eid
        ),
    )
    parsed = parse_slowlog(render_docs(spark, sf_dir, txt, "d"))
    return parsed.select(
        "doc_id",
        F.col("event_idx").cast("long").alias("event_idx"),
        "query",
    )


O_SET_SKIP = f"""
SELECT 'd' || CAST(event_id // {EVENTS_PER_DOC} AS VARCHAR) AS doc_id,
       CAST(event_id % {EVENTS_PER_DOC} AS BIGINT) AS event_idx,
       'SELECT c FROM t_' || event_type || ' WHERE id=' ||
         CAST(event_id AS VARCHAR) AS query
FROM events
"""

EXT_QUERIES["slow_set_skip"] = (q_set_skip, O_SET_SKIP)


# -- sliding (overlapping) event-time windows ----------------------------------


def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-minute windows sliding every minute — the overlapping-window
    variant of slow_window_agg (rate smoothing / trailing-rate panels).
    Each event lands in exactly 5 windows; Spark's window() expands
    map-side and the counts aggregate with partials, so the shuffle grows
    5x in rows but stays bucket-bounded after partial aggregation.  The
    oracle replays the expansion with a list comprehension."""
    ev = ext_parsed_events(spark, sf_dir).withColumn(
        "ts_parsed", F.to_timestamp("ts", "yyMMdd H:mm:ss")
    )
    agg = ev.groupBy(
        F.window("ts_parsed", "5 minutes", "1 minute").alias("w")
    ).agg(
        F.count(F.lit(1)).alias("events"),
        F.sum(F.col("query_time").cast("double")).alias("qt_sum"),
    )
    bucket = (F.hour("w.start") * 60 + F.minute("w.start")).cast("long")
    return agg.select(bucket.alias("bucket"), "events", "qt_sum")


O_SLIDING_WINDOW = _ORACLE_EXT_CTE + """
, x AS (
  SELECT CAST(600 + mm - k AS BIGINT) AS bucket, qt
  FROM e, unnest([0, 1, 2, 3, 4]) AS t(k)
)
SELECT bucket, count(*) AS events, sum(qt) AS qt_sum
FROM x GROUP BY bucket
"""

EXT_QUERIES["slow_sliding_window"] = (q_sliding_window, O_SLIDING_WINDOW)


# -- per-class distinct-user sketch (second grouping level for the HLL gate) ---


def q_user_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct USERS per query class, exact + HLL-in-band — the audience
    dimension of a class digest ('how many distinct principals run this
    query shape').  Same exact-bounds-plus-boolean gate as the per-sink
    sketch, at class grouping; at scale only the sketch runs and the
    per-class state stays O(1)."""
    ev = ext_parsed_events(spark, sf_dir).where(~F.col("admin"))
    agg = ev.groupBy("fingerprint").agg(
        F.countDistinct("user").alias("exact_users"),
        F.approx_count_distinct("user", rsd=_HLL_RSD).alias("_approx"),
    )
    err = F.abs(F.col("_approx") - F.col("exact_users")) / F.col("exact_users")
    return agg.select(
        "fingerprint",
        "exact_users",
        (err <= 3 * _HLL_RSD).alias("hll_in_bounds"),
    )


O_USER_DISTINCT_SKETCH = """
SELECT 'select c from t_' || event_type || ' where id=?' AS fingerprint,
       count(DISTINCT 'u' || CAST(user_id % 8 AS VARCHAR)) AS exact_users,
       CAST(TRUE AS BOOLEAN) AS hll_in_bounds
FROM events WHERE NOT (event_id % 17 = 0)
GROUP BY event_type
"""

EXT_QUERIES["slow_user_sketch"] = (q_user_distinct_sketch, O_USER_DISTINCT_SKETCH)


# -- S2 gate: per-event byte offsets -------------------------------------------


def q_event_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-gates the byte-offset bookkeeping (operators/parse.py:132-153,
    ref slow.go:87-100 incl the documented +1 quirk): the parser's per-event
    `offset` must equal the byte position of the event's first header line,
    +1 when nonzero.  The oracle reconstructs every event's rendered byte
    length with printf and prefix-sums them per doc — a drift in any line's
    rendering or in the quirk flips the hash."""
    ev = parsed_events(spark, sf_dir)
    return ev.select(
        "doc_id",
        F.col("event_idx").cast("long").alias("event_idx"),
        F.col("offset").cast("long").alias("offset"),
    )


O_EVENT_OFFSETS = f"""
WITH t AS (
  SELECT 'd' || CAST(event_id // {EVENTS_PER_DOC} AS VARCHAR) AS doc_id,
         CAST(event_id % {EVENTS_PER_DOC} AS BIGINT) AS event_idx,
         event_id,
         length('# Time: 240101 10:00:00' || chr(10)
           || printf('# User@Host: u%d[u%d] @ h%d []',
                     user_id % 8, user_id % 8, user_id % 4) || chr(10)
           || printf('# Query_time: %.6f  Lock_time: 0.000000 Rows_sent: %d  Rows_examined: %d',
                     round(value*64)/64, user_id % 100, event_id % 1000) || chr(10)
           || printf('SELECT c FROM t_%s WHERE id=%d;', event_type, event_id)
           || chr(10)) AS elen
  FROM events
), s AS (
  SELECT doc_id, event_idx,
         coalesce(sum(elen) OVER (PARTITION BY doc_id ORDER BY event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS st
  FROM t
)
SELECT doc_id, event_idx,
       CAST(CASE WHEN st = 0 THEN 0 ELSE st + 1 END AS BIGINT) AS offset
FROM s
"""

EXT_QUERIES["slow_event_offsets"] = (q_event_offsets, O_EVENT_OFFSETS)


# -- rate-limit-corrected class counts (pt-query-digest sampling math) ---------


def q_rate_corrected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampling-corrected traffic estimates: when the server logs only 1/N
    sessions (Log_slow_rate_limit = N), observed per-class counts
    understate true traffic by ~N — pt-query-digest multiplies through.
    Per (source, class): observed count, the sink's rate limit, and the
    corrected estimate observed * N.  Fails loudly upstream if a sink
    carries MIXED rate limits (slow_rate_limit_check gates that)."""
    ev = ext_parsed_events(spark, sf_dir).where(~F.col("admin"))
    return ev.groupBy("source", "fingerprint").agg(
        F.count(F.lit(1)).alias("observed"),
        F.min("rate_limit").cast("long").alias("rate_limit"),
        (F.count(F.lit(1)) * F.min("rate_limit")).cast("long").alias("corrected"),
    )


O_RATE_CORRECTED = _ORACLE_EXT_CTE + """
, f AS (
  SELECT source, rl,
         'select c from t_' || event_type || ' where id=?' AS fingerprint
  FROM e JOIN events USING (event_id)
  WHERE NOT is_admin
)
SELECT source, fingerprint,
       count(*) AS observed,
       CAST(min(rl) AS BIGINT) AS rate_limit,
       CAST(count(*) * min(rl) AS BIGINT) AS corrected
FROM f GROUP BY source, fingerprint
"""

EXT_QUERIES["slow_rate_corrected"] = (q_rate_corrected, O_RATE_CORRECTED)


# -- multi-probe IVF (probe=2): recall path for boundary-straddling queries ----

_IVF_P = 2


def q_ann_ivf_probe2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with multi-probe (nprobe=2): neighbors index into their single
    best cell exactly as ann_ivf_topk, but each QUERY searches its top-2
    cells — the standard recall lever for vectors near a Voronoi boundary
    (FAISS's nprobe).  Costs probe_count partition-local searches per
    query instead of one; the corpus is still never broadcast and never
    self-joined — the wide edge stays keyed by cell id, and only the tiny
    query side fans out x2.

    The probe ranking (argsort of centroid dots) is one array_sort over
    the SAME similarity.centroid_dots fold with_nearest_centroid takes its
    argmax from, so query and index sides can never disagree on the
    geometry."""
    cents = _centroid_literals()
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
    )
    # ascending sort on (-dot, cell): best dot first, ties to the smaller
    # cell index (with_nearest_centroid's tie rule)
    ranked = F.array_sort(
        F.transform(
            centroid_dots(F.col("v"), cents),
            lambda d, i: F.struct((-d).alias("nd"), i.cast("long").alias("cell")),
        )
    )
    cells = e.withColumn("_r", ranked)
    n = cells.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("nv"),
        F.element_at("_r", 1).getField("cell").alias("cell"),
    )
    q = (
        cells.where(F.col("vec_id") < _IVF_NQ)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.posexplode(F.slice("_r", 1, _IVF_P)),
        )
        .select(
            "query_id",
            "qv",
            (F.col("pos") + 1).cast("long").alias("probe_rank"),
            F.col("col").getField("cell").alias("cell"),
        )
    )
    scored = (
        n.join(F.broadcast(q), "cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos6", F.round(cosine(F.col("qv"), F.col("nv")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos6"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _IVF_K)
        .select(
            "query_id", "probe_rank", "cell", "neighbor_id", "cos6",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def _o_ann_ivf_probe2() -> str:
    cents = _centroid_literals()
    cands = ", ".join(
        f"{{'cell': {c}, 'd': list_dot_product(v, {cents[c]})}}"
        for c in range(_IVF_C)
    )
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), du AS (
  SELECT vec_id, v, unnest([{cands}]) AS c FROM e
), ranked AS (
  SELECT vec_id, v, c.cell AS cell, c.d AS d,
         row_number() OVER (PARTITION BY vec_id ORDER BY c.d DESC, c.cell)
           AS pr
  FROM du
), n AS (
  SELECT vec_id AS neighbor_id, v AS nv, CAST(cell AS BIGINT) AS cell
  FROM ranked WHERE pr = 1
), q AS (
  SELECT vec_id AS query_id, v AS qv, CAST(pr AS BIGINT) AS probe_rank,
         CAST(cell AS BIGINT) AS cell
  FROM ranked WHERE vec_id < {_IVF_NQ} AND pr <= {_IVF_P}
), scored AS (
  SELECT q.query_id, q.probe_rank, q.cell, n.neighbor_id,
         round(list_dot_product(q.qv, n.nv)
               / (sqrt(list_dot_product(q.qv, q.qv))
                  * sqrt(list_dot_product(n.nv, n.nv))), 6) AS cos6
  FROM n JOIN q USING (cell)
  WHERE n.neighbor_id != q.query_id
), rr AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos6 DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, probe_rank, cell, neighbor_id, cos6,
       CAST(rank AS BIGINT) AS rank
FROM rr WHERE rank <= {_IVF_K}
"""


EXT_QUERIES["ann_ivf_probe2"] = (q_ann_ivf_probe2, _o_ann_ivf_probe2())


# -- Iceberg snapshot-range incremental parse (resume-from-checkpoint shape) ---

_SNAP_CHUNKS = 5
_SNAP_SAVED = 2  # checkpoint persisted after the first two appends


def q_snapshot_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The snapshot-resume contract end-to-end through the REAL tokens-table
    source (sources/tokens_table.py): the corpus is encoded to the input
    contract (doc_id, tokens array<int32>, n_tok, source) and appended as
    5 chunk files; a checkpoint persisted current_snapshot_id() == 2 before
    a crash; the resumed job reads EXACTLY the (2, current] delta via
    read_snapshot_range — Iceberg's exclusive-start/inclusive-end
    incremental scan, emulated over the append-only chunk log — and runs
    parse -> fingerprint -> per-class digest over only those rows.  Rows
    double-read (committed chunks) or dropped (late appends) flip the
    oracle hash.  With an Iceberg catalog the same call maps to the native
    start-snapshot-id scan (ref resume analogue: log/parser/options.go:4,
    caller-persisted StartOffset)."""
    import atexit
    import glob
    import os
    import shutil
    import tempfile

    from mysql_log_parser_spark.sources.tokens_table import TokensTable

    loc = tempfile.mkdtemp(prefix="mlp_snap_")
    atexit.register(shutil.rmtree, loc, ignore_errors=True)
    toks = (
        docs_from_events(spark, sf_dir)
        .select(
            "doc_id",
            encode_tokens("text").alias("tokens"),
            "source",
        )
        .withColumn("n_tok", F.size("tokens").cast("int"))
    )
    dnum = F.substring("doc_id", 2, 18).cast("long")
    for i in range(_SNAP_CHUNKS):
        # append chunk i as ONE data file named in append order (the layout
        # every writer in this repo produces; sandbox stand-in for an
        # Iceberg append commit)
        stage = f"{loc}/_stage"
        toks.where(F.pmod(dnum, F.lit(_SNAP_CHUNKS)) == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage)
        (part,) = glob.glob(f"{stage}/part-*.parquet")
        os.replace(part, f"{loc}/c{i:03d}.parquet")
        shutil.rmtree(stage, ignore_errors=True)

    t = TokensTable(spark, loc)
    assert t.current_snapshot_id() == _SNAP_CHUNKS
    # the checkpoint persisted (id, file) pairs too; the resume read
    # asserts the current log still extends them (renumbered history
    # fails loudly — tokens_table.assert_log_extends)
    saved_log = t.snapshots()[:_SNAP_SAVED]
    delta = t.read_snapshot_range(_SNAP_SAVED, saved_log=saved_log)  # (saved, current]
    return _class_sums(events(delta))


# chunk i holds docs with dnum % 5 == i and becomes snapshot id i+1, so the
# (2, 5] delta is exactly dnum % 5 IN (2, 3, 4)
O_SNAPSHOT_RANGE = _ORACLE_EVENTS_CTE + f"""
SELECT upper(substr(md5(fingerprint), 17, 16)) AS class_id,
       fingerprint,
       count(*) AS total_queries,
       sum(qt) AS qt_sum,
       CAST(sum(rows_examined) AS BIGINT) AS rex_sum
FROM e
WHERE CAST(substr(doc_id, 2) AS BIGINT) % {_SNAP_CHUNKS} > {_SNAP_SAVED - 1}
GROUP BY fingerprint
"""

EXT_QUERIES["slow_snapshot_range"] = (q_snapshot_range, O_SNAPSHOT_RANGE)


# -- IVF-PQ with asymmetric distance (the FAISS IVFADC layout, probe=1) --------

_PQ_M = 4    # subspaces
_PQ_KS = 8   # centroids per subspace codebook


def _ivfpq_frames(spark: SparkSession, sf_dir: str):
    """Shared Spark-side prelude for the IVF-PQ family (adc / rerank /
    recall): the celled corpus, the coded neighbor side, and the query side
    carrying both the ADC LUTs and the exact vector.  Emits the WIDEST
    shape each consumer might need (nv/qv/prenorms) — Catalyst column
    pruning strips whatever a given query leaves unused, so the narrow
    consumers pay nothing; keeping one copy keeps the parity-critical
    tie-breaks and casts in sync with the oracle's _ivfpq_sql_parts."""
    from mysql_log_parser_spark.textops.pq import (
        adc_lut_cols,
        pq_codebooks,
        pq_encode,
    )
    from mysql_log_parser_spark.textops.similarity import norm

    books = pq_codebooks(_PQ_M, _PQ_KS, _IVF_DIM)
    cents = _centroid_literals()
    # v is a plain array Cast (codegen'd), NOT transform(x -> cast(x)):
    # the code columns below reference v M*Ks times, and an interpreted
    # HOF would be re-evaluated at every reference (the no-CSE trap).
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
    )
    cells = with_nearest_centroid(e, cents)
    # index-side encoding goes through pq_encode(kernel='auto'): at gate
    # dims (M*Ks*sub = 512) it resolves to the oracle-replicable Catalyst
    # literal folds; past the literal threshold the SAME call falls onto
    # the Arrow matmul encoder instead of growing the fold tree.
    coded = pq_encode(cells, books, vec_col="v", kernel="auto")
    n = coded.select(
        F.col("vec_id").alias("neighbor_id"),
        "cell",
        F.col("v").alias("nv"),
        norm(F.col("v")).alias("_nn"),
        *[F.col(f"code{s}").cast("long").alias(f"code{s}") for s in range(_PQ_M)],
    )
    q = cells.where(F.col("vec_id") < _IVF_NQ).select(
        F.col("vec_id").alias("query_id"), "cell",
        F.col("v").alias("qv"),
        norm(F.col("v")).alias("_qn"),
        *adc_lut_cols(F.col("v"), books),
    )
    # Pin the NQ-row query frame before it is broadcast (CLAUDE.md
    # invariant): a broadcast join does not pre-evaluate the build side's
    # projection, so unpinned, the M*Ks LUT folds (and the _qn norm fold)
    # would re-evaluate once per matched candidate PAIR instead of once
    # per query — per-pair interpreted fold work at production cell sizes.
    return cells, n, q.localCheckpoint(eager=True)


def q_ann_ivfpq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (Jégou et al. 2011 / FAISS IVFADC): vectors live in the
    index as a coarse cell id + M=4 one-byte PQ codes instead of d=64
    floats — the memory layout that makes 10^11-vector search possible —
    and queries score candidates through a per-query ADC lookup table
    (M arrays of Ks true squared distances), so the per-pair work is M
    array lookups and M-1 adds, no float vector math at all.

    Plan: encode + cell-assign are one narrow codegen map over the
    embeddings scan; the tiny query side (8 rows, carrying their LUTs)
    broadcasts into the query's cell; top-k by ADC distance ascending.
    Codebooks are deterministic literals here (k-means trains real ones);
    codes are raw-vector encodings, not cell residuals — see
    textops/pq.py for both caveats and the Arrow-kernel scale path."""
    from mysql_log_parser_spark.textops.pq import adc_distance

    _, n, q = _ivfpq_frames(spark, sf_dir)
    scored = (
        n.join(F.broadcast(q), "cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("adc6", F.round(adc_distance(_PQ_M), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc6"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _IVF_K)
        .select(
            "query_id", "cell", "neighbor_id",
            *[f"code{s}" for s in range(_PQ_M)],
            "adc6", F.col("rank").cast("long").alias("rank"),
        )
    )


_PQ_R = 16  # ADC shortlist width feeding the exact rerank


def q_ann_ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage IVF-PQ search (FAISS refine / IndexRefineFlat): stage 1
    shortlists the top R={r} candidates per query by compressed ADC
    distance (codes only — no float vectors touched), stage 2 fetches the
    R exact vectors and reranks by true cosine to return top k.  This is
    how production PQ deployments recover the recall the 8-byte codes give
    up: the exact pass touches R rows per query instead of the cell.

    Plan: the shortlist is NQ x R rows -> BROADCAST into the vec_id join
    against the full-vector table, so stage 2 is one broadcast hash join +
    a tiny window.  Stage 2 does re-SCAN the vector table to fetch the R
    exact vectors per query (a second FileScan of embeddings in the plan)
    — at scale that is the point: stage 1 never materializes floats, and
    stage 2's scan is pruned to the broadcast-joined shortlist rows.
    The rerank cosine is PRENORMED (similarity.cosine_prenorm): both side
    norms are materialized before the shortlist join, so the per-pair work
    is one dot fold instead of three — the repo's rerank discipline."""
    from mysql_log_parser_spark.textops.pq import adc_distance
    from mysql_log_parser_spark.textops.similarity import cosine_prenorm, norm

    cells, n, q = _ivfpq_frames(spark, sf_dir)
    scored = (
        n.join(F.broadcast(q), "cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("adc6", F.round(adc_distance(_PQ_M), 6))
    )
    wa = Window.partitionBy("query_id").orderBy(F.asc("adc6"), F.asc("neighbor_id"))
    short = (
        scored.withColumn("adc_rank", F.row_number().over(wa))
        .where(F.col("adc_rank") <= _PQ_R)
        .select("query_id", "neighbor_id", "adc_rank", "qv", "_qn")
    )
    exact = cells.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("nv"),
        norm(F.col("v")).alias("_nn"),
    ).join(F.broadcast(short), "neighbor_id")
    wr = Window.partitionBy("query_id").orderBy(F.desc("cos6"), F.asc("neighbor_id"))
    return (
        exact.withColumn(
            "cos6",
            F.round(
                cosine_prenorm(
                    F.col("qv"), F.col("nv"), F.col("_qn"), F.col("_nn")
                ),
                6,
            ),
        )
        .withColumn("rank", F.row_number().over(wr))
        .where(F.col("rank") <= _IVF_K)
        .select(
            "query_id", "neighbor_id",
            F.col("adc_rank").cast("long").alias("adc_rank"),
            "cos6", F.col("rank").cast("long").alias("rank"),
        )
    )


q_ann_ivfpq_rerank.__doc__ = q_ann_ivfpq_rerank.__doc__.format(r=_PQ_R)


def _ivfpq_sql_parts() -> dict:
    """Shared SQL fragments for the IVF-PQ oracle family: the per-subspace
    code argmins, the per-query ADC expression (identical parenthesization
    to pq.adc_lut_cols/adc_distance), and the argmax cell."""
    from mysql_log_parser_spark.textops.pq import pq_codebooks

    books = pq_codebooks(_PQ_M, _PQ_KS, _IVF_DIM)
    cents = _centroid_literals()
    sub = _IVF_DIM // _PQ_M
    dots = f"{_o_centroid_dots('v', cents)} AS dl"
    cell = _o_cell("dl")

    def cand(col: str, s: int, ci: int) -> str:
        c = books[s][ci]
        cc = sum(x * x for x in c)
        return (
            f"list_dot_product({col}[{s * sub + 1}:{(s + 1) * sub}], {c})"
            f" * -2.0 + {cc!r}"
        )

    codes = ", ".join(
        "CAST(list_sort(["
        + ", ".join(f"{{'d': {cand('v', s, ci)}, 'c': {ci}}}" for ci in range(_PQ_KS))
        + f"])[1].c AS BIGINT) AS code{s}"
        for s in range(_PQ_M)
    )
    # LUT entry: ((dot * -2.0 + cc) + qq_s), qq_s = |q_m|^2 — identical
    # parenthesization to pq.adc_lut_cols
    luts = []
    for s in range(_PQ_M):
        qq = f"list_dot_product(q.v[{s * sub + 1}:{(s + 1) * sub}], q.v[{s * sub + 1}:{(s + 1) * sub}])"
        lut = "[" + ", ".join(f"({cand('q.v', s, ci)}) + {qq}" for ci in range(_PQ_KS)) + "]"
        luts.append(f"({lut})[n.code{s} + 1]")
    adc = f"((({luts[0]}) + ({luts[1]})) + ({luts[2]})) + ({luts[3]})"
    return {"dots": dots, "cell": cell, "codes": codes, "adc": adc}


def _o_ann_ivfpq() -> str:
    parts = _ivfpq_sql_parts()
    dots, cell, codes, adc = (
        parts["dots"], parts["cell"], parts["codes"], parts["adc"]
    )
    code_cols = ", ".join(f"n.code{s}" for s in range(_PQ_M))
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), d AS (
  SELECT vec_id, v, {dots} FROM e
), cells AS (
  SELECT vec_id, v, {cell} AS cell FROM d
), coded AS (
  SELECT vec_id, v, cell, {codes} FROM cells
), scored AS (
  SELECT q.vec_id AS query_id, q.cell AS cell, n.vec_id AS neighbor_id,
         {code_cols},
         round({adc}, 6) AS adc6
  FROM coded n JOIN cells q USING (cell)
  WHERE q.vec_id < {_IVF_NQ} AND n.vec_id != q.vec_id
), rr AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY adc6, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, cell, neighbor_id, {', '.join(f'code{s}' for s in range(_PQ_M))},
       adc6, CAST(rank AS BIGINT) AS rank
FROM rr WHERE rank <= {_IVF_K}
"""


EXT_QUERIES["ann_ivfpq_adc"] = (q_ann_ivfpq_adc, _o_ann_ivfpq())


def _o_ann_ivfpq_rerank() -> str:
    """Same CTE chain as _o_ann_ivfpq through the ADC ranking `rr`, then
    the exact-cosine rerank over the top-R shortlist (identical cosine
    expression + tie-breaks as _o_ann_ivf)."""
    base = _o_ann_ivfpq()
    ctes = base[: base.index("SELECT query_id, cell, neighbor_id,")]
    return ctes + f""", ex AS (
  SELECT r.query_id, r.neighbor_id, r.rank AS adc_rank,
         round(list_dot_product(q.v, n.v)
               / (sqrt(list_dot_product(q.v, q.v))
                  * sqrt(list_dot_product(n.v, n.v))), 6) AS cos6
  FROM rr r
  JOIN cells q ON q.vec_id = r.query_id
  JOIN cells n ON n.vec_id = r.neighbor_id
  WHERE r.rank <= {_PQ_R}
), rr2 AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos6 DESC, neighbor_id) AS rank
  FROM ex
)
SELECT query_id, neighbor_id, CAST(adc_rank AS BIGINT) AS adc_rank,
       cos6, CAST(rank AS BIGINT) AS rank
FROM rr2 WHERE rank <= {_IVF_K}
"""


EXT_QUERIES["ann_ivfpq_rerank"] = (q_ann_ivfpq_rerank, _o_ann_ivfpq_rerank())


def q_ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ index-quality audit: recall@k of the compressed ADC ranking
    against the exact-cosine ranking over the SAME cell candidates — the
    regression metric a production ANN deployment tracks per index build
    (isolates quantization loss from cell-assignment loss, since both
    rankings see identical candidate sets).  Per query: |ADC-topk ∩
    exact-topk| and integer-permille recall.

    Plan: one corpus scan builds cells+codes; both rankings are windows
    over the same broadcast-joined candidate stream; the final overlap is
    a join of two k-row-per-query tables.

    Expected values at gate dims are LOW (0-400 permille): the synthetic
    embeddings are near-random, so M=4 one-byte codes retain almost no
    ordering signal — which is precisely the regression this audit exists
    to surface, and precisely why ann_ivfpq_rerank refines with exact
    distances.  Real clustered embeddings + residual encoding land much
    higher; the metric, not its value, is the operator."""
    from mysql_log_parser_spark.textops.pq import adc_distance
    from mysql_log_parser_spark.textops.similarity import cosine_prenorm

    _, n, q = _ivfpq_frames(spark, sf_dir)
    # prenormed cosine: norms computed once per row on each join input
    # (similarity.py cosine_prenorm) — one dot fold per candidate pair
    # instead of three; identical doubles, so cos6 and the oracle agree.
    cand = (
        n.join(F.broadcast(q), "cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("adc6", F.round(adc_distance(_PQ_M), 6))
        .withColumn(
            "cos6",
            F.round(
                cosine_prenorm(
                    F.col("qv"), F.col("nv"), F.col("_qn"), F.col("_nn")
                ),
                6,
            ),
        )
    )
    wa = Window.partitionBy("query_id").orderBy(F.asc("adc6"), F.asc("neighbor_id"))
    wx = Window.partitionBy("query_id").orderBy(F.desc("cos6"), F.asc("neighbor_id"))
    ranked = cand.select(
        "query_id", "neighbor_id",
        F.row_number().over(wa).alias("adc_rank"),
        F.row_number().over(wx).alias("exact_rank"),
    )
    overlap = (
        ranked.where(
            (F.col("adc_rank") <= _IVF_K) & (F.col("exact_rank") <= _IVF_K)
        )
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        q.select("query_id")
        .join(overlap, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_overlap", F.lit(0)).cast("long").alias("n_overlap"),
            F.expr(f"(1000 * coalesce(n_overlap, 0)) DIV {_IVF_K}")
            .cast("long").alias("recall_permille"),
        )
    )


def _o_ann_pq_recall() -> str:
    """Shares _o_ann_ivfpq's CTE chain through `scored`, adds the exact
    cosine next to the ADC distance, ranks both, counts the top-k overlap."""
    base = _o_ann_ivfpq()
    ctes = base[: base.index("), scored AS (")]
    adc = _ivfpq_sql_parts()["adc"]
    return ctes + f"""), cand AS (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         round({adc}, 6) AS adc6,
         round(list_dot_product(q.v, n.v)
               / (sqrt(list_dot_product(q.v, q.v))
                  * sqrt(list_dot_product(n.v, n.v))), 6) AS cos6
  FROM coded n JOIN cells q USING (cell)
  WHERE q.vec_id < {_IVF_NQ} AND n.vec_id != q.vec_id
), ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc6, neighbor_id) AS adc_rank,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos6 DESC, neighbor_id) AS exact_rank
  FROM cand
), ov AS (
  SELECT query_id, count(*) AS n_overlap FROM ranked
  WHERE adc_rank <= {_IVF_K} AND exact_rank <= {_IVF_K}
  GROUP BY query_id
)
SELECT q.vec_id AS query_id,
       CAST(coalesce(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
       CAST((1000 * coalesce(ov.n_overlap, 0)) // {_IVF_K} AS BIGINT) AS recall_permille
FROM cells q LEFT JOIN ov ON ov.query_id = q.vec_id
WHERE q.vec_id < {_IVF_NQ}
"""


EXT_QUERIES["ann_pq_recall"] = (q_ann_pq_recall, _o_ann_pq_recall())


# -- residual IVF-PQ (FAISS IVFADC proper: codes quantize v - centroid[cell]) --

_RPQ_M = 16      # subspaces (sub-dim 4: fine enough that 16 codes carry signal)
_RPQ_KS = 16     # codes per subspace codebook
_RPQ_SCALE = 0.0625  # codebook spread matched to the residual distribution
                     # (2^-4: exact in both engines; the 1-parameter stand-in
                     # for k-means codebook training — see pq.pq_codebooks)


def _rpq_frames(spark: SparkSession, sf_dir: str):
    """Shared prelude for the residual-PQ family: a deterministically
    CLUSTERED corpus w = centroid[vec_id % C] + 0.25·v derived from the
    embeddings table (exactly replayable in SQL: 0.25 is a power of two,
    so per-element w_j = cent_j + 0.25·v_j is ONE identically-rounded IEEE
    op in both engines), its cell assignment, RAW and RESIDUAL codes on
    the index side, and RAW and RESIDUAL ADC LUTs + exact vectors on the
    query side.

    Why derive w at all: the synthetic embeddings are near-uniform, where
    NO 16-byte code carries ordering signal (the existing ann_pq_recall
    documents its own near-zero values) — but production embedding spaces
    are clustered, and clustered is precisely where residual encoding
    earns its keep: the codebook only has to cover the within-cell spread
    (0.25·|v|) instead of the centroid-dominated global spread.  w makes
    the audit measure that, deterministically.

    Plan shape: w is ONE scalar pandas_udf (ArrowEvalPython — a
    materialization barrier, so the hundreds of downstream dot folds
    reference a materialized column, never re-evaluate the derivation);
    everything after is the IVFADC layout of _ivfpq_frames."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, DoubleType

    from mysql_log_parser_spark.textops.pq import (
        adc_lut_arrow,
        pq_codebooks,
        pq_encode,
        pq_encode_residual,
        residual_lut_arrow,
    )
    from mysql_log_parser_spark.textops.similarity import norm

    books = pq_codebooks(_RPQ_M, _RPQ_KS, _IVF_DIM, scale=_RPQ_SCALE)
    cents = _centroid_literals()
    cent_arr = np.asarray(cents, dtype=np.float64)

    @pandas_udf(ArrayType(DoubleType()))
    def wcol(vid: pd.Series, v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        m = np.stack([np.asarray(x, dtype=np.float64) for x in v])
        w = cent_arr[vid.to_numpy() % len(cent_arr)] + 0.25 * m
        return pd.Series(list(w))

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    wdf = e.select("vec_id", wcol("vec_id", "v").alias("w"))
    cells = with_nearest_centroid(wdf, cents, vec_col="w")
    # Index-side encodes through kernel='auto', which at M=16/Ks=16 routes
    # onto the ARROW kernels via the argmin-struct pricing
    # (pq._ARGMIN_STRUCT_SWITCH): the literal argmin trees here are ~256
    # interpreted folds PER ROW PER ENCODE — measured 36-42 s per entry at
    # sf0.1 (2k vectors!) vs ~2 s on arrow.  The arrow encoders are
    # bit-exact with the catalyst/oracle fold trees by construction
    # (sequential-fold distances, tests/test_pq.py pins equality).
    coded = pq_encode_residual(
        pq_encode(cells, books, vec_col="w", kernel="auto"),
        books, cents, vec_col="w", cell_col="cell", kernel="auto",
    )
    n = coded.select(
        F.col("vec_id").alias("neighbor_id"),
        "cell",
        F.col("w").alias("nw"),
        norm(F.col("w")).alias("_nn"),
        *[F.col(f"code{s}").cast("long").alias(f"code{s}") for s in range(_RPQ_M)],
        *[F.col(f"rcode{s}").cast("long").alias(f"rcode{s}") for s in range(_RPQ_M)],
    )
    # LUTs on the ARROW twins: the Catalyst builders' cost here is not
    # execution (NQ rows) but PLAN CONSTRUCTION — 2·M·Ks fold trees are
    # ~30k py4j round-trips, measured ~18 s per invocation at M=16/Ks=16.
    # The arrow kernels keep the sequential fold order, so the doubles
    # (and the oracle hash) are bit-identical.  The frame is then pinned
    # (localCheckpoint) so the broadcast build side holds computed LUT
    # arrays, never re-running folds per matched pair.
    q = residual_lut_arrow(
        adc_lut_arrow(
            cells.where(F.col("vec_id") < _IVF_NQ).select(
                F.col("vec_id").alias("query_id"),
                "cell",
                F.col("w").alias("qw"),
                norm(F.col("w")).alias("_qn"),
            ),
            books,
            vec_col="qw",
        ),
        books,
        cents,
        vec_col="qw",
        cell_col="cell",
    )
    return cells, n, q.localCheckpoint(eager=True)


def q_ann_ivfpq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with RESIDUAL encoding — FAISS IVFADC proper (Jégou et al.
    2011 §IV): the index stores argmin_c |(v − centroid[cell]) − c|² and
    the query scores through a LUT built on ITS residual, so the codebook
    budget covers only the within-cell spread.  Implemented with NO
    residual column anywhere in the plan: the centroid contribution to
    every argmin/LUT term is a per-(cell, subspace, code) constant folded
    at plan time (textops/pq.residual_const1) and selected by one
    element_at on the row's cell id — the per-row work stays the same dot
    folds as raw encoding, and the DuckDB oracle replays every digit.
    Top-k per query by residual ADC distance, ascending."""
    from mysql_log_parser_spark.textops.pq import adc_distance

    _, n, q = _rpq_frames(spark, sf_dir)
    scored = (
        n.join(F.broadcast(q), "cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "adc6", F.round(adc_distance(_RPQ_M, "rlut", "rcode"), 6)
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc6"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _IVF_K)
        .select(
            "query_id", "cell", "neighbor_id", "adc6",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def q_ann_pq_recall_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-vs-residual recall audit on the SAME candidates — the
    regression metric that justifies shipping residual encoding: per
    query, |top-k by raw ADC ∩ top-k by exact cosine| next to |top-k by
    RESIDUAL ADC ∩ same exact top-k|, integer permille.  On the clustered
    corpus residual recall must dominate (asserted in
    tests/test_pq.py) — same byte budget, the codebook just stops wasting
    range on the centroid offset."""
    from mysql_log_parser_spark.textops.pq import adc_distance
    from mysql_log_parser_spark.textops.similarity import cosine_prenorm

    _, n, q = _rpq_frames(spark, sf_dir)
    cand = (
        n.join(F.broadcast(q), "cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("adcr6", F.round(adc_distance(_RPQ_M, "lut", "code"), 6))
        .withColumn("adcs6", F.round(adc_distance(_RPQ_M, "rlut", "rcode"), 6))
        .withColumn(
            "cos6",
            F.round(
                cosine_prenorm(F.col("qw"), F.col("nw"), F.col("_qn"), F.col("_nn")),
                6,
            ),
        )
    )
    wr = Window.partitionBy("query_id").orderBy(F.asc("adcr6"), F.asc("neighbor_id"))
    ws = Window.partitionBy("query_id").orderBy(F.asc("adcs6"), F.asc("neighbor_id"))
    wx = Window.partitionBy("query_id").orderBy(F.desc("cos6"), F.asc("neighbor_id"))
    ranked = cand.select(
        "query_id", "neighbor_id",
        F.row_number().over(wr).alias("raw_rank"),
        F.row_number().over(ws).alias("res_rank"),
        F.row_number().over(wx).alias("exact_rank"),
    )
    hit = ranked.where(F.col("exact_rank") <= _IVF_K).groupBy("query_id").agg(
        F.sum(F.when(F.col("raw_rank") <= _IVF_K, 1).otherwise(0)).alias("n_raw"),
        F.sum(F.when(F.col("res_rank") <= _IVF_K, 1).otherwise(0)).alias("n_res"),
    )
    return (
        q.select("query_id")
        .join(hit, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_raw", F.lit(0)).cast("long").alias("n_overlap_raw"),
            F.coalesce("n_res", F.lit(0)).cast("long").alias("n_overlap_res"),
            F.expr(f"(1000 * coalesce(n_raw, 0)) DIV {_IVF_K}")
            .cast("long").alias("recall_raw_permille"),
            F.expr(f"(1000 * coalesce(n_res, 0)) DIV {_IVF_K}")
            .cast("long").alias("recall_res_permille"),
        )
    )


def _rpq_sql_parts() -> dict:
    """SQL fragments for the residual-PQ oracle family, with expression
    trees (operand order, parenthesization, constant literals) matched
    digit-for-digit to _rpq_frames' Spark side: the derived clustered
    corpus w, the argmax cell, raw + residual code argmins, and raw +
    residual ADC expressions."""
    from mysql_log_parser_spark.textops.pq import pq_codebooks, residual_const1

    books = pq_codebooks(_RPQ_M, _RPQ_KS, _IVF_DIM, scale=_RPQ_SCALE)
    cents = _centroid_literals()
    c1 = residual_const1(books, cents)
    sub = _IVF_DIM // _RPQ_M
    cmat = "[" + ", ".join(str(c) for c in cents) + "]"
    w_expr = (
        f"list_transform(generate_series(1, {_IVF_DIM}), "
        f"j -> ({cmat})[vec_id % {_IVF_C} + 1][j] + 0.25 * v[j])"
    )
    dots = f"{_o_centroid_dots('w', cents)} AS dl"
    cell = _o_cell("dl")

    def sl(col: str, s: int) -> str:
        return f"{col}[{s * sub + 1}:{(s + 1) * sub}]"

    def cand_raw(col: str, s: int, ci: int) -> str:
        c = books[s][ci]
        cc = sum(x * x for x in c)
        return f"list_dot_product({sl(col, s)}, {c}) * -2.0 + {cc!r}"

    def cand_res(col: str, cellref: str, s: int, ci: int) -> str:
        c = books[s][ci]
        return (
            f"-2.0 * list_dot_product({sl(col, s)}, {c})"
            f" + ({c1[s][ci]})[{cellref} + 1]"
        )

    codes = ", ".join(
        "CAST(list_sort(["
        + ", ".join(
            f"{{'d': {cand_raw('w', s, ci)}, 'c': {ci}}}" for ci in range(_RPQ_KS)
        )
        + f"])[1].c AS BIGINT) AS code{s}"
        for s in range(_RPQ_M)
    )
    rcodes = ", ".join(
        "CAST(list_sort(["
        + ", ".join(
            f"{{'d': {cand_res('w', 'cell', s, ci)}, 'c': {ci}}}"
            for ci in range(_RPQ_KS)
        )
        + f"])[1].c AS BIGINT) AS rcode{s}"
        for s in range(_RPQ_M)
    )

    # raw ADC: identical parenthesization to pq.adc_lut_cols/adc_distance
    raw_terms = []
    for s in range(_RPQ_M):
        qq = f"list_dot_product({sl('q.w', s)}, {sl('q.w', s)})"
        lut = (
            "["
            + ", ".join(
                f"({cand_raw('q.w', s, ci)}) + {qq}" for ci in range(_RPQ_KS)
            )
            + "]"
        )
        raw_terms.append(f"({lut})[n.code{s} + 1]")
    adc_raw = raw_terms[0]
    for t in raw_terms[1:]:
        adc_raw = f"({adc_raw}) + ({t})"

    # residual ADC: rlut entry = ((-2·dot(q_m,c) + c1[cell]) + qres_s),
    # qres_s = ((|q_m|² + -2·dcent[cell]) + ccn[cell]) — matches
    # pq.residual_lut_cols' tree exactly
    res_terms = []
    for s in range(_RPQ_M):
        cent_slices = [cents[i][s * sub : (s + 1) * sub] for i in range(_IVF_C)]
        dc = "[" + ", ".join(
            f"list_dot_product({sl('q.w', s)}, {cs})" for cs in cent_slices
        ) + "]"
        ccn = str([sum(x * x for x in cs) for cs in cent_slices])
        qq = f"list_dot_product({sl('q.w', s)}, {sl('q.w', s)})"
        qres = f"(({qq} + -2.0 * ({dc})[q.cell + 1]) + ({ccn})[q.cell + 1])"
        lut = (
            "["
            + ", ".join(
                f"({cand_res('q.w', 'q.cell', s, ci)}) + {qres}"
                for ci in range(_RPQ_KS)
            )
            + "]"
        )
        res_terms.append(f"({lut})[n.rcode{s} + 1]")
    adc_res = res_terms[0]
    for t in res_terms[1:]:
        adc_res = f"({adc_res}) + ({t})"

    ctes = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), wt AS (
  SELECT vec_id, {w_expr} AS w FROM e
), d AS (
  SELECT vec_id, w, {dots} FROM wt
), cells AS (
  SELECT vec_id, w, {cell} AS cell FROM d
), coded AS (
  SELECT vec_id, w, cell, {codes}, {rcodes} FROM cells
)"""
    return {"ctes": ctes, "adc_raw": adc_raw, "adc_res": adc_res}


def _o_ann_ivfpq_residual() -> str:
    p = _rpq_sql_parts()
    return p["ctes"] + f""", scored AS (
  SELECT q.vec_id AS query_id, q.cell AS cell, n.vec_id AS neighbor_id,
         round({p['adc_res']}, 6) AS adc6
  FROM coded n JOIN cells q USING (cell)
  WHERE q.vec_id < {_IVF_NQ} AND n.vec_id != q.vec_id
), rr AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY adc6, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, cell, neighbor_id, adc6, CAST(rank AS BIGINT) AS rank
FROM rr WHERE rank <= {_IVF_K}
"""


def _o_ann_pq_recall_residual() -> str:
    p = _rpq_sql_parts()
    return p["ctes"] + f""", cand AS (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         round({p['adc_raw']}, 6) AS adcr6,
         round({p['adc_res']}, 6) AS adcs6,
         round(list_dot_product(q.w, n.w)
               / (sqrt(list_dot_product(q.w, q.w))
                  * sqrt(list_dot_product(n.w, n.w))), 6) AS cos6
  FROM coded n JOIN cells q USING (cell)
  WHERE q.vec_id < {_IVF_NQ} AND n.vec_id != q.vec_id
), ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adcr6, neighbor_id) AS raw_rank,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adcs6, neighbor_id) AS res_rank,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos6 DESC, neighbor_id) AS exact_rank
  FROM cand
), hit AS (
  SELECT query_id,
         sum(CASE WHEN raw_rank <= {_IVF_K} THEN 1 ELSE 0 END) AS n_raw,
         sum(CASE WHEN res_rank <= {_IVF_K} THEN 1 ELSE 0 END) AS n_res
  FROM ranked WHERE exact_rank <= {_IVF_K}
  GROUP BY query_id
)
SELECT q.vec_id AS query_id,
       CAST(coalesce(h.n_raw, 0) AS BIGINT) AS n_overlap_raw,
       CAST(coalesce(h.n_res, 0) AS BIGINT) AS n_overlap_res,
       CAST((1000 * coalesce(h.n_raw, 0)) // {_IVF_K} AS BIGINT)
         AS recall_raw_permille,
       CAST((1000 * coalesce(h.n_res, 0)) // {_IVF_K} AS BIGINT)
         AS recall_res_permille
FROM cells q LEFT JOIN hit h ON h.query_id = q.vec_id
WHERE q.vec_id < {_IVF_NQ}
"""


EXT_QUERIES["ann_ivfpq_residual"] = (q_ann_ivfpq_residual, _o_ann_ivfpq_residual())
EXT_QUERIES["ann_pq_recall_residual"] = (
    q_ann_pq_recall_residual,
    _o_ann_pq_recall_residual(),
)
