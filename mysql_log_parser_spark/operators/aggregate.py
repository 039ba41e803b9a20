"""Per-class / global aggregates (the reference's EventStats/QueryClass/
GlobalClass model, /root/reference/log/stats.go + log/class.go), re-expressed
as Spark hash aggregations.

The reference accumulates per-metric {Cnt, Sum, Min, Avg, Pct95, Med, Max}
with these parity-relevant quirks:

- percentiles are exact, 0-indexed, integer-division rank, NO interpolation:
  Pct95 = sorted[(95*Cnt)/100], Med = sorted[(50*Cnt)/100]   (stats.go:126-128)
  (deliberately different from pt-query-digest, log_test.go:492-494)
- NumberStats Avg is integer division                         (stats.go:137)
- TimeMetrics are float32 at parse, accumulated as float64    (stats.go:70)
- Stddev is declared but never computed (always 0)            (stats.go:119-127)
- a GK(eps=0.01) sketch is kept alongside the exact values    (stats.go:24,65)

Two modes:

- mode="exact": reproduces the reference indexing bit-for-bit via
  element_at(array_sort(collect_list(v)), rank+1).  Unbounded per-group
  memory, exactly like the reference's vals buffer (stats.go:15) — use at
  test/golden scale only.
- mode="sketch": percentile_approx(v, phi, 100).  Spark's QuantileSummaries
  *is* Greenwald-Khanna; accuracy=100 == the reference's eps=0.01 sketch.
  Mergeable partial+final (map-side combine), bounded memory — the 10^12-row
  path.  No salting needed: Spark's partial aggregation already combines
  map-side per partition, so a hot class produces one partial sketch per
  map task, not a hot shuffle key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

GK_ACCURACY = 100  # == 1/eps for the reference's gkquantile.NewGKSummary(0.01)


def _exact_rank(vals: Column, cnt: Column, pct: int) -> Column:
    """sorted[(pct*cnt)/100], 0-indexed (stats.go:126-128); element_at is 1-based."""
    idx = F.floor((F.lit(pct) * cnt) / 100).cast("int") + 1
    return F.element_at(vals, idx)


def _metric_stats(v: Column, mode: str, integer: bool) -> list[Column]:
    cnt = F.count(v)
    if mode == "exact":
        vals = F.array_sort(F.collect_list(v))
        p95 = _exact_rank(vals, cnt, 95)
        med = _exact_rank(vals, cnt, 50)
    else:
        # one GK sketch serving both quantiles: the two element_at refs share
        # a single percentile_approx aggregate (Catalyst dedups
        # semantically-equal aggregate functions), halving sketch count per
        # metric vs separate p50/p95 calls
        pa = F.percentile_approx(
            v, F.array(F.lit(0.5), F.lit(0.95)), F.lit(GK_ACCURACY)
        )
        p95 = F.element_at(pa, 2)
        med = F.element_at(pa, 1)
    if integer:
        s = F.sum(v)
        avg = F.floor(s / cnt).cast("long")  # integer division (stats.go:137)
    else:
        s = F.sum(v.cast("double"))
        avg = s / cnt
    # Stddev is declared but never computed in the reference (always 0,
    # stats.go:119-127); parity mode reproduces that, sketch mode computes it.
    sd = F.lit(0.0) if mode == "exact" else F.coalesce(F.stddev_pop(v), F.lit(0.0))
    return [cnt, s, F.min(v), avg, p95, med, F.max(v), sd]


_STAT_NAMES = ("cnt", "sum", "min", "avg", "pct95", "med", "max", "stddev")


def stats_long(events: DataFrame, group_cols: tuple[str, ...] = (), mode: str = "exact") -> DataFrame:
    """Long-form EventStats: one row per (group..., kind, metric).

    Mirrors EventStats' three dynamic maps (stats.go:8-12): the maps are
    exploded and aggregated per metric name, so open-ended metric vocabularies
    aggregate without schema changes.  Bool metrics get cnt/true_cnt
    (stats.go:39-42); their stat columns are null.
    """
    g = [F.col(c) for c in group_cols]

    t = events.select(*g, F.explode("time_metrics").alias("metric", "v"))
    t_agg = t.groupBy(*g, "metric").agg(
        *[c.alias(n) for c, n in zip(_metric_stats(F.col("v"), mode, False), _STAT_NAMES)]
    ).withColumn("kind", F.lit("time"))

    n = events.select(*g, F.explode("number_metrics").alias("metric", "v"))
    n_agg = n.groupBy(*g, "metric").agg(
        *[c.alias(n_) for c, n_ in zip(_metric_stats(F.col("v"), mode, True), _STAT_NAMES)]
    ).withColumn("kind", F.lit("number"))

    b = events.select(*g, F.explode("bool_metrics").alias("metric", "v"))
    b_agg = (
        b.groupBy(*g, "metric")
        .agg(
            F.count("v").alias("cnt"),
            F.sum(F.col("v").cast("int")).alias("true_cnt"),
        )
        .withColumn("kind", F.lit("bool"))
    )

    cols = [*group_cols, "kind", "metric", "cnt", *_STAT_NAMES[1:], "true_cnt"]
    t_agg = t_agg.withColumn("true_cnt", F.lit(None).cast("long"))
    n_agg = n_agg.withColumn("true_cnt", F.lit(None).cast("long"))
    for c in _STAT_NAMES[1:]:
        b_agg = b_agg.withColumn(c, F.lit(None).cast("double"))
    return (
        t_agg.select(*cols)
        .unionByName(n_agg.select(*cols))
        .unionByName(b_agg.select(*cols))
    )


# promoted metric columns (see promote_metrics) -> integer stats: number
# metrics are integers, time metrics float32 accumulated as float64
_METRICS = {
    "query_time": False,
    "lock_time": False,
    "rows_sent": True,
    "rows_examined": True,
}
_GLOBAL_METRICS = ("query_time", "rows_sent")  # GlobalClass tracks only these


def _stat_names(metric: str) -> list[str]:
    return [f"{metric}_{n}" for n in _STAT_NAMES]


def _stats(metric: str, mode: str) -> dict[str, Column]:
    """{<metric>_<stat>: aggregate} for one promoted metric column."""
    return dict(zip(_stat_names(metric), _metric_stats(F.col(metric), mode, _METRICS[metric])))


def _total() -> dict[str, Column]:
    return {"total_queries": F.count(F.lit(1))}


def example_ts(ts: Column) -> Column:
    """The example's Ts as Go reports it: reformatted to ISO, or blank
    (never null) when it does not parse (class.go:106-110)."""
    return F.coalesce(
        F.date_format(F.try_to_timestamp(ts, F.lit("yyMMdd H:mm:ss")), "yyyy-MM-dd HH:mm:ss"),
        F.lit(""),
    )


def _class_aggs(mode: str) -> dict[str, Column]:
    """QueryClass aggregates (class.go:70-121), keyed by output column."""
    aggs = {"fingerprint": F.first("fingerprint"), **_total()}
    for m in _METRICS:
        aggs |= _stats(m, mode)
    # the slowest event; Query_time ties (common: logs print 6 decimals) go
    # to the smallest (doc_id, event_idx), as max_by alone picks any of them
    qt = F.col("query_time")
    ex = F.min_by(
        F.struct("query", "ts"), F.when(qt.isNotNull(), F.struct(-qt, "doc_id", "event_idx"))
    )
    return aggs | {
        "example_query_time": F.max("query_time"),
        "example_query": ex["query"],
        "example_ts": example_ts(ex["ts"]),
    }


def _rate_aggs() -> dict[str, Column]:
    """Rate-limit state of GlobalClass (class.go:41-55).  The least and
    greatest (rate_type, rate_limit) pair over rate-limited events differ
    exactly when more than one distinct pair was seen, so the consistency
    flag needs no distinct aggregate (see _global_columns).  rate_type is
    the least pair's type, whatever order the events arrive in, and ""
    when no event was rate-limited."""
    rate = F.when(F.col("rate_type") != "", F.struct("rate_type", "rate_limit"))
    lo = F.min(rate)
    return {
        "_rate_lo": lo,
        "_rate_hi": F.max(rate),
        "rate_type": F.coalesce(lo["rate_type"], F.lit("")),
    }


def _aliased(aggs: dict[str, Column]) -> list[Column]:
    return [c.alias(n) for n, c in aggs.items()]


def _global_columns() -> list[Column]:
    """global_digest's output columns, projected from a row carrying
    total_queries, unique_queries, the _GLOBAL_METRICS stats and _rate_aggs."""
    return [
        F.col("total_queries"),
        F.col("unique_queries"),
        *[F.col(n) for m in _GLOBAL_METRICS for n in _stat_names(m)],
        (~F.col("_rate_lo").eqNullSafe(F.col("_rate_hi"))).alias("mixed_rate_limits"),
        F.col("rate_type"),
    ]


def class_digest(
    events: DataFrame,
    mode: str = "sketch",
    group_extra: tuple[str, ...] = (),
) -> DataFrame:
    """Per-query-class digest — the QueryClass aggregation
    (class.go:70-121, bin/parser-cli.go:76-84).

    `events` are pipeline.events rows (fingerprint/class_id, the promoted
    metric columns, and doc_id/event_idx for the example's tie-break).
    Groups by class_id (+ group_extra, e.g. ("source",) for per-sink
    digests or ("win",) for the stream's event-time windows) and emits
    total_queries plus Query_time / Lock_time / Rows_sent / Rows_examined
    stats and the argmax example (class.go:100-116).  Catalyst drops the aggregates a caller does not
    select, so a projection of a few columns pays only for those.  Over a
    streaming `events` frame this is a stateful streaming aggregate: in
    update mode each micro-batch emits the running digest of every class it
    touched (the reference's live class map, bin/parser-cli.go:72-88).
    """
    keys = [*group_extra, "class_id"]
    return events.groupBy(*keys).agg(*_aliased(_class_aggs(mode)))


def global_digest(events: DataFrame, mode: str = "sketch") -> DataFrame:
    """GlobalClass (class.go:12-64, bin/parser-cli.go:92-101): one row with
    TotalQueries, UniqueQueries (#classes), rate-limit consistency flag, and
    the same promoted metric stats over all events."""
    aggs = {**_total(), "unique_queries": F.countDistinct("class_id")}
    for m in _GLOBAL_METRICS:
        aggs |= _stats(m, mode)
    return events.agg(*_aliased(aggs | _rate_aggs())).select(*_global_columns())


def histogram(events: DataFrame, col: str = "query_time", buckets: int = 20) -> DataFrame:
    """Equi-width histogram over a metric (the GKq.Histo(20) report,
    bin/parser-cli.go:137) as a width_bucket-style aggregation."""
    v = F.col(col)
    bounds = events.agg(F.min(v).alias("_lo"), F.max(v).alias("_hi"))
    width = F.when(
        F.col("_hi") > F.col("_lo"), (F.col("_hi") - F.col("_lo")) / buckets
    ).otherwise(F.lit(1.0))
    b = F.least(F.floor((v - F.col("_lo")) / width).cast("int"), F.lit(buckets - 1))
    # broadcast the 1-row bounds instead of collecting them to the driver:
    # one job, no second full pass scheduled from a .first() round-trip
    return (
        events.crossJoin(F.broadcast(bounds))
        .groupBy(b.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("bucket")
    )


def rollup_digest(events: DataFrame, mode: str = "sketch") -> DataFrame:
    """Per-class AND global digest in ONE aggregation via rollup(class_id):
    Catalyst expands each input row into the (class_id) and () grouping sets
    inside the same shuffle, so the reference's two separate accumulator
    passes (QueryClass map + GlobalClass, bin/parser-cli.go:76-101) collapse
    into a single job: ONE scan/parse of the events, both result levels.

    Every row carries the class_digest aggregates plus the global rate-limit
    state; class rows have is_global = 0, the grand-total row has
    is_global = 1 and class_id null.  There is no distinct aggregate (it
    would make Spark expand every event row once more): unique_queries is 1
    on class rows and, on the global row, the number of class rows — a
    window over the class-cardinality result (one partition), not over
    events.  split_rollup_digest projects class_digest and global_digest
    from it.  An event-free input has no grand-total row here, unlike
    global_digest's one row of zero counts.
    """
    aggs = _class_aggs(mode) | _rate_aggs()
    r = events.rollup("class_id").agg(
        *_aliased(aggs), F.grouping("class_id").cast("long").alias("is_global")
    )
    is_global = F.col("is_global") == 1
    n_classes = F.count_if(~is_global).over(Window.partitionBy())
    return r.withColumn(
        "unique_queries", F.when(is_global, n_classes).otherwise(F.lit(1).cast("long"))
    )


def split_rollup_digest(rollup: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(class_digest, global_digest) of a rollup_digest frame, each with
    exactly the columns of the function of that name.  Both are plain
    filters and projections: materialize `rollup` first (e.g. with
    localCheckpoint) and writing both reads the events once."""
    is_global = F.col("is_global") == 1
    # the output names of _class_aggs do not depend on the mode
    classes = rollup.where(~is_global).select("class_id", *_class_aggs("exact"))
    return classes, rollup.where(is_global).select(*_global_columns())
