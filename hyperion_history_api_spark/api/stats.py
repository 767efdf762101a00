"""Aggregation endpoints (SURVEY §2.4 A1-A15, §2.11 v2-stats family).

All are single groupBy/agg plans: Catalyst executes them as partial
(map-side) + final hash aggregates, the distributed analogue of the ES
aggs Hyperion delegates to. Float outputs are rounded identically in
plan and oracle so the driver's value-hash is order-independent and
ulp-stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register, _t


@register(
    "count_total",
    "SELECT count(*) AS total FROM events",
    "A1 track_total_hits exact count (functions.ts:917-934)",
)
def count_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir)["events"].agg(F.count("*").alias("total"))


@register(
    "count_filtered",
    "SELECT count(*) AS total FROM events WHERE event_type = 'purchase'",
    "A2 filtered value_count (get_action_usage.ts:23-36)",
)
def count_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir)["events"]
    return ev.where(F.col("event_type") == "purchase").agg(F.count("*").alias("total"))


@register(
    "unique_actors",
    """
    SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS unique_actors
    FROM events WHERE event_type = 'purchase'
    """,
    "A3 cardinality agg, exact variant (get_action_usage.ts:38-56)",
)
def unique_actors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct for the oracle gate; `unique_actors_approx` is the
    scale path (HLL, constant memory) matching ES `cardinality`."""
    ev = _t(spark, sf_dir)["events"]
    return ev.where(F.col("event_type") == "purchase").agg(
        F.count_distinct("user_id").alias("unique_actors")
    )


@register(
    "unique_actors_approx",
    """
    SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct,
           true AS within_bound
    FROM events
    """,
    "A3 cardinality agg, approx variant (ES HyperLogLog semantics) — "
    "oracle-gated: the twin computes the exact distinct and the Spark "
    "side asserts the HLL estimate lands within 5x its rsd of it "
    "(within_bound flips false -> hash FAIL if the sketch drifts), "
    "the same assertion-twin pattern as embedding_lsh_recall",
)
def unique_actors_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`approx_count_distinct` = ES cardinality: HLL sketch, constant
    memory per group — the 100 TB path where exact distinct would
    shuffle every key. The serving answer is the ESTIMATE; this
    registry row is its honesty gate: both aggregates run in ONE scan
    and the hashed output is (exact, estimate-within-bound), so the
    oracle check fails exactly when the HLL answer would be wrong
    beyond its advertised rsd (0.01, 5-sigma tolerance)."""
    ev = _t(spark, sf_dir)["events"]
    rsd = 0.01
    agg = ev.agg(
        F.count_distinct("user_id").alias("exact_distinct"),
        F.approx_count_distinct("user_id", rsd).alias("est"),
    )
    return agg.select(
        "exact_distinct",
        (
            F.abs(F.col("est") - F.col("exact_distinct"))
            <= 5 * rsd * F.col("exact_distinct") + 1
        ).alias("within_bound"),
    )


@register(
    "usage_sum_min_max",
    """
    SELECT CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
             AS trx_count,
           CAST(min(event_id) AS BIGINT) AS first_seq,
           CAST(max(event_id) AS BIGINT) AS last_seq
    FROM events
    """,
    "A4 sum/min/max (get_trx_count.ts:55-76)",
)
def usage_sum_min_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir)["events"]
    return ev.agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("trx_count"),
        F.min("event_id").alias("first_seq"),
        F.max("event_id").alias("last_seq"),
    )


@register(
    "extended_stats_value",
    """
    SELECT count(value) AS cnt,
           round(min(value), 4) AS min_v,
           round(max(value), 4) AS max_v,
           round(avg(value), 4) AS avg_v,
           round(sum(value), 4) AS sum_v,
           round(var_samp(value), 4) AS variance_v,
           round(stddev_samp(value), 4) AS stddev_v
    FROM events WHERE event_type = 'purchase'
    """,
    "A5 extended_stats (get_resource_usage.ts:28-30)",
)
def extended_stats_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir)["events"]
    return ev.where(F.col("event_type") == "purchase").agg(
        F.count("value").alias("cnt"),
        F.round(F.min("value"), 4).alias("min_v"),
        F.round(F.max("value"), 4).alias("max_v"),
        F.round(F.avg("value"), 4).alias("avg_v"),
        F.round(F.sum("value"), 4).alias("sum_v"),
        F.round(F.var_samp("value"), 4).alias("variance_v"),
        F.round(F.stddev_samp("value"), 4).alias("stddev_v"),
    )


@register(
    "percentiles_value",
    """
    SELECT round(quantile_cont(value, 0.01), 4) AS p1,
           round(quantile_cont(value, 0.05), 4) AS p5,
           round(quantile_cont(value, 0.25), 4) AS p25,
           round(quantile_cont(value, 0.50), 4) AS p50,
           round(quantile_cont(value, 0.75), 4) AS p75,
           round(quantile_cont(value, 0.95), 4) AS p95,
           round(quantile_cont(value, 0.99), 4) AS p99
    FROM events
    """,
    "A6 percentiles p1..p99 (get_resource_usage.ts:4,31-43)",
)
def percentiles_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (both engines use the same
    linear-interpolation definition). The 100 TB path swaps in
    `percentile_approx` (t-digest-like sketch, single pass, bounded
    memory) exactly as ES does; kept exact here for the oracle."""
    ev = _t(spark, sf_dir)["events"]
    aggs = [
        F.round(F.expr(f"percentile(value, {p})"), 4).alias(f"p{int(p * 100)}")
        for p in (0.01, 0.05, 0.25, 0.50, 0.75, 0.95, 0.99)
    ]
    return ev.agg(*aggs)


@register(
    "percentiles_value_approx",
    """
    WITH ex AS (
      SELECT count(*) AS n_rows,
             max(value) - min(value) AS rng,
             quantile_cont(value, 0.50) AS e50,
             quantile_cont(value, 0.95) AS e95,
             quantile_cont(value, 0.99) AS e99,
             approx_quantile(value, 0.50) AS a50,
             approx_quantile(value, 0.95) AS a95,
             approx_quantile(value, 0.99) AS a99
      FROM events
    )
    SELECT n_rows,
           abs(a50 - e50) <= 0.02 * rng AS p50_ok,
           abs(a95 - e95) <= 0.02 * rng AS p95_ok,
           abs(a99 - e99) <= 0.02 * rng AS p99_ok
    FROM ex
    """,
    "A6 percentiles, ES-default approximate form — single-pass "
    "mergeable sketch gated against the exact quantiles (same "
    "tolerance-gate oracle pattern as the PQ/LSH recall gates)",
)
def percentiles_value_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES's percentiles agg is APPROXIMATE by default (t-digest);
    `percentiles_value` keeps the exact interpolated form for the
    oracle, and this row runs the production sketch: one pass,
    bounded memory, mergeable across partitions (map-side partial
    merge — no row shuffle, only sketch shuffle), which is the only
    percentile shape that works on a 100 TB column. Sketches differ
    between engines (Spark: Greenwald-Khanna; DuckDB: t-digest), so
    the oracle gates both against their engine's EXACT quantiles at
    2% of the value range — the hash matches iff both sketches are
    honest, mirroring the ANN recall gates."""
    ev = _t(spark, sf_dir)["events"]
    ex = ev.agg(
        F.count("*").alias("n_rows"),
        (F.max("value") - F.min("value")).alias("rng"),
        F.expr("percentile(value, 0.50)").alias("e50"),
        F.expr("percentile(value, 0.95)").alias("e95"),
        F.expr("percentile(value, 0.99)").alias("e99"),
        F.expr("percentile_approx(value, 0.50, 1000)").alias("a50"),
        F.expr("percentile_approx(value, 0.95, 1000)").alias("a95"),
        F.expr("percentile_approx(value, 0.99, 1000)").alias("a99"),
    )
    return ex.select(
        "n_rows",
        (F.abs(F.col("a50") - F.col("e50")) <= 0.02 * F.col("rng")).alias("p50_ok"),
        (F.abs(F.col("a95") - F.col("e95")) <= 0.02 * F.col("rng")).alias("p95_ok"),
        (F.abs(F.col("a99") - F.col("e99")) <= 0.02 * F.col("rng")).alias("p99_ok"),
    )


@register(
    "terms_agg_event_type",
    """
    SELECT event_type, count(*) AS cnt, round(sum(value), 4) AS sum_value
    FROM events GROUP BY event_type
    ORDER BY cnt DESC, event_type ASC LIMIT 1000
    """,
    "A7 terms agg + sub-aggs (get_trx_count.ts:81-100)",
    headline=True,
)
def terms_agg_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir)["events"]
    return (
        ev.groupBy("event_type")
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 4).alias("sum_value"))
        .orderBy(F.col("cnt").desc(), F.col("event_type").asc())
        .limit(1000)
    )


@register(
    "date_histogram_daily",
    """
    SELECT date_trunc('day', ts) AS bucket,
           count(*) AS cnt, round(sum(value), 4) AS sum_value
    FROM events GROUP BY 1 ORDER BY 1
    """,
    "A8 date_histogram w/ sum+count (get_trx_count.ts:101-140)",
    headline=True,
)
def date_histogram_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    # No final orderBy (round-14): presentation-only; saves the range
    # exchange + sampling pass (harness compares order-insensitively)
    ev = _t(spark, sf_dir)["events"]
    return ev.groupBy(F.date_trunc("day", "ts").alias("bucket")).agg(
        F.count("*").alias("cnt"), F.round(F.sum("value"), 4).alias("sum_value")
    )


@register(
    "date_histogram_hourly_by_type",
    """
    SELECT date_trunc('hour', ts) AS bucket, event_type, count(*) AS cnt
    FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """,
    "A8/A14 hour histogram per status-path (get_api_usage)",
)
def date_histogram_hourly_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir)["events"]
    return (
        ev.groupBy(F.date_trunc("hour", "ts").alias("bucket"), F.col("event_type"))
        .agg(F.count("*").alias("cnt"))
        .orderBy("bucket", "event_type")
    )


@register(
    "numeric_histogram_blocks",
    """
    SELECT CAST(floor(event_id / 100) AS BIGINT) AS bucket, count(*) AS cnt
    FROM events GROUP BY 1 HAVING count(*) >= 1 ORDER BY 1
    """,
    "A9 numeric histogram, min_doc_count=1 (server.ts:560-573)",
)
def numeric_histogram_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir)["events"]
    return (
        ev.groupBy(F.floor(F.col("event_id") / 100).alias("bucket"))
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") >= 1)
        .orderBy("bucket")
    )


@register(
    "delta_seq_diff",
    """
    SELECT CAST(
        (SELECT max(event_id) FROM events WHERE ts <= TIMESTAMP '2024-01-05 00:00:00')
      - (SELECT max(event_id) FROM events WHERE ts <= TIMESTAMP '2024-01-02 00:00:00')
      AS BIGINT) AS action_count
    """,
    "A11 sequence-diff count (get_action_usage.ts:4-21,93-95)",
)
def delta_seq_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """action_count = last_seq(end) - last_seq(start): two top-1 sorted
    lookups re-expressed as conditional max aggregates in ONE scan
    (the reference issues two ES queries; one pass is the Spark shape)."""
    ev = _t(spark, sf_dir)["events"]
    end_ts = F.lit("2024-01-05 00:00:00").cast("timestamp")
    start_ts = F.lit("2024-01-02 00:00:00").cast("timestamp")
    return ev.agg(
        (
            F.max(F.when(F.col("ts") <= end_ts, F.col("event_id")))
            - F.max(F.when(F.col("ts") <= start_ts, F.col("event_id")))
        ).alias("action_count")
    )


@register(
    "missed_blocks_rollup",
    """
    SELECT user_id AS producer,
           CAST(sum(CAST(floor(value) AS BIGINT)) AS BIGINT) AS total_size,
           count(*) AS occurrences
    FROM events WHERE event_type = 'error'
    GROUP BY user_id ORDER BY producer
    """,
    "A12 missed-blocks per-producer rollup (get_missed_blocks.ts:41-53)",
)
def missed_blocks_rollup(
    spark: SparkSession, sf_dir: str, *, producer: int | None = None
) -> DataFrame:
    ev = _t(spark, sf_dir)["events"].where(F.col("event_type") == "error")
    if producer is not None:
        ev = ev.where(F.col("user_id") == producer)
    return (
        ev.groupBy(F.col("user_id").alias("producer"))
        .agg(
            F.sum(F.floor("value").cast("long")).alias("total_size"),
            F.count("*").alias("occurrences"),
        )
        .orderBy("producer")
    )


@register(
    "ingest_block_rollup",
    """
    SELECT CAST(floor(event_id / 50) AS BIGINT) AS block_num,
           count(*) AS trx_count,
           round(sum(value), 4) AS cpu_usage,
           CAST(count(DISTINCT user_id) AS BIGINT) AS actors
    FROM events GROUP BY 1 ORDER BY 1
    """,
    "A13 per-block ingest rollups (deserializer.ts:317-415)",
)
def ingest_block_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir)["events"]
    return (
        ev.groupBy(F.floor(F.col("event_id") / 50).alias("block_num"))
        .agg(
            F.count("*").alias("trx_count"),
            F.round(F.sum("value"), 4).alias("cpu_usage"),
            F.count_distinct("user_id").alias("actors"),
        )
        .orderBy("block_num")
    )


@register(
    "trx_count_reconcile",
    """
    WITH block_side AS (
        SELECT date_trunc('day', o_orderdate) AS d, count(*) AS orders_cnt
        FROM orders GROUP BY 1
    ), action_side AS (
        SELECT date_trunc('day', o_orderdate) AS d,
               CAST(count(DISTINCT l_orderkey) AS BIGINT) AS lineitem_orders
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey GROUP BY 1
    )
    SELECT b.d AS d, b.orders_cnt AS orders_cnt,
           coalesce(a.lineitem_orders, 0) AS lineitem_orders,
           (b.orders_cnt = coalesce(a.lineitem_orders, 0)) AS consistent
    FROM block_side b LEFT JOIN action_side a ON a.d = b.d
    ORDER BY d
    """,
    "J2/A4 validate_actions reconciliation (get_trx_count.ts:176-225)",
)
def trx_count_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reconciliation join: block-rollup counts vs distinct trx seen in
    the action log over the same bucket — Hyperion's consistency check
    between its blocks and actions indices."""
    t = _t(spark, sf_dir)
    orders, li = t["orders"], t["lineitem"]
    block_side = orders.groupBy(F.date_trunc("day", "o_orderdate").alias("d")).agg(
        F.count("*").alias("orders_cnt")
    )
    action_side = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy(F.date_trunc("day", "o_orderdate").alias("d"))
        .agg(F.count_distinct("l_orderkey").alias("lineitem_orders"))
    )
    joined = block_side.alias("b").join(
        action_side.alias("a"), F.col("b.d") == F.col("a.d"), "left"
    )
    return joined.select(
        F.col("b.d").alias("d"),
        F.col("b.orders_cnt").alias("orders_cnt"),
        F.coalesce(F.col("a.lineitem_orders"), F.lit(0)).alias("lineitem_orders"),
        (F.col("b.orders_cnt") == F.coalesce(F.col("a.lineitem_orders"), F.lit(0))).alias(
            "consistent"
        ),
    ).orderBy("d")
