"""Remaining SURVEY §2.11 endpoint families — v2-history tail
(get_deltas / get_blocks / get_created_accounts / get_schedule /
check_transaction / v1-trace get_block) and the v2-state family
(get_tokens / get_voters / get_links / get_proposals /
get_key_accounts / get_controlled_accounts / get_account /
get_table_rows), plus the health rollup.

Table mapping follows registry.py: ``events`` is the action/delta log,
``orders``/``lineitem`` the transaction→trace hierarchy,
``customer``/``supplier`` mutable account-state, ``part`` a dynamic
contract table, ``nation`` the creator/controller dimension.

Scale notes (100 TB): every lookup-by-key query here keeps its filter
at the scan (PushedFilters); serving-path dimension joins are planned
by the cost-gated chooser fed from catalog stats (round-8; the only
remaining literal ``broadcast()`` is the 25-row nation dimension,
whose size is a schema constant, and the one-row point lookups where
any planner agrees); the only shuffles are the group-bys on the
natural aggregation keys. ``get_tokens`` joins nothing in Spark: the
account's collected order keys prune each of its scans.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.predicates import QueryParams, apply_query, compile_predicate
from ..registry import register, _t


def delta_view(ev: DataFrame) -> DataFrame:
    """The delta column mapping of the events log, shared by the
    get_deltas route, its registry row and both stream paths: (code,
    table) is ``event_type``, scope is ``user_id``, and payer is the
    ``props.k`` payload field promoted to a bigint column."""
    return ev.withColumn("payer", F.get_json_object("props", "$.k").cast("long"))


@register(
    "get_deltas_by_scope",
    """
    SELECT event_id, user_id, event_type, props,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS payer
    FROM events
    WHERE event_type = 'purchase'
      AND user_id BETWEEN 2 AND 6
      AND CAST(json_extract_string(props, '$.k') AS BIGINT) >= 10
    ORDER BY event_id DESC LIMIT 100
    """,
    "get_deltas code/table/payer/scope terms (v2-history/get_deltas.ts:6-91,48-52)",
)
def get_deltas_by_scope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta query over :func:`delta_view`, compiled through the
    predicate compiler (QueryParams -> apply_query), so the oracle row
    tests the compiler, not per-query code. The scan-pushable
    predicates reach parquet; the JSON payer extraction runs only on
    surviving rows."""
    ev = delta_view(_t(spark, sf_dir)["events"])
    out = apply_query(
        ev,
        QueryParams(
            terms={"event_type": "purchase", "user_id": "2-6", "payer": "10-999999"},
            limit=100,
        ),
        default_sort_field="event_id",
        tiebreaker="event_id",
        numeric_fields=frozenset({"user_id", "payer"}),
        seq_field="event_id",
    )
    return out.select("event_id", "user_id", "event_type", "props", "payer")


@register(
    "get_blocks_range",
    """
    SELECT event_id // 100 AS block_num,
           CAST(count(*) AS BIGINT) AS trx_count,
           round(sum(value), 4) AS cpu_usage,
           CAST(max(event_id) AS BIGINT) AS last_seq
    FROM events
    WHERE event_id BETWEEN 100 AND 699
    GROUP BY event_id // 100
    ORDER BY block_num DESC
    """,
    "get_blocks headers + per-block rollups (v2-history/get_blocks.ts:6-161; A13 deserializer.ts:317-415)",
)
def get_blocks_range(
    spark: SparkSession, sf_dir: str, *, after: int = 100, before: int = 699
) -> DataFrame:
    """Block-range query: light headers with per-block usage rollups
    over the [after, before] sequence window. The range predicate
    prunes before the single groupBy shuffle; at scale the block_num
    grouping key is also the lake partition key, so partial
    aggregation is near-total map-side."""
    ev = _t(spark, sf_dir)["events"]
    pred = compile_predicate(
        ev, QueryParams(after=str(after), before=str(before)), seq_field="event_id"
    )
    return (
        ev.where(pred)
        .groupBy((F.col("event_id") / 100).cast("long").alias("block_num"))
        .agg(
            F.count("*").alias("trx_count"),
            F.round(F.sum("value"), 4).alias("cpu_usage"),
            F.max("event_id").alias("last_seq"),
        )
        .orderBy(F.col("block_num").desc())
    )


@register(
    "get_created_accounts",
    """
    SELECT c.c_custkey AS account, c.c_name AS account_name
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE n.n_name = 'NATION_19'
    ORDER BY c.c_custkey DESC LIMIT 100
    """,
    "get_created_accounts by creator (v2-history/get_created_accounts.ts:5-50)",
)
def get_created_accounts(
    spark: SparkSession,
    sf_dir: str,
    *,
    creator: str = "NATION_19",
    limit: int = 100,
) -> DataFrame:
    """Accounts created by one creator (nation = creator dimension).
    Broadcast the 25-row dimension; the fact side stays partition-local.
    The default creator has accounts at every fixture scale, so the
    oracle gate compares a non-empty join."""
    t = _t(spark, sf_dir)
    dim = F.broadcast(t["nation"].where(F.col("n_name") == creator))
    return (
        t["customer"]
        .join(dim, F.col("c_nationkey") == F.col("n_nationkey"))
        .orderBy(F.col("c_custkey").desc())
        .limit(limit)
        .select(F.col("c_custkey").alias("account"), F.col("c_name").alias("account_name"))
    )


@register(
    "get_schedule_asof",
    """
    SELECT event_id AS version_seq, user_id AS producer_slot, ts AS active_since
    FROM events
    WHERE event_type = 'signup' AND event_id <= 600
    ORDER BY event_id DESC LIMIT 1
    """,
    "get_schedule latest version as-of block (v2-history/get_schedule.ts:9-59)",
)
def get_schedule_asof(
    spark: SparkSession, sf_dir: str, *, before: str = "600"
) -> DataFrame:
    """Latest producer-schedule version as-of ``before`` (a sequence or
    a timestamp): top-1 over a pushed-down filter
    (TakeOrderedAndProject, no full sort). Routed through the predicate
    compiler (term + before bound)."""
    ev = _t(spark, sf_dir)["events"]
    return (
        apply_query(
            ev,
            QueryParams(terms={"event_type": "signup"}, before=before, limit=1),
            default_sort_field="event_id",
            seq_field="event_id",
        )
        .select(
            F.col("event_id").alias("version_seq"),
            F.col("user_id").alias("producer_slot"),
            F.col("ts").alias("active_since"),
        )
    )


@register(
    "check_transaction",
    """
    SELECT o.o_orderkey AS trx_id, o.o_orderstatus AS status,
           CAST(count(l.l_orderkey) AS BIGINT) AS action_count,
           round(o.o_totalprice, 4) AS total
    FROM orders o LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey = 42
    GROUP BY o.o_orderkey, o.o_orderstatus, o.o_totalprice
    """,
    "check_transaction existence probe (v2-history/check_transaction.ts:4-27)",
)
def check_transaction(
    spark: SparkSession, sf_dir: str, *, trx: int = 42
) -> DataFrame:
    """Transaction existence check: key lookup + trace count. The
    orderkey predicate pushes into BOTH scans (join-key inference), so
    at 100 TB this touches one partition per side."""
    t = _t(spark, sf_dir)
    o = t["orders"].where(F.col("o_orderkey") == trx)
    li = t["lineitem"].where(F.col("l_orderkey") == trx)
    return (
        o.join(li, F.col("l_orderkey") == F.col("o_orderkey"), "left")
        .groupBy("o_orderkey", "o_orderstatus", "o_totalprice")
        .agg(F.count("l_orderkey").alias("action_count"))
        .select(
            F.col("o_orderkey").alias("trx_id"),
            F.col("o_orderstatus").alias("status"),
            "action_count",
            F.round("o_totalprice", 4).alias("total"),
        )
    )


def _v1_trace_get_block(
    spark: SparkSession, sf_dir: str, lo: int = 1, hi: int = 160, **chooser_kwargs
):
    """Core of ``v1_trace_get_block``, chooser-planned from catalog
    facts (round-7 verdict item 8) — and the first genuinely
    SCAN-DOMINATED page path: both sides are pruned to the page's key
    range before the join, so the fact exchange the broadcast would
    avoid is tiny and the payoff gate can correctly refuse the
    broadcast build. Estimates: ``dim_rows`` = the range width capped
    by ndv(o_orderkey) (the _account_profiles cap pattern);
    ``fact_rows`` = range width x mean traces per trx
    (rows(lineitem)/ndv(l_orderkey)) — all four numbers catalog
    facts, zero planner jobs. Returns ``(df, strategy)``."""
    from ..operators.skew import choose_join_strategy
    from ..sources.stats import column_ndv, table_rows

    t = _t(spark, sf_dir)
    o = t["orders"].where(F.col("o_orderkey").between(lo, hi)).select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderstatus"
    )
    li = t["lineitem"].where(F.col("l_orderkey").between(lo, hi))
    if "dim_rows" not in chooser_kwargs:
        ok_ndv = column_ndv(
            t["orders"], "o_orderkey", cache_key=f"{sf_dir}#orders"
        )
        chooser_kwargs["dim_rows"] = min(hi - lo + 1, ok_ndv)
    if "fact_rows" not in chooser_kwargs:
        li_rows = table_rows(t["lineitem"], cache_key=f"{sf_dir}#lineitem")
        lk_ndv = column_ndv(
            t["lineitem"], "l_orderkey", cache_key=f"{sf_dir}#lineitem"
        )
        chooser_kwargs["fact_rows"] = (hi - lo + 1) * max(
            1, li_rows // max(lk_ndv, 1)
        )
    fact, strategy = choose_join_strategy(
        li,
        o,
        "l_orderkey",
        salt_id_col="l_orderkey",
        **chooser_kwargs,
    )
    out = (
        fact.groupBy(
            F.col("l_orderkey").alias("o_orderkey"), F.col("o_orderstatus")
        )
        .agg(
            F.count("*").alias("n_traces"),
            F.array_join(
                F.array_sort(F.collect_list("l_linenumber")).cast("array<string>"), ","
            ).alias("ordinals"),
            F.round(F.sum("l_extendedprice"), 4).alias("volume"),
        )
        .select(
            F.col("o_orderkey").alias("trx_id"),
            F.col("o_orderstatus").alias("status"),
            "n_traces",
            "ordinals",
            "volume",
        )
        .orderBy("trx_id")
    )
    return out, strategy


@register(
    "v1_trace_get_block",
    """
    SELECT o.o_orderkey AS trx_id, o.o_orderstatus AS status,
           CAST(count(*) AS BIGINT) AS n_traces,
           string_agg(CAST(l.l_linenumber AS VARCHAR), ',' ORDER BY l.l_linenumber)
             AS ordinals,
           round(sum(l.l_extendedprice), 4) AS volume
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey BETWEEN 1 AND 160
    GROUP BY o.o_orderkey, o.o_orderstatus
    ORDER BY trx_id
    """,
    "v1-trace get_block nested reconstruction (v1-trace/get_block.ts:30-90)",
)
def v1_trace_get_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block reconstruction: header joined to its traces, traces
    re-nested in canonical ordinal order (array_sort, not shuffle
    order). Range predicate prunes both sides before the
    (stats-planned) join."""
    return _v1_trace_get_block(spark, sf_dir)[0]


# --- v2-state -----------------------------------------------------------

def _in_keys(col: str, keys):
    """``col IN (keys)`` for integer keys, parsed in one call (a
    ``Column.isin`` list costs one py4j literal per key); the scan
    pushes it down as ``In``."""
    return F.expr(f"{col} IN ({', '.join(str(int(k)) for k in keys)})")


def _round4(x: float | None) -> float | None:
    """Spark's ``round(x, 4)`` on a double, on the driver: HALF_UP on
    the shortest decimal form. Doubles from 2**52 up are integral."""
    if x is None or not math.isfinite(x) or abs(x) >= 2**52:
        return x
    return float(Decimal(repr(x)).quantize(Decimal("0.0001"), ROUND_HALF_UP))


def _get_tokens(
    spark: SparkSession, sf_dir: str, account: int = 1, **chooser_kwargs
):
    """Core of ``get_tokens``: a keyed chain in which a key prunes
    every scan and no exchange runs. Returns ``(df, strategy)``.

    1. The account's order keys are collected on the driver (the
       orders scan pushes ``o_custkey``), capped at one past the
       chooser's ``broadcast_rows``.
    2. They reach the lineitem scan as an ``In`` pushed filter; the
       surviving ``(l_partkey, l_quantity)`` rows are collected.
    3. Their part keys prune the part scan the same way, which
       resolves ``p_brand``.
    4. The join, aggregate, rounding and sort run on the driver over
       the account's few rows. ``df`` is a local frame (strategy
       ``keyed``), so collecting it runs no job.

    An account with more orders than ``broadcast_rows`` is not
    driver-sized: its semi-join goes to :func:`choose_join_strategy`
    with the true key count, and Spark aggregates."""
    from ..operators.skew import BROADCAST_ROWS, choose_join_strategy
    from ..sources.stats import table_rows

    t = _t(spark, sf_dir)
    orders = t["orders"].where(
        (F.col("o_custkey") == account) & F.col("o_orderkey").isNotNull()
    )
    cap = chooser_kwargs.get("broadcast_rows", BROADCAST_ROWS)
    keys = [r[0] for r in orders.select("o_orderkey").limit(cap + 1).collect()]
    if len(keys) > cap:
        if "dim_rows" not in chooser_kwargs:
            chooser_kwargs["dim_rows"] = orders.count()
        if "fact_rows" not in chooser_kwargs:
            chooser_kwargs["fact_rows"] = table_rows(
                t["lineitem"], cache_key=f"{sf_dir}#lineitem"
            )
        fact, strategy = choose_join_strategy(
            t["lineitem"],
            orders.select(F.col("o_orderkey").alias("l_orderkey")),
            "l_orderkey",
            salt_id_col="l_orderkey",
            how="left_semi",
            **chooser_kwargs,
        )
        out = (
            fact.join(t["part"], F.col("p_partkey") == F.col("l_partkey"))
            .groupBy(F.col("p_brand").alias("symbol"))
            .agg(
                F.round(F.sum("l_quantity"), 4).alias("amount"),
                F.count("*").alias("holdings"),
            )
            .orderBy("symbol")
        )
        return out, strategy

    lines = (
        t["lineitem"]
        .where(_in_keys("l_orderkey", keys))
        .select("l_partkey", "l_quantity")
        .collect()
        if keys
        else []
    )
    part_keys = {pk for pk, _ in lines if pk is not None}
    brands: dict[int, list] = {}
    if part_keys:
        for pk, brand in (
            t["part"]
            .where(_in_keys("p_partkey", part_keys))
            .select("p_partkey", "p_brand")
            .collect()
        ):
            brands.setdefault(pk, []).append(brand)
    # sum() skips NULL quantities and stays NULL over none; count(*)
    # counts every joined row
    held: dict = {}
    for pk, qty in lines:
        for brand in brands.get(pk, ()):
            amount, n = held.get(brand, (None, 0))
            if qty is not None:
                amount = qty if amount is None else amount + qty
            held[brand] = (amount, n + 1)
    # ORDER BY symbol: NULLs first, as Spark sorts ascending
    ranked = sorted(held.items(), key=lambda kv: (kv[0] is not None, kv[0]))
    table = pa.table(
        {
            "symbol": pa.array([b for b, _ in ranked], pa.string()),
            "amount": pa.array([_round4(a) for _, (a, _) in ranked], pa.float64()),
            "holdings": pa.array([n for _, (_, n) in ranked], pa.int64()),
        }
    )
    schema = "symbol string, amount double, holdings bigint"
    return spark.createDataFrame(table, schema), "keyed"


@register(
    "get_tokens",
    """
    SELECT p.p_brand AS symbol,
           round(sum(l.l_quantity), 4) AS amount,
           CAST(count(*) AS BIGINT) AS holdings
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE o.o_custkey = 1
    GROUP BY p.p_brand
    ORDER BY symbol
    """,
    "get_tokens per-account token list (v2-state/get_tokens.ts:8-94)",
)
def get_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokens held by one account: the account's order keys prune the
    lineitem scan, their part keys prune the part scan, and part
    resolves symbol metadata (precision recovery,
    get_tokens.ts:63-72)."""
    return _get_tokens(spark, sf_dir)[0]


@register(
    "get_voters",
    """
    SELECT c_custkey AS voter, round(c_acctbal, 4) AS weight
    FROM customer
    WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 0
    ORDER BY weight DESC, voter ASC LIMIT 50
    """,
    "get_voters filtered state table (v2-state/get_voters.ts:6-74)",
)
def get_voters(
    spark: SparkSession, sf_dir: str, *, segment: str = "BUILDING", limit: int = 50
) -> DataFrame:
    """Voter listing: filter + sort by vote weight desc + page, routed
    through the predicate compiler (segment term + positive-balance
    range on 2-decimal data). TakeOrdered keeps it a top-K, never a
    full sort."""
    cust = _t(spark, sf_dir)["customer"]
    out = apply_query(
        cust,
        QueryParams(
            terms={"c_mktsegment": segment, "c_acctbal": "0.01-9999999"},
            sorted_by="c_acctbal:desc",
            limit=limit,
        ),
        default_sort_field="c_acctbal",
        tiebreaker="c_custkey",
        numeric_fields=frozenset({"c_acctbal"}),
    )
    return out.select(
        F.col("c_custkey").alias("voter"),
        F.round("c_acctbal", 4).alias("weight"),
    )


@register(
    "get_voter_count",
    """
    SELECT CAST(count(*) AS BIGINT) AS voter_count
    FROM customer WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 0
    """,
    "A15 mongo countDocuments (get_voters.ts:44, get_proposals.ts:83)",
)
def get_voter_count(
    spark: SparkSession, sf_dir: str, *, segment: str = "BUILDING"
) -> DataFrame:
    cust = _t(spark, sf_dir)["customer"]
    return (
        cust.where((F.col("c_mktsegment") == segment) & (F.col("c_acctbal") > 0))
        .agg(F.count("*").alias("voter_count"))
    )


@register(
    "get_links",
    """
    SELECT user_id AS account, event_type AS action,
           CAST(min(event_id) AS BIGINT) AS linked_at
    FROM events
    WHERE user_id BETWEEN 1 AND 5
    GROUP BY user_id, event_type
    ORDER BY account, action
    """,
    "get_links permission links per account (v2-state/get_links.ts:5-64)",
)
def get_links(
    spark: SparkSession, sf_dir: str, *, account: str = "1-5"
) -> DataFrame:
    """Permission-link listing: (account, action) pairs with earliest
    link sequence — groupBy after a compiler-built account filter (one
    account or an ``a-b`` range)."""
    ev = _t(spark, sf_dir)["events"]
    pred = compile_predicate(
        ev,
        QueryParams(terms={"user_id": account}),
        numeric_fields=frozenset({"user_id"}),
    )
    return (
        ev.where(pred)
        .groupBy(
            F.col("user_id").alias("account"), F.col("event_type").alias("action")
        )
        .agg(F.min("event_id").alias("linked_at"))
        .orderBy("account", "action")
    )


@register(
    "get_proposals",
    """
    SELECT o_orderkey AS proposal_id, o_custkey AS proposer,
           o_orderdate AS proposed_at, round(o_totalprice, 4) AS stake
    FROM orders
    WHERE o_orderstatus = 'P'
    ORDER BY o_orderdate DESC, o_orderkey ASC LIMIT 40
    """,
    "get_proposals msig listing (v2-state/get_proposals.ts:4-96)",
)
def get_proposals(
    spark: SparkSession, sf_dir: str, *, status: str = "P", limit: int = 40
) -> DataFrame:
    """Proposal listing by status: newest-first page with a unique
    tiebreaker for deterministic pagination — QueryParams ->
    apply_query."""
    o = _t(spark, sf_dir)["orders"]
    out = apply_query(
        o,
        QueryParams(
            terms={"o_orderstatus": status}, sorted_by="o_orderdate:desc", limit=limit
        ),
        default_sort_field="o_orderdate",
        tiebreaker="o_orderkey",
    )
    return out.select(
        F.col("o_orderkey").alias("proposal_id"),
        F.col("o_custkey").alias("proposer"),
        F.col("o_orderdate").alias("proposed_at"),
        F.round("o_totalprice", 4).alias("stake"),
    )


def _get_key_accounts(
    spark: SparkSession,
    sf_dir: str,
    key: str = "Brand#13",
    **chooser_kwargs,
):
    """Core of ``get_key_accounts`` with the key->holders semi-join
    planned by the cost-gated chooser from catalog stats (round-7
    verdict item 8: no static ``broadcast()`` hint). The dim is part
    filtered by a BRAND equality — bounded as rows(part)/ndv(p_brand)
    x 8 skew headroom (mean bucket; headroom errs toward not
    broadcasting); the fact term is rows(lineitem). Returns
    ``(df, strategy)``."""
    from ..operators.skew import choose_join_strategy
    from ..sources.stats import column_ndv, table_rows

    t = _t(spark, sf_dir)
    keyed_parts = (
        t["part"]
        .where(F.col("p_brand") == key)
        .select(F.col("p_partkey").alias("l_partkey"))
    )
    if "dim_rows" not in chooser_kwargs:
        part_rows = table_rows(t["part"], cache_key=f"{sf_dir}#part")
        brand_ndv = column_ndv(
            t["part"], "p_brand", cache_key=f"{sf_dir}#part"
        )
        chooser_kwargs["dim_rows"] = (
            max(1, part_rows // max(brand_ndv, 1)) * 8
        )
    if "fact_rows" not in chooser_kwargs:
        chooser_kwargs["fact_rows"] = table_rows(
            t["lineitem"], cache_key=f"{sf_dir}#lineitem"
        )
    fact, strategy = choose_join_strategy(
        t["lineitem"],
        keyed_parts,
        "l_partkey",
        salt_id_col="l_orderkey",
        how="left_semi",
        **chooser_kwargs,
    )
    out = (
        fact.join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .select(F.col("o_custkey").alias("account"))
        .distinct()
        .orderBy("account")
    )
    return out, strategy


@register(
    "get_key_accounts",
    """
    SELECT DISTINCT o.o_custkey AS account
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE p.p_brand = 'Brand#13'
    ORDER BY account
    """,
    "get_key_accounts accounts-by-key (v2-state/get_key_accounts.ts:16-174)",
)
def get_key_accounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accounts reachable from one public key (key -> brand): the key
    predicate shrinks part to a sliver the stats-planned chooser
    (usually) broadcasts; lineitem never shuffles for that join, and
    the final distinct is the only key-partitioned exchange."""
    return _get_key_accounts(spark, sf_dir)[0]


@register(
    "get_controlled_accounts",
    """
    SELECT DISTINCT s_suppkey AS controlled
    FROM supplier WHERE s_nationkey = 7
    ORDER BY controlled
    """,
    "get_controlled_accounts dedup (v1-history/get_controlled_accounts.ts:4-64,60-62)",
)
def get_controlled_accounts(
    spark: SparkSession, sf_dir: str, *, controlling: int = 7
) -> DataFrame:
    sup = _t(spark, sf_dir)["supplier"]
    return (
        sup.where(F.col("s_nationkey") == controlling)
        .select(F.col("s_suppkey").alias("controlled"))
        .distinct()
        .orderBy("controlled")
    )


@register(
    "get_account",
    """
    SELECT c.c_custkey AS account, c.c_name AS account_name,
           round(c.c_acctbal, 4) AS balance,
           CAST(count(o.o_orderkey) AS BIGINT) AS total_trx,
           round(coalesce(sum(o.o_totalprice), 0), 4) AS total_volume,
           CAST(max(o.o_orderkey) AS BIGINT) AS last_trx
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    WHERE c.c_custkey = 7
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal
    """,
    "get_account 3-call composition (v2-state/get_account.ts:56-87)",
)
def get_account(
    spark: SparkSession, sf_dir: str, *, account: int = 7
) -> DataFrame:
    """get_account composes account row + activity rollup + last action
    — one plan instead of the reference's three serial calls; both
    scans are key-pruned."""
    t = _t(spark, sf_dir)
    c = t["customer"].where(F.col("c_custkey") == account)
    o = t["orders"].where(F.col("o_custkey") == account)
    return (
        c.join(o, F.col("o_custkey") == F.col("c_custkey"), "left")
        .groupBy("c_custkey", "c_name", "c_acctbal")
        .agg(
            F.count("o_orderkey").alias("total_trx"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 4).alias(
                "total_volume"
            ),
            F.max("o_orderkey").alias("last_trx"),
        )
        .select(
            F.col("c_custkey").alias("account"),
            F.col("c_name").alias("account_name"),
            F.round("c_acctbal", 4).alias("balance"),
            "total_trx",
            "total_volume",
            "last_trx",
        )
    )


def _account_profiles(
    spark: SparkSession, sf_dir: str, lo: int = 1, hi: int = 50, **chooser_kwargs
):
    """Core of ``get_account_profiles``: the get_account composition
    served for a PAGE of accounts, with the heavy fact-side semi-join
    planned by the cost-gated chooser (operators/skew.py:
    choose_join_strategy) instead of a hand-picked strategy — round-6
    verdict item 3's second chooser-planned serving path. Returns
    ``(df, strategy)`` so the plan audit can pin the decision.

    The broadcast gate is fed from CATALOG stats (sources/stats.py
    NDV cache — for a key column, NDV == table row count) capped by
    the page's range width, a constant the planner can fold from the
    predicate itself: both facts are catalog-derivable, so the hot
    path plans with ZERO planner-time jobs after the one-time
    analyze. The NDV alone would over-estimate a filtered page at
    production scale (it is the PRE-filter table size) — the cap is
    what keeps a 50-row page broadcastable no matter how large the
    account table grows."""
    from ..operators.skew import choose_join_strategy
    from ..sources.stats import column_ndv

    t = _t(spark, sf_dir)
    page = t["customer"].where(F.col("c_custkey").between(lo, hi))
    if "dim_rows" not in chooser_kwargs:
        ndv = column_ndv(
            t["customer"], "c_custkey", cache_key=f"{sf_dir}#customer"
        )
        chooser_kwargs["dim_rows"] = min(ndv, hi - lo + 1)
    if "fact_rows" not in chooser_kwargs:
        # the fact-exchange term (round-7 verdict item 5): for a key
        # column, NDV == table row count, so the orders scan size is
        # a catalog fact too — the chooser can now weigh the avoided
        # fact exchange against the dim build+ship instead of
        # broadcasting on dim size alone
        chooser_kwargs["fact_rows"] = column_ndv(
            t["orders"], "o_orderkey", cache_key=f"{sf_dir}#orders"
        )
    fact, strategy = choose_join_strategy(
        t["orders"],
        page.select(F.col("c_custkey").alias("o_custkey")),
        "o_custkey",
        salt_id_col="o_orderkey",
        how="left_semi",
        **chooser_kwargs,
    )
    rollup = fact.groupBy("o_custkey").agg(
        F.count("*").alias("total_trx"),
        F.round(F.sum("o_totalprice"), 4).alias("total_volume"),
        F.max("o_orderkey").alias("last_trx"),
    )
    out = (
        page.join(rollup, page["c_custkey"] == rollup["o_custkey"], "left")
        .select(
            F.col("c_custkey").alias("account"),
            F.col("c_name").alias("account_name"),
            F.round("c_acctbal", 4).alias("balance"),
            F.coalesce("total_trx", F.lit(0)).cast("long").alias("total_trx"),
            F.round(F.coalesce("total_volume", F.lit(0.0)), 4).alias(
                "total_volume"
            ),
            F.col("last_trx").cast("long").alias("last_trx"),
        )
        .orderBy("account")
    )
    return out, strategy


@register(
    "get_account_profiles",
    """
    WITH r AS (
        SELECT o_custkey, count(*) AS total_trx,
               round(sum(o_totalprice), 4) AS total_volume,
               max(o_orderkey) AS last_trx
        FROM orders WHERE o_custkey BETWEEN 1 AND 50
        GROUP BY o_custkey
    )
    SELECT c.c_custkey AS account, c.c_name AS account_name,
           round(c.c_acctbal, 4) AS balance,
           CAST(coalesce(r.total_trx, 0) AS BIGINT) AS total_trx,
           round(coalesce(r.total_volume, 0), 4) AS total_volume,
           CAST(r.last_trx AS BIGINT) AS last_trx
    FROM customer c LEFT JOIN r ON r.o_custkey = c.c_custkey
    WHERE c.c_custkey BETWEEN 1 AND 50
    ORDER BY account
    """,
    "get_account composition (v2-state/get_account.ts:56-87) for a "
    "page of accounts, the fact-side semi-join planned THROUGH the "
    "cost-gated join chooser fed from catalog stats (zero planner "
    "jobs on the hot path) — result is strategy-invariant, so the "
    "plain-join oracle hash holds whichever branch the planner picks; "
    "the decision is pinned by tests/test_skew.py",
)
def get_account_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch get_account: account row + activity rollup for a page of
    accounts in ONE plan. The heavy side (orders at 100 TB) is
    semi-join-pruned to the page before the rollup; the chooser picks
    broadcast at fixture scale and would salt a hot-key page / plain-
    shuffle a huge uniform one, with identical results."""
    df, _ = _account_profiles(spark, sf_dir)
    return df


@register(
    "get_table_rows",
    """
    SELECT p_partkey AS primary_key, p_name, p_size,
           round(p_retailprice, 4) AS price
    FROM part
    WHERE p_brand = 'Brand#13' AND p_size >= 10
    ORDER BY price DESC, primary_key ASC LIMIT 30
    """,
    "get_table_rows dynamic-table find+sort+page (v2-state/get_table_rows.ts:6-177)",
)
def get_table_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic contract-table query: equality + range predicate, sort by
    a configured index column, page — QueryParams -> apply_query.
    Mirrors the per-table index config (hyperionConfig.ts:224-237) as a
    plain pushed-down scan + top-K."""
    p = _t(spark, sf_dir)["part"]
    out = apply_query(
        p,
        QueryParams(
            terms={"p_brand": "Brand#13", "p_size": "10-9999"},
            sorted_by="p_retailprice:desc",
            limit=30,
        ),
        default_sort_field="p_retailprice",
        tiebreaker="p_partkey",
        numeric_fields=frozenset({"p_size"}),
    )
    return out.select(
        F.col("p_partkey").alias("primary_key"),
        "p_name",
        "p_size",
        F.round("p_retailprice", 4).alias("price"),
    )


@register(
    "get_actions_code_action_filter",
    """
    SELECT event_id, event_type, user_id
    FROM events
    WHERE (event_type = 'signup' AND user_id = 3) OR event_type = 'purchase'
    ORDER BY event_id DESC LIMIT 100
    """,
    "P8 code:action OR-list with wildcards (get_actions/functions.ts:205-231)",
)
def get_actions_code_action_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`filter=signup:3,purchase:*` compiled to an OR of (code AND
    name) conjunctions — one pushed disjunctive predicate, no union of
    scans."""
    from ..plans.predicates import compile_code_action_filter

    ev = _t(spark, sf_dir)["events"]
    pred = compile_code_action_filter(
        F.col("event_type"), F.col("user_id").cast("string"), "signup:3,purchase:*"
    )
    return (
        ev.where(pred)
        .orderBy(F.col("event_id").desc())
        .limit(100)
        .select("event_id", "event_type", "user_id")
    )


@register(
    "exists_filter_no_orders",
    """
    SELECT c.c_custkey AS account
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    WHERE o.o_orderkey IS NULL
    ORDER BY account
    """,
    "P11 exists/missing-field filter (get_schedule.ts:20,43) as anti-join",
)
def exists_filter_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accounts with NO activity — the `exists: false` shape. Spark
    plans a broadcast/shuffled ANTI join: no null-padding rows ever
    materialize, unlike the literal LEFT JOIN + IS NULL."""
    t = _t(spark, sf_dir)
    return (
        t["customer"]
        .join(
            t["orders"],
            F.col("o_custkey") == F.col("c_custkey"),
            "left_anti",
        )
        .select(F.col("c_custkey").alias("account"))
        .orderBy("account")
    )


@register(
    "health_rollup",
    """
    SELECT * FROM (
        SELECT 'customer' AS tbl, CAST(count(*) AS BIGINT) AS total,
               CAST(max(c_custkey) AS BIGINT) AS head FROM customer
        UNION ALL
        SELECT 'events', CAST(count(*) AS BIGINT), CAST(max(event_id) AS BIGINT)
        FROM events
        UNION ALL
        SELECT 'orders', CAST(count(*) AS BIGINT), CAST(max(o_orderkey) AS BIGINT)
        FROM orders
    ) ORDER BY tbl
    """,
    "health service counters (v2/health.ts:1-369)",
)
def health_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Health endpoint: per-store document counts + head sequence.
    Count-star over parquet resolves from footer metadata — no row
    scan even at 100 TB."""
    t = _t(spark, sf_dir)

    def one(name: str, key: str) -> DataFrame:
        return t[name].agg(
            F.lit(name).alias("tbl"),
            F.count("*").alias("total"),
            F.max(key).cast("long").alias("head"),
        )

    return (
        one("customer", "c_custkey")
        .unionAll(one("events", "event_id"))
        .unionAll(one("orders", "o_orderkey"))
        .orderBy("tbl")
    )


@register(
    "get_table_rows_mongo_filters",
    """
    SELECT o_orderkey, o_custkey, o_orderstatus,
           round(o_totalprice, 4) AS total, o_orderdate
    FROM orders
    WHERE o_orderstatus IN ('O', 'F')
      AND o_totalprice > 50000 AND o_totalprice <= 200000
      AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
      AND o_orderpriority = '1-URGENT'
    ORDER BY total DESC, o_orderkey ASC LIMIT 50
    """,
    "get_table_rows dynamic Mongo-style filters param: $in/$gt/$lte "
    "ranges + ISO-date coercion compiled to one Column predicate "
    "(get_table_rows.ts:76-129; plans/mongo_query.py)",
)
def get_table_rows_mongo_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``filters={"f": {"$gt": ...}}`` grammar of the dynamic-table
    endpoint, compiled by ``compile_mongo_query`` — every clause lands
    in the parquet scan's PushedFilters (plain comparisons on scan
    columns), so the Mongo find semantics cost one pruned scan."""
    from ..plans.mongo_query import compile_mongo_query

    orders = _t(spark, sf_dir)["orders"]
    pred = compile_mongo_query(
        orders,
        {
            "o_orderstatus": {"$in": ["O", "F"]},
            "o_totalprice": {"$gt": 50000, "$lte": 200000},
            "o_orderdate": {"$gte": "1995-01-01", "$lt": "1996-07-01"},
            "o_orderpriority": "1-URGENT",
        },
    )
    return (
        orders.where(pred)
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            F.round("o_totalprice", 4).alias("total"),
            "o_orderdate",
        )
        .orderBy(F.col("total").desc(), F.col("o_orderkey").asc())
        .limit(50)
    )
