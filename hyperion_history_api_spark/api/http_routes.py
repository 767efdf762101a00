"""The REST route table — the reference autoloads every route
directory (``src/api/routes.ts:18-25``); here every route is one
``fn(api, params)`` function and :data:`ROUTES` maps each served path
to it: v2 health, v2-history, v2-state, v2-stats, v2 misc, and the v1
compatibility shims (``src/api/routes/v1-history``, ``v1-trace``).
:data:`NESTED_ROUTES` holds the ``model=hyperion`` twins of the routes
that also serve the nested lake documents;
:meth:`.http_server.HyperionAPI.serve` is the one place that picks
between the two.

One plan per route: a handler that answers what a registry row
computes calls that row function (or its ``(df, strategy)`` chooser
core) with the request's params as keyword arguments, whose defaults
are the row's oracle constants, and holds no plan of its own. Its only
DataFrame steps are the page ``limit``, the ``after_key`` cursor and
column renames; the rest is param parsing and the reference's response
body shape. ``tests/test_http_routes.py`` asserts HTTP body == registry
row per family. Routes with no row, or that compute more than a row in
the same scan, keep their own plan: the get_transaction lookup
(:func:`transaction`), ``get_creator``, ``get_table_rows``,
``get_action_usage``, ``get_resource_usage``, ``get_block``,
``get_abi_snapshot``, ``v1_get_actions``, ``hyp_get_actions`` and
``hyp_get_transaction``; so do ``get_account``'s recent-actions and
links legs and ``get_trx_count``'s plain count.

Scale shape: unchanged from the registry rows — point/page lookups are
pushed-down scans + TakeOrderedAndProject; dimension joins run through
the stats-planned chooser; every ``.collect()`` is behind a clamped
``limit`` (MAX_LIMIT) or a bounded group-by (per-day buckets,
25-producer rollups).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..plans.mongo_query import compile_mongo_query
from ..plans.predicates import (
    MAX_SKIP,
    QueryGuardError,
    QueryParams,
    compile_code_action_filter,
)
from ..registry import _t
from ..sources.lake import lake_actions, prune_block_range
from ..tables import TABLE_NAMES
from . import endpoints_ext, state, stats
from .envelope import get_actions_with_envelope
from .history import _EVENT_NUMERIC
from .misc_endpoints import EXPLORER_METADATA, get_filters_df
from .nested import (
    blocks_range_rollup,
    created_accounts,
    creator_of,
    deltas_page,
    table_state_asof,
)

#: hard cap on any route's collected page — the reference's fastify
#: schema rejects limit > 1000 (functions.ts skip/limit guards); a
#: route that let a raw ``limit`` reach ``.limit().collect()`` would
#: serialize an entire table onto the serving driver.
MAX_LIMIT = 1000


def _limit(params: dict, default: int = 100) -> int:
    n = int(params.get("limit", default))
    if n < 0:
        raise ValueError(f"limit must be >= 0, got {n}")
    return min(n, MAX_LIMIT)


def _rows(df: DataFrame, limit: int | None = None) -> list[dict]:
    """Collect a bounded frame to JSON-safe dicts (timestamps → str)."""
    if limit is not None:
        df = df.limit(limit)
    return [
        {
            k: (str(v) if hasattr(v, "isoformat") else v)
            for k, v in r.asDict(recursive=True).items()
        }
        for r in df.collect()
    ]


def _keyset_page(
    df: DataFrame, key_cols: list[str], params: dict
) -> tuple[list[dict], str | None]:
    """One composite-key page (get_table_state.ts:36-43,69-72): rows
    keyed by ``concat(key_cols, '-')`` strictly after the ``after_key``
    cursor, in key order, and the ``next_key`` cursor when the page is
    full."""
    limit = _limit(params)
    page = df.withColumn("_key", F.concat_ws("-", *key_cols))
    if params.get("after_key"):
        page = page.where(F.col("_key") > params["after_key"])
    rows = _rows(page.orderBy(F.col("_key").asc()).limit(limit))
    next_key = rows[-1]["_key"] if rows and len(rows) == limit else None
    for r in rows:
        del r["_key"]
    return rows, next_key


def _qp(params: dict, terms: dict[str, str] | None = None) -> QueryParams:
    """Query-string dict → QueryParams (the fastify schema's shared
    history params, functions.ts:183-250: account/after/before/sort/
    skip/limit plus free ``field=value`` terms). ``terms`` lets a
    route pre-map its own field names (get_deltas) while sharing the
    paging/window parsing — one place to add a future guard."""
    if terms is None:
        terms = {}
        if "account" in params:
            terms["user_id"] = params["account"]
        if "filter" in params:  # contract[:action] filter → event_type
            terms["event_type"] = params["filter"].split(":", 1)[0]
        for k, v in params.items():
            if k.startswith("term."):  # explicit field term passthrough
                terms[k[5:]] = v
    return QueryParams(
        terms=terms,
        after=params.get("after"),
        before=params.get("before"),
        sort=params.get("sort", "desc"),
        skip=int(params.get("skip", 0)),
        limit=int(params.get("limit", 100)),
    )


def transaction(api, trx: int) -> tuple | None:
    """The get_transaction point lookup shared by the v2 and v1
    routes: ``(head, traces)`` for a known trx, else None. Two
    jobs: the orders key lookup, then the trx's lineitem rows, each
    a scan with the key in PushedFilters. The traces are ordered by
    ``l_linenumber`` (the bug-#148 regroup discipline) on the
    driver, which already holds every collected row, so no Spark
    sort (sample, shuffle, result) runs."""
    t = _t(api.spark, api.sf_dir)
    head = (
        t["orders"]
        .where(F.col("o_orderkey") == trx)
        .select("o_orderkey", "o_orderstatus", "o_orderdate")
        .first()
    )
    if head is None:
        return None
    traces = (
        t["lineitem"]
        .where(F.col("l_orderkey") == trx)
        .select("l_linenumber", "l_partkey", "l_quantity", "l_extendedprice")
        .collect()
    )
    return head, [
        r.asDict() for r in sorted(traces, key=lambda r: r["l_linenumber"])
    ]


# --- v2 --------------------------------------------------------------------


def health(api, params: dict) -> dict:
    """routes/v2/health: the session and the lake head. An EMPTY lake
    is a degraded-but-alive service, not a crash: a load-balancer
    probe must get a response precisely when the service is newly up
    (health.ts reports per-service status the same way)."""
    block, block_time = api.log_head()
    lake = (
        {
            "service": "Lake",
            "status": "OK",
            "service_data": {
                "last_indexed_block": block,
                "last_indexed_block_time": str(block_time),
            },
        }
        if block is not None
        else {"service": "Lake", "status": "Error", "service_data": {}}
    )
    return {
        "version": "spark",
        "health": [
            {"service": "SparkSession", "status": "OK"},
            lake,
        ],
    }


# --- v2-history -------------------------------------------------------------


def get_actions(api, params: dict) -> dict:
    """routes/v2-history/get_actions (get_actions.ts:88-131): the
    predicate-compiled page inside the reference envelope."""
    qp = _qp(params)
    ev = _t(api.spark, api.sf_dir)["events"]
    return get_actions_with_envelope(
        api.spark,
        ev,
        qp,
        seq_field="event_id",
        simple=params.get("simple") == "true",
        # reference: lib stays 0 unless the request opts in
        # (query.checkLib -> get_info().last_irreversible_block_num,
        # get_actions.ts:71-80); our chain-info analog is the
        # ingest-maintained watermark
        lib=api.lib_block()
        if str(params.get("checkLib", "")).lower() in ("true", "1")
        else None,
        head=api.log_head(),
        default_sort_field="event_id",
        tiebreaker="event_id",
        numeric_fields=_EVENT_NUMERIC,
    )


def get_transaction(api, params: dict) -> dict:
    """routes/v2-history/get_transaction: one trx and its traces in
    canonical ordinal order (:func:`transaction`)."""
    trx = int(params["id"])
    found = transaction(api, trx)
    # the reference resolves the REAL lib for get_transaction on
    # both its cache and ES paths (get_transaction.ts:67,102) —
    # unlike get_blocks/get_block, which hardcode lib: 0
    lib = api.lib_block()
    if found is None:
        return {
            "executed": False,
            "trx_id": trx,
            "lib": lib,
            "actions": [],
        }
    head, traces = found
    return {
        "executed": True,
        "trx_id": trx,
        "lib": lib,
        "status": head["o_orderstatus"],
        "block_time": str(head["o_orderdate"]),
        "actions": traces,
    }


def get_deltas(api, params: dict) -> dict:
    """routes/v2-history/get_deltas: the delta column mapping
    (endpoints_ext.delta_view) through the same predicate-compiler
    path as the registered ``get_deltas_by_scope``."""
    ev = endpoints_ext.delta_view(_t(api.spark, api.sf_dir)["events"])
    terms: dict[str, str] = {}
    if "code" in params or "table" in params:
        terms["event_type"] = params.get("table", params.get("code"))
    if "scope" in params:
        terms["user_id"] = params["scope"]
    if "payer" in params:
        terms["payer"] = params["payer"]
    qp = _qp(params, terms=terms)
    return get_actions_with_envelope(
        api.spark,
        ev,
        qp,
        seq_field="event_id",
        head=api.log_head(),
        default_sort_field="event_id",
        tiebreaker="event_id",
        numeric_fields=frozenset({"event_id", "user_id", "payer"}),
    )


def get_created_accounts(api, params: dict) -> dict:
    """routes/v2-history/get_created_accounts: creator → created
    accounts, the ``get_created_accounts`` row."""
    creator = {"creator": params["account"]} if "account" in params else {}
    df = endpoints_ext.get_created_accounts(
        api.spark, api.sf_dir, limit=_limit(params), **creator
    )
    return {"accounts": _rows(df)}


def get_creator(api, params: dict) -> dict:
    """routes/v2-history/get_creator: the account's first signup
    event is its creation record (newaccount semantics)."""
    account = int(params["account"])
    ev = _t(api.spark, api.sf_dir)["events"]
    row = (
        ev.where(
            (F.col("event_type") == "signup")
            & (F.col("user_id") == account)
        )
        .orderBy("event_id")
        .limit(1)
        .first()
    )
    if row is None:
        return {"account": account, "creator": None}
    return {
        "account": account,
        "creation_seq": row["event_id"],
        "timestamp": str(row["ts"]),
    }


def get_blocks(api, params: dict) -> dict:
    """routes/v2-history/get_blocks (get_blocks.ts:6-161): block-range
    headers with per-block rollups — the ``get_blocks_range`` row over
    the [after, before] sequence window."""
    window = {k: int(params[k]) for k in ("after", "before") if k in params}
    df = endpoints_ext.get_blocks_range(api.spark, api.sf_dir, **window)
    # get_blocks.ts:153-158 response shape: the reference itself
    # hardcodes lib: 0 here (only get_transaction resolves the real
    # watermark) — mirror that, not lib_block()
    return {"cached": False, "lib": 0, "blocks": _rows(df, _limit(params))}


def get_block(api, params: dict) -> dict:
    """routes/v2-history/get_block: ONE block's header rollup plus its
    transactions — the single-block specialization of get_blocks (the
    block_num = event_id // 100 mapping the registry uses), both scans
    pruned to the block's 100-sequence slice."""
    num = int(params.get("block_num", 3))
    lo, hi = num * 100, num * 100 + 99
    ev = _t(api.spark, api.sf_dir)["events"].where(
        F.col("event_id").between(lo, hi)
    )
    head = ev.agg(
        F.count("*").alias("trx_count"),
        F.round(F.sum("value"), 4).alias("cpu_usage"),
        F.max("event_id").alias("last_seq"),
    ).first()
    if head["last_seq"] is None:
        return {"block_num": num, "transactions": [], "trx_count": 0}
    trx = ev.orderBy("event_id").select(
        "event_id", "user_id", "event_type", "ts"
    )
    return {
        "block_num": num,
        "lib": 0,  # get_block.ts:32 hardcodes lib: 0
        "trx_count": head["trx_count"],
        "cpu_usage": head["cpu_usage"],
        "last_seq": head["last_seq"],
        "transactions": _rows(trx, 1000),
    }


def get_abi_snapshot(api, params: dict) -> dict:
    """routes/v2-history/get_abi_snapshot: the contract's latest ABI
    version at or below ``block`` — a top-1 as-of lookup (the
    ``abi_asof_join``/``top1_lookup`` family): pushed-down equality +
    sequence bound, TakeOrderedAndProject(1)."""
    account = int(params["contract"])
    block = int(params.get("block", 1 << 62))
    ev = _t(api.spark, api.sf_dir)["events"]
    row = (
        ev.where(
            (F.col("event_type") == "signup")
            & (F.col("user_id") == account)
            & (F.col("event_id") <= block)
        )
        .orderBy(F.col("event_id").desc())
        .limit(1)
        .select("event_id", "ts")
        .first()
    )
    if row is None:
        return {"contract": account, "present": False}
    return {
        "contract": account,
        "present": True,
        "version_seq": row["event_id"],
        "valid_from": str(row["ts"]),
    }


def get_schedule(api, params: dict) -> dict:
    """routes/v2-history/get_schedule (get_schedule.ts:9-59): latest
    producer-schedule version as-of ``before`` — the
    ``get_schedule_asof`` row."""
    bound = {"before": params["before"]} if "before" in params else {}
    rows = _rows(endpoints_ext.get_schedule_asof(api.spark, api.sf_dir, **bound))
    return {"schedule": rows[0] if rows else None}


def get_table_state(api, params: dict) -> dict:
    """routes/v2-history/get_table_state (get_table_state.ts:22-78):
    latest row per (scope, primary_key) as-of ``block`` — the
    ``get_table_state_latest`` row — paged by the composite
    ``after_key`` cursor (the ``keyset_pagination`` step). One shuffle
    on the state key; the as-of bound is pushed to the scan."""
    block = int(params.get("block", 800))
    latest = state.get_table_state_latest(api.spark, api.sf_dir, block=block)
    rows, next_key = _keyset_page(latest, ["user_id", "event_type"], params)
    return {"block": block, "rows": rows, "next_key": next_key}


def check_transaction(api, params: dict) -> dict:
    """routes/v2-history/check_transaction (check_transaction.ts:4-27):
    existence probe — the ``check_transaction`` row (key lookup + trace
    count, predicate pushed into both scans)."""
    trx = int(params.get("id", 42))
    row = endpoints_ext.check_transaction(api.spark, api.sf_dir, trx=trx).first()
    if row is None:
        return {"id": trx, "known": False}
    return {
        "id": trx,
        "known": True,
        "status": row["status"],
        "action_count": row["action_count"],
        "total": row["total"],
    }


# --- model=hyperion twins: the nested lake documents ------------------------


def hyp_get_actions(api, params: dict) -> dict:
    """``model=hyperion`` on routes/v2-history/get_actions: serve the
    REAL nested action documents from the partitioned lake — the
    document shape the reference returns (index-templates.ts:52-178),
    not the flat testdata mapping. Predicates are the registry's own:
    account => the triple involvement disjunction over
    notified/receipts.receiver/act.authorization.actor
    (hyp_actions_account_disjunction); ``filter=code:action`` =>
    the OR-of-conjunctions compiler; after/before => block bounds that
    PRUNE LAKE PARTITIONS (prune_block_range — the block_hint
    single-index routing, get_transaction.ts:73-79). The paging guards
    match the flat route's (apply_query, functions.ts:246-250): skip in
    [0, MAX_SKIP] and a sort of asc or desc, checked before any scan."""
    skip = int(params.get("skip", 0))
    if not 0 <= skip <= MAX_SKIP:
        raise QueryGuardError(f"skip {skip} outside [0, {MAX_SKIP}]")
    sort = params.get("sort", "desc")
    if sort not in ("asc", "desc"):
        raise QueryGuardError(f"invalid sort dir {sort!r}")
    a = lake_actions(api.spark, api.sf_dir)
    if "after" in params or "before" in params:
        a = prune_block_range(
            a,
            lo=int(params["after"]) if "after" in params else None,
            hi=int(params["before"]) if "before" in params else None,
        )
    pred = F.lit(True)
    if "account" in params:
        acct = params["account"]
        pred = pred & (
            F.array_contains("notified", acct)
            | F.exists("receipts", lambda r: r["receiver"] == acct)
            | F.exists("act.authorization", lambda x: x["actor"] == acct)
        )
    if "filter" in params:
        pred = pred & compile_code_action_filter(
            F.col("act.account"), F.col("act.name"), params["filter"]
        )
    matched = a.where(pred)
    limit = _limit(params)
    order = (
        F.col("global_sequence").asc()
        if sort == "asc"
        else F.col("global_sequence").desc()
    )
    # the exact total rides the page's top-K scan (see apply_query);
    # a limit-0 page never scans, so it counts directly
    total = Observation() if limit else None
    page = matched if total is None else matched.observe(
        total, F.count(F.lit(1)).alias("total")
    )
    page = page.orderBy(order)
    if skip:
        page = page.offset(skip)
    page = page.limit(limit).select(
        "global_sequence",
        "block_num",
        "trx_id",
        "act",
        "notified",
        F.col("ts").cast("string").alias("timestamp"),
    )
    actions = [r.asDict(recursive=True) for r in page.collect()]
    return {
        "actions": actions,
        "total": {
            "value": matched.count() if total is None else total.get["total"],
            "relation": "eq",
        },
    }


def hyp_get_transaction(api, params: dict) -> dict:
    """``model=hyperion`` on get_transaction: the trx's actions in
    canonical ordinal order from the nested lake, key-pruned by
    trx_id (+ optional block_num_hint partition routing — the
    reference's single-index hint, get_transaction.ts:73-79)."""
    trx_id = params["id"]
    a = lake_actions(api.spark, api.sf_dir)
    if "block_hint" in params:
        hint = int(params["block_hint"])
        a = prune_block_range(a, lo=hint, hi=hint)
    rows = (
        a.where(F.col("trx_id") == trx_id)
        .orderBy("action_ordinal", "global_sequence")
        .select(
            "global_sequence",
            "action_ordinal",
            "creator_action_ordinal",
            "block_num",
            "act",
            F.size("receipts").cast("long").alias("n_receipts"),
        )
        .limit(1000)
        .collect()
    )
    lib = api.lib_block()  # real lib on get_transaction (ts:67,102)
    if not rows:
        return {"executed": False, "trx_id": trx_id, "lib": lib, "actions": []}
    return {
        "executed": True,
        "trx_id": trx_id,
        "lib": lib,
        "block_num": rows[0]["block_num"],
        "actions": [r.asDict(recursive=True) for r in rows],
    }


def hyp_get_deltas(api, params: dict) -> dict:
    """``model=hyperion`` on get_deltas: the nested delta documents
    from the lake (promoted @accounts struct), newest first — the
    shared :func:`..api.nested.deltas_page` core the hash-gated
    ``hyp_get_deltas_page`` row runs; route defaults are the row's
    constants."""
    df = deltas_page(
        api.spark,
        api.sf_dir,
        code=params.get("code", "eosio.token"),
        table=params.get("table", "accounts"),
        scope=params.get("scope"),
        payer=params.get("payer"),
        block_hi=int(params["before"]) if "before" in params else 180,
        limit=_limit(params, default=100),
    )
    return {"deltas": _rows(df)}


def hyp_get_blocks(api, params: dict) -> dict:
    """``model=hyperion`` on get_blocks: per-block header rollups from
    the nested actions lake over [after, before] — the shared
    :func:`..api.nested.blocks_range_rollup` core of the hash-gated
    ``hyp_get_blocks_range`` row (its constants are the defaults)."""
    lo = int(params.get("after", 40))
    hi = int(params.get("before", 60))
    df = blocks_range_rollup(api.spark, api.sf_dir, lo, hi).orderBy(
        F.col("block_num").desc()
    )
    return {
        "cached": False,
        "lib": 0,  # get_blocks.ts:155 hardcodes lib: 0
        "blocks": _rows(df, _limit(params)),
    }


def hyp_get_block_route(api, params: dict) -> dict:
    """``model=hyperion`` on get_block: one block's nested header
    rollup — the hash-gated ``hyp_get_block`` row parameterized by
    block_num (same :func:`..api.nested.blocks_range_rollup` core)."""
    num = int(params.get("block_num", 42))
    rows = _rows(
        blocks_range_rollup(api.spark, api.sf_dir, num, num).withColumn(
            "prev_id",
            F.expr(
                "substr(md5('blk' || CAST(block_num - 1 AS STRING)), 1, 16)"
            ),
        )
    )
    if not rows:
        return {"block_num": num, "present": False}
    return rows[0] | {"present": True}


def hyp_get_table_state(api, params: dict) -> dict:
    """``model=hyperion`` on get_table_state: latest present row per
    (scope, primary_key) as-of ``block`` on the nested deltas lake —
    the shared :func:`..api.nested.table_state_asof` core of the
    hash-gated ``hyp_table_state_latest`` row, plus the route's
    keyset ``after_key`` page cursor (O8)."""
    block = int(params.get("block", 1500))
    latest = table_state_asof(
        api.spark,
        api.sf_dir,
        params.get("code", "eosio.token"),
        params.get("table", "accounts"),
        block,
    )
    rows, next_key = _keyset_page(latest, ["scope", "primary_key"], params)
    return {"block": block, "rows": rows, "next_key": next_key}


def hyp_get_created_accounts(api, params: dict) -> dict:
    """``model=hyperion`` on get_created_accounts: the creator's
    newaccount actions from the nested lake (promoted @newaccount
    struct) — the shared :func:`..api.nested.created_accounts` core of
    the hash-gated ``hyp_created_accounts`` row."""
    creator = params.get("account", "user8")
    df = created_accounts(
        api.spark, api.sf_dir, creator, limit=_limit(params, default=100)
    )
    return {"accounts": _rows(df)}


def hyp_get_creator(api, params: dict) -> dict:
    """``model=hyperion`` on get_creator: top-1 newaccount lookup by
    created account on the nested lake — the shared
    :func:`..api.nested.creator_of` core of the hash-gated
    ``hyp_get_creator`` row."""
    account = params.get("account", "user5")
    rows = _rows(creator_of(api.spark, api.sf_dir, account))
    if not rows:
        return {"account": account, "creator": None}
    return rows[0]


# --- v2-state ---------------------------------------------------------------


def get_top_holders(api, params: dict) -> dict:
    """routes/v2-state/get_top_holders: the balance-ranked
    ``get_top_holders`` row."""
    df = state.get_top_holders(
        api.spark, api.sf_dir, limit=_limit(params, default=20)
    )
    return {"holders": _rows(df)}


def get_tokens(api, params: dict) -> dict:
    """routes/v2-state/get_tokens (get_tokens.ts:63-72): account →
    held symbols — the keyed core of the registered ``get_tokens``
    row (endpoints_ext._get_tokens)."""
    account = int(params["account"])
    df, _ = endpoints_ext._get_tokens(api.spark, api.sf_dir, account=account)
    return {
        "account": account,
        "tokens": [r.asDict() for r in df.collect()],
    }


def get_key_accounts(api, params: dict) -> dict:
    """routes/v2-state/get_key_accounts: key → controlled
    accounts via the registered query's chooser core."""
    df, _ = endpoints_ext._get_key_accounts(
        api.spark, api.sf_dir, key=params["public_key"]
    )
    return {"account_names": [r["account"] for r in df.collect()]}


def get_table_rows(api, params: dict) -> dict:
    """routes/v2-state/get_table_rows: the dynamic-table endpoint
    with the Mongo find-grammar ``filters`` param
    (get_table_rows.ts:76-129) — POST a JSON object like
    ``{"table": "orders", "filters": {"o_totalprice":
    {"$gt": 50000}}, "limit": 20}``; every clause compiles to one
    Column predicate that lands in the scan's PushedFilters
    (plans/mongo_query.py)."""
    table = params.get("table", "orders")
    if table not in TABLE_NAMES:
        raise ValueError(f"unknown table {table!r}")
    filters = params.get("filters", "{}")
    if isinstance(filters, str):
        filters = json.loads(filters)
    df = _t(api.spark, api.sf_dir)[table]
    pred = compile_mongo_query(df, filters) if filters else F.lit(True)
    page = df.where(pred).orderBy(df.columns[0])
    return {"table": table, "rows": _rows(page, _limit(params))}


def get_account(api, params: dict) -> dict:
    """routes/v2-state/get_account (get_account.ts:38-108): the FULL
    composition the reference assembles from parallel subqueries — the
    ``get_account`` row (account row + activity rollup, one key-pruned
    plan) plus the account's recent actions, held tokens (the keyed
    ``get_tokens`` core) and permission links. Every leg is key-pruned
    to the one account; the reference fires them as Promise.all, here
    they run serially per request. The links leg has one row per
    action type, so the driver sorts it."""
    account = int(params.get("account", 7))
    row = endpoints_ext.get_account(api.spark, api.sf_dir, account=account).first()
    if row is None:
        return {"account": account, "known": False}
    # the three side legs of the reference composition
    tokens_df, _ = endpoints_ext._get_tokens(api.spark, api.sf_dir, account=account)
    ev = _t(api.spark, api.sf_dir)["events"].where(F.col("user_id") == account)
    actions = (
        ev.orderBy(F.col("event_id").desc())
        .limit(10)
        .select("event_id", "event_type", "ts", "value")
    )
    links = sorted(
        (
            r.asDict()
            for r in ev.groupBy(F.col("event_type").alias("action"))
            .agg(F.min("event_id").alias("linked_at"))
            .collect()
        ),
        key=lambda r: (r["action"] is not None, r["action"]),
    )
    return {
        "account": account,
        "known": True,
        "account_name": row["account_name"],
        "balance": row["balance"],
        "total_trx": row["total_trx"],
        "total_volume": row["total_volume"],
        "last_trx": row["last_trx"],
        "tokens": _rows(tokens_df, 100),
        "actions": _rows(actions),
        "links": links[:100],
    }


def get_links(api, params: dict) -> dict:
    """routes/v2-state/get_links (get_links.ts:5-64): permission links
    per account — the ``get_links`` row."""
    acct = {"account": params["account"]} if "account" in params else {}
    df = endpoints_ext.get_links(api.spark, api.sf_dir, **acct)
    return {"links": _rows(df, 1000)}


def get_proposals(api, params: dict) -> dict:
    """routes/v2-state/get_proposals (get_proposals.ts:4-96): proposals
    by status, newest first with a unique tiebreaker — the
    ``get_proposals`` row."""
    status = {"status": params["status"]} if "status" in params else {}
    df = endpoints_ext.get_proposals(
        api.spark, api.sf_dir, limit=_limit(params, default=40), **status
    )
    return {"proposals": _rows(df)}


def get_voters(api, params: dict) -> dict:
    """routes/v2-state/get_voters (get_voters.ts:6-74): weight-ranked
    voter page + the exact total — the ``get_voters`` and
    ``get_voter_count`` rows."""
    seg = {"segment": params["producer"]} if "producer" in params else {}
    page = endpoints_ext.get_voters(
        api.spark, api.sf_dir, limit=_limit(params, default=50), **seg
    )
    total = endpoints_ext.get_voter_count(api.spark, api.sf_dir, **seg)
    return {"voter_count": total.first()["voter_count"], "voters": _rows(page)}


def get_voter_scopes(api, params: dict) -> dict:
    """routes/v2-state/get_voter_scopes: the distinct (account, scope)
    pairs behind a type set — the ``distinct_scopes`` row, renamed."""
    types = {"types": tuple(params["scopes"].split(","))} if "scopes" in params else {}
    df = state.distinct_scopes(api.spark, api.sf_dir, **types)
    return {
        "scopes": _rows(
            df.withColumnsRenamed({"user_id": "account", "event_type": "scope"}), 1000
        )
    }


# --- v2-stats --------------------------------------------------------------


def get_action_usage(api, params: dict) -> dict:
    """routes/v2-stats/get_action_usage (get_action_usage.ts:4-21):
    action count + unique actors inside [start, end] — the
    ``delta_seq_diff`` conditional-aggregate shape (two top-1 lookups
    folded into ONE scan) plus the window's distinct actors."""
    start = params.get("start", "2024-01-02 00:00:00")
    end = params.get("end", "2024-01-05 00:00:00")
    ev = _t(api.spark, api.sf_dir)["events"]
    start_ts = F.lit(start).cast("timestamp")
    end_ts = F.lit(end).cast("timestamp")
    row = ev.agg(
        (
            F.max(F.when(F.col("ts") <= end_ts, F.col("event_id")))
            - F.max(F.when(F.col("ts") <= start_ts, F.col("event_id")))
        ).alias("action_count"),
        F.count_distinct(
            F.when(
                (F.col("ts") > start_ts) & (F.col("ts") <= end_ts),
                F.col("user_id"),
            )
        ).alias("unique_actors"),
    ).first()
    return {
        "from": start,
        "to": end,
        "action_count": row["action_count"],
        "unique_actors": row["unique_actors"],
    }


def get_api_usage(api, params: dict) -> dict:
    """routes/v2-stats/get_api_usage: the serving layer's OWN usage
    counters (the reference aggregates per-route hit counts from its
    rate-limiter store) — real per-route request totals plus the
    timedQuery cache's hit/miss split. Driver-side state, no Spark
    job: usage accounting must not cost a query."""
    with api._usage_lock:
        per_route = dict(sorted(api.usage.items()))
    return {
        "total_requests": sum(per_route.values()),
        "by_route": per_route,
        "cache": {"hits": api.cache.hits, "misses": api.cache.misses},
    }


def get_missed_blocks(api, params: dict) -> dict:
    """routes/v2-stats/get_missed_blocks (get_missed_blocks.ts:41-53):
    per-producer missed rollup — the ``missed_blocks_rollup`` row,
    optional producer filter."""
    producer = int(params["producer"]) if "producer" in params else None
    df = stats.missed_blocks_rollup(api.spark, api.sf_dir, producer=producer)
    return {"stats": _rows(df, 1000)}


def get_resource_usage(api, params: dict) -> dict:
    """routes/v2-stats/get_resource_usage: usage-metric stats for one
    action — the ``extended_stats_value``/``usage_sum_min_max``
    aggregate family parameterized by the action term, one pushed-down
    scan."""
    action = params.get("action", "purchase")
    ev = _t(api.spark, api.sf_dir)["events"].where(
        F.col("event_type") == action
    )
    row = ev.agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 4).alias("total"),
        F.round(F.min("value"), 4).alias("min"),
        F.round(F.max("value"), 4).alias("max"),
        F.round(F.avg("value"), 4).alias("avg"),
        F.round(F.stddev_pop("value"), 4).alias("std_dev"),
    ).first()
    return {"action": action, **row.asDict()}


def get_trx_count(api, params: dict) -> dict:
    """routes/v2-stats/get_trx_count (get_trx_count.ts:176-225): exact
    transaction count; ``validate_actions=true`` adds the
    blocks-vs-actions consistency check — the ``trx_count_reconcile``
    row's inconsistent buckets, counted."""
    out = {"trx_count": _t(api.spark, api.sf_dir)["orders"].count()}
    if params.get("validate_actions") == "true":
        bad = (
            stats.trx_count_reconcile(api.spark, api.sf_dir)
            .where(~F.col("consistent"))
            .count()
        )
        out["consistent"] = bad == 0
        out["inconsistent_buckets"] = bad
    return out


# --- v2 misc ---------------------------------------------------------------


def get_filters(api, params: dict) -> dict:
    """routes/v2/get_filters: the operator's parsed ingest filter
    config (get_filters.ts filterToObj — the registered
    ``get_filters`` transform)."""
    df = get_filters_df(api.spark).orderBy(
        "kind", "contract", "action_or_table"
    )
    return {"filters": _rows(df)}


def explorer_metadata(api, params: dict) -> dict:
    """routes/v2/explorer_metadata: provider/chain config reflection
    (explorer_metadata.ts) — a constant, no Spark job."""
    return dict(EXPLORER_METADATA)


# --- v1 compatibility shims -------------------------------------------------


def v1_get_actions(api, params: dict) -> dict:
    """routes/v1-history/get_actions: the pos/offset grammar
    (get_actions.ts:357-359 — negative pos anchors at the END of the
    account's history; the page returns ascending with
    ``account_action_seq`` numbering). Same negative-slice semantics
    as the registered ``v1_pos_offset_tail``; the running sequence is
    the ``account_action_seq`` window over the page only (bounded)."""
    account = int(params.get("account_name", 5))
    pos = int(params.get("pos", -1))
    offset = int(params.get("offset", -20))
    ev = _t(api.spark, api.sf_dir)["events"].where(
        F.col("user_id") == account
    )
    n = abs(offset) or 1
    if pos < 0:
        # tail slice: last |offset| actions, served ascending
        page = (
            ev.orderBy(F.col("event_id").desc())
            .limit(min(n, 1000))
            .orderBy(F.col("event_id").asc())
        )
        total = ev.count()
        base = total - min(n, total)
    else:
        page = (
            ev.orderBy(F.col("event_id").asc())
            .offset(pos)
            .limit(min(n, 1000))
        )
        base = pos
    rows = _rows(
        page.select("event_id", "user_id", "event_type", "ts")
    )
    actions = [
        {
            "global_action_seq": r["event_id"],
            "account_action_seq": base + i,
            "block_time": r["ts"],
            "action_trace": {
                "act": {"name": r["event_type"], "account": r["user_id"]}
            },
        }
        for i, r in enumerate(rows)
    ]
    # v1 stamps the real LIB unconditionally (get_actions.ts:301 takes
    # it from get_info() on every request) — the ingest watermark is
    # the engine's chain-info analog
    return {
        "actions": actions,
        "last_irreversible_block": api.lib_block(),
    }


def v1_get_transaction(api, params: dict) -> dict:
    """routes/v1-history/get_transaction: the v1 body shape over the v2
    get_transaction lookup (:func:`transaction`, traces in canonical
    ordinal order), capped at 1000 traces."""
    trx = int(params["id"])
    found = transaction(api, trx)
    if found is None:
        return {"id": trx, "trx": None, "traces": []}
    head, traces = found
    return {
        "id": trx,
        "trx": {"receipt": {"status": head["o_orderstatus"]}},
        "block_time": str(head["o_orderdate"]),
        "traces": traces[:1000],
    }


def v1_get_key_accounts(api, params: dict) -> dict:
    """routes/v1-history/get_key_accounts: v1 body shape over the same
    chooser-planned core as the v2 route."""
    df, _ = endpoints_ext._get_key_accounts(
        api.spark, api.sf_dir, key=params.get("public_key", "Brand#13")
    )
    return {"account_names": [r["account"] for r in df.collect()]}


def v1_get_controlled_accounts(api, params: dict) -> dict:
    """routes/v1-history/get_controlled_accounts
    (get_controlled_accounts.ts:4-64): accounts controlled by one
    controller — the ``get_controlled_accounts`` row."""
    ctl = (
        {"controlling": int(params["controlling_account"])}
        if "controlling_account" in params
        else {}
    )
    df = endpoints_ext.get_controlled_accounts(api.spark, api.sf_dir, **ctl)
    return {"controlled_accounts": [r["controlled"] for r in df.collect()]}


def v1_trace_get_block(api, params: dict) -> dict:
    """routes/v1-trace/get_block (get_block.ts:30-90): nested block
    reconstruction — header joined to traces re-nested in canonical
    ordinal order, through the stats-planned core of the registered
    ``v1_trace_get_block`` row (``_v1_trace_get_block``)."""
    lo = int(params.get("after", 1))
    hi = int(params.get("before", 160))
    df, _ = endpoints_ext._v1_trace_get_block(api.spark, api.sf_dir, lo=lo, hi=hi)
    return {"transactions": _rows(df, 1000)}


#: route path -> handler(api, params): the whole REST surface.
ROUTES = {
    "/v2/health": health,
    "/v2/history/get_actions": get_actions,
    "/v2/history/get_deltas": get_deltas,
    "/v2/history/get_transaction": get_transaction,
    "/v2/history/get_created_accounts": get_created_accounts,
    "/v2/history/get_creator": get_creator,
    "/v2/state/get_tokens": get_tokens,
    "/v2/state/get_key_accounts": get_key_accounts,
    "/v2/state/get_top_holders": get_top_holders,
    "/v2/state/get_table_rows": get_table_rows,
    "/v2/history/get_blocks": get_blocks,
    "/v2/history/get_block": get_block,
    "/v2/history/get_abi_snapshot": get_abi_snapshot,
    "/v2/history/get_schedule": get_schedule,
    "/v2/history/get_table_state": get_table_state,
    "/v2/history/check_transaction": check_transaction,
    "/v2/state/get_account": get_account,
    "/v2/state/get_links": get_links,
    "/v2/state/get_proposals": get_proposals,
    "/v2/state/get_voters": get_voters,
    "/v2/state/get_voter_scopes": get_voter_scopes,
    "/v2/stats/get_action_usage": get_action_usage,
    "/v2/stats/get_api_usage": get_api_usage,
    "/v2/stats/get_missed_blocks": get_missed_blocks,
    "/v2/stats/get_resource_usage": get_resource_usage,
    "/v2/stats/get_trx_count": get_trx_count,
    "/v2/get_filters": get_filters,
    "/v2/explorer_metadata": explorer_metadata,
    "/v1/history/get_actions": v1_get_actions,
    "/v1/history/get_transaction": v1_get_transaction,
    "/v1/history/get_key_accounts": v1_get_key_accounts,
    "/v1/history/get_controlled_accounts": v1_get_controlled_accounts,
    "/v1/trace_api/get_block": v1_trace_get_block,
}

#: route path -> the ``model=hyperion`` twin(api, params) serving the
#: nested lake documents instead of the flat mapping.
NESTED_ROUTES = {
    "/v2/history/get_actions": hyp_get_actions,
    "/v2/history/get_transaction": hyp_get_transaction,
    "/v2/history/get_deltas": hyp_get_deltas,
    "/v2/history/get_blocks": hyp_get_blocks,
    "/v2/history/get_block": hyp_get_block_route,
    "/v2/history/get_table_state": hyp_get_table_state,
    "/v2/history/get_created_accounts": hyp_get_created_accounts,
    "/v2/history/get_creator": hyp_get_creator,
}
