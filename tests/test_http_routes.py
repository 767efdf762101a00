"""HTTP body == registry row, per route family of the route table
(api/http_routes.py). A route that answers what a registry row
computes runs that row function, so each such route is asserted over
a real socket against the oracle-checked row at the handler's default
params — the reference autoloads all of
src/api/routes (routes.ts:18-25). Routes with no row of their own
(get_block, get_abi_snapshot, get_action_usage, get_resource_usage,
v1 get_actions; get_creator and get_table_rows in test_http_server.py)
are checked against hand-built plans or invariants instead."""

from __future__ import annotations

import json
import os
import shutil
import urllib.error
import urllib.request

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from hyperion_history_api_spark.api import http_routes
from hyperion_history_api_spark.api.http_server import (
    HyperionAPI,
    serve_background,
)
from hyperion_history_api_spark.api.serving_cache import ResponseCache
from hyperion_history_api_spark.registry import all_specs, queries
from hyperion_history_api_spark.tables import load_tables

from .oracle_check import duck_connection

SF_DIR = "/root/testdata/sf0.001"
Q = queries()


@pytest.fixture(scope="module")
def server(spark):
    api = HyperionAPI(spark, SF_DIR, cache=ResponseCache(default_ttl=0))
    srv, thread = serve_background(api)
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    yield base, api
    srv.shutdown()


def _get(base: str, path: str) -> dict:
    with urllib.request.urlopen(base + path, timeout=120) as r:
        return json.loads(r.read())


def _registry_rows(spark, name: str) -> list[dict]:
    return [
        {
            k: (str(v) if hasattr(v, "isoformat") else v)
            for k, v in r.asDict(recursive=True).items()
        }
        for r in Q[name](spark, SF_DIR).collect()
    ]


def test_route_table_is_complete(server, monkeypatch):
    """Every reference route family in scope is served (33 routes;
    the v1-chain proxy stays out of scope). Every nested twin belongs
    to a served path, and ``api.routes[path]`` runs the twin for
    ``model=hyperion`` (stamping the body) and the flat handler
    otherwise; a path without a twin ignores ``model``."""
    _, api = server
    assert len(api.routes) == 33
    assert set(api.routes) == set(http_routes.ROUTES)
    assert set(http_routes.NESTED_ROUTES) <= set(http_routes.ROUTES)
    for fam in ("/v2/history/", "/v2/state/", "/v2/stats/", "/v1/"):
        assert any(p.startswith(fam) for p in api.routes)

    calls = []

    def recorder(kind, path):
        def handler(handler_api, params):
            assert handler_api is api
            calls.append((kind, path))
            return {"kind": kind}

        return handler

    for path in http_routes.ROUTES:
        monkeypatch.setitem(http_routes.ROUTES, path, recorder("flat", path))
    for path in http_routes.NESTED_ROUTES:
        monkeypatch.setitem(
            http_routes.NESTED_ROUTES, path, recorder("nested", path)
        )
    assert len(http_routes.NESTED_ROUTES) == 8
    for path in http_routes.NESTED_ROUTES:
        calls.clear()
        assert api.routes[path]({"model": "hyperion"}) == {
            "kind": "nested",
            "model": "hyperion",
        }
        assert api.routes[path]({}) == {"kind": "flat"}
        assert api.routes[path]({"model": "flat"}) == {"kind": "flat"}
        assert calls == [("nested", path), ("flat", path), ("flat", path)]
    for path in set(http_routes.ROUTES) - set(http_routes.NESTED_ROUTES):
        calls.clear()
        assert api.routes[path]({"model": "hyperion"}) == {"kind": "flat"}
        assert calls == [("flat", path)]


# --- v2-history tail -------------------------------------------------------


def test_get_blocks_matches_registry(server, spark):
    base, _ = server
    body = _get(base, "/v2/history/get_blocks")
    assert body["blocks"] == _registry_rows(spark, "get_blocks_range")
    assert body["blocks"]


def test_get_block_single(server, spark):
    base, _ = server
    body = _get(base, "/v2/history/get_block?block_num=3")
    ev = load_tables(spark, SF_DIR)["events"].where(
        F.col("event_id").between(300, 399)
    )
    assert body["trx_count"] == ev.count()
    assert [t["event_id"] for t in body["transactions"]] == [
        r["event_id"] for r in ev.orderBy("event_id").collect()
    ]
    empty = _get(base, "/v2/history/get_block?block_num=99999999")
    assert empty["transactions"] == [] and empty["trx_count"] == 0


def test_get_abi_snapshot_asof(server, spark):
    base, _ = server
    ev = load_tables(spark, SF_DIR)["events"]
    want = (
        ev.where((F.col("event_type") == "signup") & (F.col("user_id") == 7))
        .agg(F.max("event_id"))
        .first()[0]
    )
    body = _get(base, "/v2/history/get_abi_snapshot?contract=7")
    if want is None:
        assert body["present"] is False
    else:
        assert body["present"] and body["version_seq"] == want
        # the as-of bound: block below the version → an earlier one
        earlier = _get(
            base, f"/v2/history/get_abi_snapshot?contract=7&block={want - 1}"
        )
        assert (not earlier["present"]) or earlier["version_seq"] < want


def test_get_created_accounts_matches_registry(server, spark):
    base, _ = server
    body = _get(base, "/v2/history/get_created_accounts")
    assert body["accounts"] == _registry_rows(spark, "get_created_accounts")
    assert body["accounts"]  # the default creator has accounts
    # another creator and a limit check the route's params
    t = load_tables(spark, SF_DIR)
    want = [
        {"account": r["c_custkey"], "account_name": r["c_name"]}
        for r in t["customer"]
        .join(t["nation"], F.col("c_nationkey") == F.col("n_nationkey"))
        .where(F.col("n_name") == "NATION_7")
        .orderBy(F.col("c_custkey").desc())
        .limit(2)
        .collect()
    ]
    body = _get(base, "/v2/history/get_created_accounts?account=NATION_7&limit=2")
    assert body["accounts"] == want and want


def test_get_schedule_matches_registry(server, spark):
    base, _ = server
    body = _get(base, "/v2/history/get_schedule")
    rows = _registry_rows(spark, "get_schedule_asof")
    assert body["schedule"] == (rows[0] if rows else None)


def test_get_table_state_and_keyset_cursor(server, spark):
    base, _ = server
    want = _registry_rows(spark, "get_table_state_latest")
    body = _get(base, "/v2/history/get_table_state?block=800&limit=1000")
    got = sorted(
        (r["user_id"], r["event_type"], r["event_id"]) for r in body["rows"]
    )
    assert got == sorted(
        (r["user_id"], r["event_type"], r["event_id"]) for r in want
    )
    # keyset pagination: two pages, disjoint, resuming strictly after
    p1 = _get(base, "/v2/history/get_table_state?block=800&limit=10")
    assert len(p1["rows"]) == 10 and p1["next_key"]
    p2 = _get(
        base,
        "/v2/history/get_table_state?block=800&limit=10"
        f"&after_key={p1['next_key']}",
    )
    ids1 = {(r["user_id"], r["event_type"]) for r in p1["rows"]}
    ids2 = {(r["user_id"], r["event_type"]) for r in p2["rows"]}
    assert not ids1 & ids2 and p2["rows"]


def test_check_transaction_matches_registry(server, spark):
    base, _ = server
    body = _get(base, "/v2/history/check_transaction?id=42")
    want = _registry_rows(spark, "check_transaction")[0]
    assert body["known"] is True
    assert body["status"] == want["status"]
    assert body["action_count"] == want["action_count"]
    assert body["total"] == want["total"]
    assert _get(base, "/v2/history/check_transaction?id=999999999")[
        "known"
    ] is False


# --- v2-state ----------------------------------------------------------------


def test_get_account_matches_registry(server, spark):
    base, _ = server
    body = _get(base, "/v2/state/get_account?account=7")
    want = _registry_rows(spark, "get_account")[0]
    for k in ("account", "account_name", "balance", "total_trx",
              "total_volume", "last_trx"):
        assert body[k] == want[k], k
    # the reference composition's side legs (get_account.ts:38-108):
    # recent actions (desc), held tokens, permission links
    assert [a["event_id"] for a in body["actions"]] == sorted(
        (a["event_id"] for a in body["actions"]), reverse=True
    )
    ev = load_tables(spark, SF_DIR)["events"].where(F.col("user_id") == 7)
    assert len(body["actions"]) == min(10, ev.count())
    assert len(body["links"]) == ev.select("event_type").distinct().count()
    t = load_tables(spark, SF_DIR)
    want_syms = sorted(
        r["p_brand"]
        for r in t["lineitem"]
        .join(
            t["orders"].where(F.col("o_custkey") == 7),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .join(t["part"], F.col("p_partkey") == F.col("l_partkey"))
        .select("p_brand")
        .distinct()
        .collect()
    )
    assert [tok["symbol"] for tok in body["tokens"]] == want_syms


def test_get_tokens_matches_registry_and_oracle(server, spark, tmp_path):
    """The get_tokens body equals the registry row for its account, and
    the row's DuckDB oracle text run for the body's account: one with
    orders, a known customer whose orders are gone, and an unknown id."""
    oracle = all_specs()["get_tokens"].oracle
    assert "WHERE o.o_custkey = 1\n" in oracle

    def oracle_rows(sf_dir: str, account: int) -> list[dict]:
        sql = oracle.replace("o.o_custkey = 1\n", f"o.o_custkey = {account}\n")
        cur = duck_connection(sf_dir).execute(sql)
        names = [d[0] for d in cur.description]
        return [dict(zip(names, row)) for row in cur.fetchall()]

    base, _ = server
    body = _get(base, "/v2/state/get_tokens?account=1")
    assert body["tokens"]
    assert body["tokens"] == _registry_rows(spark, "get_tokens")
    assert body["tokens"] == oracle_rows(SF_DIR, 1)

    # a copy of the tables in which customer 2 has no orders
    sf = tmp_path / "sf"
    sf.mkdir()
    for name in os.listdir(SF_DIR):
        shutil.copyfile(os.path.join(SF_DIR, name), sf / name)
    orders = pq.read_table(sf / "orders.parquet")
    pq.write_table(orders.filter(pc.field("o_custkey") != 2), sf / "orders.parquet")
    api = HyperionAPI(spark, str(sf), cache=ResponseCache(default_ttl=0))
    customers = load_tables(spark, str(sf))["customer"]
    assert customers.where(F.col("c_custkey") == 2).count() == 1
    unknown = 10**9
    assert customers.where(F.col("c_custkey") == unknown).count() == 0
    for account in (1, 2, unknown):
        got = api.routes["/v2/state/get_tokens"]({"account": str(account)})
        assert got["tokens"] == oracle_rows(str(sf), account), account
        assert bool(got["tokens"]) == (account == 1), account


def test_get_top_holders_matches_registry(server, spark):
    base, _ = server
    body = _get(base, "/v2/state/get_top_holders")
    assert body["holders"] == _registry_rows(spark, "get_top_holders")
    assert len(body["holders"]) == 20


def test_get_links_matches_registry(server, spark):
    base, _ = server
    body = _get(base, "/v2/state/get_links")
    assert body["links"] == _registry_rows(spark, "get_links")
    assert body["links"]


def test_get_proposals_matches_registry(server, spark):
    base, _ = server
    body = _get(base, "/v2/state/get_proposals")
    assert body["proposals"] == _registry_rows(spark, "get_proposals")


def test_get_voters_matches_registry(server, spark):
    base, _ = server
    body = _get(base, "/v2/state/get_voters")
    assert body["voters"] == _registry_rows(spark, "get_voters")
    assert (
        body["voter_count"]
        == _registry_rows(spark, "get_voter_count")[0]["voter_count"]
    )


def test_get_voter_scopes_matches_registry(server, spark):
    base, _ = server
    body = _get(base, "/v2/state/get_voter_scopes")
    want = [
        {"account": r["user_id"], "scope": r["event_type"]}
        for r in _registry_rows(spark, "distinct_scopes")
    ]
    assert body["scopes"] == want and want


# --- v2-stats ------------------------------------------------------------------


def test_get_action_usage_matches_registry(server, spark):
    base, _ = server
    body = _get(base, "/v2/stats/get_action_usage")
    want = _registry_rows(spark, "delta_seq_diff")[0]
    assert body["action_count"] == want["action_count"]
    assert body["unique_actors"] >= 0


def test_get_missed_blocks_matches_registry(server, spark):
    base, _ = server
    body = _get(base, "/v2/stats/get_missed_blocks")
    assert body["stats"] == _registry_rows(spark, "missed_blocks_rollup")


def test_get_resource_usage(server, spark):
    base, _ = server
    body = _get(base, "/v2/stats/get_resource_usage?action=purchase")
    ev = load_tables(spark, SF_DIR)["events"].where(
        F.col("event_type") == "purchase"
    )
    want = ev.agg(
        F.count("*").alias("n"), F.round(F.avg("value"), 4).alias("avg")
    ).first()
    assert body["n"] == want["n"] and body["avg"] == want["avg"]


def test_get_trx_count_and_validation(server, spark):
    base, _ = server
    body = _get(base, "/v2/stats/get_trx_count?validate_actions=true")
    assert body["trx_count"] == load_tables(spark, SF_DIR)["orders"].count()
    # the validation verdict equals the registered reconcile row's
    # per-day verdicts (the fixture has orders without traces, so the
    # check is allowed to be False — what matters is it MATCHES)
    want_bad = sum(
        1 for r in _registry_rows(spark, "trx_count_reconcile")
        if not r["consistent"]
    )
    assert body["inconsistent_buckets"] == want_bad
    assert body["consistent"] is (want_bad == 0)


def test_get_api_usage_counts_requests(server):
    base, api = server
    before = _get(base, "/v2/stats/get_api_usage")
    _get(base, "/v2/health")
    _get(base, "/v2/health")
    after = _get(base, "/v2/stats/get_api_usage")
    assert (
        after["by_route"].get("/v2/health", 0)
        >= before["by_route"].get("/v2/health", 0) + 1
    )
    assert after["total_requests"] > before["total_requests"]
    assert set(after["cache"]) == {"hits", "misses"}
    # live counters are never cached (TTL 0 for this route)
    assert after["cached"] is False


# --- v2 misc ---------------------------------------------------------------------


def test_get_filters_and_explorer_metadata(server, spark):
    base, _ = server
    body = _get(base, "/v2/get_filters")
    assert body["filters"] == _registry_rows(spark, "get_filters")
    meta = _get(base, "/v2/explorer_metadata")
    assert meta["provider"] == "hyperion-spark"
    assert meta["chain_name"] == "mainnet"


# --- v1 shims ---------------------------------------------------------------------


def test_v1_get_actions_pos_offset(server, spark):
    base, _ = server
    body = _get(base, "/v1/history/get_actions?account_name=5&pos=-1&offset=-20")
    want = [r["event_id"] for r in _registry_rows(spark, "v1_pos_offset_tail")]
    assert [a["global_action_seq"] for a in body["actions"]] == want
    seqs = [a["account_action_seq"] for a in body["actions"]]
    assert seqs == list(range(seqs[0], seqs[0] + len(seqs)))
    # positive pos: page [0, 5) ascending
    head = _get(base, "/v1/history/get_actions?account_name=5&pos=0&offset=5")
    ev = load_tables(spark, SF_DIR)["events"].where(F.col("user_id") == 5)
    first5 = [
        r["event_id"] for r in ev.orderBy("event_id").limit(5).collect()
    ]
    assert [a["global_action_seq"] for a in head["actions"]] == first5
    assert [a["account_action_seq"] for a in head["actions"]] == [0, 1, 2, 3, 4]


def test_v1_get_transaction_shape(server):
    base, _ = server
    body = _get(base, "/v1/history/get_transaction?id=7")
    v2 = _get(base, "/v2/history/get_transaction?id=7")
    assert body["trx"]["receipt"]["status"] == v2["status"]
    assert [t["l_linenumber"] for t in body["traces"]] == [
        a["l_linenumber"] for a in v2["actions"]
    ]


def test_v1_key_and_controlled_accounts(server, spark):
    base, _ = server
    keys = _get(base, "/v1/history/get_key_accounts?public_key=Brand%2313")
    want = [r["account"] for r in _registry_rows(spark, "get_key_accounts")]
    assert keys["account_names"] == want
    ctl = _get(base, "/v1/history/get_controlled_accounts?controlling_account=7")
    want_ctl = [
        r["controlled"]
        for r in _registry_rows(spark, "get_controlled_accounts")
    ]
    assert ctl["controlled_accounts"] == want_ctl


def test_v1_trace_get_block_matches_registry(server, spark):
    base, _ = server
    body = _get(base, "/v1/trace_api/get_block")
    assert body["transactions"] == _registry_rows(spark, "v1_trace_get_block")


# --- error handling (round-9 ADVICE) -----------------------------------------


def test_analysis_exception_maps_to_400_not_dropped_connection(server):
    """User input reaching Catalyst analysis (unknown column in a
    Mongo filter) must reply 400 — the reference 400s on
    filter-processing errors — not drop the connection."""
    base, _ = server
    req = urllib.request.Request(
        base + "/v2/state/get_table_rows",
        data=json.dumps(
            {"table": "orders", "filters": {"no_such_col": {"$exists": True}}}
        ).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    with pytest.raises(urllib.error.HTTPError) as ei:
        urllib.request.urlopen(req, timeout=120)
    assert ei.value.code in (400, 500)
    assert "error" in json.loads(ei.value.read())


def test_limit_clamp_on_collect_routes(server):
    """get_top_holders / get_created_accounts clamp limit to 1000
    (round-9 ADVICE): a huge limit must not collect a table."""
    base, _ = server
    body = _get(base, "/v2/state/get_top_holders?limit=99999999")
    assert len(body["holders"]) <= 1000
    with pytest.raises(urllib.error.HTTPError) as ei:
        _get(base, "/v2/state/get_top_holders?limit=-5")
    assert ei.value.code == 400


def test_hyperion_model_get_actions(server, spark):
    """model=hyperion serves the NESTED lake documents; the account
    involvement page equals the registered
    hyp_actions_account_disjunction row."""
    base, _ = server
    body = _get(base, "/v2/history/get_actions?model=hyperion&account=user7")
    want = [
        r["global_sequence"]
        for r in Q["hyp_actions_account_disjunction"](spark, SF_DIR).collect()
    ]
    assert [a["global_sequence"] for a in body["actions"]] == want and want
    assert body["model"] == "hyperion"
    # nested shape is REAL: act struct with authorization array
    a0 = body["actions"][0]
    assert "account" in a0["act"] and isinstance(a0["notified"], list)
    assert isinstance(a0["act"]["authorization"], list)
    # code:action filter composes on the nested columns
    flt = _get(
        base,
        "/v2/history/get_actions?model=hyperion&filter=eosio.token:transfer"
        "&limit=50",
    )
    assert flt["actions"]
    assert all(
        a["act"]["account"] == "eosio.token" and a["act"]["name"] == "transfer"
        for a in flt["actions"]
    )


def test_hyperion_model_get_transaction_with_block_hint(server, spark):
    import hashlib

    base, _ = server
    trx = hashlib.md5(b"trx100").hexdigest()[:16]
    body = _get(base, f"/v2/history/get_transaction?model=hyperion&id={trx}")
    want = Q["hyp_get_transaction"](spark, SF_DIR).collect()
    assert body["executed"] is True
    assert [a["global_sequence"] for a in body["actions"]] == [
        r["global_sequence"] for r in want
    ]
    ords = [a["action_ordinal"] for a in body["actions"]]
    assert ords == sorted(ords)  # canonical ordinal order
    # block_hint routes to the single partition and returns the same
    hinted = _get(
        base,
        f"/v2/history/get_transaction?model=hyperion&id={trx}"
        f"&block_hint={body['block_num']}",
    )
    assert hinted["actions"] == body["actions"]
    missing = _get(
        base, "/v2/history/get_transaction?model=hyperion&id=ffffffffffffffff"
    )
    assert missing["executed"] is False


def test_hyperion_model_get_deltas(server, spark):
    """model=hyperion on get_deltas == the hash-gated
    hyp_get_deltas_page row (VERDICT r9 item 3)."""
    base, _ = server
    body = _get(
        base,
        "/v2/history/get_deltas?model=hyperion&before=180&limit=100",
    )
    want = Q["hyp_get_deltas_page"](spark, SF_DIR).collect()
    assert body["model"] == "hyperion"
    assert [(d["block_num"], d["event_id"]) for d in body["deltas"]] == [
        (r["block_num"], r["event_id"]) for r in want
    ] and want
    # scope term composes on the nested lake
    scoped = _get(
        base, "/v2/history/get_deltas?model=hyperion&scope=user3&limit=50"
    )
    assert scoped["deltas"]
    assert all(d["scope"] == "user3" for d in scoped["deltas"])


def test_hyperion_model_get_blocks_and_block(server, spark):
    """model=hyperion on get_blocks/get_block == the hash-gated
    hyp_get_blocks_range / hyp_get_block rows."""
    base, _ = server
    body = _get(
        base, "/v2/history/get_blocks?model=hyperion&after=40&before=60"
    )
    want = Q["hyp_get_blocks_range"](spark, SF_DIR).collect()
    assert body["model"] == "hyperion"
    assert [(b["block_num"], b["trx_count"], b["cpu_usage"])
            for b in body["blocks"]] == [
        (r["block_num"], r["trx_count"], r["cpu_usage"]) for r in want
    ] and want
    one = _get(base, "/v2/history/get_block?model=hyperion&block_num=42")
    row = Q["hyp_get_block"](spark, SF_DIR).collect()[0]
    assert one["present"] is True
    for k in ("block_num", "block_id", "prev_id", "producer",
              "trx_count", "cpu_usage", "net_usage"):
        assert one[k] == row[k]
    missing = _get(
        base, "/v2/history/get_block?model=hyperion&block_num=99999999"
    )
    assert missing["present"] is False


def test_hyperion_model_get_table_state(server, spark):
    """model=hyperion on get_table_state == hyp_table_state_latest,
    and the after_key keyset pages are disjoint + exhaustive."""
    base, _ = server
    want = [
        (r["scope"], r["primary_key"], r["amount"], r["block_num"])
        for r in Q["hyp_table_state_latest"](spark, SF_DIR).collect()
    ]
    body = _get(
        base,
        "/v2/history/get_table_state?model=hyperion&block=1500&limit=500",
    )
    assert body["model"] == "hyperion"
    got = [
        (r["scope"], r["primary_key"], r["amount"], r["block_num"])
        for r in body["rows"]
    ]
    assert got == want and want
    # keyset pagination: two pages re-assemble the full result
    p1 = _get(
        base,
        "/v2/history/get_table_state?model=hyperion&block=1500&limit="
        f"{len(want) // 2}",
    )
    p2 = _get(
        base,
        "/v2/history/get_table_state?model=hyperion&block=1500&limit=500"
        f"&after_key={p1['next_key']}",
    )
    pages = [
        (r["scope"], r["primary_key"], r["amount"], r["block_num"])
        for r in p1["rows"] + p2["rows"]
    ]
    assert pages == want


def test_hyperion_model_created_accounts_and_creator(server, spark):
    """model=hyperion on get_created_accounts/get_creator == the
    hash-gated hyp_created_accounts / hyp_get_creator rows."""
    base, _ = server
    body = _get(
        base, "/v2/history/get_created_accounts?model=hyperion&account=user8"
    )
    want = Q["hyp_created_accounts"](spark, SF_DIR).collect()
    assert body["model"] == "hyperion"
    assert [(a["account"], a["creation_seq"]) for a in body["accounts"]] == [
        (r["account"], r["creation_seq"]) for r in want
    ] and want
    one = _get(base, "/v2/history/get_creator?model=hyperion&account=user5")
    row = Q["hyp_get_creator"](spark, SF_DIR).collect()[0]
    for k in ("account", "creator", "creation_seq", "block_num", "trx_id"):
        assert one[k] == row[k]
    missing = _get(
        base, "/v2/history/get_creator?model=hyperion&account=nosuchacct"
    )
    assert missing["creator"] is None


def test_get_table_state_limit_zero_is_not_an_error(server):
    """limit=0 is allowed by the validator and must return an empty
    page, not crash on rows[-1] (which surfaced as an opaque 500)."""
    base, _ = server
    for q in (
        "/v2/history/get_table_state?block=800&limit=0",
        "/v2/history/get_table_state?model=hyperion&block=1500&limit=0",
    ):
        body = _get(base, q)
        assert body["rows"] == [] and body["next_key"] is None
