"""End-to-end tests of the stdlib HTTP serving layer
(api/http_server.py): real sockets, real requests via urllib, payloads
compared against the engine plans they wrap. Covers the REST envelope
(get_actions.ts:88-131), the timedQuery cache (functions.ts:946-1006),
guard-violation replies, and the SSE bounded-replay stream
(socketManager.ts replay path)."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest
from pyspark.sql import functions as F

from hyperion_history_api_spark.api.http_server import (
    HyperionAPI,
    serve_background,
)
from hyperion_history_api_spark.api.serving_cache import ResponseCache
from hyperion_history_api_spark.tables import load_tables

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def server(spark):
    api = HyperionAPI(spark, SF_DIR, cache=ResponseCache(default_ttl=60.0))
    srv, thread = serve_background(api)
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    yield base, api
    srv.shutdown()


def _get(base: str, path: str) -> dict:
    with urllib.request.urlopen(base + path, timeout=120) as r:
        return json.loads(r.read())


def test_health(server):
    base, _ = server
    body = _get(base, "/v2/health")
    assert body["health"][0]["status"] == "OK"
    lake = body["health"][1]["service_data"]
    assert lake["last_indexed_block"] > 0


def test_get_actions_envelope_matches_engine(server, spark):
    base, _ = server
    body = _get(base, "/v2/history/get_actions?account=7&limit=5")
    # envelope shape (get_actions.ts:88-131)
    assert set(body) >= {
        "query_time_ms",
        "cached",
        "total",
        "actions",
        "last_indexed_block",
    }
    assert body["total"]["relation"] == "eq"
    # payload equals the engine plan it wraps
    ev = load_tables(spark, SF_DIR)["events"]
    want = [
        r["event_id"]
        for r in ev.where(F.col("user_id") == 7)
        .orderBy(F.col("event_id").desc())
        .limit(5)
        .select("event_id")
        .collect()
    ]
    assert [a["event_id"] for a in body["actions"]] == want
    assert body["total"]["value"] == ev.where(F.col("user_id") == 7).count()


def test_response_cache_hit_and_guard_errors(server):
    base, api = server
    p = "/v2/history/get_actions?account=3&limit=3"
    first = _get(base, p)
    assert first["cached"] is False
    second = _get(base, p)
    assert second["cached"] is True  # timedQuery hit
    assert second["actions"] == first["actions"]
    assert api.cache.hits >= 1
    # limit guard → 400 with an error body (functions.ts:246-250)
    with pytest.raises(urllib.error.HTTPError) as ei:
        _get(base, "/v2/history/get_actions?account=3&limit=99999")
    assert ei.value.code == 400
    assert "limit" in json.loads(ei.value.read())["error"]
    with pytest.raises(urllib.error.HTTPError) as ei:
        _get(base, "/v2/nope")
    assert ei.value.code == 404


def test_get_transaction_and_state_routes(server, spark):
    base, _ = server
    body = _get(base, "/v2/history/get_transaction?id=7")
    assert body["executed"] is True and body["trx_id"] == 7
    ordinals = [a["l_linenumber"] for a in body["actions"]]
    assert ordinals == sorted(ordinals)  # canonical ordinal order
    missing = _get(base, "/v2/history/get_transaction?id=999999999")
    assert missing["executed"] is False

    t = load_tables(spark, SF_DIR)
    tokens = _get(base, "/v2/state/get_tokens?account=1")
    want_syms = sorted(
        r["p_brand"]
        for r in t["lineitem"]
        .join(
            t["orders"].where(F.col("o_custkey") == 1),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .join(t["part"], F.col("p_partkey") == F.col("l_partkey"))
        .select("p_brand")
        .distinct()
        .collect()
    )
    assert [tok["symbol"] for tok in tokens["tokens"]] == want_syms

    keys = _get(base, "/v2/state/get_key_accounts?public_key=Brand%2313")
    assert keys["account_names"] == sorted(set(keys["account_names"]))
    assert keys["account_names"]


def test_sse_stream_bounded_replay(server, spark):
    base, _ = server
    ev = load_tables(spark, SF_DIR)["events"]
    want = [
        r["event_id"]
        for r in ev.where(
            (F.col("user_id") == 7) & F.col("event_id").between(1, 2000)
        )
        .orderBy("event_id")
        .select("event_id")
        .collect()
    ]
    url = base + "/v2/stream?account=7&start_from=1&read_until=2000"
    got, ended = [], False
    with urllib.request.urlopen(url, timeout=120) as r:
        assert r.headers["Content-Type"] == "text/event-stream"
        event = None
        for raw in r:
            line = raw.decode().rstrip("\n")
            if line.startswith("event: "):
                event = line[7:]
            elif line.startswith("data: "):
                if event == "end":
                    ended = True
                    break
                got.append(json.loads(line[6:])["event_id"])
    assert ended
    assert got == want and want


def test_sse_live_tail_follow_mode(spark, tmp_path):
    """Replay -> live switchover on the serving surface: the SSE
    handler drains the head, then a new spool file lands in the lake
    mid-stream and its matching rows arrive over the SAME response,
    ending at read_until (socketManager.ts: history replay, then the
    relay pushes arrivals)."""
    import shutil
    import threading
    import time as _time

    # growable lake: events.parquet becomes a DIRECTORY seeded with
    # the fixture file
    lake = tmp_path / "lake"
    lake.mkdir()
    evdir = lake / "events.parquet"
    evdir.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", evdir / "part-000.parquet")
    for t in (
        "region nation customer supplier part orders lineitem "
        "documents embeddings"
    ).split():
        shutil.copy(f"{SF_DIR}/{t}.parquet", lake / f"{t}.parquet")

    ev = load_tables(spark, str(lake))["events"]
    head = ev.agg(F.max("event_id")).first()[0]
    # the tail window: 3 future events for user 7, 1 for someone else
    future = spark.createDataFrame(
        [
            (head + 1, 7, "click", 1.5),
            (head + 2, 8, "view", 2.5),
            (head + 3, 7, "view", 3.5),
            (head + 4, 7, "click", 4.5),
        ],
        "event_id long, user_id long, event_type string, value double",
    ).withColumn("ts", F.timestamp_micros(F.lit(1_700_000_000_000_000)))

    api = HyperionAPI(spark, str(lake), cache=ResponseCache(default_ttl=0))
    srv, _ = serve_background(api)
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        def append_later():
            _time.sleep(2.0)
            future.coalesce(1).write.mode("append").parquet(str(evdir))

        threading.Thread(target=append_later, daemon=True).start()
        url = (
            base
            + f"/v2/stream?account=7&start_from={head - 5}"
            + f"&read_until={head + 4}&follow=true&poll_sec=0.2"
        )
        got, ended = [], False
        with urllib.request.urlopen(url, timeout=120) as r:
            event = None
            for raw in r:
                line = raw.decode().rstrip("\n")
                if line.startswith("event: "):
                    event = line[7:]
                elif line.startswith("data: "):
                    if event == "end":
                        ended = True
                        break
                    got.append(json.loads(line[6:]))
        assert ended
        # replay rows (user 7 in the last 5 of the head) came first,
        # then exactly the three matching future events, in order
        tail = [d["event_id"] for d in got if d["event_id"] > head]
        assert tail == [head + 1, head + 3, head + 4]
        assert all(d["user_id"] == 7 for d in got)
        ids = [d["event_id"] for d in got]
        assert ids == sorted(ids)
    finally:
        srv.shutdown()


def _sse_follow(base: str, params: dict, got) -> None:
    """An SSE follower: put each row frame on ``got`` as it arrives."""
    from urllib.parse import urlencode

    with urllib.request.urlopen(f"{base}/v2/stream?{urlencode(params)}", timeout=120) as r:
        for raw in r:
            line = raw.decode()
            if line.startswith("data: ") and line.strip() != "data: {}":
                got.put(json.loads(line[6:]))


def _ws_follow(port: int, params: dict, got) -> None:
    """A WS follower: put each row of each batch on ``got`` (acking)."""
    from hyperion_history_api_spark.sources.ship_ws import OP_TEXT, WebSocketClient

    ws = WebSocketClient("127.0.0.1", port)
    ws.send(json.dumps(params), OP_TEXT)
    while (msg := ws.recv()) is not None:
        frame = json.loads(msg[1])
        if frame["type"] != "batch":
            return
        for d in frame["rows"]:
            got.put(d)
        ws.send(json.dumps({"type": "ack", "seq": frame["seq"]}), OP_TEXT)


def _sio_follow(port: int, params: dict, got) -> None:
    """A Socket.IO live-only subscriber: put each live trace on ``got``."""
    from hyperion_history_api_spark.api.socketio_stream import SocketIOClient

    c = SocketIOClient("127.0.0.1", port)
    c.emit_with_ack("action_stream_request", {"account": params["account"]})
    while True:
        m = c.next_message()
        if m.get("mode") == "live":
            got.put(m["message"])


@pytest.mark.parametrize("surface", ["sse", "ws", "socketio"])
def test_live_row_reaches_follower_within_two_ticks(spark, growable_sf, surface):
    """One matching row lands and the follower receives it within two
    relay ticks plus the arrival tick's own time, far below
    ``idle_timeout`` — on every surface. A lone WS row is flushed when
    a relay drain comes back empty instead of waiting in a partial
    batch for ``batch_size`` rows."""
    import queue
    import threading
    import time

    from hyperion_history_api_spark.api.socketio_stream import SocketIOStreamServer
    from hyperion_history_api_spark.api.ws_stream import WsStreamServer

    head = load_tables(spark, growable_sf)["events"].agg(F.max("event_id")).first()[0]
    row = spark.createDataFrame(
        [(head + 1, 7, "click", 1.5)],
        "event_id long, user_id long, event_type string, value double",
    ).withColumn("ts", F.timestamp_micros(F.lit(1_700_000_000_000_000)))

    api = HyperionAPI(spark, growable_sf, cache=ResponseCache(default_ttl=0))
    relay = api.relay
    ticks: list[float] = []
    tick = relay._tick

    def timed_tick() -> None:
        t0 = time.monotonic()
        try:
            tick()
        finally:
            ticks.append(time.monotonic() - t0)

    relay._tick = timed_tick
    idle_timeout = 30.0
    params = {
        "account": 7,
        "start_from": head + 1,
        "follow": "true",
        "idle_timeout": idle_timeout,
    }
    got = queue.Queue()
    if surface == "sse":
        srv, _ = serve_background(api)
        close = srv.shutdown
        args = (f"http://127.0.0.1:{srv.server_address[1]}", params, got)
    else:
        srv = (WsStreamServer if surface == "ws" else SocketIOStreamServer)(api)
        close = srv.close
        args = (srv.port, params, got)
    target = {"sse": _sse_follow, "ws": _ws_follow, "socketio": _sio_follow}[surface]
    try:
        threading.Thread(target=target, args=args, daemon=True).start()
        deadline = time.monotonic() + 60
        while not relay._subs:
            assert time.monotonic() < deadline, "follower never registered"
            time.sleep(0.05)
        row.coalesce(1).write.mode("append").parquet(f"{growable_sf}/events.parquet")
        landed = time.monotonic()
        d = got.get(timeout=idle_timeout)
        latency = time.monotonic() - landed
        assert d["event_id"] == head + 1
        bound = 2 * relay.poll_sec + max(ticks)
        assert latency <= bound < idle_timeout / 4, (latency, ticks)
    finally:
        relay.close()
        close()


def _sse_rows(url: str) -> list[dict]:
    """Every row frame of one SSE response, up to its end event."""
    rows, event = [], None
    with urllib.request.urlopen(url, timeout=120) as r:
        for raw in r:
            line = raw.decode().rstrip("\n")
            if line.startswith("event: "):
                event = line[7:]
            elif line.startswith("data: "):
                if event == "end":
                    return rows
                if event is None:
                    rows.append(json.loads(line[6:]))
                event = None
    raise AssertionError("stream closed before its end event")


def test_sse_and_ws_followers_share_the_api_relay(spark, tmp_path):
    """Two SSE and one WS follow=true subscriptions on one API all
    register on ``api.relay`` (the relay a Socket.IO server on that
    API drains too) and each receives its matching arrivals exactly
    once. With the poller stopped and ticks driven by hand, an arrival
    tick runs ONE routed-scan job for the three followers, not one
    scan per subscriber."""
    import shutil
    import threading
    import time as _time

    from hyperion_history_api_spark.api.socketio_stream import (
        SocketIOStreamServer,
    )
    from hyperion_history_api_spark.api.ws_stream import WsStreamServer
    from hyperion_history_api_spark.sources.ship_ws import (
        OP_TEXT,
        WebSocketClient,
    )

    lake = tmp_path / "lake"
    evdir = lake / "events.parquet"
    evdir.mkdir(parents=True)
    shutil.copy(f"{SF_DIR}/events.parquet", evdir / "part-000.parquet")
    for t in (
        "region nation customer supplier part orders lineitem "
        "documents embeddings"
    ).split():
        shutil.copy(f"{SF_DIR}/{t}.parquet", lake / f"{t}.parquet")
    head = load_tables(spark, str(lake))["events"].agg(
        F.max("event_id")
    ).first()[0]

    api = HyperionAPI(spark, str(lake), cache=ResponseCache(default_ttl=0))
    relay = api.relay
    srv, _ = serve_background(api)
    wss = WsStreamServer(api, ack_timeout=30.0)
    sio = SocketIOStreamServer(api)
    base = f"http://127.0.0.1:{srv.server_address[1]}"

    def land(first: int) -> None:
        spark.createDataFrame(
            [
                (first, 7, "click", 1.5),
                (first + 1, 8, "view", 2.5),
                (first + 2, 7, "view", 3.5),
                (first + 3, 7, "click", 4.5),
            ],
            "event_id long, user_id long, event_type string, value double",
        ).withColumn(
            "ts", F.timestamp_micros(F.lit(1_700_000_000_000_000))
        ).coalesce(1).write.mode("append").parquet(str(evdir))

    def ws_rows(request: dict) -> list[dict]:
        ws = WebSocketClient("127.0.0.1", wss.port)
        ws.send(json.dumps(request), OP_TEXT)
        rows = []
        while True:
            frame = json.loads(ws.recv()[1])
            if frame["type"] == "end":
                ws.close()
                return rows
            rows.extend(frame["rows"])
            ws.send(json.dumps({"type": "ack", "seq": frame["seq"]}), OP_TEXT)

    def follow(first: int) -> tuple[dict, list[threading.Thread]]:
        """Open the three followers for arrivals from ``first`` on and
        wait until all three are registered on the relay."""
        got: dict = {}
        start = f"start_from={first}&follow=true&idle_timeout=60"
        jobs = {
            "sse7": lambda: _sse_rows(
                f"{base}/v2/stream?account=7&read_until={first + 3}&{start}"
            ),
            "sse8": lambda: _sse_rows(
                f"{base}/v2/stream?account=8&read_until={first + 1}&{start}"
            ),
            "ws7": lambda: ws_rows(
                {
                    "account": 7,
                    "filters": [
                        {"field": "value", "operator": "gte", "value": 3}
                    ],
                    "start_from": first,
                    "read_until": first + 3,
                    "follow": "true",
                    "idle_timeout": 60,
                    "batch_size": 1,
                    "window": 8,
                }
            ),
        }
        threads = [
            threading.Thread(
                target=lambda k=k, fn=fn: got.__setitem__(k, fn()),
                daemon=True,
            )
            for k, fn in jobs.items()
        ]
        for t in threads:
            t.start()
        deadline = _time.monotonic() + 60
        while len(relay._subs) < 3 and _time.monotonic() < deadline:
            _time.sleep(0.05)
        assert len({s["conn"] for s in relay._subs.values()}) == 3
        return got, threads

    def delivered(got: dict, threads: list, first: int) -> None:
        for t in threads:
            t.join(timeout=60)
        ids = {k: [d["event_id"] for d in rows] for k, rows in got.items()}
        assert ids == {
            "sse7": [first, first + 2, first + 3],
            "sse8": [first + 1],
            "ws7": [first + 2, first + 3],
        }
        deadline = _time.monotonic() + 10
        while relay._subs and _time.monotonic() < deadline:
            _time.sleep(0.05)
        assert relay._subs == {}  # every follower left the relay

    try:
        assert sio.relay is relay
        got, threads = follow(head + 1)
        land(head + 1)
        delivered(got, threads, head + 1)

        # the same delivery with the poller stopped: one hand-driven
        # tick routes the arrival file to all three followers
        relay.close()
        deadline = _time.monotonic() + 10
        while relay._thread is not None and relay._thread.is_alive():
            assert _time.monotonic() < deadline
            _time.sleep(0.05)
        got, threads = follow(head + 5)
        land(head + 5)
        api.head_block()  # the head memo sees the new file outside the tick
        sc = spark.sparkContext
        sc.setJobGroup("relay-shared-arrival", "relay tick")
        try:
            relay._tick()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        st = sc.statusTracker()
        routed = [
            jid
            for jid in st.getJobIdsForGroup("relay-shared-arrival")
            if any(
                "collect at" in st.getStageInfo(s).name
                for s in st.getJobInfo(jid).stageIds
                if st.getStageInfo(s) is not None
            )
        ]
        assert len(routed) == 1
        delivered(got, threads, head + 5)
    finally:
        sio.close()
        wss.close()
        srv.shutdown()


def test_relay_ids_and_poller_lifetime_under_contention(tmp_path):
    """Connections attaching and leaving from more threads than cores:
    every attach gets a fresh id and finds a running poller, and the
    poller ends once the last connection has left."""
    import sys
    import threading
    import time as _time
    from types import SimpleNamespace

    from hyperion_history_api_spark.api.http_server import LiveRelay

    relay = LiveRelay(SimpleNamespace(sf_dir=str(tmp_path)), poll_sec=0.001)
    ids, stranded = [], []

    def churn():
        for _ in range(200):
            cid = relay.attach()
            ids.append(cid)
            _time.sleep(0.0005)
            poller = relay._thread
            if poller is None or not poller.is_alive():
                stranded.append(cid)
            relay.unregister_conn(cid)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=churn) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    assert len(ids) == len(set(ids)) == 16 * 200
    assert stranded == []
    deadline = _time.monotonic() + 5
    while relay._thread is not None and _time.monotonic() < deadline:
        _time.sleep(0.01)
    assert relay._thread is None  # a tick found no connection


def test_more_routes_and_post_bodies(server, spark):
    """get_deltas through the predicate compiler, created-accounts /
    creator / top-holders pages, and POSTed JSON bodies reaching the
    same handlers as GET query strings."""
    base, _ = server
    t = load_tables(spark, SF_DIR)

    deltas = _get(
        base, "/v2/history/get_deltas?code=purchase&scope=2-6&limit=50"
    )
    assert deltas["total"]["relation"] == "eq"
    assert all(
        a["event_type"] == "purchase" and 2 <= a["user_id"] <= 6
        for a in deltas["actions"]
    )
    assert deltas["actions"]

    created = _get(
        base, "/v2/history/get_created_accounts?account=NATION_19&limit=10"
    )
    want = [
        r["c_custkey"]
        for r in t["customer"]
        .join(
            t["nation"].where(F.col("n_name") == "NATION_19"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .orderBy(F.col("c_custkey").desc())
        .limit(10)
        .collect()
    ]
    assert [a["account"] for a in created["accounts"]] == want and want

    holders = _get(base, "/v2/state/get_top_holders?limit=5")
    amounts = [h["amount"] for h in holders["holders"]]
    assert amounts == sorted(amounts, reverse=True) and len(amounts) == 5

    # POST body == GET query string (fastify shared-schema parity)
    req = urllib.request.Request(
        base + "/v2/state/get_top_holders",
        data=json.dumps({"limit": 5}).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    with urllib.request.urlopen(req, timeout=120) as r:
        posted = json.loads(r.read())
    # cached:true permitted - the POST hits the GET's cache entry,
    # exactly the reference's route+params keying
    assert posted["holders"] == holders["holders"]

    creator = _get(base, "/v2/history/get_creator?account=7")
    ev = t["events"]
    first = (
        ev.where((F.col("event_type") == "signup") & (F.col("user_id") == 7))
        .orderBy("event_id")
        .first()
    )
    if first is None:
        assert creator["creator"] is None
    else:
        assert creator["creation_seq"] == first["event_id"]


def test_review_fixes_stream_400_post_bools_empty_health(server, spark, tmp_path):
    """Round-8 review regressions: bad stream params 400 BEFORE any
    SSE headers; POSTed JSON booleans behave like their query-string
    twins; an empty lake degrades /v2/health instead of crashing."""
    base, _ = server
    # 1. eager stream validation: a non-numeric start_from is a 400
    with pytest.raises(urllib.error.HTTPError) as ei:
        _get(base, "/v2/stream?start_from=abc")
    assert ei.value.code == 400
    # 2. POST {"simple": true} == GET simple=true (simple_actions key)
    req = urllib.request.Request(
        base + "/v2/history/get_actions",
        data=json.dumps({"account": 7, "limit": 3, "simple": True}).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    with urllib.request.urlopen(req, timeout=120) as r:
        body = json.loads(r.read())
    assert "simple_actions" in body and "actions" not in body
    # 3. empty lake: health answers with a degraded Lake status
    import shutil
    lake = tmp_path / "empty"
    lake.mkdir()
    for t in (
        "region nation customer supplier part orders lineitem "
        "documents embeddings"
    ).split():
        shutil.copy(f"{SF_DIR}/{t}.parquet", lake / f"{t}.parquet")
    ev = load_tables(spark, SF_DIR)["events"]
    ev.limit(0).write.parquet(str(lake / "events.parquet"))
    from hyperion_history_api_spark.api.http_server import HyperionAPI as H
    api2 = H(spark, str(lake))
    health = api2.routes["/v2/health"]({})
    assert health["health"][1]["status"] == "Error"


@pytest.mark.parametrize("bad", ["idle_timeout=nan"])
def test_stream_timing_params_rejected_before_stream(server, bad):
    """idle_timeout must be finite and >= 0: a bad value is a 400
    before the event-stream header, not (nan) a tail that never idles
    out."""
    base, _ = server
    with pytest.raises(urllib.error.HTTPError) as ei:
        _get(base, f"/v2/stream?account=7&follow=true&{bad}")
    assert ei.value.code == 400
    assert "error" in json.loads(ei.value.read())


def test_get_table_rows_mongo_filters_over_post(server, spark):
    """The dynamic-table endpoint: POSTed Mongo find-grammar filters
    compile to pushed predicates; results equal the engine plan."""
    base, _ = server
    filters = {
        "o_orderstatus": {"$in": ["O", "F"]},
        "o_totalprice": {"$gt": 50000, "$lte": 200000},
    }
    req = urllib.request.Request(
        base + "/v2/state/get_table_rows",
        data=json.dumps(
            {"table": "orders", "filters": filters, "limit": 15}
        ).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    with urllib.request.urlopen(req, timeout=120) as r:
        body = json.loads(r.read())
    o = load_tables(spark, SF_DIR)["orders"]
    want = [
        r["o_orderkey"]
        for r in o.where(
            F.col("o_orderstatus").isin("O", "F")
            & (F.col("o_totalprice") > 50000)
            & (F.col("o_totalprice") <= 200000)
        )
        .orderBy("o_orderkey")
        .limit(15)
        .collect()
    ]
    assert [row["o_orderkey"] for row in body["rows"]] == want and want
    # unknown table → 400
    with pytest.raises(urllib.error.HTTPError) as ei:
        _get(base, "/v2/state/get_table_rows?table=nope")
    assert ei.value.code == 400


def test_unexpected_exception_is_opaque_500(server, monkeypatch):
    """VERDICT r9 item 8: a handler crash returns an opaque error id,
    not the exception text (which can carry paths/SQL fragments)."""
    base, api = server
    monkeypatch.setitem(api.routes, "/v2/state/get_tokens", lambda params: 1 / 0)
    with pytest.raises(urllib.error.HTTPError) as ei:
        _get(base, "/v2/state/get_tokens?account=1&boom=1")
    assert ei.value.code == 500
    body = json.loads(ei.value.read())
    assert body["error"] == "internal error"
    assert "ZeroDivision" not in json.dumps(body)
    assert len(body["id"]) == 12


def test_negative_start_from_is_head_relative(server, spark):
    """Reference addBlockRangeOpts (functions.ts): a negative
    start_from/read_until is HEAD-relative — ``start_from: -5`` means
    "the last 5 blocks", never a full replay from block 1 (which is
    what ``event_id >= -5`` would have compiled to)."""
    _, api = server
    head = api.head_block()
    rows = list(api.stream_rows({"start_from": "-5"}))
    assert rows, "head-relative window must not be empty"
    ids = [r["event_id"] for r in rows]
    assert min(ids) >= head - 5
    assert max(ids) == head
    # both bounds resolve: -5..-2 relative = head-5..head-2 absolute
    rows2 = list(
        api.stream_rows({"start_from": "-5", "read_until": "-2"})
    )
    ids2 = [r["event_id"] for r in rows2]
    assert ids2 and min(ids2) >= head - 5 and max(ids2) == head - 2


def test_negative_start_from_on_empty_history_ends(spark, tmp_path):
    """A head-relative window on a lake with no events yet resolves
    against head 0, streams nothing and ends cleanly (the replay
    finds no rows; it neither fails on the missing head nor waits)."""
    lake = tmp_path / "empty"
    lake.mkdir()
    ev = load_tables(spark, SF_DIR)["events"]
    ev.limit(0).write.parquet(str(lake / "events.parquet"))
    api = HyperionAPI(spark, str(lake), cache=ResponseCache(default_ttl=0))
    assert api.head_block() == 0
    assert list(api.stream_rows({"start_from": "-1000"})) == []
    assert list(api.stream_rows({"start_from": "-1000", "read_until": "-1"})) == []


def test_head_block_memoized_on_lake_fingerprint(
    server, spark, monkeypatch
):
    """A head_block() call on an unchanged lake is stat-only — no
    Spark scan per stream request (the relay ack path calls this for
    every subscription; at a many-file lake a per-request
    max(event_id) job is real work)."""
    import hyperion_history_api_spark.tables as T

    _, api = server
    h1 = api.head_block()

    def boom(*a, **k):  # a fingerprint hit must never reach the scan
        raise AssertionError("Spark scan on fingerprint-hit head_block")

    monkeypatch.setattr(T, "_load_one", boom)
    assert api.head_block() == h1


def test_head_block_rescans_on_lake_growth(spark, tmp_path):
    """The memo invalidates when the spool gains a file — a stale head
    would break the gap-healing math clients do with currentBlockNum.
    The envelope routes read the same memo, so the next cache miss
    reports the new last_indexed_block / _time."""
    import shutil

    lake = tmp_path / "lake"
    evdir = lake / "events.parquet"
    evdir.mkdir(parents=True)
    shutil.copy(f"{SF_DIR}/events.parquet", evdir / "part-000.parquet")
    api = HyperionAPI(spark, str(lake), cache=ResponseCache(default_ttl=0))
    h1 = api.head_block()
    future = spark.createDataFrame(
        [(h1 + 7, 1, "click", 1.0, '{"k": 1}')],
        "event_id long, user_id long, event_type string, value double, "
        "props string",
    ).withColumn("ts", F.timestamp_micros(F.lit(1_700_000_000_000_000)))
    future.coalesce(1).write.mode("append").parquet(str(evdir))
    assert api.head_block() == h1 + 7
    # the next get_actions cache miss reports the new head, and a
    # cached hit keeps serving the head stored with its body
    for t in (
        "region nation customer supplier part orders lineitem "
        "documents embeddings"
    ).split():
        shutil.copy(f"{SF_DIR}/{t}.parquet", lake / f"{t}.parquet")
    api.cache = ResponseCache(default_ttl=60.0)
    srv, _thread = serve_background(api)
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        ev = load_tables(spark, str(lake))["events"]
        new_time = str(ev.where(F.col("event_id") == h1 + 7).first()["ts"])
        old = _get(base, "/v2/history/get_actions?account=1&limit=5")
        assert old["cached"] is False
        assert old["last_indexed_block"] == h1 + 7
        assert old["last_indexed_block_time"] == new_time
        assert old["actions"][0]["event_id"] == h1 + 7
        # the lake grows again: a hit serves the stored head, a miss
        # (new params) the new one
        future.withColumn("event_id", F.lit(h1 + 9)).coalesce(1).write.mode(
            "append"
        ).parquet(str(evdir))
        hit = _get(base, "/v2/history/get_actions?account=1&limit=5")
        assert hit["cached"] is True
        assert hit["last_indexed_block"] == h1 + 7
        for path in (
            "/v2/history/get_actions?account=1&limit=6",
            "/v2/history/get_deltas?scope=1&limit=6",
        ):
            miss = _get(base, path)
            assert miss["cached"] is False
            assert miss["last_indexed_block"] == h1 + 9
            assert miss["last_indexed_block_time"] == new_time
            assert miss["total"]["value"] == old["total"]["value"] + 1
    finally:
        srv.shutdown()
    assert api.head_block() == h1 + 9


def _flat_page(spark, user_id: int, skip: int, limit: int):
    ev = load_tables(spark, SF_DIR)["events"].where(F.col("user_id") == user_id)
    ids = [
        r[0]
        for r in ev.orderBy(F.col("event_id").desc()).select("event_id").collect()
    ]
    return ids[skip : skip + limit], len(ids)


@pytest.mark.parametrize("route,param", [("get_actions", "account"), ("get_deltas", "scope")])
@pytest.mark.parametrize(
    "key,skip,limit",
    [(7, 0, 0), (999_999, 0, 5), (7, 3, 5), (7, 10_000, 5)],
    ids=["limit0", "no-match", "skip", "skip-past-end"],
)
def test_history_page_total_is_exact(server, spark, route, param, key, skip, limit):
    """get_actions/get_deltas report the exact ``total`` beside an
    empty or short page: limit=0, an account with no events, and skip
    paging (within and past the matches)."""
    base, _ = server
    body = _get(
        base, f"/v2/history/{route}?{param}={key}&skip={skip}&limit={limit}"
    )
    want_ids, want_total = _flat_page(spark, key, skip, limit)
    assert body["total"] == {"value": want_total, "relation": "eq"}
    assert [a["event_id"] for a in body["actions"]] == want_ids
    if key == 7:
        assert want_total > 3


@pytest.mark.parametrize(
    "account,skip,limit",
    [("user7", 0, 0), ("nosuchaccount", 0, 5), ("user7", 2, 3)],
    ids=["limit0", "no-match", "skip"],
)
def test_hyperion_model_page_total_is_exact(server, spark, account, skip, limit):
    """``model=hyperion`` get_actions reports the exact ``total`` for
    limit=0, an account with no actions, and skip paging."""
    from hyperion_history_api_spark.sources.lake import lake_actions

    base, _ = server
    body = _get(
        base,
        f"/v2/history/get_actions?model=hyperion&account={account}"
        f"&skip={skip}&limit={limit}",
    )
    matched = lake_actions(spark, SF_DIR).where(
        F.array_contains("notified", account)
        | F.exists("receipts", lambda r: r["receiver"] == account)
        | F.exists("act.authorization", lambda x: x["actor"] == account)
    )
    ids = [
        r[0]
        for r in matched.orderBy(F.col("global_sequence").desc())
        .select("global_sequence")
        .collect()
    ]
    assert body["total"] == {"value": len(ids), "relation": "eq"}
    assert [a["global_sequence"] for a in body["actions"]] == ids[skip : skip + limit]
    if account == "user7":
        assert len(ids) > skip + limit


@pytest.mark.parametrize(
    "model", ["account=7", "model=hyperion&account=user7"], ids=["flat", "hyperion"]
)
@pytest.mark.parametrize("bad", ["skip=10001", "skip=-1", "sort=sideways"])
def test_get_actions_paging_guards_on_both_models(server, model, bad):
    """Both get_actions models answer 400 for a skip past MAX_SKIP, a
    negative skip and a sort other than asc|desc: the nested model must
    not scan an account's whole match set to serve a deep page."""
    base, _ = server
    with pytest.raises(urllib.error.HTTPError) as ei:
        _get(base, f"/v2/history/get_actions?{model}&{bad}&limit=5")
    assert ei.value.code == 400
