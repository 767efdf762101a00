"""Socket.IO wire compatibility (api/socketio_stream.py): a client
speaking the PUBLIC Engine.IO v4 / Socket.IO v5 packet grammar — i.e.
what a stock Hyperion stream client emits (socketManager.ts:79-230,
540-620) — connects, handshakes, subscribes with an ack callback,
acks each history batch, and receives history_end. VERDICT r9 item 5's
done-gate (the connecting-client option)."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from hyperion_history_api_spark.api.http_server import HyperionAPI
from hyperion_history_api_spark.api.serving_cache import ResponseCache
from hyperion_history_api_spark.api.socketio_stream import (
    SocketIOClient,
    SocketIOStreamServer,
)
from hyperion_history_api_spark.tables import load_tables

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture()
def sio(spark):
    api = HyperionAPI(spark, SF_DIR, cache=ResponseCache(default_ttl=0))
    srv = SocketIOStreamServer(api, ack_timeout=30.0, chain="spark")
    yield srv
    srv.close()


def test_engineio_open_connect_handshake(sio):
    """The session preamble a stock client requires: engine.io OPEN
    with sid/pingInterval, socket.io CONNECT reply, then the
    'handshake' event carrying chain metadata."""
    c = SocketIOClient("127.0.0.1", sio.port)
    assert set(c.open_info) >= {"sid", "pingInterval", "pingTimeout", "upgrades"}
    # the handshake event is the first server emit after connect
    resp = c.emit_with_ack("cancel_stream_request", {"reqUUID": "x"})
    assert resp == {"status": "OK"}
    assert any(
        e and e[0] == "handshake" and "chain" in e[1] for e in c.events
    )
    c.close()


def test_action_stream_request_replay_with_acks(sio, spark):
    """action_stream_request -> callback {status OK, reqUUID} ->
    emitWithAck'd history batches (client acks each) -> history_end;
    rows equal the oracle-checked predicate compiler's output."""
    c = SocketIOClient("127.0.0.1", sio.port)
    resp = c.emit_with_ack(
        "action_stream_request",
        {
            "account": 7,
            "start_from": 1,
            "read_until": 2000,
            "batch_size": 7,
        },
    )
    assert resp["status"] == "OK" and resp["reqUUID"]
    rows, batches = [], 0
    while True:
        m = c.next_message()
        if m.get("type") == "history_end":
            assert m["reqUUID"] == resp["reqUUID"]
            assert m["mode"] == "history"
            break
        assert m["type"] == "action_trace" and m["mode"] == "history"
        assert m["reqUUID"] == resp["reqUUID"]
        batches += 1
        rows.extend(m["messages"])
    c.close()
    ev = load_tables(spark, SF_DIR)["events"]
    want = [
        r["event_id"]
        for r in ev.where(
            (F.col("user_id") == 7) & F.col("event_id").between(1, 2000)
        )
        .orderBy("event_id")
        .collect()
    ]
    assert [d["event_id"] for d in rows] == want and want
    assert batches == -(-len(want) // 7)
    assert m["message"]["lastBlock"] == max(want)


def test_delta_stream_request_and_error_callback(sio):
    """The second subscription kind routes stream=deltas; an invalid
    request answers the callback with status ERROR (validateRequest's
    contract) instead of dropping the connection."""
    c = SocketIOClient("127.0.0.1", sio.port)
    bad = c.emit_with_ack(
        "action_stream_request", {"start_from": "notanumber"}
    )
    assert bad["status"] == "ERROR" and bad["error"]
    resp = c.emit_with_ack(
        "delta_stream_request",
        {"code": "signup", "start_from": 1, "read_until": 500,
         "batch_size": 50},
    )
    assert resp["status"] == "OK"
    rows = []
    while True:
        m = c.next_message()
        if m.get("type") == "history_end":
            break
        assert m["type"] == "delta_trace"
        rows.extend(m["messages"])
    c.close()
    assert rows and all(r["event_type"] == "signup" for r in rows)


def test_non_acking_client_forcefully_disconnected(spark):
    """A client that never acks a history batch hits the emitWithAck
    timeout and is dropped (functions.ts:292-301's forceful
    disconnection), still within the reference's contract."""
    api = HyperionAPI(spark, SF_DIR, cache=ResponseCache(default_ttl=0))
    srv = SocketIOStreamServer(api, ack_timeout=2.0)
    try:
        c = SocketIOClient("127.0.0.1", srv.port)
        resp = c.emit_with_ack(
            "action_stream_request",
            {"account": 7, "start_from": 1, "read_until": 2000,
             "batch_size": 5},
        )
        assert resp["status"] == "OK"
        c.next_message(ack=False)  # swallow one batch without acking
        with pytest.raises(ConnectionError):
            while True:
                c.next_message(ack=False)
    finally:
        srv.close()


def test_server_heartbeats_engineio_pings(spark):
    """Engine.IO v4's heartbeat runs SERVER -> client: the server must
    ping every pingInterval, because a stock socket.io client closes
    the transport itself when no ping arrives within
    pingInterval+pingTimeout (~145 s at the advertised defaults) — an
    answer-only server silently loses every idle/live-tail session."""
    from hyperion_history_api_spark.sources.ship_ws import OP_TEXT

    api = HyperionAPI(spark, SF_DIR, cache=ResponseCache(default_ttl=0))
    srv = SocketIOStreamServer(api, ping_interval=0.1, ack_timeout=5.0)
    try:
        c = SocketIOClient("127.0.0.1", srv.port)
        pings = 0
        deadline = time.monotonic() + 4.0
        while pings < 2 and time.monotonic() < deadline:
            t, body = c._recv()
            if t == "2":  # engine.io PING
                c.ws.send("3" + body, OP_TEXT)
                pings += 1
        assert pings >= 2, "server never heartbeated an idle session"
        # a pong-answering client stays connected and fully served
        resp = c.emit_with_ack("cancel_stream_request", {"reqUUID": "x"})
        assert resp == {"status": "OK"}
        c.close()
    finally:
        srv.close()


def test_silent_peer_dropped_after_ping_timeout(spark):
    """engine.io's converse rule: a peer that never answers pings is
    dropped once it has been silent past pingInterval+pingTimeout —
    otherwise dead stream clients pin connection slots forever."""
    from hyperion_history_api_spark.sources.ship_ws import (
        OP_TEXT,
        WebSocketClient,
    )

    api = HyperionAPI(spark, SF_DIR, cache=ResponseCache(default_ttl=0))
    srv = SocketIOStreamServer(api, ping_interval=0.05, ack_timeout=0.2)
    try:
        ws = WebSocketClient(
            "127.0.0.1", srv.port,
            path="/socket.io/?EIO=4&transport=websocket",
        )
        assert ws.recv() is not None  # engine.io OPEN
        ws.send("40", OP_TEXT)  # socket.io connect, then go silent
        dropped = False
        deadline = time.monotonic() + 5.0
        while time.monotonic() < deadline:
            try:
                if ws.recv() is None:
                    dropped = True
                    break
            except (ConnectionError, OSError):
                dropped = True
                break
        assert dropped, "silent peer was never disconnected"
    finally:
        srv.close()


def test_raw_list_filters_and_field_exactness(sio, spark):
    """A stock client emits filters as a JSON ARRAY (StreamActionsRequest
    .filters) — the layer must pass it through to the compiler, not
    Python-stringify it into unparseable pseudo-JSON."""
    c = SocketIOClient("127.0.0.1", sio.port)
    resp = c.emit_with_ack(
        "action_stream_request",
        {
            "account": 1,
            "start_from": 1,
            "read_until": 2000,
            "filters": [{"field": "value", "operator": "gt", "value": 100}],
            "batch_size": 50,
        },
    )
    assert resp["status"] == "OK", resp
    rows = []
    while True:
        m = c.next_message()
        if m.get("type") == "history_end":
            break
        rows.extend(m["messages"])
    c.close()
    ev = load_tables(spark, SF_DIR)["events"]
    want = [
        r["event_id"]
        for r in ev.where(
            (F.col("user_id") == 1)
            & F.col("event_id").between(1, 2000)
            & (F.col("value") > 100)
        )
        .orderBy("event_id")
        .collect()
    ]
    assert [d["event_id"] for d in rows] == want and want


def test_over_cap_client_gets_connect_error_packet(spark):
    """Over the cap, a stock client should see the Engine.IO OPEN
    handshake FIRST and then a socket.io CONNECT_ERROR (surfaced as
    connect_error) — a CONNECT_ERROR before OPEN is a protocol error
    to a stock engine.io client (transport close, no reason), and a
    bare TCP close explains nothing."""
    import json as _json

    from hyperion_history_api_spark.sources.ship_ws import WebSocketClient

    api = HyperionAPI(spark, SF_DIR, cache=ResponseCache(default_ttl=0))
    srv = SocketIOStreamServer(api, ack_timeout=30.0, max_connections=0)
    try:
        ws = WebSocketClient(
            "127.0.0.1", srv.port,
            path="/socket.io/?EIO=4&transport=websocket",
        )
        msg = ws.recv()
        assert msg is not None
        text = msg[1].decode() if isinstance(msg[1], bytes) else msg[1]
        assert text.startswith("0")  # engine.io OPEN first
        assert "sid" in _json.loads(text[1:])
        msg = ws.recv()
        assert msg is not None
        text = msg[1].decode() if isinstance(msg[1], bytes) else msg[1]
        assert text.startswith("44")  # EIO message + SIO connect_error
        assert "too many connections" in text
        ws.close()
    finally:
        srv.close()


def _mutable_lake(tmp_path):
    """sf0.001 copy whose events table is a DIRECTORY, so the test can
    append spool files mid-session (the live-relay arrival shape)."""
    import shutil

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
    return lake, evdir


def test_live_phase_after_history_end(spark, tmp_path):
    """Round-10 verdict item 1 done-gate: rows appended mid-session
    arrive AFTER history_end as mode:'live' messages exactly once,
    targets naming the subscription; the request ack carries the REAL
    head block (socketManager.ts:565-570, 584-616); cancelling one of
    two live subscriptions leaves the other streaming."""
    lake, evdir = _mutable_lake(tmp_path)
    ev = load_tables(spark, str(lake))["events"]
    head = ev.agg(F.max("event_id")).first()[0]

    api = HyperionAPI(spark, str(lake), cache=ResponseCache(default_ttl=0))
    srv = SocketIOStreamServer(api, ack_timeout=30.0)
    try:
        c = SocketIOClient("127.0.0.1", srv.port)
        # sub A: account 7, history bound DEFAULTS to the head
        ra = c.emit_with_ack(
            "action_stream_request",
            {"account": 7, "start_from": 1, "batch_size": 50},
        )
        assert ra["status"] == "OK"
        assert ra["currentBlockNum"] == head  # REAL head, not 0
        # sub B: account 8, no history at all (start_from omitted ->
        # live-only, the socketManager.ts:432 contract)
        rb = c.emit_with_ack("action_stream_request", {"account": 8})
        assert rb["status"] == "OK" and rb["currentBlockNum"] == head
        # drain A's history (B emits none)
        hist = []
        while True:
            m = c.next_message()
            if m.get("type") == "history_end":
                assert m["reqUUID"] == ra["reqUUID"]
                break
            assert m["mode"] == "history" and m["reqUUID"] == ra["reqUUID"]
            hist.extend(m["messages"])
        want = [
            r["event_id"]
            for r in ev.where(
                (F.col("user_id") == 7)
                & F.col("event_id").between(1, head)
            ).orderBy("event_id").collect()
        ]
        assert [d["event_id"] for d in hist] == want and want
        # cancel B, then append arrivals matching both 7 and 8
        assert c.emit_with_ack(
            "cancel_stream_request", {"reqUUID": rb["reqUUID"]}
        ) == {"status": "OK"}
        future = spark.createDataFrame(
            [
                (head + 1, 7, "click", 1.5),
                (head + 2, 8, "view", 2.5),
                (head + 3, 7, "view", 3.5),
            ],
            "event_id long, user_id long, event_type string, value double",
        ).withColumn("ts", F.timestamp_micros(F.lit(1_700_000_000_000_000)))
        future.coalesce(1).write.mode("append").parquet(str(evdir))
        live = []
        while len(live) < 2:
            m = c.next_message()
            assert m["mode"] == "live" and m["type"] == "action_trace"
            live.append(m)
        c.close()
        # exactly account 7's arrivals, exactly once, targets = [A];
        # the cancelled B never appears
        assert [m["message"]["event_id"] for m in live] == [
            head + 1,
            head + 3,
        ]
        assert all(m["targets"] == [ra["reqUUID"]] for m in live)
    finally:
        srv.close()


def test_multiplexed_replays_interleave_and_cancel(sio, spark):
    """Round-10 verdict item 2 done-gate: two concurrent
    subscriptions on ONE socket with disjoint filters receive
    correctly-routed interleaved history batches; cancelling one
    mid-replay stops exactly it (no further batches after the cancel
    ack, no history_end) while the other runs to completion."""
    import socket as _socket

    c = SocketIOClient("127.0.0.1", sio.port)
    # A: every account, many small batches -> long replay
    ra = c.emit_with_ack(
        "action_stream_request",
        {"start_from": 1, "read_until": 2000, "batch_size": 5},
    )
    assert ra["status"] == "OK"
    # B: account 8 only, subscribed while A is mid-replay
    rb = c.emit_with_ack(
        "action_stream_request",
        {"account": 8, "start_from": 1, "read_until": 2000,
         "batch_size": 5},
    )
    assert rb["status"] == "OK" and rb["reqUUID"] != ra["reqUUID"]
    seen_a, rows_b, b_done = 0, [], False
    order: list[str] = []
    while not b_done:
        m = c.next_message()
        if m.get("type") == "history_end":
            if m["reqUUID"] == rb["reqUUID"]:
                b_done = True
            continue
        order.append("A" if m["reqUUID"] == ra["reqUUID"] else "B")
        if m["reqUUID"] == ra["reqUUID"]:
            seen_a += 1
        else:
            assert all(
                d["user_id"] == 8 for d in m["messages"]
            ), "B received a row routed to A's filter"
            rows_b.extend(m["messages"])
    # the pumps round-robin: A batches appear BETWEEN B batches
    assert seen_a > 0 and "ABA" in "".join(order).replace("AA", "A")
    ev = load_tables(spark, SF_DIR)["events"]
    want_b = [
        r["event_id"]
        for r in ev.where(
            (F.col("user_id") == 8) & F.col("event_id").between(1, 2000)
        ).orderBy("event_id").collect()
    ]
    assert [d["event_id"] for d in rows_b] == want_b and want_b
    # cancel A mid-replay: after the cancel ack, the wire carries no
    # further A batches and never an A history_end
    assert c.emit_with_ack(
        "cancel_stream_request", {"reqUUID": ra["reqUUID"]}
    ) == {"status": "OK"}
    tail = list(c.messages)  # batches acked before the cancel landed
    c.ws.sock.settimeout(1.5)
    try:
        while True:
            tail.append(c.next_message())
    except (_socket.timeout, TimeoutError):
        pass
    assert not [
        m for m in tail if m.get("type") == "history_end"
        and m.get("reqUUID") == ra["reqUUID"]
    ], "cancelled replay still emitted history_end"
    c.close()


def test_history_batches_carry_real_filtered_counts(sio, spark):
    """functions.ts:226-270: `filtered` per batch counts rows the
    PRIMARY query matched but the on-demand field filters dropped —
    not the hardcoded 0 the round-10 ack shipped."""
    c = SocketIOClient("127.0.0.1", sio.port)
    resp = c.emit_with_ack(
        "action_stream_request",
        {
            "account": 1,
            "start_from": 1,
            "read_until": 2000,
            "filters": [{"field": "value", "operator": "gt", "value": 100}],
            "batch_size": 1000,
        },
    )
    assert resp["status"] == "OK"
    total_filtered, rows = 0, []
    while True:
        m = c.next_message()
        if m.get("type") == "history_end":
            break
        total_filtered += m["filtered"]
        rows.extend(m["messages"])
    c.close()
    ev = load_tables(spark, SF_DIR)["events"]
    routed = ev.where(
        (F.col("user_id") == 1) & F.col("event_id").between(1, 2000)
    )
    want_pass = routed.where(F.col("value") > 100).count()
    want_filtered = routed.count() - want_pass
    assert len(rows) == want_pass and want_pass
    assert total_filtered == want_filtered and want_filtered > 0
    # lastBlock advances over FILTERED rows too (the reference tracks
    # lastTransmittedBlock across every scanned doc)
    assert m["message"]["lastBlock"] == routed.agg(
        F.max("event_id")
    ).first()[0]


def test_junk_request_payload_answers_error_not_disconnect(sio):
    """A stream request whose payload is not even an object (or whose
    batch_size is junk) is an invalid REQUEST — the callback answers
    status ERROR and the session keeps serving (validateRequest's
    contract), instead of the exception tearing the connection down."""
    c = SocketIOClient("127.0.0.1", sio.port)
    bad = c.emit_with_ack("action_stream_request", "not-an-object")
    assert bad["status"] == "ERROR" and bad["error"]
    bad = c.emit_with_ack(
        "action_stream_request", {"start_from": 1, "batch_size": "junk"}
    )
    assert bad["status"] == "ERROR"
    # same connection still serves a valid subscription end to end
    ok = c.emit_with_ack(
        "action_stream_request",
        {"account": 7, "start_from": 1, "read_until": 2000,
         "batch_size": 50},
    )
    assert ok["status"] == "OK"
    while True:
        if c.next_message().get("type") == "history_end":
            break
    c.close()


def test_live_phase_mixed_kinds_one_socket(spark, tmp_path):
    """One socket holding an ACTION and a DELTA live subscription at
    once (the per-kind cursor + per-kind routed scan): appended rows
    arrive as separate action_trace and delta_trace live messages,
    each targeting only its own subscription, exactly once."""
    lake, evdir = _mutable_lake(tmp_path)
    ev = load_tables(spark, str(lake))["events"]
    head = ev.agg(F.max("event_id")).first()[0]

    api = HyperionAPI(spark, str(lake), cache=ResponseCache(default_ttl=0))
    srv = SocketIOStreamServer(api, ack_timeout=30.0)
    try:
        c = SocketIOClient("127.0.0.1", srv.port)
        ra = c.emit_with_ack(
            "action_stream_request", {"account": 7}  # live-only
        )
        rd = c.emit_with_ack(
            "delta_stream_request", {"code": "click"}  # live-only
        )
        assert ra["status"] == "OK" and rd["status"] == "OK"
        # one arrival matches BOTH (user 7 click), one matches only
        # the delta sub (user 8 click), one matches only the action
        # sub (user 7 view)
        future = spark.createDataFrame(
            [
                (head + 1, 7, "click", 1.5),
                (head + 2, 8, "click", 2.5),
                (head + 3, 7, "view", 3.5),
            ],
            "event_id long, user_id long, event_type string, value double",
        ).withColumn("ts", F.timestamp_micros(F.lit(1_700_000_000_000_000)))
        future.coalesce(1).write.mode("append").parquet(str(evdir))
        got = []
        while len(got) < 4:
            m = c.next_message()
            assert m["mode"] == "live"
            got.append((m["type"], m["message"]["event_id"], tuple(m["targets"])))
        c.close()
        assert sorted(got) == sorted(
            [
                ("action_trace", head + 1, (ra["reqUUID"],)),
                ("delta_trace", head + 1, (rd["reqUUID"],)),
                ("delta_trace", head + 2, (rd["reqUUID"],)),
                ("action_trace", head + 3, (ra["reqUUID"],)),
            ]
        )
    finally:
        srv.close()


def test_wire_filter_on_json_payload_field(sio, spark):
    """checkMetaFilter resolves payload (data.*) paths — a wire filter
    naming a JSON field must go through the props fallback like the
    registered T1 rows, not compile to never-match (round-11 fix:
    the serving schemas passed json_col=None)."""
    c = SocketIOClient("127.0.0.1", sio.port)
    resp = c.emit_with_ack(
        "action_stream_request",
        {
            "account": 1,
            "start_from": 1,
            "read_until": 2000,
            "filters": [{"field": "k", "operator": "gte", "value": 50}],
            "batch_size": 100,
        },
    )
    assert resp["status"] == "OK"
    rows = []
    while True:
        m = c.next_message()
        if m.get("type") == "history_end":
            break
        rows.extend(m["messages"])
    c.close()
    ev = load_tables(spark, SF_DIR)["events"]
    want = [
        r["event_id"]
        for r in ev.where(
            (F.col("user_id") == 1)
            & F.col("event_id").between(1, 2000)
            & (F.get_json_object("props", "$.k").cast("double") >= 50)
        ).orderBy("event_id").collect()
    ]
    assert [d["event_id"] for d in rows] == want and want


def test_live_relay_shared_across_connections(spark, tmp_path):
    """Round-11 scale shape: live routing runs in ONE server-wide
    relay (the socketManager relay pattern) — one routed scan per
    tick serves every connection, instead of 2 Spark jobs per tick
    per connection. Two separate sockets with different live filters
    each receive exactly their own arrivals, and the server holds a
    single relay poller."""
    import threading as _threading

    lake, evdir = _mutable_lake(tmp_path)
    ev = load_tables(spark, str(lake))["events"]
    head = ev.agg(F.max("event_id")).first()[0]

    api = HyperionAPI(spark, str(lake), cache=ResponseCache(default_ttl=0))
    srv = SocketIOStreamServer(api, ack_timeout=30.0)
    try:
        c1 = SocketIOClient("127.0.0.1", srv.port)
        c2 = SocketIOClient("127.0.0.1", srv.port)
        r1 = c1.emit_with_ack("action_stream_request", {"account": 7})
        r2 = c2.emit_with_ack("action_stream_request", {"account": 8})
        assert r1["status"] == "OK" and r2["status"] == "OK"
        # exactly one poller thread regardless of connection count
        assert isinstance(srv.relay._thread, _threading.Thread)
        future = spark.createDataFrame(
            [
                (head + 1, 7, "click", 1.5),
                (head + 2, 8, "view", 2.5),
            ],
            "event_id long, user_id long, event_type string, value double",
        ).withColumn("ts", F.timestamp_micros(F.lit(1_700_000_000_000_000)))
        future.coalesce(1).write.mode("append").parquet(str(evdir))
        m1 = c1.next_message()
        m2 = c2.next_message()
        c1.close()
        c2.close()
        assert m1["mode"] == "live" and m1["message"]["event_id"] == head + 1
        assert m1["targets"] == [r1["reqUUID"]]
        assert m2["mode"] == "live" and m2["message"]["event_id"] == head + 2
        assert m2["targets"] == [r2["reqUUID"]]
        assert srv.relay.last_error is None
    finally:
        srv.close()


def test_fork_event_reaches_live_client_before_corrected_rows(
    spark, tmp_path
):
    """Round-11 verdict item 1 done-gate: a live Socket.IO subscriber
    that already rendered speculative rows receives the indexer's
    ``fork_event`` broadcast (with the forked block range,
    ws-router.ts:72-83 / state-reader.ts logForkEvent) BEFORE the
    winning chain's corrected rows — which the relay re-delivers by
    rewinding its cursor below the fork point — and ``lib_update``
    broadcasts carry the advancing watermark."""
    import os

    from hyperion_history_api_spark.streaming.control_log import (
        record_fork,
        write_lib,
    )

    lake, evdir = _mutable_lake(tmp_path)
    ev = load_tables(spark, str(lake))["events"]
    head = int(ev.agg(F.max("event_id")).first()[0])
    api = HyperionAPI(spark, str(lake), cache=ResponseCache(default_ttl=0))
    srv = SocketIOStreamServer(api, ack_timeout=30.0)
    try:
        c = SocketIOClient("127.0.0.1", srv.port)
        ra = c.emit_with_ack("action_stream_request", {"account": 7})
        assert ra["status"] == "OK"
        before = set(os.listdir(evdir))
        spec = spark.createDataFrame(
            [(head + 1, 7, "speculative", 1.0)],
            "event_id long, user_id long, event_type string, value double",
        ).withColumn("ts", F.timestamp_micros(F.lit(1_700_000_000_000_000)))
        spec.coalesce(1).write.mode("append").parquet(str(evdir))
        m = c.next_message()
        assert m["mode"] == "live"
        assert m["message"]["event_type"] == "speculative"
        # PAUSE the relay poller across the whole fork mutation so the
        # fork journal line AND the corrected row are processed by ONE
        # tick — the deterministic worst case for the ordering gate: a
        # tick that both reads the fork notice and re-scans the rewound
        # window must queue the notice ahead of the corrected rows
        # (mutation-checked: queueing control after the scan inside
        # _tick fails the frames-order assertion below).
        import threading as _threading

        srv.relay._stop.set()
        srv.relay._thread.join(timeout=10)
        assert not srv.relay._thread.is_alive()
        srv.relay._stop = _threading.Event()
        # the chain forks head+1 away: retract the speculative spool
        # files FIRST (exactly spool_range's on_fork order), then
        # journal the fork, then land the winning chain's block
        for f in set(os.listdir(evdir)) - before:
            os.remove(evdir / f)
        record_fork(str(lake), head + 1, head + 1, "winning-id")
        repl = spark.createDataFrame(
            [(head + 1, 7, "replacement", 2.0)],
            "event_id long, user_id long, event_type string, value double",
        ).withColumn("ts", F.timestamp_micros(F.lit(1_700_000_000_000_000)))
        repl.coalesce(1).write.mode("append").parquet(str(evdir))
        write_lib(str(lake), head + 1, "winning-id")
        with srv.relay._lock:
            srv.relay._ensure_poller()  # resume: one tick sees both
        # the corrected row is re-delivered at the SAME sequence the
        # client already rendered...
        m2 = c.next_message()
        assert m2["mode"] == "live"
        assert m2["message"]["event_id"] == head + 1
        assert m2["message"]["event_type"] == "replacement"
        # ...and the fork notice arrived on the wire STRICTLY BEFORE
        # the corrected row: the client's frames log records every
        # SIO event in exact arrival order, so this gate fails if
        # _tick ever broadcasts control AFTER the rewound scan
        # (round-13 strict wire-order assertion, r12 verdict item 3)
        fork_idx = next(
            i for i, (n, _) in enumerate(c.frames) if n == "fork_event"
        )
        corrected_idx = next(
            i
            for i, (n, p) in enumerate(c.frames)
            if n == "message"
            and p.get("message", {}).get("event_type") == "replacement"
        )
        assert fork_idx < corrected_idx, (
            f"fork_event at frame {fork_idx} must precede the corrected "
            f"row at frame {corrected_idx}: {[n for n, _ in c.frames]}"
        )
        forks = [e for e in c.events if e and e[0] == "fork_event"]
        assert forks
        fk = dict(forks[0][1])
        # appendIdAndEmit prefixes the chain_id into every forwarded
        # control event (ws-router.ts:66-70)
        assert fk.pop("chain_id") == srv.chain_id
        assert fk == {
            "starting_block": head + 1,
            "ending_block": head + 1,
            "new_id": "winning-id",
        }
        # lib_update broadcast observed too (allow one more poll; the
        # journal write can land just after the tick that re-scanned)
        from hyperion_history_api_spark.api.socketio_stream import (
            SIO_EVENT,
        )

        c.ws.sock.settimeout(1.0)
        deadline = time.time() + 6
        while (
            not any(e and e[0] == "lib_update" for e in c.events)
            and time.time() < deadline
        ):
            try:
                sio_t, ack_id, args = c._expect_sio()
            except TimeoutError:
                continue
            if sio_t == SIO_EVENT:
                c._on_event(ack_id, args, True)
        libs = [e for e in c.events if e and e[0] == "lib_update"]
        assert libs and libs[0][1]["block_num"] == head + 1
        c.close()
    finally:
        srv.close()


def test_control_broadcast_reaches_presubscription_client(
    spark, tmp_path
):
    """A connected Socket.IO client with NO live subscription (history-
    only / not yet subscribed) still receives fork_event / lib_update:
    the reference io.emit()s both to every connected socket
    (ws-router.ts appendIdAndEmit), so the relay queue attaches at
    connection accept, not at first live register (r12 ADVICE)."""
    from hyperion_history_api_spark.api.socketio_stream import SIO_EVENT
    from hyperion_history_api_spark.streaming.control_log import (
        record_fork,
        write_lib,
    )

    lake, _ = _mutable_lake(tmp_path)
    api = HyperionAPI(spark, str(lake), cache=ResponseCache(default_ttl=0))
    srv = SocketIOStreamServer(api, ack_timeout=30.0)
    try:
        c = SocketIOClient("127.0.0.1", srv.port)
        # no stream request at all — just a connected socket
        time.sleep(0.5)  # let attach + the poller settle
        record_fork(str(lake), 10, 12, "presub-fork-id")
        write_lib(str(lake), 9, "presub-lib-id")
        c.ws.sock.settimeout(1.0)
        deadline = time.time() + 8
        want = {"fork_event", "lib_update"}
        while (
            want - {e[0] for e in c.events if e}
            and time.time() < deadline
        ):
            try:
                sio_t, ack_id, args = c._expect_sio()
            except TimeoutError:
                continue
            if sio_t == SIO_EVENT:
                c._on_event(ack_id, args, True)
        got = {e[0]: e[1] for e in c.events if e}
        assert got.get("fork_event", {}).get("starting_block") == 10
        assert got.get("lib_update", {}).get("block_num") == 9
        assert got["fork_event"]["chain_id"] == srv.chain_id
        c.close()
    finally:
        srv.close()


def test_relay_drops_stale_kind_cursor_on_last_unregister(spark):
    """When a kind's last subscriber leaves, its cursor is forgotten —
    otherwise the next register's setdefault would lose to the stale
    value and the first tick would scan (and collect) the whole idle
    gap (stale_cursor, head] at once (r12 ADVICE, medium)."""
    from hyperion_history_api_spark.api.http_server import LiveRelay

    api = HyperionAPI(spark, SF_DIR, cache=ResponseCache(default_ttl=0))
    relay = LiveRelay(api, poll_sec=3600)  # ticks irrelevant here
    req, _ = api.parse_stream_request({"account": "7"})
    relay.register(1, "r1", "action", req, 5)
    relay.register(1, "r2", "delta", req, 7)
    assert relay._cursor == {"action": 5, "delta": 7}
    relay.unregister("r1")  # last action sub gone -> cursor dropped
    assert relay._cursor == {"delta": 7}
    relay.register(2, "r3", "action", req, 1000)
    assert relay._cursor["action"] == 1000  # re-seeded at attach head
    relay.unregister_conn(2)
    relay.unregister_conn(1)
    assert relay._cursor == {}
    relay.close()


def test_live_tagged_rows_window_cap(spark, tmp_path):
    """live_tagged_rows never materializes more than window_cap
    sequences per call: a deep rewind is served in bounded chunks,
    cursor advancing to the chunk edge each call until it reaches
    the head."""
    import shutil as _shutil

    lake = tmp_path / "caplake"
    lake.mkdir()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        _shutil.copy(f"{SF_DIR}/{t}.parquet", lake / f"{t}.parquet")
    api = HyperionAPI(spark, str(lake), cache=ResponseCache(default_ttl=0))
    head = api.head_block()
    assert head > 20
    req, _ = api.parse_stream_request({})
    rows1, cur1, _ = api.live_tagged_rows({"u": req}, 0, window_cap=10)
    assert cur1 == 10
    assert all(r[0]["event_id"] <= 10 for r in rows1)
    rows2, cur2, _ = api.live_tagged_rows({"u": req}, cur1, window_cap=10)
    assert cur2 == 20
    assert all(10 < r[0]["event_id"] <= 20 for r in rows2)
    # a cap beyond the head clamps to the head
    _, cur3, _ = api.live_tagged_rows({"u": req}, head - 1, window_cap=10**9)
    assert cur3 == head


def test_relay_status_uses_the_head_the_scan_read(spark, monkeypatch):
    """A tick compares its cursor with the one head its scan read: a
    head that moves on after the scan (a spool file landing mid-tick)
    queues no catch-up ``status`` on an uncapped tick, while a
    window-capped tick still queues one."""
    import itertools

    from hyperion_history_api_spark.api.http_server import LiveRelay

    api = HyperionAPI(spark, SF_DIR, cache=ResponseCache(default_ttl=0))
    head = api.head_block()
    reads = itertools.count(1)
    # every read sees a newer head than the one before it
    monkeypatch.setattr(api, "head_block", lambda: head + next(reads))
    req, _ = api.parse_stream_request({"account": "7"})

    def tick_statuses(window_cap: int) -> list:
        relay = LiveRelay(api, poll_sec=0.5, window_cap=window_cap)
        relay.close()  # ticks driven manually; register()'s thread exits
        relay.register(1, "r", "action", req, head - 20)
        relay._tick()
        return [e for e in relay.drain(1) if e[0] == "status"]

    assert tick_statuses(10**6) == []
    assert len(tick_statuses(5)) == 1


def test_live_relay_survives_tick_crash_and_restarts(spark):
    """A crashing tick must never strand every live subscription
    server-wide: the tick body is guarded (last_error recorded, next
    tick proceeds), and register() restarts a dead poller thread."""
    import threading as _threading
    import time as _time

    from hyperion_history_api_spark.api.http_server import LiveRelay

    api = HyperionAPI(spark, SF_DIR, cache=ResponseCache(default_ttl=0))
    relay = LiveRelay(api, poll_sec=0.05)
    req, _ = api.parse_stream_request({"account": "7"})
    relay.register(1, "r1", "action", req, 10**9)  # head: nothing new
    # sabotage one tick: any exception inside the tick body is caught,
    # recorded, and the poller keeps running
    calls = {"n": 0}
    orig = relay._broadcast_control

    def boom():
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("sabotaged tick")
        return orig()

    relay._broadcast_control = boom
    deadline = _time.time() + 5
    while calls["n"] < 3 and _time.time() < deadline:
        _time.sleep(0.05)
    assert calls["n"] >= 3, "poller died after the sabotaged tick"
    assert isinstance(relay.last_error, RuntimeError)
    assert relay._thread is not None and relay._thread.is_alive()
    # a DEAD thread (stop+join) is restarted by the next register()
    relay._stop.set()
    relay._thread.join(timeout=5)
    assert not relay._thread.is_alive()
    relay._stop = _threading.Event()  # relay reused after a close()
    relay.register(2, "r2", "action", req, 10**9)
    deadline = _time.time() + 5
    while not relay._thread.is_alive() and _time.time() < deadline:
        _time.sleep(0.02)
    assert relay._thread.is_alive(), "register() must restart the poller"
    relay.close()


def test_slow_acker_on_one_subscription_does_not_stall_the_other(
    sio, spark
):
    """Round-12: multiplexed replays hold one in-flight ack PER
    SUBSCRIPTION (the reference's independent per-scroll emitWithAck
    promises) — a client that withholds subscription A's ack still
    receives B's whole replay; exactly one A batch stays outstanding;
    releasing the ack resumes A to history_end."""
    from hyperion_history_api_spark.api.socketio_stream import SIO_EVENT

    c = SocketIOClient("127.0.0.1", sio.port)
    ra = c.emit_with_ack(
        "action_stream_request",
        {"start_from": 1, "read_until": 2000, "batch_size": 5},
    )
    rb = c.emit_with_ack(
        "action_stream_request",
        {"account": 8, "start_from": 1, "read_until": 2000,
         "batch_size": 5},
    )
    assert ra["status"] == "OK" and rb["status"] == "OK"
    a_held: list[int] = []
    rows_b, b_done = [], False
    deadline = time.monotonic() + 60
    while not b_done and time.monotonic() < deadline:
        sio_t, aid, args = c._expect_sio()
        if sio_t != SIO_EVENT or not args or args[0] != "message":
            continue
        m = args[1]
        if m.get("type") == "history_end":
            assert m["reqUUID"] == rb["reqUUID"], (
                "A must not finish while its ack is withheld"
            )
            b_done = True
            continue
        if m["reqUUID"] == ra["reqUUID"]:
            a_held.append(aid)  # withhold A's ack
        else:
            rows_b.extend(m["messages"])
            if aid is not None:
                c._ack(aid)
    assert b_done, "B stalled behind A's withheld ack"
    assert len(a_held) == 1, (
        f"server must hold exactly ONE outstanding batch per "
        f"subscription, saw {len(a_held)}"
    )
    ev = load_tables(spark, SF_DIR)["events"]
    want_b = [
        r["event_id"]
        for r in ev.where(
            (F.col("user_id") == 8) & F.col("event_id").between(1, 2000)
        ).orderBy("event_id").collect()
    ]
    assert [d["event_id"] for d in rows_b] == want_b and want_b
    # release A: the replay resumes and completes
    c._ack(a_held[0])
    a_rows, a_done = 0, False
    deadline = time.monotonic() + 60
    while not a_done and time.monotonic() < deadline:
        m = c.next_message()
        if m.get("type") == "history_end":
            assert m["reqUUID"] == ra["reqUUID"]
            a_done = True
        else:
            a_rows += len(m["messages"])
    assert a_done and a_rows > 0
    c.close()


def test_relay_catchup_progress_across_capped_ticks(spark, tmp_path):
    """A relay tick that hits the window cap queues a catch-up status
    entry whose lastTransmittedBlock ADVANCES every tick until the
    cursor reaches the head — the chunked-fill progress analog of
    socketManager.ts:584-615 — and no status entry is queued once the
    relay is live-tailing (cursor == head)."""
    import shutil as _shutil

    from hyperion_history_api_spark.api.http_server import LiveRelay

    lake = tmp_path / "catchuplake"
    lake.mkdir()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        _shutil.copy(f"{SF_DIR}/{t}.parquet", lake / f"{t}.parquet")
    api = HyperionAPI(spark, str(lake), cache=ResponseCache(default_ttl=0))
    head = api.head_block()
    assert head > 30
    cap = max(10, head // 4)
    relay = LiveRelay(api, poll_sec=3600.0, window_cap=cap)
    relay.close()  # no background thread: drive ticks synchronously
    req, _ = api.parse_stream_request({})
    relay.attach(1)
    relay.register(1, "u1", "action", req, 0)

    seen_progress: list[int] = []
    for _ in range((head // cap) + 3):
        relay._tick()
        statuses = [
            d for kind, d, _t in relay.drain(1) if kind == "status"
        ]
        if relay._cursor["action"] >= head:
            # live-tailing tick: no catch-up signal
            assert statuses == []
            break
        assert len(statuses) == 1, statuses
        st = statuses[0]
        assert st["kind"] == "action"
        assert st["headBlock"] == head
        assert st["lastTransmittedBlock"] == relay._cursor["action"]
        seen_progress.append(st["lastTransmittedBlock"])
    # it chunked: at least two capped ticks, strictly advancing
    assert len(seen_progress) >= 2
    assert seen_progress == sorted(set(seen_progress))
    assert relay._cursor["action"] == head
