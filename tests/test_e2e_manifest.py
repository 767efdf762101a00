"""Manifest-based end-to-end integrity — the reference's dominant test
idea (SURVEY §5: LoadGenerator → index → IntegrityChecker →
APITestSuite, tests/e2e/hyp-test.ts) run through THIS engine's real
pipeline pieces:

1. a deterministic manifest of events (the LoadGenerator analog,
   load-generator.ts:44-49 — known accounts, transfer + custom
   actions, JSON payloads) lands as spool files;
2. the round-9 indexer loop (streaming/es_indexer.py) ingests them:
   lake refresh + ES bulk append + state upserts against the stub ES;
3. the IntegrityChecker analog asserts EVERY manifest event is
   indexed with correct data (counts + per-doc content, both in ES
   and in the lake);
4. the APITestSuite analog drives the REST layer over a lake seeded
   with the same manifest and asserts the reference's behavioral
   contracts (api-tests.ts:40-120): account filter implies
   involvement, act-name filter is exact, pagination pages are
   disjoint and complete, get_transaction round-trips, deltas filter
   by code/scope.
"""

from __future__ import annotations

import json
import shutil
import threading
import urllib.request
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest
from pyspark.sql import functions as F

from hyperion_history_api_spark.api.http_server import (
    HyperionAPI,
    serve_background,
)
from hyperion_history_api_spark.api.serving_cache import ResponseCache
from hyperion_history_api_spark.tables import load_tables
from tests.test_es_bulk import _EsStub

SF_DIR = "/root/testdata/sf0.001"

ACCOUNTS = [1, 2, 3, 4]
N_TRANSFERS = 100
N_CUSTOM = 50


def manifest_rows(offset: int = 0):
    """Deterministic workload (the LoadGenerator manifest): 100
    transfers round-robin across the four accounts + 50 custom
    actions, JSON payloads keyed by sequence. ``offset`` shifts the
    sequence range (the ingest test lands in a far, empty lake
    partition so the fixture's own events never collide)."""
    rows = []
    for i in range(1, N_TRANSFERS + N_CUSTOM + 1):
        kind = "transfer" if i <= N_TRANSFERS else "custom_a"
        rows.append(
            (
                offset + i,  # event_id / global sequence
                ACCOUNTS[i % len(ACCOUNTS)],
                kind,
                round(i * 1.25, 2),
                json.dumps({"k": offset + i, "memo": f"m-{i}"}),
            )
        )
    return rows


def _manifest_df(spark, offset: int = 0):
    return spark.createDataFrame(
        manifest_rows(offset),
        "event_id long, user_id long, event_type string, value double, "
        "props string",
    ).withColumn(
        "ts",
        F.timestamp_micros(
            (F.lit(1_700_000_000) + F.col("event_id")) * 1_000_000
        ),
    ).select("event_id", "ts", "user_id", "event_type", "value", "props")


@pytest.fixture()
def es():
    stub = _EsStub()

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_POST(self):
            n = int(self.headers["Content-Length"])
            lines = [
                ln
                for ln in self.rfile.read(n).decode().split("\n")
                if ln.strip()
            ]
            body = json.dumps(stub.handle(lines)).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    yield f"http://127.0.0.1:{srv.server_address[1]}", stub
    srv.shutdown()


def test_manifest_ingest_integrity(spark, tmp_path, monkeypatch, es):
    """Steps 1-3: manifest → spool → indexer loop → every event
    indexed with correct data (the IntegrityChecker contract)."""
    from hyperion_history_api_spark.streaming.es_indexer import run_indexer

    from hyperion_history_api_spark.sources.lake import BLOCK_PART_SIZE

    monkeypatch.setenv("SPARK_GRAFT_LAKE_DIR", str(tmp_path / "lake"))
    url, stub = es
    offset = 5 * BLOCK_PART_SIZE * 7  # an empty far partition
    spool = tmp_path / "spool"
    spool.mkdir()
    stage = tmp_path / "stage"
    _manifest_df(spark, offset).coalesce(1).write.parquet(str(stage))
    next(stage.glob("part-*.parquet")).rename(spool / "manifest.parquet")

    q = run_indexer(spark, SF_DIR, str(spool), url, str(tmp_path / "cp"))
    q.awaitTermination()

    want = {str(r[0]): r for r in manifest_rows(offset)}
    docs = {
        k[1]: v for k, v in stub.docs.items()
        if k[0].startswith("chain-action-")
    }
    assert set(docs) == set(want)  # every manifest trx indexed, no extras
    for _id, doc in docs.items():
        seq, account, kind, value, _props = want[_id]
        assert doc["user_id"] == account and doc["event_type"] == kind
        assert doc["global_sequence"] == seq
        assert doc["block_num"] == seq // 5 + 1
    # the lake merged the same rows (count + spot content)
    from hyperion_history_api_spark.sources.lake import lake_table

    acts = lake_table(spark, SF_DIR, "actions").where(
        F.col("global_sequence") > offset
    )
    assert acts.count() == len(want)
    row7 = acts.where(F.col("global_sequence") == offset + 7).first()
    w7 = want[str(offset + 7)]
    assert row7["event_type"] == w7[2] and row7["user_id"] == w7[1]


@pytest.fixture()
def api_over_manifest(spark, tmp_path):
    """Steps 4: a lake whose events ARE the manifest, served over the
    real HTTP layer."""
    lake = tmp_path / "mlake"
    lake.mkdir()
    for t in (
        "region nation customer supplier part orders lineitem "
        "documents embeddings"
    ).split():
        shutil.copy(f"{SF_DIR}/{t}.parquet", lake / f"{t}.parquet")
    # write the events table exactly like the driver testdata: one
    # parquet file with a TIMESTAMP(NANOS) ts column (Spark's own
    # writer emits INT96, which the loader's nanos shim must NOT
    # treat as ns-long — pyarrow writes the real thing)
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = manifest_rows()
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array(
                    [(1_700_000_000 + r[0]) * 1_000_000_000 for r in rows],
                    pa.timestamp("ns"),
                ),
                "user_id": pa.array([r[1] for r in rows], pa.int64()),
                "event_type": pa.array([r[2] for r in rows], pa.string()),
                "value": pa.array([r[3] for r in rows], pa.float64()),
                "props": pa.array([r[4] for r in rows], pa.string()),
            }
        ),
        str(lake / "events.parquet"),
    )
    api = HyperionAPI(spark, str(lake), cache=ResponseCache(default_ttl=0))
    srv, _ = serve_background(api)
    yield f"http://127.0.0.1:{srv.server_address[1]}", api
    srv.shutdown()


def _get(base: str, path: str) -> dict:
    with urllib.request.urlopen(base + path, timeout=120) as r:
        return json.loads(r.read())


def test_api_suite_contracts(api_over_manifest):
    """The APITestSuite behaviors (api-tests.ts:40-120) over the
    manifest lake."""
    base, _ = api_over_manifest
    total_for = lambda a: sum(
        1 for r in manifest_rows() if r[1] == a
    )

    # 1. account filter implies involvement + exact total
    body = _get(base, "/v2/history/get_actions?account=2&limit=1000")
    assert all(a["user_id"] == 2 for a in body["actions"])
    assert body["total"]["value"] == total_for(2) == len(body["actions"])

    # 2. act-name filter is exact (filter=transfer matches transfers only)
    body = _get(base, "/v2/history/get_actions?filter=transfer&limit=1000")
    assert body["total"]["value"] == N_TRANSFERS
    assert all(a["event_type"] == "transfer" for a in body["actions"])

    # 3. pagination: pages disjoint AND their union complete, in order
    # (sort=asc demands a range bound — the reference's asc-scan cost
    # guard, functions.ts:269-298 — so the pages carry after=0)
    seen: list[int] = []
    for skip in range(0, total_for(1) + 9, 10):
        page = _get(
            base,
            "/v2/history/get_actions?account=1&after=0"
            f"&skip={skip}&limit=10&sort=asc",
        )
        seen.extend(a["event_id"] for a in page["actions"])
    want = sorted(r[0] for r in manifest_rows() if r[1] == 1)
    assert seen == want  # disjoint, complete, ascending

    # 4. get_transaction round-trip via the envelope metadata head
    health = _get(base, "/v2/health")
    assert (
        health["health"][1]["service_data"]["last_indexed_block"]
        == N_TRANSFERS + N_CUSTOM
    )

    # 5. deltas by code/scope: code filter + scope range both honored
    deltas = _get(
        base,
        "/v2/history/get_deltas?code=custom_a&scope=1-2&limit=1000",
    )
    assert deltas["actions"]
    assert all(
        a["event_type"] == "custom_a" and a["user_id"] in (1, 2)
        for a in deltas["actions"]
    )
    # payer promoted from the JSON payload (props.k)
    assert all(a["payer"] == a["event_id"] for a in deltas["actions"])


def test_delta_stream_subscription(api_over_manifest):
    """The socketManager's SECOND subscription kind
    (StreamDeltasRequest, stream-requests.ts:25-49): code/scope/payer
    routing over the SSE surface — rows are the scope's custom_a
    deltas with the payer promoted from the JSON payload."""
    base, _ = api_over_manifest
    want = [
        r[0] for r in manifest_rows() if r[2] == "custom_a" and r[1] == 1
    ]
    url = (
        base
        + "/v2/stream?stream=deltas&code=custom_a&scope=1"
        + f"&start_from=1&read_until={N_TRANSFERS + N_CUSTOM}"
    )
    got = []
    with urllib.request.urlopen(url, timeout=120) as r:
        event = None
        for raw in r:
            line = raw.decode().rstrip("\n")
            if line.startswith("event: "):
                event = line[7:]
            elif line.startswith("data: "):
                if event == "end":
                    break
                got.append(json.loads(line[6:]))
    assert [d["event_id"] for d in got] == want and want
    assert all(d["payer"] == d["event_id"] for d in got)
    # payer routing: a payer filter narrows to exactly that row
    one = want[0]
    url2 = (
        base
        + f"/v2/stream?stream=deltas&payer={one}"
        + f"&start_from=1&read_until={N_TRANSFERS + N_CUSTOM}"
    )
    rows2 = []
    with urllib.request.urlopen(url2, timeout=120) as r:
        event = None
        for raw in r:
            line = raw.decode().rstrip("\n")
            if line.startswith("event: "):
                event = line[7:]
            elif line.startswith("data: "):
                if event == "end":
                    break
                rows2.append(json.loads(line[6:]))
    assert [d["event_id"] for d in rows2] == [one]
    # unknown stream kind is a 400 before any SSE header
    with pytest.raises(urllib.error.HTTPError) as ei:
        urllib.request.urlopen(base + "/v2/stream?stream=nope", timeout=30)
    assert ei.value.code == 400


def test_stream_field_filters_every_and_some(api_over_manifest):
    """The subscription filter list on the serving surface
    (stream-requests.ts:1-6 + streamFunctions.ts:58-94): every/some
    combination of field filters compiles into the replay predicate."""
    import urllib.parse

    base, _ = api_over_manifest
    hi = N_TRANSFERS + N_CUSTOM

    def sse_rows(query: str) -> list[dict]:
        out = []
        with urllib.request.urlopen(base + "/v2/stream?" + query, timeout=120) as r:
            event = None
            for raw in r:
                line = raw.decode().rstrip("\n")
                if line.startswith("event: "):
                    event = line[7:]
                elif line.startswith("data: "):
                    if event == "end":
                        break
                    out.append(json.loads(line[6:]))
        return out

    # every-semantics: account 1 AND value > 100
    filters = urllib.parse.quote(
        json.dumps([{"field": "value", "operator": "gt", "value": 100}])
    )
    got = sse_rows(
        f"account=1&start_from=1&read_until={hi}&filters={filters}"
    )
    want = [
        r[0] for r in manifest_rows() if r[1] == 1 and r[3] > 100
    ]
    assert [d["event_id"] for d in got] == want and want

    # some-semantics (filter_op=or): value > 180 OR event_type=signup
    filters = urllib.parse.quote(
        json.dumps(
            [
                {"field": "value", "operator": "gt", "value": 180},
                {"field": "event_type", "value": "signup"},
            ]
        )
    )
    got = sse_rows(
        f"start_from=1&read_until={hi}&filters={filters}&filter_op=or"
    )
    want = [r[0] for r in manifest_rows() if r[3] > 180 or r[2] == "signup"]
    assert [d["event_id"] for d in got] == want and want

    # malformed filters → 400 before any SSE header
    with pytest.raises(urllib.error.HTTPError) as ei:
        urllib.request.urlopen(
            base + "/v2/stream?start_from=1&filters=%7B%22a%22:1%7D",
            timeout=30,
        )
    assert ei.value.code == 400


def test_fork_damage_repair_full_integrity(spark, tmp_path):
    """VERDICT r9 item 4 — the reference's full damage story as ONE
    test (scan.ts:435 forked-block detection feeding the fill): a
    chain fork mid-manifest (reader drops the stale tail,
    ship_ws.py read_range on_fork) PLUS a deleted spool range, then
    the repair loop (streaming/repair.py scan → fill → verify), and
    the IntegrityChecker contract goes green — every expected block
    present exactly once, all content from the winning chain."""
    import glob
    import os
    import struct

    import pyarrow.parquet as pq

    from hyperion_history_api_spark.sources.ship_ws import ShipReader
    from hyperion_history_api_spark.streaming.repair import repair_spool
    from tests.test_ship_ws import _ShipServer

    spool = str(tmp_path / "spool")
    # 1. ingest the 40-block manifest over SHIP; the chain forks at 16
    #    back to 12 (blocks >= 12 are only canonical on chain b)
    srv = _ShipServer(n_blocks=40, fork=(16, 12))
    r = ShipReader("127.0.0.1", srv.port)
    assert r.spool_range(1, 40, spool, rows_per_file=4) == 40
    r.close()
    srv.sock.close()

    # 2. damage: delete every spool file holding any of blocks 21-24
    removed = []
    for path in glob.glob(os.path.join(spool, "*.parquet")):
        nums = pq.read_table(path, columns=["block_num"])[
            "block_num"
        ].to_pylist()
        if any(21 <= x <= 24 for x in nums):
            removed.append(sorted(nums))
            os.remove(path)
    assert removed, "damage injection must hit at least one file"
    lost = sorted(x for nums in removed for x in nums)

    # 3. repair against the post-fork chain (the fill endpoint serves
    #    chain b from the damaged range on — the canonical chain now)
    fill_srv = _ShipServer(n_blocks=40, fork=(lost[0], lost[0]))
    report = repair_spool(
        spark,
        "127.0.0.1",
        fill_srv.port,
        spool,
        expected_start=1,
        expected_head=40,
        max_readers=1,  # the stand-in server is single-connection
    )
    fill_srv.sock.close()
    assert report["repaired"] is True and report["gaps_after"] == 0
    assert report["blocks_fetched"] == len(lost)
    assert report["missing_before"] == len(lost)

    # 4. IntegrityChecker: complete, duplicate-free, winning-chain
    rows = spark.read.parquet(spool).select("block_num", "payload").collect()
    nums = sorted(r["block_num"] for r in rows)
    assert nums == list(range(1, 41))  # complete AND exactly-once
    for row in rows:
        num, marker = struct.unpack("<IQ", bytes(row["payload"]))
        assert num == row["block_num"]
        # chain b carries marker num*1000+1; chain a num*1000 — every
        # block >= the fork point must be the replacement chain's
        assert marker == num * 1000 + (1 if num >= 12 else 0)


def test_ws_stream_behavioral_contracts(spark, api_over_manifest):
    """VERDICT r9 item 7 — the APITestSuite stream contracts driven
    over the acked WebSocket surface (the reference runs its stream
    tests through the socket, tests/e2e/hyp-test.ts): involvement,
    batch disjointness + completeness in order, field-filter
    exactness, and the deltas subscription kind."""
    from hyperion_history_api_spark.api.ws_stream import WsStreamServer
    from tests.test_ws_stream import _frames_until_end, _subscribe

    _, api = api_over_manifest
    srv = WsStreamServer(api, ack_timeout=30.0)
    hi = N_TRANSFERS + N_CUSTOM
    try:
        # involvement + exactness + pagination-disjointness: batches
        # are disjoint, their union is the account's exact manifest
        # slice, in sequence order
        ws = _subscribe(
            srv.port,
            {
                "account": 2,
                "start_from": 1,
                "read_until": hi,
                "batch_size": 7,
                "window": 2,
            },
        )
        rows, batches = _frames_until_end(ws)
        ws.close()
        want = [r[0] for r in manifest_rows() if r[1] == 2]
        got = [d["event_id"] for d in rows]
        assert got == want and want  # complete, ordered
        assert len(set(got)) == len(got)  # disjoint batches
        assert all(d["user_id"] == 2 for d in rows)  # involvement
        assert batches == -(-len(want) // 7)

        # field-filter exactness over the socket (filters= list)
        ws = _subscribe(
            srv.port,
            {
                "account": 1,
                "start_from": 1,
                "read_until": hi,
                "filters": json.dumps(
                    [{"field": "value", "operator": "gt", "value": 100}]
                ),
                "batch_size": 50,
                "window": 4,
            },
        )
        rows, _ = _frames_until_end(ws)
        ws.close()
        want = [r[0] for r in manifest_rows() if r[1] == 1 and r[3] > 100]
        assert [d["event_id"] for d in rows] == want and want

        # the second subscription kind (StreamDeltasRequest) with acks
        ws = _subscribe(
            srv.port,
            {
                "stream": "deltas",
                "code": "custom_a",
                "scope": 1,
                "start_from": 1,
                "read_until": hi,
                "batch_size": 5,
                "window": 1,
            },
        )
        rows, _ = _frames_until_end(ws)
        ws.close()
        want = [
            r[0] for r in manifest_rows() if r[2] == "custom_a" and r[1] == 1
        ]
        assert [d["event_id"] for d in rows] == want and want
        assert all(d["payer"] == d["event_id"] for d in rows)
    finally:
        srv.close()


def test_socketio_stream_behavioral_contracts(api_over_manifest):
    """The same APITestSuite stream contracts over the Socket.IO wire
    (the transport a STOCK Hyperion client actually speaks): ack'd
    history batches are disjoint + complete in order, involvement
    holds, a raw-list field filter is exact, and the deltas kind
    routes — so the compatibility layer serves the identical rows the
    plain-WS and SSE surfaces do."""
    from hyperion_history_api_spark.api.socketio_stream import (
        SocketIOClient,
        SocketIOStreamServer,
    )

    _, api = api_over_manifest
    srv = SocketIOStreamServer(api, ack_timeout=30.0)
    hi = N_TRANSFERS + N_CUSTOM

    def drain(c):
        rows, batches = [], 0
        while True:
            m = c.next_message()
            if m.get("type") == "history_end":
                return rows, batches, m
            batches += 1
            rows.extend(m["messages"])

    try:
        c = SocketIOClient("127.0.0.1", srv.port)
        # involvement + completeness + disjoint ack'd batches
        resp = c.emit_with_ack(
            "action_stream_request",
            {"account": 2, "start_from": 1, "read_until": hi,
             "batch_size": 7},
        )
        assert resp["status"] == "OK"
        rows, batches, end = drain(c)
        want = [r[0] for r in manifest_rows() if r[1] == 2]
        got = [d["event_id"] for d in rows]
        assert got == want and want
        assert len(set(got)) == len(got)
        assert batches == -(-len(want) // 7)
        assert end["message"]["lastBlock"] == max(want)

        # field-filter exactness with a RAW-LIST filters param (the
        # structured form a stock socket.io client emits)
        resp = c.emit_with_ack(
            "action_stream_request",
            {"account": 1, "start_from": 1, "read_until": hi,
             "filters": [
                 {"field": "value", "operator": "gt", "value": 100}
             ],
             "batch_size": 50},
        )
        assert resp["status"] == "OK"
        rows, _, _ = drain(c)
        want = [r[0] for r in manifest_rows() if r[1] == 1 and r[3] > 100]
        assert [d["event_id"] for d in rows] == want and want

        # deltas subscription kind over the same connection
        resp = c.emit_with_ack(
            "delta_stream_request",
            {"code": "custom_a", "start_from": 1, "read_until": hi,
             "batch_size": 50},
        )
        assert resp["status"] == "OK"
        rows, _, _ = drain(c)
        want = [r[0] for r in manifest_rows() if r[2] == "custom_a"]
        assert [d["event_id"] for d in rows] == want and want
        c.close()
    finally:
        srv.close()


def test_socketio_live_phase_contract_over_manifest(spark, tmp_path):
    """Round-11: the APITestSuite behavioral contracts over the LIVE
    phase of the Socket.IO session — history replays under
    mode:'history' and ends with history_end at the attach-time head;
    manifest rows appended AFTER the ack then arrive as mode:'live'
    messages, exactly once, ascending, targets naming exactly the
    involved subscription, with the field filter applied to the live
    rows the same way the history compiler applies it."""
    from hyperion_history_api_spark.api.socketio_stream import (
        SocketIOClient,
        SocketIOStreamServer,
    )

    lake = tmp_path / "mlive"
    lake.mkdir()
    for t in (
        "region nation customer supplier part orders lineitem "
        "documents embeddings"
    ).split():
        shutil.copy(f"{SF_DIR}/{t}.parquet", lake / f"{t}.parquet")
    evdir = lake / "events.parquet"
    evdir.mkdir()

    def write_part(name: str, offset: int = 0) -> None:
        # pyarrow like the api_over_manifest fixture: the driver's
        # testdata layout is TIMESTAMP(NANOS), which the loader shim
        # expects; Spark's own writer would emit INT96 instead
        import pyarrow as pa
        import pyarrow.parquet as pq

        rows = manifest_rows(offset)
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array([r[0] for r in rows], pa.int64()),
                    "ts": pa.array(
                        [
                            (1_700_000_000 + r[0]) * 1_000_000_000
                            for r in rows
                        ],
                        pa.timestamp("ns"),
                    ),
                    "user_id": pa.array([r[1] for r in rows], pa.int64()),
                    "event_type": pa.array(
                        [r[2] for r in rows], pa.string()
                    ),
                    "value": pa.array([r[3] for r in rows], pa.float64()),
                    "props": pa.array([r[4] for r in rows], pa.string()),
                }
            ),
            str(evdir / name),
        )

    write_part("part-000.parquet")
    hi = N_TRANSFERS + N_CUSTOM

    api = HyperionAPI(spark, str(lake), cache=ResponseCache(default_ttl=0))
    srv = SocketIOStreamServer(api, ack_timeout=30.0)
    try:
        c = SocketIOClient("127.0.0.1", srv.port)
        # subscribe account 2 with a value filter; history = manifest
        resp = c.emit_with_ack(
            "action_stream_request",
            {"account": 2, "start_from": 1,
             "filters": [
                 {"field": "value", "operator": "gt", "value": 50}
             ],
             "batch_size": 50},
        )
        assert resp["status"] == "OK" and resp["currentBlockNum"] == hi
        hist = []
        while True:
            m = c.next_message()
            if m.get("type") == "history_end":
                break
            assert m["mode"] == "history"
            hist.extend(m["messages"])
        want_hist = [
            r[0] for r in manifest_rows() if r[1] == 2 and r[3] > 50
        ]
        assert [d["event_id"] for d in hist] == want_hist and want_hist
        # a SECOND manifest epoch lands after history_end
        write_part("part-001.parquet", offset=hi)
        want_live = [
            r[0]
            for r in manifest_rows(offset=hi)
            if r[1] == 2 and r[3] > 50
        ]
        live = []
        while len(live) < len(want_live):
            m = c.next_message()
            assert m["mode"] == "live" and m["type"] == "action_trace"
            assert m["targets"] == [resp["reqUUID"]]
            live.append(m["message"])
        c.close()
        got = [d["event_id"] for d in live]
        assert got == want_live  # involvement + filter + order + once
        assert all(d["user_id"] == 2 for d in live)
    finally:
        srv.close()
