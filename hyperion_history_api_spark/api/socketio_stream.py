"""Socket.IO wire compatibility for the stream surface — the packet
layer a STOCK Hyperion stream client speaks (``src/api/socketManager.ts``
:79-230, 540-620), implemented from the public Engine.IO v4 and
Socket.IO v5 protocol specs over this repo's own RFC-6455 server
(``sources/ship_ws.py``), stdlib-only.

Wire contract reproduced (websocket transport, ``EIO=4``):

- Engine.IO: server sends the OPEN packet ``0{"sid",...,"pingInterval",
  "pingTimeout","upgrades":[],"maxPayload"}`` after the ws upgrade,
  then heartbeats ``2`` (ping) which the client answers with ``3``
  (pong); ``4`` carries Socket.IO payloads; ``1`` closes.
- Socket.IO (default namespace): client ``40`` connects, server
  replies ``40{"sid":...}``; events are ``42<ackId?>["name",args...]``
  and acks ``43<ackId>[args...]``.
- Hyperion's session: on connect the server emits
  ``handshake {chain, chain_id}`` (socketManager.ts:119); the client
  emits ``action_stream_request`` / ``delta_stream_request`` with an
  ack callback answered ``{status:"OK", reqUUID, currentBlockNum}``
  where currentBlockNum is the REAL head block (:565-570); history
  replays as ``emitWithAck("message", {reqUUID, type:
  "<kind>_trace", mode: "history", messages: [...], filtered})`` —
  ``filtered`` counts rows the primary query matched but the
  on-demand field filters dropped (functions.ts:226-270) and the
  server BLOCKS on each batch's client ack ``{status: true}`` with
  the 120 s forceful-disconnect timeout (functions.ts:258-305) —
  and finishes with ``message {type:"history_end", reqUUID,
  mode:"history", message:{lastBlock}}`` (:611-616).
- Live phase: every request (unless ``ignore_live``) registers on
  the API's one :class:`~.http_server.LiveRelay` (``api.relay``)
  before its ack (socketManager.ts:413-419 shared maps + the indexer
  relay), and rows arriving past the attach-time head are pushed as
  ``message {type:"<kind>_trace", mode:"live", targets:[reqUUIDs...],
  message}`` — one emit per row naming every matching subscription,
  exactly the fan-out of routeActionTraceToClients/
  routeDeltaToClients (:409-495). The same relay serves the SSE and
  WS ``follow=true`` streams: one routed scan per kind per tick
  serves every connection; no ack on live messages, matching the
  reference.
- Multiplexing: one connection holds N concurrent subscriptions (the
  reqUUID-keyed maps of socketManager.ts:267-300); concurrent history
  replays interleave at batch granularity (round-robin, one
  in-flight ack per subscription), and ``cancel_stream_request
  {reqUUID}`` detaches ONE subscription — mid-replay cancels
  included — leaving the rest streaming.

History rows come from :meth:`~.http_server.HyperionAPI.stream_rows`
(the bounded replay, ``mark_filtered`` form) and live rows from the
relay, so this layer adds framing only. Scale shape matches
``ws_stream.py``: one session thread per connection, one bounded
batch in memory, backpressure by blocking on the client ack.
"""

from __future__ import annotations

import json
import socket
import time
import uuid

from ..sources.ship_ws import OP_TEXT, WebSocketConnection
from .ws_stream import (
    HANDSHAKE_TIMEOUT,
    AckTimeout,
    CappedWsServer,
    normalize_params,
)


#: engine.io packet types
EIO_OPEN, EIO_CLOSE, EIO_PING, EIO_PONG, EIO_MESSAGE = "0", "1", "2", "3", "4"
#: socket.io packet types (inside an EIO_MESSAGE)
SIO_CONNECT, SIO_EVENT, SIO_ACK = "0", "2", "3"


def _parse_sio(payload: str) -> tuple[str, int | None, list]:
    """Split a Socket.IO packet body (after the leading ``4`` engine.io
    byte) into (sio_type, ack_id, json_args). Default namespace only —
    Hyperion's manager binds the root namespace."""
    sio_type, rest = payload[0], payload[1:]
    if rest.startswith("/"):  # namespace prefix "/ns," (unused here)
        _, sep, rest = rest.partition(",")
        if not sep:
            rest = ""  # namespace-only packet (e.g. "40/ns"): no body
    digits = ""
    while rest and rest[0].isdigit():
        digits += rest[0]
        rest = rest[1:]
    args = json.loads(rest) if rest else []
    return sio_type, (int(digits) if digits else None), args


class SocketIOStreamServer(CappedWsServer):
    """Accepts Socket.IO (EIO=4, websocket transport) subscribers and
    serves the reference's stream session over
    :class:`~.http_server.HyperionAPI`. Accept-loop, connection cap,
    and pre-handshake timeout come from :class:`CappedWsServer` —
    shared with the plain-WS surface so both reject and guard
    identically."""

    def __init__(
        self,
        api,
        host: str = "127.0.0.1",
        port: int = 0,
        *,
        ack_timeout: float = 120.0,
        ping_interval: float = 25.0,
        chain: str = "spark",
        max_connections: int = 64,
        handshake_timeout: float = HANDSHAKE_TIMEOUT,
    ) -> None:
        self.api = api
        self.ack_timeout = ack_timeout
        self.ping_interval = ping_interval
        self.chain = chain
        # one STABLE chain id per server (the reference's is the
        # blockchain's 64-hex id; a deterministic digest of the chain
        # name is the engine's stand-in) — the handshake advertises it
        # and every forwarded control event carries it, exactly
        # appendIdAndEmit (ws-router.ts:66-70) / the socketManager's
        # chain_id relay filter (:237-245)
        import hashlib

        self.chain_id = hashlib.sha256(chain.encode()).hexdigest()
        self.relay = api.relay
        super().__init__(host, port, max_connections, handshake_timeout)

    def _reject_frames(self) -> list[str]:
        # the Engine.IO OPEN handshake MUST precede any Socket.IO
        # packet: a stock engine.io client that has not yet received
        # "0{...}" treats the CONNECT_ERROR as a protocol error and
        # surfaces a transport close instead of connect_error
        return [
            EIO_OPEN
            + json.dumps(
                {
                    "sid": uuid.uuid4().hex,
                    "upgrades": [],
                    "pingInterval": int(self.ping_interval * 1000),
                    "pingTimeout": int(self.ack_timeout * 1000),
                    "maxPayload": 1_000_000,
                }
            ),
            # socket.io CONNECT_ERROR on the default namespace — what
            # a stock client surfaces as connect_error instead of an
            # unexplained transport drop
            EIO_MESSAGE
            + "4"
            + json.dumps({"message": "too many connections"}),
        ]

    # -- per-connection session --------------------------------------------
    def _session(self, ws: WebSocketConnection, _accept_n: int) -> None:
        sid = uuid.uuid4().hex
        ws.send(
            EIO_OPEN
            + json.dumps(
                {
                    "sid": sid,
                    "upgrades": [],
                    "pingInterval": int(self.ping_interval * 1000),
                    "pingTimeout": int(self.ack_timeout * 1000),
                    "maxPayload": 1_000_000,
                }
            ),
            OP_TEXT,
        )
        next_ack = [0]  # server-side emitWithAck id counter
        last_recv = [time.monotonic()]
        last_ping = [time.monotonic()]
        # Engine.IO v4 heartbeat direction: the SERVER pings, the client
        # pongs — a stock socket.io client closes the transport if no
        # ping arrives within pingInterval+pingTimeout, so a server that
        # only ANSWERS pings loses every idle/live-tail session at
        # ~145 s. All sends stay on this session thread (ws.send is not
        # locked): recv waits are bounded at ping_interval and each
        # timeout beat sends one ping; a peer silent past
        # pingInterval+pingTimeout is dropped (engine.io's own rule).
        ws.sock.settimeout(self.ping_interval)

        def heartbeat() -> None:
            if (
                time.monotonic() - last_recv[0]
                > self.ping_interval + self.ack_timeout
            ):
                raise ConnectionError("client heartbeat lost")
            ws.send(EIO_PING, OP_TEXT)
            last_ping[0] = time.monotonic()

        def maybe_ping() -> None:
            """Keep heartbeating through BUSY stretches: a fast-acking
            client or a long Spark scan means recv never times out, so
            the timeout-path heartbeat alone starves — and a stock
            client that measures pings (not data) self-disconnects at
            pingInterval+pingTimeout mid-replay. Called from the send
            loops, which all run on this session thread."""
            if time.monotonic() - last_ping[0] >= self.ping_interval:
                heartbeat()

        def emit(event: str, data, ack_id: int | None = None) -> None:
            pkt = EIO_MESSAGE + SIO_EVENT
            if ack_id is not None:
                pkt += str(ack_id)
            ws.send(pkt + json.dumps([event, data]), OP_TEXT)

        def send_ack(ack_id: int, args: list) -> None:
            ws.send(
                EIO_MESSAGE + SIO_ACK + str(ack_id) + json.dumps(args),
                OP_TEXT,
            )

        def recv_packet() -> tuple[str, str]:
            """One engine.io packet (type, body); answers pings
            transparently (EIO4: either side may heartbeat)."""
            msg = ws.recv()
            if msg is None:
                raise ConnectionError("client closed")
            last_recv[0] = time.monotonic()
            text = msg[1].decode() if isinstance(msg[1], bytes) else msg[1]
            if not text:
                raise ValueError("empty engine.io packet")
            return text[0], text[1:]

        # client events that arrive out of turn — drained by the main
        # loop, so a cancel or a NEW stream request mid-replay is
        # served instead of dropped. Batch acks never block the
        # session: they resolve asynchronously through the
        # main recv loop into the per-subscription ack state.
        pending: list[tuple[int | None, list]] = []

        # socket.io connect on the default namespace
        while True:
            try:
                etype, body = recv_packet()
            except socket.timeout:
                heartbeat()
                continue
            if etype == EIO_PING:
                ws.send(EIO_PONG + body, OP_TEXT)
                continue
            if etype == EIO_CLOSE:
                return  # client left before the socket.io connect
            if etype == EIO_MESSAGE and body and body[0] == SIO_CONNECT:
                break
        ws.send(EIO_MESSAGE + SIO_CONNECT + json.dumps({"sid": sid}), OP_TEXT)
        emit(
            "handshake",
            {"chain": self.chain, "chain_id": self.chain_id},
        )

        # -- per-connection subscription state (reqUUID-keyed, the
        # socketManager.ts:267-300 maps); live routing itself lives in
        # the API's relay (one routed scan per tick for every
        # connection) — the session only registers/drains -------------
        my_live: set[str] = set()  # this session's live reqUUIDs
        replays: list[dict] = []  # round-robin history pumps
        # per-subscription in-flight acks: the reference's
        # per-scroll emitWithAck promises are independent, so one slow
        # acker must not stall the OTHER subscription's batches on the
        # same socket. Acks resolve asynchronously through the main
        # recv loop into `acks`; `ack_waiters` carries each pending
        # ack's replay + forceful-disconnect deadline.
        acks: dict[int, dict] = {}
        ack_waiters: dict[int, tuple[dict, float]] = {}

        def start_request(event: str, data, ack_id: int | None):
            kind = "action" if event.startswith("action") else "delta"
            req_uuid = uuid.uuid4().hex
            try:
                # inside the try: a non-dict payload or junk
                # batch_size is an invalid REQUEST (callback ERROR,
                # socketManager.ts validateRequest), not a reason to
                # drop the whole connection
                params = normalize_params(dict(data))
                ignore_live = str(
                    params.pop("ignore_live", "")
                ).lower() in ("true", "1")
                if kind == "delta":
                    params["stream"] = "deltas"
                batch_size = int(params.pop("batch_size", 50))
                req, _k = self.api.parse_stream_request(params)
                # the reference resolves the head BEFORE answering the
                # callback (emitToRelay attaches currentBlockNum) and
                # bounds the primary history scroll at it (:434-440)
                head = self.api.head_block()
                # negative bounds are head-relative (addBlockRangeOpts:
                # start_from -1000 = "last 1000 blocks"); resolve once
                # against THIS head so the replay scan and the
                # last_block ack math agree
                req = self.api.resolve_relative_bounds(req, head)
                if req.start_from is not None:
                    params["start_from"] = str(req.start_from)
                if req.read_until is not None:
                    params["read_until"] = str(req.read_until)
            except Exception as e:  # invalid request -> error callback
                if ack_id is not None:
                    send_ack(
                        ack_id, [{"status": "ERROR", "error": str(e)}]
                    )
                return
            if not ignore_live:
                self.relay.register(conn_id, req_uuid, kind, req, head)
                my_live.add(req_uuid)
            if ack_id is not None:  # processStreamRequest's callback
                send_ack(
                    ack_id,
                    [
                        {
                            "status": "OK",
                            "reqUUID": req_uuid,
                            "currentBlockNum": head,
                        }
                    ],
                )
            # history replay only when requested (socketManager.ts:432:
            # `if (data.start_from && data.start_from !== 0)`)
            start_from = req.start_from
            if not start_from:
                return
            if not req.read_until and head > 0:
                params["read_until"] = str(head)
            params["mark_filtered"] = "true"
            # reset the client's heartbeat timer right before the scan
            # whose first pull may be long (a cold first batch past
            # pingInterval+pingTimeout would otherwise self-disconnect
            # a stock client before any row arrives)
            heartbeat()
            rows = self.api.stream_rows(params)
            replays.append(
                {
                    "req_uuid": req_uuid,
                    "kind": kind,
                    "gen": iter(rows),
                    "batch_size": batch_size,
                    # zero-row replays report start_from-1
                    # (functions.ts:308-312)
                    "last_block": start_from - 1,
                    "filtered": 0,
                    "ack_pending": None,
                    "done": False,
                }
            )

        def handle_event(ack_id: int | None, args: list) -> None:
            event, data = args[0], (args[1] if len(args) > 1 else {})
            if event == "cancel_stream_request":
                rid = (data or {}).get("reqUUID")
                if rid is not None:
                    self.relay.unregister(rid)
                    my_live.discard(rid)
                replays[:] = [r for r in replays if r["req_uuid"] != rid]
                if ack_id is not None:
                    send_ack(ack_id, [{"status": "OK"}])
                return
            if event in ("action_stream_request", "delta_stream_request"):
                start_request(event, data, ack_id)

        def _finish(r: dict) -> None:
            """history_end once the replay is drained AND its last
            batch is acked (the reference resolves its promise chain
            before the end marker)."""
            replays.remove(r)
            emit(
                "message",
                {
                    "type": "history_end",
                    "reqUUID": r["req_uuid"],
                    "mode": "history",
                    "message": {"lastBlock": r["last_block"]},
                },
            )

        def resolve_acks() -> None:
            """Settle any batch acks the recv loop captured; enforce
            each pending ack's forceful-disconnect deadline
            (functions.ts:292-301 — a never-acking client is
            dropped)."""
            for aid in list(ack_waiters):
                if aid in acks:
                    r, _ = ack_waiters.pop(aid)
                    resp = acks.pop(aid)
                    if resp.get("status") is not True:
                        raise ConnectionError("client NACKed history batch")
                    r["ack_pending"] = None
                    if r["done"] and r in replays:
                        _finish(r)
            now = time.monotonic()
            if any(now > dl for _, dl in ack_waiters.values()):
                raise AckTimeout("client ack timeout")

        def pump_one() -> None:
            """One history batch from the first replay with NO
            in-flight ack, then rotate — concurrent replays interleave
            at batch granularity with one outstanding ack PER
            SUBSCRIPTION (a slow acker on A never delays B's batches),
            matching the reference's independent per-scroll
            emitWithAck promises."""
            resolve_acks()
            r = next(
                (
                    x
                    for x in replays
                    if x["ack_pending"] is None and not x["done"]
                ),
                None,
            )
            if r is None:
                return  # every replay ack-blocked: recv loop gathers acks
            batch: list[dict] = []
            maybe_ping()
            while len(batch) < r["batch_size"]:
                try:
                    row = next(r["gen"])
                except StopIteration:
                    r["done"] = True
                    break
                seq = int(row.get("block_num", row.get("event_id", 0)))
                r["last_block"] = max(r["last_block"], seq)
                if row.pop("_filtered", False):
                    r["filtered"] += 1
                    continue
                batch.append(row)
            if batch:
                next_ack[0] += 1
                emit(
                    "message",
                    {
                        "reqUUID": r["req_uuid"],
                        "type": f"{r['kind']}_trace",
                        "mode": "history",
                        "messages": batch,
                        "filtered": r["filtered"],
                    },
                    ack_id=next_ack[0],
                )
                r["filtered"] = 0
                r["ack_pending"] = next_ack[0]
                ack_waiters[next_ack[0]] = (
                    r,
                    time.monotonic() + self.ack_timeout,
                )
            # rotate for fairness; a drained-and-acked replay finishes
            # (a cancel may have removed it mid-fill — only touch a
            # replay that is still registered)
            if r in replays:
                replays.remove(r)
                if r["done"] and r["ack_pending"] is None:
                    replays.append(r)
                    _finish(r)
                else:
                    replays.append(r)

        def drain_live() -> None:
            """Emit whatever the shared relay queued for this
            connection: live-labeled messages with targets naming
            every matching reqUUID (routeActionTraceToClients'
            fan-out shape; the relay already applied the attach-head
            filter). Raises on queue overflow — the slow-consumer
            drop."""
            for kind, d, targets in self.relay.drain(conn_id):
                if kind == "control":
                    # fork_event / lib_update broadcast: emitted as a
                    # NAMED Socket.IO event to every client with the
                    # chain_id prefixed, exactly appendIdAndEmit
                    # (ws-router.ts:66-83) — a stock client binds
                    # socket.on('fork_event', ...) and checks chain_id
                    maybe_ping()
                    emit(
                        d.get("event", "control"),
                        {"chain_id": self.chain_id, **d.get("data", {})},
                    )
                    continue
                if kind == "status":
                    # capped-tick catch-up progress: mode stays
                    # "live" but the message carries how far the
                    # relay has transmitted vs the head, mirroring
                    # the reference's lastTransmittedBlock fill loop
                    # (socketManager.ts:584-615)
                    maybe_ping()
                    emit(
                        "message",
                        {
                            "type": "catchup",
                            "mode": "live",
                            "kind": d["kind"],
                            "message": {
                                "lastTransmittedBlock": d[
                                    "lastTransmittedBlock"
                                ],
                                "headBlock": d["headBlock"],
                            },
                        },
                    )
                    continue
                targets = [u for u in targets if u in my_live]
                if not targets:
                    continue  # cancelled between routing and drain
                maybe_ping()
                emit(
                    "message",
                    {
                        "type": f"{kind}_trace",
                        "mode": "live",
                        "targets": targets,
                        "message": d,
                    },
                )

        # -- main loop: drain events, pump replays, drain the relay -----
        # queue control broadcasts (fork_event / lib_update) from the
        # socket.io connect — NOT from first live register (reference:
        # io.emit reaches every connected socket). The relay hands out
        # the id: SSE and WS followers share it too.
        conn_id = self.relay.attach()
        try:
            while True:
                if pending:
                    handle_event(*pending.pop(0))
                    continue
                # adaptive wait: don't stall replays/live drains on recv.
                # Even subscription-less sessions wake at the relay
                # cadence — control broadcasts (fork/LIB) must reach
                # them promptly, and an idle wake is one empty-deque
                # check, no Spark work.
                if replays:
                    wait = 0.02
                else:
                    wait = min(self.ping_interval, self.relay.poll_sec / 2)
                ws.sock.settimeout(wait)
                try:
                    etype, body = recv_packet()
                except socket.timeout:
                    pass
                else:
                    if etype == EIO_PING:
                        ws.send(EIO_PONG + body, OP_TEXT)
                    elif etype == EIO_CLOSE:
                        return
                    elif etype == EIO_MESSAGE:
                        sio_type, ack_id, args = _parse_sio(body)
                        if sio_type == SIO_EVENT and args:
                            handle_event(ack_id, args)
                        elif sio_type == SIO_ACK and ack_id is not None:
                            # a history-batch ack: settled by
                            # resolve_acks() on the next pump
                            acks[ack_id] = args[0] if args else {}
                maybe_ping()
                if (
                    time.monotonic() - last_recv[0]
                    > self.ping_interval + self.ack_timeout
                ):
                    raise ConnectionError("client heartbeat lost")
                if replays:
                    pump_one()
                # always drain: a connection with no live subscription
                # still receives control broadcasts queued by attach()
                drain_live()
        finally:
            self.relay.unregister_conn(conn_id)


class SocketIOClient:
    """Minimal Socket.IO (EIO=4, websocket) client — enough protocol to
    BE the stock Hyperion stream client in tests: connect + handshake,
    emitWithAck for stream requests, and the server-ack'd ``message``
    stream. Written from the same public specs as the server (and
    kept independent of it: packets are built by hand here)."""

    def __init__(self, host: str, port: int) -> None:
        from ..sources.ship_ws import WebSocketClient

        self.ws = WebSocketClient(
            host, port, path="/socket.io/?EIO=4&transport=websocket"
        )
        t, body = self._recv()
        assert t == EIO_OPEN, f"expected engine.io OPEN, got {t}"
        self.open_info = json.loads(body)
        self.ws.send(EIO_MESSAGE + SIO_CONNECT, OP_TEXT)
        self._ack_id = 0
        self.events: list[list] = []  # non-message events observed
        self.messages: list[dict] = []  # acked messages not yet consumed
        # every SIO_EVENT in exact wire-arrival order (name, payload):
        # the strict ordering gate for fork-before-corrected-rows
        self.frames: list[tuple[str, dict]] = []
        # socket.io connect reply
        sio, _, args = self._expect_sio()
        assert sio == SIO_CONNECT

    def _recv(self) -> tuple[str, str]:
        msg = self.ws.recv()
        if msg is None:
            raise ConnectionError("server closed")
        text = msg[1].decode() if isinstance(msg[1], bytes) else msg[1]
        return text[0], text[1:]

    def _expect_sio(self) -> tuple[str, int | None, list]:
        """Next socket.io packet, answering engine.io pings."""
        while True:
            t, body = self._recv()
            if t == EIO_PING:
                self.ws.send(EIO_PONG + body, OP_TEXT)
                continue
            if t == EIO_MESSAGE:
                return _parse_sio(body)

    def _ack(self, ack_id: int) -> None:
        self.ws.send(
            EIO_MESSAGE
            + SIO_ACK
            + str(ack_id)
            + json.dumps([{"status": True}]),
            OP_TEXT,
        )

    def _on_event(self, ack_id: int | None, args: list, ack: bool) -> None:
        """What a stock client's registered handler does with a server
        event: 'message' payloads are acked (emitWithAck batches block
        the server on this) and queued; everything else is recorded."""
        self.frames.append(
            (args[0] if args else "", args[1] if len(args) > 1 else {})
        )
        if args and args[0] == "message":
            if ack_id is not None and ack:
                self._ack(ack_id)
            self.messages.append(args[1])
        else:
            self.events.append(args)

    def emit_with_ack(self, event: str, data) -> dict:
        """emitWithAck; server events arriving before the ack are
        handled (acked + queued) like the stock client's always-on
        message handler — a multiplexed session can interleave batches
        of an earlier subscription with a later request's ack."""
        self._ack_id += 1
        self.ws.send(
            EIO_MESSAGE
            + SIO_EVENT
            + str(self._ack_id)
            + json.dumps([event, data]),
            OP_TEXT,
        )
        while True:
            sio, ack_id, args = self._expect_sio()
            if sio == SIO_ACK and ack_id == self._ack_id:
                return args[0] if args else {}
            if sio == SIO_EVENT:
                self._on_event(ack_id, args, True)

    def next_message(self, *, ack: bool = True) -> dict:
        """Next ``message`` event (earliest queued first); acks server
        emitWithAck batches with ``{status: true}`` when ``ack`` (the
        stock client behavior)."""
        if self.messages:
            return self.messages.pop(0)
        while True:
            sio, ack_id, args = self._expect_sio()
            if sio != SIO_EVENT:
                continue
            # route through _on_event so self.frames records the exact
            # wire arrival order (the strict fork-ordering gate reads it)
            self._on_event(ack_id, args, ack)
            if self.messages:
                return self.messages.pop(0)

    def close(self) -> None:
        try:
            self.ws.close()
        except (OSError, ConnectionError):
            pass
