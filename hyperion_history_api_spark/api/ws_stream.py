"""Bidirectional stream serving over WebSocket with client acks — the
reference's Socket.IO replay contract (``src/api/helpers/functions.ts``
:258-305: the client must ack each history batch, 120 s timeout;
``socketManager.ts:540-570``: the relay's credit-gated push) on the
repo's own RFC-6455 implementation (``sources/ship_ws.py`` — the same
framing already drives the SHIP ingest client AND its test server).

Protocol (one connection = one subscription):

1. client connects (RFC 6455 upgrade) and sends ONE text frame: the
   stream request JSON (same params as the SSE route — contract/
   action/account/start_from/read_until/follow/...) plus
   ``batch_size`` and ``window`` (max unacked batches in flight);
2. server replays matching history in ``batch_size`` chunks as
   ``{"type":"batch","seq":N,"rows":[...]}`` text frames, at most
   ``window`` unacked: at zero credit it BLOCKS until the client
   acks (``{"type":"ack","seq":N}``) — a non-acking client stalls
   the server (backpressure, not buffering) and is disconnected
   after ``ack_timeout`` (the reference's 120 s
   ``forceful disconnection``, functions.ts:292-301);
3. after the head drains, ``follow=true`` switches to the live tail —
   the connection registers on the API's one
   :class:`~.http_server.LiveRelay` at the attach head (the same
   relay the SSE route and the Socket.IO sessions drain), and
   arrivals are pushed over the same connection under the same
   credit rule (replay → live switchover, exactly-once per sequence:
   the replay ends at the head the relay routes past);
4. ``{"type":"end"}`` closes the window (read_until reached or idle
   timeout), then the RFC close handshake.

Serving reuses :meth:`..api.http_server.HyperionAPI.stream_rows`
verbatim — the ws layer adds ONLY framing + flow control, so the row
stream stays the oracle-checked predicate compiler's output.

Scale shape: one generator per connection, one bounded batch list in
memory (``batch_size`` rows); the replay scan itself streams via
``toLocalIterator`` (one partition in flight). A serving fleet scales
by stateless ws replicas over the shared session pool, like the HTTP
layer.
"""

from __future__ import annotations

import json
import socket
import threading

from ..sources.ship_ws import OP_TEXT, WebSocketConnection, server_handshake


class AckTimeout(ConnectionError):
    """Client failed to ack within the window (functions.ts:292-301)."""


#: a peer gets this long to complete the ws upgrade and send its
#: opening message — without it a socket that connects and never
#: speaks pins a capped slot (or a reject thread) forever, turning
#: the connection cap into a denial of service instead of a defense
HANDSHAKE_TIMEOUT = 10.0


def normalize_params(data: dict) -> dict:
    """Request params off the wire: keys to str, scalar values to str
    (the query-param form every parser downstream expects), but
    structured values (the ``filters`` list of {field,value,operator})
    passed through untouched — ``str()`` on a Python list produces
    single-quoted pseudo-JSON that ``stream_rows`` can never parse,
    which would reject every filtered subscription."""
    return {
        str(k): v if isinstance(v, (list, dict)) else str(v)
        for k, v in data.items()
    }


class CappedWsServer:
    """Accept-loop scaffolding shared by the plain-WS and Socket.IO
    stream surfaces: thread-per-connection with a hard cap, one
    explanatory frame to over-cap clients, and a pre-handshake read
    timeout on EVERY accepted socket. Subclasses implement
    ``_session(ws, conn_id)`` (and may override ``_reject_frame`` for
    their wire format); the session owns the socket timeout once the
    handshake succeeds."""

    def __init__(
        self,
        host: str,
        port: int,
        max_connections: int,
        handshake_timeout: float = HANDSHAKE_TIMEOUT,
    ) -> None:
        self.max_connections = max_connections
        self.handshake_timeout = handshake_timeout
        self.sock = socket.create_server((host, port))
        self.port = self.sock.getsockname()[1]
        self._stop = threading.Event()
        self._active = 0
        self._active_lock = threading.Lock()
        self.thread = threading.Thread(target=self._accept_loop, daemon=True)
        self.thread.start()

    def close(self) -> None:
        self._stop.set()
        try:
            # shutdown wakes the accept() blocked in _accept_loop;
            # close alone leaves that thread parked forever
            self.sock.shutdown(socket.SHUT_RDWR)
        except OSError:
            pass
        self.sock.close()

    def _accept_loop(self) -> None:
        n = 0
        while not self._stop.is_set():
            try:
                conn, _ = self.sock.accept()
            except OSError:
                return
            n += 1
            conn.settimeout(self.handshake_timeout)
            # connection cap mirroring the reference's serving-side
            # limits: a saturated server tells the client why (one
            # error frame after the handshake) instead of growing an
            # unbounded thread-per-connection pool
            with self._active_lock:
                if self._active >= self.max_connections:
                    threading.Thread(
                        target=self._reject_one, args=(conn,), daemon=True
                    ).start()
                    continue
                self._active += 1
            threading.Thread(
                target=self._serve_one, args=(conn, n), daemon=True
            ).start()

    def _reject_frame(self) -> str:
        return json.dumps({"type": "error", "error": "too many connections"})

    def _reject_frames(self) -> list[str]:
        """Frames sent to an over-cap client, in order. Protocol
        layers that require a preamble before an in-band error (e.g.
        Socket.IO's CONNECT_ERROR is only interpretable after the
        Engine.IO OPEN) override this instead of ``_reject_frame``."""
        return [self._reject_frame()]

    def _reject_one(self, conn: socket.socket) -> None:
        try:
            ws = server_handshake(conn)
            for frame in self._reject_frames():
                ws.send(frame, OP_TEXT)
            ws.close()
        except (ConnectionError, OSError, ValueError):
            pass  # socket.timeout is an OSError: silent peers land here
        finally:
            try:
                conn.close()
            except OSError:
                pass

    def _serve_one(self, conn: socket.socket, conn_id: int) -> None:
        try:
            ws = server_handshake(conn)
            self._session(ws, conn_id)
        except (AckTimeout, ConnectionError, OSError, ValueError):
            pass  # forceful disconnect path: drop the connection
        finally:
            with self._active_lock:
                self._active -= 1
            try:
                conn.close()
            except OSError:
                pass

    def _session(self, ws: WebSocketConnection, conn_id: int) -> None:
        raise NotImplementedError


class WsStreamServer(CappedWsServer):
    """Accepts WebSocket subscribers and serves credit-gated replay +
    live tail over :class:`~.http_server.HyperionAPI`."""

    def __init__(
        self,
        api,
        host: str = "127.0.0.1",
        port: int = 0,
        *,
        ack_timeout: float = 120.0,
        max_connections: int = 64,
        handshake_timeout: float = HANDSHAKE_TIMEOUT,
    ) -> None:
        self.api = api
        self.ack_timeout = ack_timeout
        # observability for tests: highest batch seq sent per conn id
        self.sent_batches: dict[int, int] = {}
        super().__init__(host, port, max_connections, handshake_timeout)

    # -- per-connection protocol ------------------------------------------
    def _session(self, ws: WebSocketConnection, conn_id: int) -> None:
        # the HANDSHAKE_TIMEOUT also bounds the opening request frame
        # (the reference disconnects idle openers the same way); the
        # pump then manages its own ack deadlines
        msg = ws.recv()
        if msg is None:
            return
        ws.sock.settimeout(None)
        params = normalize_params(json.loads(msg[1]))
        batch_size = int(params.pop("batch_size", 50))
        window = max(1, int(params.pop("window", 4)))
        rows = self.api.stream_rows(params)
        try:
            self._pump(ws, rows, batch_size, window, conn_id)
        finally:
            rows.close()  # a dropped follower leaves the relay now

    def _await_ack(self, ws: WebSocketConnection) -> int:
        """Block (bounded) for one ack frame; returns the acked seq."""
        ws.sock.settimeout(self.ack_timeout)
        try:
            msg = ws.recv()
        except socket.timeout:
            raise AckTimeout("client ack timeout") from None
        finally:
            ws.sock.settimeout(None)
        if msg is None:
            raise ConnectionError("client closed mid-replay")
        frame = json.loads(msg[1])
        if frame.get("type") != "ack":
            raise ValueError(f"expected ack, got {frame.get('type')!r}")
        return int(frame.get("seq", -1))

    def _pump(self, ws, rows, batch_size: int, window: int, conn_id: int):
        seq = 0
        unacked = 0
        batch: list[dict] = []

        def send_batch() -> None:
            nonlocal seq, unacked
            # zero credit → BLOCK on the ack (the reference's replay
            # waits for the client before the next chunk); timeout is
            # the forceful-disconnect path
            while unacked >= window:
                self._await_ack(ws)
                unacked -= 1
            seq += 1
            ws.send(
                json.dumps({"type": "batch", "seq": seq, "rows": batch}),
                OP_TEXT,
            )
            self.sent_batches[conn_id] = seq
            unacked += 1
            batch.clear()

        for row in rows:
            if "_idle" in row:
                # the follow stream found nothing new: a live row must
                # not wait in a partial batch for batch_size more
                if batch:
                    send_batch()
                continue
            if "_control" in row:
                # indexer control broadcast (fork_event / lib_update):
                # flush queued rows first so the fork notice precedes
                # any corrected rows, then send it unbatched — the
                # reference io.emit()s control events out-of-band of
                # the row batches (ws-router.ts:72-83)
                if batch:
                    send_batch()
                ws.send(
                    json.dumps({"type": row["_control"], **row["data"]}),
                    OP_TEXT,
                )
                continue
            batch.append(row)
            if len(batch) >= batch_size:
                send_batch()
        if batch:
            send_batch()
        # drain outstanding acks so the end frame is ordered behind a
        # fully-acked replay (the reference resolves its promise chain
        # the same way before emitting the end marker)
        while unacked > 0:
            self._await_ack(ws)
            unacked -= 1
        ws.send(json.dumps({"type": "end", "batches": seq}), OP_TEXT)
        ws.close()
