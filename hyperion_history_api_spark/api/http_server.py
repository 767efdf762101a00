"""In-process HTTP serving layer — the fastify REST surface
(``src/api/routes.ts:18-25``, handlers under ``src/api/routes/``) and
the stream subscriptions of the Socket.IO manager
(``src/api/socketManager.ts:409-495``) served over stdlib
``http.server``, with Server-Sent Events standing in for the
Socket.IO frames (SSE is the same one-directional push shape the
relay uses).

:class:`LiveRelay` is the one live path: ``HyperionAPI.relay`` tails
the lake and the control journal once per tick and routes each
arrival to every attached connection — SSE and WS ``follow=true``
streams and Socket.IO subscriptions alike.

Routing lives in :mod:`.http_routes`: every REST path is one
``fn(api, params)`` row of its route table, and each request runs
through :meth:`HyperionAPI.serve`, the one place that picks the
``model=hyperion`` twin. Handlers are thin translation layers —
query-string → :class:`~..plans.predicates.QueryParams` /
stream-request structs → the oracle-checked DataFrame plans the
registry serves — plus the reference's own response conventions:

- envelope metadata (``query_time_ms``, ``cached``, exact ``total``,
  ``last_indexed_block``) via :mod:`.envelope`
  (get_actions.ts:88-131);
- the ``timedQuery`` response cache with per-route TTLs via
  :mod:`.serving_cache` (functions.ts:946-1006);
- 400 replies with an ``error`` body for guard violations, exactly
  where the reference's schema validation / ``ServerError`` path
  rejects (functions.ts:246-250 skip/limit guards).

Scale shape: the server holds ONE SparkSession; each request submits
the same pushed-down point/page plans the registry exposes (parquet
scan + TakeOrderedAndProject), so a serving fleet scales by adding
stateless HTTP replicas over a shared long-lived session pool —
the reference's api-node/pm2 layout (SURVEY §3.1) with Spark in place
of Elasticsearch.

Stand-in schema mapping (same as the registered queries'): ``events``
is the action log (``user_id`` = account, ``event_type`` = contract,
``event_id`` = global_sequence), ``orders``/``lineitem`` the
transaction/trace pair, ``part`` the token registry.
"""

from __future__ import annotations

import itertools
import json
import logging
import math
import threading
import time
import uuid
from collections import deque
from dataclasses import replace
from functools import partial
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qsl, urlsplit

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.predicates import QueryGuardError
from ..streaming.control_log import tail_control
from ..streaming.filters import StreamRequest, StreamSchema, compile_request
from . import endpoints_ext
from .envelope import scan_head
from .http_routes import NESTED_ROUTES, ROUTES
from .serving_cache import DEFAULT_TTLS, ResponseCache, timed_query


class HyperionAPI:
    """Serving state over one shared SparkSession + lake dir: the
    response cache, usage counters and log-head memo the route handlers
    share, the model switch every route runs through, and the stream
    paths."""

    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str,
        *,
        cache: ResponseCache | None = None,
    ) -> None:
        self.spark = spark
        self.sf_dir = sf_dir
        self.cache = cache if cache is not None else ResponseCache(
            ttls=dict(DEFAULT_TTLS)
        )
        # per-route request totals served by /v2/stats/get_api_usage
        # (the reference aggregates the same counters from its
        # rate-limiter store)
        self.usage: dict[str, int] = {}
        self._usage_lock = threading.Lock()
        # log_head() memo: (events-lake fingerprint, (block, time)). A
        # hit is stat-only — no Spark job per page, stream request or
        # relay tick
        self._head_cache: tuple | None = None
        # path -> handler(params): every path of the route table, each
        # through the one model switch
        self.routes: dict = {path: partial(self.serve, path) for path in ROUTES}
        # the one live tail every SSE, WS and Socket.IO follower drains;
        # its poller runs only while a connection is attached
        self.relay = LiveRelay(self, poll_sec=0.5)

    def count_request(self, route: str) -> None:
        with self._usage_lock:
            self.usage[route] = self.usage.get(route, 0) + 1

    def serve(self, path: str, params: dict) -> dict:
        """Run the handler of ``path``: its nested twin when the request
        asks for ``model=hyperion`` and the path has one (the body then
        says so), else the flat handler."""
        nested = NESTED_ROUTES.get(path) if params.get("model") == "hyperion" else None
        if nested is None:
            return ROUTES[path](self, params)
        return nested(self, params) | {"model": "hyperion"}

    # -- stream subscriptions (socketManager.ts replay + relay) --------------
    def stream_rows(self, params: dict):
        """Replay (then optionally live-tail) a stream subscription:
        compile the request to ONE boolean column (the vectorized
        ws-router predicate, streaming/filters.py) and yield matching
        rows in sequence order.

        ``stream=deltas`` selects the StreamDeltasRequest shape
        (stream-requests.ts:25-49: code/table/scope/payer instead of
        contract/action/account) — same compiler, the delta column
        mapping (payer promoted from the JSON payload), exactly the
        two subscription kinds the reference's socketManager serves.

        ``read_until`` bounds the window exactly like the reference's
        past-range requests. ``follow=true`` is the replay→live
        switchover (socketManager.ts: history replay, then the relay
        pushes arrivals), run through :attr:`relay` exactly as a
        Socket.IO subscription runs: see :meth:`_follow`."""
        # parse/validate EAGERLY — this function must raise for bad
        # params BEFORE the handler commits a 200 + event-stream
        # header (a generator would defer the int()/float() failures
        # into mid-stream)
        req, kind = self.parse_stream_request(params)
        if (req.start_from or 0) < 0 or (req.read_until or 0) < 0:
            req = self.resolve_relative_bounds(req, self.head_block())
        idle_timeout = float(params.get("idle_timeout", "30"))
        # nan would never time out on an idle lake
        if not (math.isfinite(idle_timeout) and idle_timeout >= 0):
            raise ValueError(
                f"idle_timeout must be finite and >= 0, got {idle_timeout}"
            )
        mark_filtered = str(params.get("mark_filtered", "")).lower() in (
            "true",
            "1",
        )
        if params.get("follow") == "true":
            return self._follow(req, kind, idle_timeout, mark_filtered)
        return self._replay(req, kind, mark_filtered)

    @staticmethod
    def parse_stream_request(params: dict):
        """Parse/validate wire params into a (StreamRequest, kind)
        pair — shared by the SSE/WS replay path and the Socket.IO
        live-routing maps (which compile the SAME request against
        arriving rows). Raises for bad params so handlers can answer
        an error callback before committing a stream."""
        kind = params.get("stream", "actions")
        # the subscription's field-filter list (stream-requests.ts:1-6
        # + streamFunctions.ts:58-94 every/some semantics) — a JSON
        # array of {field, value, operator}; filter_op=or selects the
        # "some" form. The compiler (streaming/filters.py) already
        # vectorizes these; this just exposes them on the wire.
        from ..streaming.filters import RequestFilter

        raw_filters = params.get("filters", "[]")
        try:
            flist = json.loads(raw_filters) if isinstance(raw_filters, str) \
                else raw_filters
            if not isinstance(flist, list):
                raise ValueError("filters must be a JSON array")
            filters = tuple(
                RequestFilter(
                    field=str(f["field"]),
                    value=f["value"],
                    operator=str(f.get("operator", "eq")),
                )
                for f in flist
            )
        except (KeyError, TypeError) as e:
            raise ValueError(f"bad filters param: {e}") from None
        filter_op = params.get("filter_op", "and")
        if filter_op not in ("and", "or"):
            raise ValueError(f"filter_op must be and|or, not {filter_op!r}")
        if kind == "deltas":
            # StreamDeltasRequest: code/table -> the routing key,
            # scope -> the account dimension, payer -> the promoted
            # JSON field (the delta column mapping of the registered
            # get_deltas_by_scope plan)
            req = StreamRequest(
                contract=params.get("table", params.get("code", "*")),
                action="*",
                account=params.get("payer", ""),
                scope=params.get("scope", ""),
                start_from=int(params["start_from"])
                if "start_from" in params
                else None,
                read_until=int(params["read_until"])
                if "read_until" in params
                else None,
                filter_op=filter_op,
                filters=filters,
            )
        elif kind == "actions":
            req = StreamRequest(
                contract=params.get("contract", "*"),
                action=params.get("action", "*"),
                account=params.get("account", ""),
                start_from=int(params["start_from"])
                if "start_from" in params
                else None,
                read_until=int(params["read_until"])
                if "read_until" in params
                else None,
                filter_op=filter_op,
                filters=filters,
            )
        else:
            raise ValueError(f"stream must be actions|deltas, not {kind!r}")
        return req, kind

    def _replay(self, req, kind: str, mark_filtered: bool, upto: int | None = None):
        """The bounded history scan of ``req``, through ``upto`` when
        given; read_until=0 is the reference's "no end" convention
        (compile_request skips the bound the same way)."""
        after = (req.start_from or 0) - 1
        # the fingerprint-memoized head (pure os.stat on an unchanged
        # lake) proves an empty window without a Spark job
        if self.head_block() <= after:
            return
        ev, cols, schema = self._stream_frame(kind)
        window = F.col("event_id") > after
        if upto is not None:
            window &= F.col("event_id") <= upto
        if mark_filtered:
            # the reference's scroll counts docs that matched the
            # PRIMARY query (routing keys + block range) but were
            # dropped by the on-demand field filters
            # (functions.ts:226-247 filterCount) — so scan on the
            # routing predicate and FLAG filter failures instead
            # of hiding them; the consumer reports `filtered` and
            # still advances lastTransmittedBlock over them
            routing = compile_request(ev, replace(req, filters=()), schema)
            full = compile_request(ev, req, schema)
            plan = ev.where(routing & window).withColumn("_filtered", ~full)
            cols = [*cols, "_filtered"]
        else:
            plan = ev.where(compile_request(ev, req, schema) & window)
        # toLocalIterator: one partition in flight — the driver never
        # holds the whole replay (same scroll discipline as O7)
        for row in plan.orderBy("event_id").select(*cols).toLocalIterator():
            d = row.asDict()
            d["ts"] = str(d["ts"])
            yield d

    def _follow(self, req, kind: str, idle_timeout: float, mark_filtered: bool):
        """``follow=true``: the steps a Socket.IO subscription runs —
        register on :attr:`relay` at the attach head, replay history
        up to that head, then forward what the relay queues: the
        indexer's control events (fork_event / lib_update, the
        reference's io.emit forwarding, ws-router.ts:72-83) as
        ``{"_control", "data"}`` and matching arrivals as rows. A fork
        rewinds the relay below the fork point, so corrected rows are
        re-delivered after the notice. A drain that comes back empty
        yields ``{"_idle": True}``, on which a consumer flushes what it
        batched and sends nothing. Ends on a row at or past
        ``read_until`` (rows past it are dropped) or after
        ``idle_timeout`` seconds with no row and no control event."""
        relay = self.relay
        conn = relay.attach()
        try:
            head = relay.register(
                conn,
                f"follow-{conn}",
                "delta" if kind == "deltas" else "action",
                req,
                self.head_block(),
            )
            yield from self._replay(req, kind, mark_filtered, upto=head)
            read_until = req.read_until or None
            if read_until is not None and read_until <= head:
                return
            start_from = req.start_from or 0
            deadline = time.monotonic() + idle_timeout
            while time.monotonic() < deadline:
                entries = relay.drain(conn)
                if not entries:
                    yield {"_idle": True}
                    time.sleep(relay.poll_sec / 2)
                for entry, d, _ in entries:
                    if entry == "control":
                        yield {"_control": d.get("event"), "data": d.get("data", {})}
                    elif entry == "status" or d["event_id"] < start_from:
                        # catch-up progress has no SSE/WS frame, and
                        # live routing ignores start_from
                        continue
                    elif read_until is not None and d["event_id"] > read_until:
                        return
                    else:
                        yield d
                        if d["event_id"] == read_until:
                            return
                    deadline = time.monotonic() + idle_timeout
        finally:
            relay.unregister_conn(conn)

    def _stream_frame(self, kind: str) -> tuple[DataFrame, list[str], StreamSchema]:
        """One fresh events read for a stream poll or relay tick: the
        frame (the delta view for ``kind="deltas"``), the columns a
        streamed row carries, and the routing schema. Fresh because new
        spool files must be visible (a DataFrame's file listing is
        bound at creation); only the events table, because re-reading
        the whole catalog twice a second is pure driver overhead."""
        from ..tables import _load_one

        # the nanos-timestamp shim normally set by load_tables — a
        # stream-only client may be this session's first reader
        self.spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        ev = _load_one(self.spark, f"{self.sf_dir}/events.parquet")
        cols = ["event_id", "user_id", "event_type", "ts", "value"]
        # json_col="props": a filter on a PAYLOAD field resolves through
        # the JSON fallback (checkMetaFilter data.* parity)
        if kind == "deltas":
            # delta rows route on (code, scope, payer)
            schema = StreamSchema(
                account_col="payer", scope_col="user_id", json_col="props"
            )
            return endpoints_ext.delta_view(ev), [*cols, "payer"], schema
        return ev, cols, StreamSchema(json_col="props")

    def lib_block(self) -> int:
        """The ingested last-irreversible watermark — the engine's
        ``get_info().last_irreversible_block_num`` analog. The ingest
        side maintains ``{lake}/_meta/lib.json`` from the SHIP
        envelope's ``last_irreversible`` position
        (sources/ship_envelope.py get_blocks_result_v0;
        streaming/control_log.write_lib); reading it is one stat+read
        of a ~60-byte file, no Spark job."""
        from ..streaming.control_log import read_lib

        return int(read_lib(self.sf_dir).get("block_num", 0))

    @staticmethod
    def resolve_relative_bounds(req, head: int):
        """Negative ``start_from``/``read_until`` are HEAD-RELATIVE in
        the reference (functions.ts addBlockRangeOpts: ``start_from <
        0`` compiles to ``block_num >= head + start_from``; same for
        ``read_until``) — a ``start_from: -1000`` replay means "the
        last 1000 blocks", never "all of history from block 1"."""
        changes: dict = {}
        if req.start_from is not None and req.start_from < 0:
            changes["start_from"] = head + req.start_from
        if req.read_until is not None and req.read_until < 0:
            changes["read_until"] = head + req.read_until
        return replace(req, **changes) if changes else req

    # -- live-phase helpers (socketManager.ts relay analogs) ----------------
    def log_head(self) -> tuple:
        """(event_id, ts) of the newest event: the envelope's
        ``last_indexed_block`` / ``_time`` (get_actions.ts:121-126),
        the health probe's lake head and, through :meth:`head_block`,
        the stream and relay head; ``(None, None)`` on an empty lake.

        Memoized on the lake fingerprint (tables._path_fingerprint,
        stat-only): the value changes only when the spool gains or
        rewrites a file, so a hit is pure os.stat and a miss runs one
        top-1 job."""
        from ..tables import _load_one, _path_fingerprint

        path = f"{self.sf_dir}/events.parquet"
        fp = _path_fingerprint(path)
        hit = self._head_cache
        if hit is not None and hit[0] == fp:
            return hit[1]
        self.spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        head = scan_head(_load_one(self.spark, path), "event_id")
        self._head_cache = (fp, head)
        return head

    def head_block(self) -> int:
        """Current head of the event log — the reference's
        ``currentBlockNum`` (socketManager.ts:565-570 puts the real
        head in every stream-request ack; clients use it for
        gap-healing math). 0 on an empty lake."""
        return int(self.log_head()[0] or 0)

    def live_tagged_rows(
        self,
        requests: dict,
        after: int,
        kind: str = "actions",
        window_cap: int = 50_000,
    ) -> tuple[list, int, int]:
        """One poll of the live relay: rows past ``after`` tagged with
        the reqUUIDs they match (the vectorized ws-router fan-out,
        streaming/filters.py:route_to_subscribers — ONE codegen'd
        pass over the new rows regardless of subscription count).

        Returns ``(rows, new_cursor, head)`` where rows are
        ``(row_dict, [req_uuids])`` in sequence order — non-matching
        rows are scanned (they advance the cursor; the next poll must
        not re-read them) but not returned —, ``new_cursor`` is the
        highest sequence scanned (``after`` when idle) and ``head`` is
        the one head read that bounded the scan.
        ``requests`` maps reqUUID -> StreamRequest (from
        :meth:`parse_stream_request`)."""
        from ..streaming.filters import route_to_subscribers

        # Idle-tick short-circuit: the lake head is fingerprint-
        # memoized (head_block — pure os.stat when no spool file
        # landed), and event_id is the append cursor, so head <= after
        # proves there is NOTHING to scan. An idle relay tick therefore
        # runs ZERO Spark jobs — per-tick work is purely
        # arrival-driven, at any connection count.
        head = self.head_block()
        if head <= after:
            return [], after, head
        # Cap the scan window: a deep fork rewind (or any stale
        # cursor) must not materialize an unbounded (after, head]
        # batch in driver memory at once. Sequence ids are dense-ish
        # append cursors, so (after, after+cap] chunks are delivered
        # in order across successive ticks until the cursor catches
        # the head; window_cap matches the relay's 50k slow-consumer
        # bound, so a single tick can never queue more than one drop
        # threshold's worth of rows anyway.
        target = min(head, after + window_cap)
        ev, cols, schema = self._stream_frame(kind)
        # strip each request's start_from/read_until for LIVE routing:
        # the reference's relay matches arriving traces on routing keys
        # + field filters only (ws-router.ts); the history bounds
        # belong to the replay phase
        live_reqs = {
            u: replace(r, start_from=None, read_until=None)
            for u, r in requests.items()
        }
        # ONE routed scan, no orderBy: the exchange a Spark sort plans
        # would add 2-3 AQE stage-jobs per tick; the window is BOUNDED
        # (rows since the last poll; the relay drops slow consumers at
        # 50k queued rows), so the driver sorts the collected batch
        # instead — an arrival tick is exactly ONE Spark job (plus the
        # head top-1 job on the tick where the new spool file first
        # appears, shared with every page and stream via the
        # fingerprint memo). Non-matching rows don't come back from
        # the routed scan, but the memoized head already bounds the
        # cursor past them — no tail-max job, ever.
        tagged = route_to_subscribers(
            ev.where(
                (F.col("event_id") > after) & (F.col("event_id") <= target)
            ),
            live_reqs,
            schema,
        ).select(*cols, "matching_requests")
        out = []
        cursor = target
        for row in tagged.collect():
            d = row.asDict()
            targets = list(d.pop("matching_requests"))
            d["ts"] = str(d["ts"])
            cursor = max(cursor, int(d["event_id"]))
            out.append((d, targets))
        out.sort(key=lambda dt: int(dt[0]["event_id"]))
        return out, cursor, head


class LiveRelay:
    """The API's one live tail — the reference's relay shape
    (socketManager.ts attaches every socket's requests to shared maps
    and a single indexer relay pushes each trace once, :409-495). SSE
    and WS followers and Socket.IO subscriptions all attach here: one
    control-journal tail and one routed scan per kind per tick serve
    every connection regardless of count (the route_to_subscribers
    pass is already vectorized over requests).

    Sessions attach (a fresh connection id), register (conn_id,
    reqUUID, kind, req, attach-head) and drain their queue from their
    own thread — the relay thread never touches a socket (ws.send is
    not locked). A queue past ``max_queue`` marks the connection
    overflowed; its next drain raises and the session drops the slow
    consumer instead of buffering unboundedly. The poller runs only
    while a connection is attached: a tick that finds none ends it,
    and the next attach or register starts a new one.

    Attach races mirror the reference: a subscription registered while
    a tick is mid-route can miss rows scanned in that tick (at most
    one poll interval), exactly as a socket attaching mid-trace-fanout
    misses the in-flight trace; :meth:`register` returns the head a
    replay must reach to close that gap."""

    def __init__(
        self,
        api,
        poll_sec: float,
        max_queue: int = 50_000,
        window_cap: int = 50_000,
    ) -> None:
        self.api = api
        self.poll_sec = poll_sec
        self.max_queue = max_queue
        self.window_cap = window_cap
        self._lock = threading.Lock()
        self._ids = itertools.count(1)
        self._subs: dict[str, dict] = {}  # reqUUID -> conn/kind/req/head
        self._queues: dict[int, deque] = {}
        self._overflow: set[int] = set()
        self._cursor: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self.last_error: Exception | None = None
        # control-journal byte offset, moved to the journal's end when
        # the first connection attaches (_open)
        self._control_offset = 0

    def close(self) -> None:
        self._stop.set()

    def attach(self, conn_id: int | None = None) -> int:
        """Give a connection (a fresh id unless one is passed) its
        queue at ACCEPT time and return the id: the reference
        io.emit()s fork_event / lib_update to every connected socket
        (ws-router.ts appendIdAndEmit), including history-only or
        not-yet-subscribed clients — so control broadcasts must not
        depend on a live registration existing."""
        with self._lock:
            if conn_id is None:
                conn_id = next(self._ids)
            self._open(conn_id)
        return conn_id

    def register(
        self, conn_id: int, req_uuid: str, kind: str, req, head: int
    ) -> int:
        """Route ``kind`` arrivals past ``head`` that match ``req`` to
        ``conn_id``'s queue. Returns the subscription's live head:
        ``head``, or the kind's cursor when a tick already scanned
        past it — a replay through that head meets the live phase
        with no gap."""
        with self._lock:
            self._open(conn_id)
            head = max(head, self._cursor.setdefault(kind, head))
            self._subs[req_uuid] = {
                "conn": conn_id,
                "kind": kind,
                "req": req,
                "head": head,
            }
        return head

    def _open(self, conn_id: int) -> None:
        """(lock held) Give ``conn_id`` a queue and make sure a poller
        runs. The first connection moves the control tail to the
        journal's end: clients only see forks/LIB advances from NOW on
        (the reference's io.emit reaches connected sockets only)."""
        if not self._queues:
            _, self._control_offset = tail_control(self.api.sf_dir, 0)
        self._queues.setdefault(conn_id, deque())
        self._ensure_poller()

    def _ensure_poller(self) -> None:
        """(lock held) (re)start the poller if it is not running — a
        crashed tick must not silently strand every live subscription
        server-wide."""
        if self._thread is None or not self._thread.is_alive():
            self._thread = threading.Thread(target=self._run, daemon=True)
            self._thread.start()

    def unregister(self, req_uuid: str) -> None:
        with self._lock:
            self._subs.pop(req_uuid, None)
            self._drop_idle_cursors()

    def unregister_conn(self, conn_id: int) -> None:
        with self._lock:
            self._subs = {
                u: s for u, s in self._subs.items() if s["conn"] != conn_id
            }
            self._queues.pop(conn_id, None)
            self._overflow.discard(conn_id)
            self._drop_idle_cursors()

    def _drop_idle_cursors(self) -> None:
        """(lock held) Forget the kind cursor once its last subscriber
        leaves: the cursor otherwise never advances while the kind is
        idle (_tick skips subscriber-less kinds), so the NEXT register
        — whose setdefault would lose to the stale value — would make
        the first tick scan and collect the entire idle gap
        (stale_cursor, head] in driver memory. With no subscriber
        there is nothing to deliver, so the correct resume point is
        the new subscription's own attach head."""
        live_kinds = {s["kind"] for s in self._subs.values()}
        for kind in list(self._cursor):
            if kind not in live_kinds:
                del self._cursor[kind]

    def drain(self, conn_id: int) -> list[tuple[str, dict, list[str]]]:
        """All queued (kind, row, reqUUIDs) for a connection; raises
        on overflow so the session drops the slow consumer."""
        if conn_id in self._overflow:
            raise ConnectionError("live queue overflow (slow consumer)")
        q = self._queues.get(conn_id)
        out: list = []
        while q:
            try:
                out.append(q.popleft())
            except IndexError:
                break
        return out

    def _run(self) -> None:
        while not self._stop.wait(self.poll_sec):
            with self._lock:
                if not self._queues:
                    # nobody attached: the next _open starts a new poller
                    self._thread = None
                    return
            try:
                self._tick()
            except Exception as e:  # noqa: BLE001 — a bad tick must
                # never kill the server-wide poller; record and retry
                # next tick (register() also restarts a dead thread)
                self.last_error = e

    def _broadcast_control(self) -> None:
        """Fan new fork_event / lib_update journal lines to EVERY
        connection queue (the reference broadcasts both to all stream
        clients: ws-router.ts:72-83, socketManager.ts:237-239). A fork
        also REWINDS the kind cursors and attach heads below the fork
        point, so the winning chain's replacement rows — whose
        sequence numbers are at or below what we already served — are
        re-scanned and re-delivered after the notice."""
        events, self._control_offset = tail_control(
            self.api.sf_dir, self._control_offset
        )
        if not events:
            return
        with self._lock:
            for ev in events:
                if ev.get("event") == "fork_event":
                    fork = int(ev["data"].get("starting_block", 0))
                    for kind in list(self._cursor):
                        self._cursor[kind] = min(
                            self._cursor[kind], fork - 1
                        )
                    for s in self._subs.values():
                        s["head"] = min(s["head"], fork - 1)
                for cid, q in self._queues.items():
                    if len(q) >= self.max_queue:
                        self._overflow.add(cid)
                    else:
                        q.append(("control", ev, []))

    def _tick(self) -> None:
        # control first: the fork notice must be queued ahead of the
        # corrected rows the rewound scan below will produce
        self._broadcast_control()
        with self._lock:
            snapshot = {u: dict(s) for u, s in self._subs.items()}
            cursors = dict(self._cursor)
        if not snapshot:
            return
        by_kind: dict[str, dict] = {}
        for u, s in snapshot.items():
            by_kind.setdefault(s["kind"], {})[u] = s["req"]
        for kind, reqs in by_kind.items():
            stream_kind = "deltas" if kind == "delta" else "actions"
            try:
                rows, cur, head = self.api.live_tagged_rows(
                    reqs,
                    cursors.get(kind, 0),
                    stream_kind,
                    window_cap=self.window_cap,
                )
            except Exception as e:  # lake mid-swap: retry next tick
                self.last_error = e
                continue
            with self._lock:
                for d, targets in rows:
                    seq = int(d.get("event_id", 0))
                    per_conn: dict[int, list[str]] = {}
                    for u in targets:
                        s = self._subs.get(u)
                        if s is not None and seq > s["head"]:
                            per_conn.setdefault(s["conn"], []).append(u)
                    for cid, uuids in per_conn.items():
                        q = self._queues.get(cid)
                        if q is None:
                            continue
                        if len(q) >= self.max_queue:
                            self._overflow.add(cid)
                        else:
                            q.append((kind, d, uuids))
                self._cursor[kind] = max(
                    cur, self._cursor.get(kind, 0)
                )
                # Catch-up progress signal: when the
                # window cap chunked this tick (cursor still behind
                # the head after a deep rewind / stale cursor), tell
                # every subscribed client how far the relay has
                # transmitted — the lastTransmittedBlock analog of
                # the reference's chunked history fill
                # (socketManager.ts:584-615) — so a client can
                # distinguish multi-tick backlog from live tail. The
                # head is the one the scan read: a file landing after
                # that read is the next tick's arrival, not a backlog.
                if self._cursor[kind] < head:
                    status = {
                        "kind": kind,
                        "lastTransmittedBlock": self._cursor[kind],
                        "headBlock": head,
                    }
                    kind_conns = {
                        s["conn"]
                        for s in snapshot.values()
                        if s["kind"] == kind
                    }
                    for cid in kind_conns:
                        q = self._queues.get(cid)
                        if q is not None and len(q) < self.max_queue:
                            q.append(("status", status, []))


def make_server(
    api: HyperionAPI, host: str = "127.0.0.1", port: int = 0
) -> ThreadingHTTPServer:
    """Build (not start) the HTTP server. ``port=0`` binds an
    ephemeral port (``server.server_address[1]`` after return)."""

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # silent under test
            pass

        def _reply(self, code: int, payload: dict) -> None:
            body = json.dumps(payload, default=str).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_POST(self) -> None:  # noqa: N802 (stdlib API name)
            """The reference accepts GET query strings AND POSTed JSON
            bodies on the same routes (fastify shared schemas) — both
            reach the same handler with one params dict."""
            n = int(self.headers.get("Content-Length", 0))
            raw = self.rfile.read(n) if n else b"{}"
            try:
                body = json.loads(raw) if raw.strip() else {}
                if not isinstance(body, dict):
                    raise ValueError("body must be a JSON object")
            except ValueError as e:
                self._reply(400, {"error": f"bad JSON body: {e}"})
                return
            # canonicalize to query-string form so typed JSON behaves
            # exactly like its GET twin: booleans become the lowercase
            # "true"/"false" the flag checks compare against, and
            # nested objects/arrays stay JSON text (a GET would carry
            # them URL-encoded the same way)
            self._dispatch(
                {
                    str(k): (
                        "true" if v is True
                        else "false" if v is False
                        else json.dumps(v) if isinstance(v, (dict, list))
                        else str(v)
                    )
                    for k, v in body.items()
                }
            )

        def do_GET(self) -> None:  # noqa: N802 (stdlib API name)
            url = urlsplit(self.path)
            self._dispatch(dict(parse_qsl(url.query)))

        def _dispatch(self, params: dict) -> None:
            url = urlsplit(self.path)
            if url.path == "/v2/stream":
                api.count_request(url.path)
                try:
                    rows = api.stream_rows(params)
                except (KeyError, ValueError) as e:
                    self._reply(400, {"error": str(e)})
                    return
                self.send_response(200)
                self.send_header("Content-Type", "text/event-stream")
                self.send_header("Cache-Control", "no-cache")
                self.end_headers()
                try:
                    for d in rows:
                        if "_idle" in d:
                            continue
                        if "_control" in d:
                            # indexer control broadcast (fork_event /
                            # lib_update) as a NAMED SSE event, so stock
                            # EventSource listeners bind by event name
                            frame = (
                                f"event: {d['_control']}\n"
                                f"data: {json.dumps(d['data'], default=str)}\n\n"
                            )
                        else:
                            frame = f"data: {json.dumps(d, default=str)}\n\n"
                        self.wfile.write(frame.encode())
                    self.wfile.write(b"event: end\ndata: {}\n\n")
                except ConnectionError:
                    pass  # the client left, or overflowed its relay queue
                finally:
                    rows.close()  # a follower leaves the relay now
                return
            handler = api.routes.get(url.path)
            if handler is None:
                self._reply(404, {"error": f"no route {url.path}"})
                return
            api.count_request(url.path)
            try:
                body = timed_query(
                    api.cache,
                    url.path,
                    params,
                    lambda: handler(params),
                )
                self._reply(200, body)
            except QueryGuardError as e:
                self._reply(400, {"error": str(e)})
            except (KeyError, ValueError) as e:
                self._reply(400, {"error": f"bad request: {e}"})
            except Exception as e:  # noqa: BLE001 — serving boundary
                # user-controlled input can reach Catalyst analysis
                # (e.g. get_table_rows filters naming an unknown
                # column): the reference 400s on filter-processing
                # errors; anything else is a 500 JSON body instead of
                # a dropped connection + handler-thread traceback
                if type(e).__name__ in (
                    "AnalysisException",
                    "PySparkValueError",
                    "PySparkTypeError",
                ):
                    self._reply(400, {"error": f"bad request: {e}"})
                else:
                    # opaque body: the detail (class + message +
                    # traceback) goes to the server log under an error
                    # id the client can quote back — exception text
                    # can carry paths/SQL fragments a serving layer
                    # must not echo to callers
                    err_id = uuid.uuid4().hex[:12]
                    logging.getLogger(__name__).exception(
                        "request %s failed [id=%s]", url.path, err_id
                    )
                    self._reply(
                        500, {"error": "internal error", "id": err_id}
                    )

    return ThreadingHTTPServer((host, port), Handler)


def serve_background(
    api: HyperionAPI, host: str = "127.0.0.1", port: int = 0
) -> tuple[ThreadingHTTPServer, threading.Thread]:
    """Start the server on a daemon thread; returns (server, thread).
    Call ``server.shutdown()`` to stop."""
    server = make_server(api, host, port)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    return server, thread
