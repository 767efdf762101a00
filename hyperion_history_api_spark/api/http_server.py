"""In-process HTTP serving layer — the fastify REST surface
(``src/api/routes.ts:18-25``, handlers under ``src/api/routes/``) and
the Socket.IO relay's bounded-replay path
(``src/api/socketManager.ts:409-495``) served over stdlib
``http.server``, with Server-Sent Events standing in for the
Socket.IO frames (no websocket library exists in this environment;
SSE is the same one-directional push shape the relay uses for
replays).

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

import json
import logging
import math
import threading
import uuid
from functools import partial
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qsl, urlsplit

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.predicates import QueryGuardError
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

    # -- SSE stream (socketManager.ts replay path) -------------------------
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
        past-range requests; ``follow=true`` is the replay→live
        switchover on the serving surface (socketManager.ts: history
        replay, then the relay pushes arrivals): after draining the
        current head the handler re-lists the lake every ``poll_sec``
        and pushes rows past the last served sequence — the same
        predicate, a fresh pruned scan per poll (the scan reads only
        ``event_id > last`` row groups, so a poll on an idle lake is
        metadata-cheap). The tail ends at ``read_until`` or after
        ``idle_timeout`` seconds without arrivals."""
        # parse/validate EAGERLY — this function must raise for bad
        # params BEFORE the handler commits a 200 + event-stream
        # header (a generator would defer the int()/float() failures
        # into mid-stream); read_until=0 is the reference's
        # "no end" convention (filters.py:compile_request skips the
        # bound the same way)
        req, kind = self.parse_stream_request(params)
        if (req.start_from or 0) < 0 or (req.read_until or 0) < 0:
            req = self.resolve_relative_bounds(req, self.head_block())
        read_until = req.read_until if req.read_until else None
        follow = params.get("follow") == "true"
        poll_sec = float(params.get("poll_sec", "0.5"))
        idle_timeout = float(params.get("idle_timeout", "30"))
        # a bad value would otherwise fail in time.sleep after the 200,
        # or (nan) never time out on an idle lake
        if not (math.isfinite(poll_sec) and poll_sec > 0):
            raise ValueError(f"poll_sec must be finite and > 0, got {poll_sec}")
        if not (math.isfinite(idle_timeout) and idle_timeout >= 0):
            raise ValueError(
                f"idle_timeout must be finite and >= 0, got {idle_timeout}"
            )
        mark_filtered = str(params.get("mark_filtered", "")).lower() in (
            "true",
            "1",
        )
        return self._stream_iter(
            req,
            read_until,
            follow,
            poll_sec,
            idle_timeout,
            kind=kind,
            mark_filtered=mark_filtered,
        )

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

    def _stream_iter(
        self,
        req,
        read_until,
        follow,
        poll_sec,
        idle_timeout,
        *,
        kind="actions",
        mark_filtered=False,
    ):
        import time as _time

        last = (req.start_from or 0) - 1
        deadline = _time.monotonic() + idle_timeout
        # control-event tail (fork_event / lib_update): follow-mode
        # subscribers get the indexer's control broadcasts interleaved
        # with rows, exactly the reference's io.emit forwarding
        # (ws-router.ts:72-83). Start at the journal's current end —
        # history replays don't re-announce old forks.
        from ..streaming.control_log import tail_control

        _, control_at = tail_control(self.sf_dir, 0)

        def batch(after: int):
            ev, cols, schema = self._stream_frame(kind)
            if mark_filtered:
                # the reference's scroll counts docs that matched the
                # PRIMARY query (routing keys + block range) but were
                # dropped by the on-demand field filters
                # (functions.ts:226-247 filterCount) — so scan on the
                # routing predicate and FLAG filter failures instead
                # of hiding them; the consumer reports `filtered` and
                # still advances lastTransmittedBlock over them
                from dataclasses import replace as _replace

                routing = compile_request(
                    ev, _replace(req, filters=()), schema
                )
                full = compile_request(ev, req, schema)
                return (
                    ev.where(routing & (F.col("event_id") > after))
                    .withColumn("_filtered", ~full)
                    .orderBy("event_id")
                    .select(*cols, "_filtered")
                )
            return (
                ev.where(
                    compile_request(ev, req, schema)
                    & (F.col("event_id") > after)
                )
                .orderBy("event_id")
                .select(*cols)
            )

        while True:
            if follow:
                # control events FIRST: a fork must reach the client
                # before the corrected rows from the post-fork rescan
                events, control_at = tail_control(self.sf_dir, control_at)
                if events:
                    # control traffic is stream activity: an indexer
                    # mid-fork must not be idle-timed-out before its
                    # corrected rows land
                    deadline = _time.monotonic() + idle_timeout
                for ev in events:
                    if ev.get("event") == "fork_event":
                        fork = int(ev["data"].get("starting_block", 0))
                        # rewind: replacement rows land BELOW the
                        # cursor and must be re-delivered
                        last = min(last, fork - 1)
                    yield {
                        "_control": ev.get("event"),
                        "data": ev.get("data", {}),
                    }
            got_any = False
            # idle-poll short-circuit: the fingerprint-memoized head
            # (pure os.stat on an unchanged lake) proves an empty
            # window — a follow-mode subscriber on an idle lake costs
            # ZERO Spark jobs per poll
            if self.head_block() <= last:
                if read_until is not None and last >= read_until:
                    return
                if not follow:
                    return
                if _time.monotonic() >= deadline:
                    return
                _time.sleep(poll_sec)
                continue
            # toLocalIterator: one partition in flight — the driver
            # never holds the whole replay (same scroll discipline
            # as O7)
            for row in batch(last).toLocalIterator():
                d = row.asDict()
                d["ts"] = str(d["ts"])
                last = d["event_id"]
                got_any = True
                yield d
            if read_until is not None and last >= read_until:
                return
            if not follow:
                return
            if got_any:
                deadline = _time.monotonic() + idle_timeout
            elif _time.monotonic() >= deadline:
                return
            _time.sleep(poll_sec)

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
        from dataclasses import replace as _replace

        changes: dict = {}
        if req.start_from is not None and req.start_from < 0:
            changes["start_from"] = head + req.start_from
        if req.read_until is not None and req.read_until < 0:
            changes["read_until"] = head + req.read_until
        return _replace(req, **changes) if changes else req

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
    ) -> tuple[list, int]:
        """One poll of the live relay: rows past ``after`` tagged with
        the reqUUIDs they match (the vectorized ws-router fan-out,
        streaming/filters.py:route_to_subscribers — ONE codegen'd
        pass over the new rows regardless of subscription count).

        Returns ``(rows, new_cursor)`` where rows are
        ``(row_dict, [req_uuids])`` in sequence order — non-matching
        rows are scanned (they advance the cursor; the next poll must
        not re-read them) but not returned — and ``new_cursor`` is
        the highest sequence scanned (``after`` when idle).
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
            return [], after
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
        from dataclasses import replace as _replace

        live_reqs = {
            u: _replace(r, start_from=None, read_until=None)
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
        return out, cursor


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
                for d in rows:
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
