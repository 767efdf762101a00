"""The API read path: ``HyperionAPI`` behind ``serve_background``,
driven over HTTP by closed-loop clients that send the seeded mix."""

from __future__ import annotations

import http.client
import json
import threading
import time
from dataclasses import dataclass
from urllib.parse import urlencode

import checks
import harness
import headline
from mix import EXPECT, PATH, ROUTES, Request, RequestStream

#: nested lake tables the mix reads (``model=hyperion`` get_actions)
LAKE_TABLES = ("actions",)


@dataclass
class Record:
    kind: str
    params: dict
    latency_s: float
    status: int
    cached: bool
    server_ms: float | None
    rows: int  # result rows in the body (actions, deltas, state rows, ...)
    body: dict | None


def build_lake(spark, sf_dir: str, tables=LAKE_TABLES) -> float:
    """Materialize nested lake tables (by default the ones the
    ``model=hyperion`` route reads) into ``$SPARK_GRAFT_LAKE_DIR``;
    returns the wall time."""
    from hyperion_history_api_spark.sources import lake

    t0 = time.perf_counter()
    for name in tables:
        lake.lake_table(spark, sf_dir, name)
    return time.perf_counter() - t0


def start_server(spark, sf_dir: str):
    from hyperion_history_api_spark.api.http_server import HyperionAPI, serve_background

    api = HyperionAPI(spark, sf_dir)
    server, thread = serve_background(api)
    return api, server, thread


def start_servers(spark, sf_dir: str, reps: int):
    """Open the API ``reps`` times, each until its first ``/v2/health``
    answer; all but the last are shut down again. Returns the last
    (api, server, thread) and each start-up's wall time."""
    walls = []
    for i in range(reps):
        t0 = time.perf_counter()
        api, server, thread = start_server(spark, sf_dir)
        status, _, _ = send(server.server_address[1], "/v2/health", {})
        walls.append(time.perf_counter() - t0)
        if status != 200:
            stop_server(server, thread)
            raise RuntimeError(f"/v2/health answered {status}")
        if i < reps - 1:
            stop_server(server, thread)
    return api, server, thread, walls


def stop_server(server, thread) -> None:
    server.shutdown()
    server.server_close()
    thread.join(timeout=30)


def reset_cache(api) -> None:
    """A fresh response cache with the shipped TTLs (empty, zero hits)."""
    from hyperion_history_api_spark.api.serving_cache import DEFAULT_TTLS, ResponseCache

    api.cache = ResponseCache(ttls=dict(DEFAULT_TTLS))


def send(port: int, path: str, params: dict) -> tuple[int, dict, float]:
    t0 = time.perf_counter()
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
    try:
        conn.request("GET", f"{path}?{urlencode(params)}")
        resp = conn.getresponse()
        raw = resp.read()
        status = resp.status
    finally:
        conn.close()
    latency = time.perf_counter() - t0
    return status, json.loads(raw) if raw else {}, latency


class ClientLoop(threading.Thread):
    """One closed-loop client: sends its next request only after the
    previous reply arrived, until ``stop`` is set."""

    def __init__(self, port: int, stream: RequestStream | SharedStream, stop: threading.Event) -> None:
        super().__init__(daemon=True)
        self.port, self.stream, self.stop_event = port, stream, stop
        self.records: list[Record] = []
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            while not self.stop_event.is_set():
                req = self.stream.next()
                try:
                    status, body, lat = send(self.port, req.path, req.params)
                except (OSError, http.client.HTTPException, ValueError) as e:
                    self.records.append(Record(req.kind, req.params, 0.0, -1, False, None, 0, {"error": repr(e)}))
                    continue
                # bodies are kept only for the routes checked afterwards
                keep = req.kind in checks.CHECKED_KINDS and status == 200
                self.records.append(
                    Record(
                        req.kind,
                        req.params,
                        lat,
                        status,
                        bool(body.get("cached", False)),
                        body.get("query_time_ms"),
                        sum(len(v) for v in body.values() if isinstance(v, list)),
                        body if keep else None,
                    )
                )
        except Exception as e:  # noqa: BLE001 — re-raised by run_clients
            self.error = e


class SharedStream:
    """One request sequence that several clients draw from in turn."""

    def __init__(self, stream: RequestStream) -> None:
        self.stream, self.lock = stream, threading.Lock()

    def next(self) -> Request:
        with self.lock:
            return self.stream.next()


def run_clients(port: int, seed: int, sizes: dict, n_clients: int, seconds: float):
    """Run ``n_clients`` closed loops for ``seconds``, all drawing from one
    seeded request sequence; returns (records, wall). The requests in
    flight then lie close together in the interleaved route cycle, so
    slow routes do not pile up as independent clients drift apart, and
    the tail latency varies less from run to run."""
    stop = threading.Event()
    stream = SharedStream(RequestStream(seed, 0, sizes))
    loops = [ClientLoop(port, stream, stop) for _ in range(n_clients)]
    t0 = time.perf_counter()
    for c in loops:
        c.start()
    stop.wait(seconds)
    stop.set()
    for c in loops:
        c.join(timeout=120)
    wall = time.perf_counter() - t0
    for c in loops:
        if c.error is not None:
            raise c.error
    return [r for c in loops for r in c.records], wall


def warm_routes(port: int, seed: int, sizes: dict, routes=ROUTES) -> None:
    """Send every route of the mix once, two at a time, with keys from a
    stream no timed client uses."""
    from concurrent.futures import ThreadPoolExecutor

    stream = RequestStream(seed, 1_000, sizes)
    reqs = [stream.request(kind) for kind, _, _, _ in routes]
    with ThreadPoolExecutor(max_workers=2) as pool:
        for f in [pool.submit(send, port, r.path, r.params) for r in reqs]:
            f.result()


def tally(records: list[Record], chk: harness.Checks) -> None:
    """Count every request; a wrong status is a failed request."""
    for r in records:
        chk.attempted += 1
        if r.status != EXPECT[r.kind]:
            chk.failed += 1
            chk.errors.append(f"{r.kind} {r.params}: status {r.status}")


def verify_sample(records: list[Record], sf_dir: str, seed: int, chk: harness.Checks, per_kind: int = 8) -> None:
    """Compare a seeded sample of page, transaction and table-state
    responses with DuckDB over the same parquet."""
    import numpy as np

    rng = np.random.default_rng([seed, 77])
    con = checks.connect(sf_dir)
    try:
        for kind in checks.CHECKED_KINDS:
            pool = [r for r in records if r.kind == kind and r.body is not None]
            if not pool:
                continue
            pick = rng.choice(len(pool), size=min(per_kind, len(pool)), replace=False)
            for i in sorted(int(x) for x in pick):
                r = pool[i]
                chk.verify(kind, checks.check_response(con, kind, r.params, r.body))
    finally:
        con.close()


def request_metrics(records: list[Record], wall: float) -> dict[str, float]:
    ok = [r for r in records if r.status == EXPECT[r.kind]]
    lat_ms = [r.latency_s * 1000.0 for r in ok] or [0.0]
    return {
        "requests_per_s": len(ok) / wall,
        "request_p50_ms": harness.quantile(lat_ms, 0.5),
        "request_p90_ms": harness.quantile(lat_ms, 0.9),
        "rows_per_s": sum(r.rows for r in ok) / wall,
        "n": len(ok),
    }


def engine_metrics(records: list[Record]) -> dict[str, float]:
    """Server-side time of the requests that ran Spark work (cache
    misses answered 200), in seconds."""
    eng = [r.server_ms / 1000.0 for r in records if r.status == 200 and not r.cached and r.server_ms]
    eng = eng or [0.0]
    return {"batch_p50_s": harness.median(eng), "n": len(eng)}


def route_p50(records: list[Record]) -> dict[str, float]:
    out = {}
    for kind, _, _, _ in ROUTES:
        lat = [r.latency_s * 1000.0 for r in records if r.kind == kind and r.status == EXPECT[kind]]
        out[kind] = harness.quantile(lat, 0.5) if lat else 0.0
    return out


def http_overhead_ms(records: list[Record]) -> float:
    """Median of client latency minus the body's ``query_time_ms``."""
    d = [r.latency_s * 1000.0 - r.server_ms for r in records if r.status == 200 and r.server_ms is not None]
    return harness.median(d) if d else 0.0


def spark_work_per_route(api, spark, seed: int, sizes: dict, routes=ROUTES, per_route: int = 1) -> dict[str, float]:
    """Spark jobs, stages and tasks per uncached request, counted with a
    job group around each handler call made from this thread; the
    per-request figures are weighted by the mix."""
    from hyperion_history_api_spark.plans.predicates import QueryGuardError

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    stream = RequestStream(seed, 2_000, sizes)
    handlers = api.routes
    per_kind: dict[str, tuple[float, float, float]] = {}
    share = {kind: n / sum(r[1] for r in routes) for kind, n, _, _ in routes}
    for kind, _, _, _ in routes:
        jobs = stages = tasks = 0
        for i in range(per_route):
            req = stream.request(kind)
            group = f"perfbench-{kind}-{i}"
            sc.setJobGroup(group, group)
            try:
                handlers[PATH[kind]](req.params)
            except (QueryGuardError, KeyError, ValueError):
                pass  # the guarded route answers 400 before any job
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            for jid in tracker.getJobIdsForGroup(group):
                jobs += 1
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    stages += 1
                    st = tracker.getStageInfo(sid)
                    tasks += st.numTasks if st else 0
        per_kind[kind] = (jobs / per_route, stages / per_route, tasks / per_route)
    return {
        "spark.jobs_per_request": sum(share[k] * v[0] for k, v in per_kind.items()),
        "spark.stages_per_request": sum(share[k] * v[1] for k, v in per_kind.items()),
        "spark.tasks_per_request": sum(share[k] * v[2] for k, v in per_kind.items()),
    }


ROOT = "api.http_server.dispatch"


def api_layers(tracer, records: list[Record], hits: int, misses: int) -> dict[str, float]:
    """Per-request layer times from the spans of the timed loop."""
    n = max(1, tracer.count(ROOT))
    layer = {
        "api.http_server.overhead_ms": http_overhead_ms(records),
        "tables.load_tables_ms": tracer.total_ms_under("tables.load_tables", ROOT) / n,
        "plans.predicates.compile_ms": tracer.total_ms_under("plans.predicates.compile", ROOT) / n,
        "api.envelope.ms": tracer.total_ms_under("api.envelope", ROOT) / n,
        "spark.action_ms_per_request": tracer.total_ms_under("spark.action", ROOT) / n,
        "api.serving_cache.hit_ratio": hits / max(1, hits + misses),
        "api.serving_cache.lookups": float(hits + misses),
    }
    layer.update({f"api.http_routes.{k}.p50_ms": v for k, v in route_p50(records).items()})
    return layer


def trace_overhead_pct(tracer, wall_s: float) -> float:
    """Estimated share of the traced window spent recording spans:
    spans recorded x measured cost of one span, over its wall time."""
    return 100.0 * len(tracer.spans) * tracer.per_span_cost_s() / max(wall_s, 1e-9)


N_CLIENTS = 4
SETUP_METRIC = "api.server.start_s"


def run(spark, args, dirs, sizes, tracer) -> harness.Outcome:
    import os

    import spans as sp

    sf_dir = dirs.data
    api, server, thread, walls = start_servers(spark, sf_dir, harness.SETUP_REPS)
    try:
        port = server.server_address[1]
        # warm every route but the lake-backed one first, so the lake
        # build below runs on a warm JVM
        t0 = time.perf_counter()
        warm_routes(port, args.seed, sizes, [r for r in ROUTES if r[0] != "get_actions-hyperion"])
        warm_s = time.perf_counter() - t0
        lake_s = build_lake(spark, sf_dir)
        lake_bytes = harness.dir_bytes(os.environ["SPARK_GRAFT_LAKE_DIR"])
        t0 = time.perf_counter()
        warm_routes(port, args.seed, sizes, [r for r in ROUTES if r[0] == "get_actions-hyperion"])
        warm_s += time.perf_counter() - t0
        reset_cache(api)
        if tracer is not None:
            sp.install_api(tracer)
            sp.install_http_handler(tracer, server)
        records, wall = run_clients(port, args.seed, sizes, N_CLIENTS, args.seconds)
        hits, misses = api.cache.hits, api.cache.misses
        if tracer is not None:
            tracer.restore()
        chk = harness.Checks()
        tally(records, chk)
        verify_sample(records, sf_dir, args.seed, chk)
        req = request_metrics(records, wall)
        eng = engine_metrics(records)
        e2e = {
            "requests_per_s": req["requests_per_s"],
            "request_p50_ms": req["request_p50_ms"],
            "request_p90_ms": req["request_p90_ms"],
            "ingest_events_per_s": req["rows_per_s"],
            "batch_p50_s": eng["batch_p50_s"],
            "stored_bytes_per_event": lake_bytes / sizes["events"],
        }
        layer: dict[str, float] = {}
        if tracer is not None:
            layer = api_layers(tracer, records, hits, misses)
            layer["trace.overhead_pct"] = trace_overhead_pct(tracer, wall)
            layer.update(spark_work_per_route(api, spark, args.seed, sizes))
            layer.update(headline.run(spark, sf_dir, args.seed, chk))
        extra = {
            "requests": req["n"],
            "engine_requests": eng["n"],
            "cache_hits": hits,
            "cache_lookups": hits + misses,
            "server_start_walls_s": [round(w, 3) for w in walls],
        }
        return harness.Outcome(
            e2e, layer, chk, SETUP_METRIC, walls, warm_s, extra, {"sources.lake.build_s": lake_s}
        )
    finally:
        stop_server(server, thread)
