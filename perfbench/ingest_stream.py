"""Live ingest beside reads: a file feed of event_id-shifted replicas of
``events`` (a catch-up backlog of large files, then a live tail of
~1k-event files) through ``decode_and_enrich`` and the
``make_ingest_sink`` foreachBatch sink with ``maxFilesPerTrigger=1``,
while one closed-loop HTTP client sends the API mix to the same
session."""

from __future__ import annotations

import math
import os
import threading
import time
from datetime import datetime

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import api_serve
import checks
import harness
from mix import READER_ROUTES, RequestStream

CATCHUP_FILES = 3
#: replicas of ``events`` per catch-up file: large batches, so the
#: catch-up rate is set by per-event cost more than per-trigger cost
CATCHUP_REPLICAS = 2
LIVE_FILE_EVENTS = 1_000
MIN_LIVE_FILES = 100
#: share of --seconds the live tail runs after the catch-up; the
#: catch-up takes about the rest on a 4-core host. The first live
#: batches run slower than the later ones, so a shorter tail gives a
#: batch median that varies more from run to run
LIVE_SHARE = 2 / 3
SETUP_METRIC = "streaming.ingest.startup_s"


def write_feed(events_path: str, feed_dir: str, seconds: float) -> tuple[list[str], int]:
    """Write the raw feed (ts as int64 ns, the stream's read schema);
    returns (files in arrival order, number of catch-up files). File
    mtimes increase in list order, which is the order the file source
    admits them."""
    ev = pq.read_table(events_path)
    n = ev.num_rows
    span = pc.max(ev["event_id"]).as_py() + 1
    ts_ns = ev["ts"].cast(pa.int64()).to_numpy() * 1000
    base = {
        "event_id": ev["event_id"].to_numpy(),
        "ts": ts_ns,
        "user_id": ev["user_id"].to_numpy(),
        "event_type": ev["event_type"],
        "value": ev["value"],
        "props": ev["props"],
    }

    def replica(r: int, lo: int = 0, hi: int | None = None) -> pa.Table:
        cols = {k: v[lo:hi] for k, v in base.items()}
        cols["event_id"] = cols["event_id"] + r * span
        return pa.table(cols)

    os.makedirs(feed_dir, exist_ok=True)
    files: list[str] = []
    for i in range(CATCHUP_FILES):
        files.append(os.path.join(feed_dir, f"part-{len(files):05d}.parquet"))
        reps = range(i * CATCHUP_REPLICAS, (i + 1) * CATCHUP_REPLICAS)
        pq.write_table(pa.concat_tables([replica(r) for r in reps]), files[-1])
    n_live = max(MIN_LIVE_FILES, math.ceil(seconds / 0.1))
    per_rep = max(1, n // LIVE_FILE_EVENTS)
    for i in range(n_live):
        r, k = CATCHUP_FILES * CATCHUP_REPLICAS + i // per_rep, i % per_rep
        lo = k * LIVE_FILE_EVENTS
        files.append(os.path.join(feed_dir, f"part-{len(files):05d}.parquet"))
        pq.write_table(replica(r, lo, min(n, lo + LIVE_FILE_EVENTS)), files[-1])
    now = time.time() - len(files) - 10
    for i, f in enumerate(files):
        os.utime(f, (now + i, now + i))
    return files, CATCHUP_FILES


class TimedSink:
    """Wraps the engine's sink: records when each batch's sink ran and
    skips batches admitted after the stop flag, so the run ends between
    batches. After batch ``measure_after`` commits it calls ``measure``
    once, in the stream's own thread, before the next batch can write."""

    def __init__(self, sink, tracer, measure_after: int, measure) -> None:
        self.sink = sink
        self.tracer = tracer
        self.measure_after, self.measure = measure_after, measure
        self.measured = None
        self.stop = threading.Event()
        self.idle = threading.Event()
        self.idle.set()
        self.done: dict[int, tuple[float, float]] = {}  # batch -> (start, end) wall
        self.error: BaseException | None = None

    def __call__(self, batch, batch_id: int) -> None:
        # busy before the stop check: a waiter that sees ``idle`` set
        # after setting ``stop`` knows no admitted batch is still writing
        self.idle.clear()
        try:
            if self.stop.is_set():
                return
            t0 = time.time()
            if self.tracer is None:
                self.sink(batch, batch_id)
            else:
                with self.tracer.span("streaming.ingest.sink", new_request=True):
                    self.tracer.ambient = self.tracer.current()
                    try:
                        self.sink(batch, batch_id)
                    finally:
                        self.tracer.ambient = None
            self.done[batch_id] = (t0, time.time())
            if batch_id == self.measure_after:
                self.measured = self.measure()
        except Exception as e:  # noqa: BLE001 — recorded, then re-raised into the stream
            self.error = e
            raise
        finally:
            self.idle.set()


def _wait(pred, timeout: float, what: str, sink: TimedSink, query) -> None:
    deadline = time.monotonic() + timeout
    while not pred():
        if sink.error is not None:
            raise RuntimeError(f"ingest sink failed while waiting for {what}") from sink.error
        if query is not None and query.exception() is not None:
            raise RuntimeError(f"stream failed while waiting for {what}: {query.exception()}")
        if time.monotonic() > deadline:
            raise TimeoutError(f"timed out waiting for {what}")
        time.sleep(0.02)


def start_stream(spark, feed_dir: str, out_dir: str, sink, available_now: bool = False):
    from hyperion_history_api_spark.streaming.ingest import decode_and_enrich
    from hyperion_history_api_spark.tables import EVENTS_SCHEMA_RAW, normalize_events

    raw = (
        spark.readStream.schema(EVENTS_SCHEMA_RAW)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(feed_dir)
    )
    writer = (
        decode_and_enrich(normalize_events(raw))
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", os.path.join(out_dir, "_checkpoint"))
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_ingest(spark, files: list[str], work: str, reps: int) -> list[float]:
    """Start the ingest stream ``reps`` times, each on a fresh output
    and checkpoint, and run it until one live-size file is committed;
    returns the wall time of each start-up. The first also warms the JVM
    for the timed stream."""
    from hyperion_history_api_spark.streaming.ingest import make_ingest_sink

    feed = os.path.join(work, "startup_feed")
    os.makedirs(feed, exist_ok=True)
    last = files[-1]
    os.link(last, os.path.join(feed, os.path.basename(last)))
    walls = []
    for i in range(reps):
        out = os.path.join(work, f"startup{i}")
        t0 = time.perf_counter()
        sink, _ = make_ingest_sink(spark, out)
        q = start_stream(spark, feed, out, sink, available_now=True)
        q.awaitTermination(120)
        q.stop()
        walls.append(time.perf_counter() - t0)
    return walls


def _trigger_start(progress: dict) -> float:
    return datetime.fromisoformat(progress["timestamp"].replace("Z", "+00:00")).timestamp()


def _job_ids(tracker, groups) -> set[int]:
    out: set[int] = set()
    for g in groups:
        out.update(tracker.getJobIdsForGroup(g))
    return out


def stored_bytes(paths: dict) -> int:
    """Bytes the sink keeps: the action log, user state and rollups."""
    return sum(harness.dir_bytes(paths[k]) for k in ("action_log", "user_state", "block_rollups"))


def _count_parquet(path: str) -> int:
    return sum(1 for _, _, fs in os.walk(path) for f in fs if f.endswith(".parquet"))


def run(spark, args, dirs, sizes, tracer) -> harness.Outcome:
    import spans as sp
    from hyperion_history_api_spark.streaming.ingest import make_ingest_sink, read_state

    sf_dir = dirs.data
    feed_dir = os.path.join(dirs.work, "feed")
    files, n_catchup = write_feed(os.path.join(sf_dir, "events.parquet"), feed_dir, args.seconds)

    api, server, thread = api_serve.start_server(spark, sf_dir)
    query = None
    try:
        port = server.server_address[1]
        # routes first, so the stream start-ups all run on a warm JVM
        t0 = time.perf_counter()
        api_serve.warm_routes(port, args.seed, sizes, READER_ROUTES)
        warm_s = time.perf_counter() - t0
        walls = start_ingest(spark, files, dirs.work, harness.SETUP_REPS)
        api_serve.reset_cache(api)

        out_dir = os.path.join(dirs.work, "ingest")
        engine_sink, paths = make_ingest_sink(spark, out_dir)
        # stored bytes are taken once the catch-up backlog is committed,
        # so they do not depend on how many live batches fit the window
        sink = TimedSink(engine_sink, tracer, n_catchup - 1, lambda: stored_bytes(paths))
        if tracer is not None:
            sp.install_api(tracer)
            sp.install_http_handler(tracer, server)
            sp.install_ingest(tracer)
            sp.tag_reader_jobs(tracer, server, spark)

        stop_reader = threading.Event()
        reader = api_serve.ClientLoop(port, RequestStream(args.seed, 0, sizes, routes=READER_ROUTES), stop_reader)
        reader.start()
        r0 = time.perf_counter()
        stream_t0 = time.time()
        query = start_stream(spark, feed_dir, out_dir, sink)
        _wait(lambda: all(b in sink.done for b in range(n_catchup)), 150, "catch-up", sink, query)
        catchup_end = sink.done[n_catchup - 1][1]
        tracker = spark.sparkContext.statusTracker()
        groups = [str(query.runId), None]
        jobs_before = _job_ids(tracker, groups) if tracer is not None else set()
        files_before = _count_parquet(out_dir)
        time.sleep(max(0.0, LIVE_SHARE * args.seconds - (time.time() - catchup_end)))
        sink.stop.set()
        _wait(sink.idle.is_set, 120, "the last live batch", sink, query)
        live_ids = sorted(b for b in sink.done if b >= n_catchup)
        jobs_live = (_job_ids(tracker, groups) - jobs_before) if tracer is not None else set()
        progress = {p["batchId"]: p for p in query.recentProgress}
        query.stop()
        query = None
        stop_reader.set()
        reader.join(timeout=120)
        reader_wall = time.perf_counter() - r0
        if reader.error is not None:
            raise reader.error
        hits, misses = api.cache.hits, api.cache.misses
        if tracer is not None:
            tracer.restore()
        records = reader.records

        # -- correctness, outside the timed region ----------------------
        chk = harness.Checks()
        api_serve.tally(records, chk)
        api_serve.verify_sample(records, sf_dir, args.seed, chk)
        n_batches = n_catchup + len(live_ids)
        fed = files[:n_batches]
        chk.attempted += n_batches
        exp = checks.expect_ingest(fed)
        state = read_state(spark, paths["user_state"]).select("user_id", "event_id", "value").collect()
        got = checks.observe_ingest(paths["action_log"], [(r[0], r[1], round(r[2], 4)) for r in state])
        log_errs, state_errs = checks.check_ingest(got, exp)
        chk.verify("ingest_log", log_errs)
        chk.verify("user_state", state_errs)
        chk.checked["ingest_log_rows"] = got["rows"]
        chk.checked["user_state_rows"] = len(state)

        # -- metrics ---------------------------------------------------------
        catchup_events = sum(pq.ParquetFile(f).metadata.num_rows for f in files[:n_catchup])
        events_in = sum(pq.ParquetFile(f).metadata.num_rows for f in fed)
        lat = [sink.done[b][1] - _trigger_start(progress[b]) for b in live_ids if b in progress] or [0.0]
        req = api_serve.request_metrics(records, reader_wall)
        e2e = {
            "requests_per_s": req["requests_per_s"],
            "request_p50_ms": req["request_p50_ms"],
            "request_p90_ms": req["request_p90_ms"],
            "ingest_events_per_s": catchup_events / (catchup_end - stream_t0),
            "batch_p50_s": harness.median(lat),
            "stored_bytes_per_event": sink.measured / catchup_events,
        }
        layer: dict[str, float] = {}
        if tracer is not None:
            layer = api_serve.api_layers(tracer, records, hits, misses)
            layer.update(ingest_layers(tracer, progress, live_ids, jobs_live, tracker))
            layer["streaming.ingest.files_per_batch"] = (_count_parquet(out_dir) - files_before) / max(1, len(live_ids))
            layer["streaming.state_store.rows"] = float(len(state))
            layer["trace.overhead_pct"] = api_serve.trace_overhead_pct(tracer, reader_wall)
            layer.update(api_serve.spark_work_per_route(api, spark, args.seed, sizes, READER_ROUTES))
        extra = {
            "requests": req["n"],
            "live_batches": len(live_ids),
            "catchup_events": catchup_events,
            "events_ingested": events_in,
            "cache_hits": hits,
            "cache_lookups": hits + misses,
            "ingest_startup_walls_s": [round(w, 3) for w in walls],
        }
        return harness.Outcome(e2e, layer, chk, SETUP_METRIC, walls, warm_s, extra)
    finally:
        if query is not None:
            query.stop()
        api_serve.stop_server(server, thread)


def ingest_layers(tracer, progress: dict, live_ids: list[int], jobs: set[int], tracker) -> dict[str, float]:
    from metrics import PHASES

    live = [progress[b] for b in live_ids if b in progress]
    out: dict[str, float] = {}
    for ph in PHASES:
        vals = [p["durationMs"].get(ph, 0) for p in live]
        out[f"streaming.progress.{ph}_ms"] = harness.median(vals) if vals else 0.0
    rps = [p.get("processedRowsPerSecond", 0.0) for p in live]
    out["streaming.progress.processed_rows_per_s"] = harness.median(rps) if rps else 0.0

    # sink and leg spans of the live batches only (the last len(live) sinks)
    sinks = sorted((s for s in tracer.spans if s[1] == "streaming.ingest.sink"), key=lambda s: s[2])[-len(live_ids):] if live_ids else []
    ids = {s[0] for s in sinks}
    sink_ms = [(s[3] - s[2]) * 1000 for s in sinks]
    out["streaming.ingest.sink_ms"] = harness.median(sink_ms) if sink_ms else 0.0
    legs = {
        "streaming.ingest.log_write_ms": "streaming.ingest.log_write",
        "streaming.state_store.apply_batch_ms": "streaming.state_store.apply_batch",
        "streaming.ingest.rollup_write_ms": "streaming.ingest.rollup_write",
    }
    leg_total = 0.0
    for metric, name in legs.items():
        d = [(s[3] - s[2]) * 1000 for s in tracer.spans if s[1] == name and s[4] in ids]
        out[metric] = harness.median(d) if d else 0.0
        leg_total += sum(d)
    out["streaming.ingest.legs_over_sink"] = leg_total / max(sum(sink_ms), 1e-9)
    n = max(1, len(live_ids))
    tasks = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            st = tracker.getStageInfo(sid)
            tasks += st.numTasks if st else 0
    out["spark.jobs_per_batch"] = len(jobs) / n
    out["spark.tasks_per_batch"] = tasks / n
    return out
