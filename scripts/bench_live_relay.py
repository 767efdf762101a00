"""LiveRelay fan-out bench.

The scale claim: ONE routed scan per kind per tick serves every
connection's live subscriptions (api/http_server.py LiveRelay, the
one relay SSE, WS and Socket.IO followers share), so per-tick cost is
flat in connection count. This bench measures it directly: N in {1,
8, 32, 64} connections, each holding a mixed action/delta live
subscription with its own filter, against a mutable sf0.1 events
lake.

Per N it reports, over T relay ticks driven manually (no wall-clock
poll wait — we time the tick body itself):

- idle_tick_sec / idle_tick_jobs: tick on an unchanged lake
  (ZERO Spark jobs — the fingerprint-memoized head proves
  the window empty)
- arrival_tick_sec / arrival_tick_jobs: tick right after a spool file
  lands (expected: exactly ONE routed-scan job per kind present,
  +1 head-max job on the first tick that sees the new file)
- rows_routed / queue depth totals

Usage: python scripts/bench_live_relay.py [sf_dir] [out.json]
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession, functions as F


def make_lake(sf_dir: str, tmp: str) -> tuple[str, str]:
    lake = os.path.join(tmp, "lake")
    evdir = os.path.join(lake, "events.parquet")
    os.makedirs(evdir)
    shutil.copy(
        os.path.join(sf_dir, "events.parquet"),
        os.path.join(evdir, "part-000.parquet"),
    )
    for t in (
        "region nation customer supplier part orders lineitem "
        "documents embeddings"
    ).split():
        shutil.copy(
            os.path.join(sf_dir, f"{t}.parquet"),
            os.path.join(lake, f"{t}.parquet"),
        )
    return lake, evdir


def jobs_in(sc, group: str) -> int:
    return len(sc.statusTracker().getJobIdsForGroup(group))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    out_path = sys.argv[2] if len(sys.argv) > 2 else "LIVE_RELAY_BENCH_r12.json"
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .appName("live-relay-bench")
        .getOrCreate()
    )
    sc = spark.sparkContext
    from hyperion_history_api_spark.api.http_server import HyperionAPI, LiveRelay
    from hyperion_history_api_spark.api.serving_cache import ResponseCache
    from hyperion_history_api_spark.tables import load_tables

    results: dict = {
        "bench": "live_relay_fanout",
        "sf_dir": sf_dir,
        "tick_default_sec": 0.5,
        "connections": {},
    }
    grp = [0]

    for n_conn in (1, 8, 32, 64):
        tmp = tempfile.mkdtemp(prefix="relaybench-")
        lake, evdir = make_lake(sf_dir, tmp)
        head = int(
            load_tables(spark, lake)["events"]
            .agg(F.max("event_id"))
            .first()[0]
        )
        api = HyperionAPI(spark, lake, cache=ResponseCache(default_ttl=0))
        relay = LiveRelay(api, poll_sec=0.5)
        relay.close()  # ticks are driven manually below; the poller
        # thread register() spawns exits immediately on the stop flag
        # mixed subscriptions: half actions, half deltas, each with its
        # own routing key + field filter (distinct compiled predicates)
        for i in range(n_conn):
            kind = "action" if i % 2 == 0 else "delta"
            params = {"account": str(i % 10), "filters": json.dumps(
                [{"field": "value", "operator": "gte", "value": i % 7}]
            )}
            if kind == "delta":
                params["stream"] = "deltas"
            req, _k = api.parse_stream_request(params)
            relay.register(i, f"req-{i}", kind, req, head)

        def timed_tick() -> tuple[float, int]:
            grp[0] += 1
            g = f"relay-tick-{n_conn}-{grp[0]}"
            sc.setJobGroup(g, "relay tick")
            t0 = time.perf_counter()
            relay._tick()
            dt = time.perf_counter() - t0
            sc.setJobGroup("idle", "")
            return dt, jobs_in(sc, g)

        # warm: first tick pays session/scan warmup
        timed_tick()
        # idle ticks (lake unchanged)
        idle = [timed_tick() for _ in range(9)]
        # arrival ticks: land one spool file, tick, repeat
        arrival = []
        routed_totals = []
        for wave in range(5):
            base = head + 1 + wave * 20
            rows = [
                (base + j, j % 10, "click" if j % 2 == 0 else "view",
                 float(j))
                for j in range(20)
            ]
            spark.createDataFrame(
                rows,
                "event_id long, user_id long, event_type string, "
                "value double",
            ).withColumn(
                "ts", F.timestamp_micros(F.lit(1_700_000_000_000_000))
            ).withColumn(
                "props", F.lit('{"k": 1}')
            ).coalesce(1).write.mode("append").parquet(evdir)
            arrival.append(timed_tick())
            depth = sum(len(q) for q in relay._queues.values())
            routed_totals.append(depth)
            for cid in list(relay._queues):
                relay._queues[cid].clear()
        results["connections"][str(n_conn)] = {
            "subs": n_conn,
            "idle_tick_sec_median": round(
                statistics.median(t for t, _ in idle), 4
            ),
            "idle_tick_jobs_max": max(j for _, j in idle),
            "arrival_tick_sec_median": round(
                statistics.median(t for t, _ in arrival), 4
            ),
            "arrival_tick_sec_all": [round(t, 4) for t, _ in arrival],
            "arrival_tick_jobs": [j for _, j in arrival],
            "queued_rows_per_wave": routed_totals,
        }
        print(
            f"n={n_conn}: idle "
            f"{results['connections'][str(n_conn)]['idle_tick_sec_median']}s/"
            f"{results['connections'][str(n_conn)]['idle_tick_jobs_max']}j, "
            f"arrival "
            f"{results['connections'][str(n_conn)]['arrival_tick_sec_median']}s "
            f"jobs={results['connections'][str(n_conn)]['arrival_tick_jobs']}",
            flush=True,
        )
        shutil.rmtree(tmp, ignore_errors=True)

    c = results["connections"]
    flat = c["64"]["arrival_tick_sec_median"] <= max(
        2.5 * c["1"]["arrival_tick_sec_median"], 0.5
    )
    results["flat_vs_connections"] = bool(flat)
    results["idle_zero_jobs_all"] = all(
        v["idle_tick_jobs_max"] == 0 for v in c.values()
    )
    with open(out_path, "w") as f:
        json.dump(results, f, indent=1)
    print(json.dumps({
        "flat_vs_connections": results["flat_vs_connections"],
        "idle_zero_jobs_all": results["idle_zero_jobs_all"],
    }))


if __name__ == "__main__":
    main()
