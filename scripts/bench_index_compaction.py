"""Probe-latency-flatness bench for the streaming dedup index: run
>= 20 delta commits against a ``DedupIndexStore`` twice — once
append-only (no compaction) and once with auto-compaction every K
commits — timing each wave's ``incremental_pairs`` probe and
tracking per-frame file counts.

What 100-TB behavior this measures: every ``commit_delta`` adds a few
small parquet files per frame; a probe opens every file of every
frame, so uncompacted probe latency creeps with commit count while
the compacted store stays flat (the ES segment-merge effect the
reference gets from lifecycleManager.ts:18-60).

Writes one JSON artifact (default ``COMPACTION_BENCH_r05.json``):
per-wave probe seconds and file counts for both runs, plus
first-half/second-half medians so flatness is a number, not a chart.
Compaction writes ``DedupIndexStore.COMPACT_TARGET_FILES`` files per
frame; the artifact records that value.

Usage: python scripts/bench_index_compaction.py [sf_dir] [out_json]
       [waves] [compact_every]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_json = (
        sys.argv[2]
        if len(sys.argv) > 2
        else os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "COMPACTION_BENCH_r05.json",
        )
    )
    waves = int(sys.argv[3]) if len(sys.argv) > 3 else 22
    compact_every = int(sys.argv[4]) if len(sys.argv) > 4 else 5

    import shutil
    import tempfile

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from hyperion_history_api_spark.operators.dedup import (
        build_dedup_index,
        dedup_index_delta,
        incremental_pairs,
    )
    from hyperion_history_api_spark.streaming.dedup_ingest import (
        DedupIndexStore,
    )
    from hyperion_history_api_spark.tables import load_tables

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .appName("bench-index-compaction")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    docs = (
        load_tables(spark, sf_dir)["documents"]
        .select("doc_id", "text")
        .persist()
    )
    docs.count()

    def run(ce: int | None) -> tuple[dict, object, str]:
        tmp = tempfile.mkdtemp(prefix="compbench-")
        store = DedupIndexStore(
            spark, os.path.join(tmp, "idx"), compact_every=ce
        )
        # wave w = docs with doc_id % waves == w; wave 0 seeds
        store.commit(
            build_dedup_index(
                docs.where(F.col("doc_id") % waves == 0), "text", "doc_id"
            )
        )
        # one untimed probe first, so wave 1's time carries no session
        # or plan warm-up and the growth ratios measure the store only
        incremental_pairs(
            store.read(),
            docs.where(F.col("doc_id") % waves == 1),
            "text",
            "doc_id",
            threshold=0.5,
        ).count()
        probe_secs, file_counts = [], []
        for w in range(1, waves):
            batch = docs.where(F.col("doc_id") % waves == w)
            idx = store.read()
            t0 = time.monotonic()
            n_pairs = incremental_pairs(
                idx, batch, "text", "doc_id", threshold=0.5
            ).count()
            probe_secs.append(round(time.monotonic() - t0, 4))
            store.commit_delta(
                dedup_index_delta(idx, batch, "text", "doc_id")
            )
            file_counts.append(sum(store.frame_file_counts().values()))
        half = len(probe_secs) // 2
        out = {
            "probe_secs": probe_secs,
            "total_index_files_per_wave": file_counts,
            "n_pairs_last_wave": n_pairs,
            "median_first_half": round(
                statistics.median(probe_secs[:half]), 4
            ),
            "median_second_half": round(
                statistics.median(probe_secs[half:]), 4
            ),
            "final_files": store.frame_file_counts(),
        }
        return out, store, tmp

    uncompacted, store_u, tmp_u = run(None)
    compacted, store_c, tmp_c = run(compact_every)

    # Final-state interleaved A/B: the per-wave curves above confound
    # fragmentation with the index simply GROWING (each wave adds
    # rows, so later probes scan more data in both arms) and with host
    # drift across the two sequential runs. At this point both stores
    # hold row-identical indexes — the ONLY difference is file layout
    # (append-only fragments vs compacted) — so alternating probes of
    # the same final batch isolates the pure fragmentation cost.
    probe_batch = docs.where(F.col("doc_id") % waves == waves - 1)
    ab = {"uncompacted": [], "compacted": []}
    for _ in range(7):
        for name, store in (("uncompacted", store_u), ("compacted", store_c)):
            idx = store.read()
            t0 = time.monotonic()
            incremental_pairs(
                idx, probe_batch, "text", "doc_id", threshold=0.5
            ).count()
            ab[name].append(round(time.monotonic() - t0, 4))
    final_ab = {
        name: {
            "median_sec": round(statistics.median(s), 4),
            "spread_sec": round(max(s) - min(s), 4),
            "files": sum(
                (store_u if name == "uncompacted" else store_c)
                .frame_file_counts()
                .values()
            ),
        }
        for name, s in ab.items()
    }
    shutil.rmtree(tmp_u, ignore_errors=True)
    shutil.rmtree(tmp_c, ignore_errors=True)
    result = {
        "sf_dir": sf_dir,
        "waves": waves,
        "compact_every": compact_every,
        "compact_target_files": DedupIndexStore.COMPACT_TARGET_FILES,
        "uncompacted": uncompacted,
        "compacted": compacted,
        # latency growth second-half/first-half median (data growth +
        # fragmentation + drift; see final_ab for fragmentation alone)
        "uncompacted_growth": round(
            uncompacted["median_second_half"]
            / uncompacted["median_first_half"],
            3,
        ),
        "compacted_growth": round(
            compacted["median_second_half"] / compacted["median_first_half"],
            3,
        ),
        "final_ab": final_ab,
        "fragmentation_ratio": round(
            final_ab["uncompacted"]["median_sec"]
            / final_ab["compacted"]["median_sec"],
            3,
        ),
    }
    with open(out_json, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
