"""The registry layer: a fixed subset of the headline analytics queries
(``QuerySpec.headline``), each built through its registry ``spark_fn``
and collected by one client after a warm pass, in a seeded order per
pass, then compared as canonical rows with its registry oracle SQL run
in DuckDB.

The subset covers the packages the API mix does not run: ``operators/``
(latest-state, as-of join, bloom probe), ``api/dedup_sim`` with
``sources/inverted_index``, the nested lake and the TPC-H plans.
"""

from __future__ import annotations

import math
import time

import numpy as np

import harness

QUERIES = (
    "get_actions_by_account",
    "get_table_state_latest",
    "abi_asof_join",
    "hyp_key_accounts",
    "doc_search_bm25_indexed",
    "dedup_bloom_probe",
    "tpch_q1_pricing_summary",
)
PASSES = 2  # timed passes after the warm one


def _cell(v) -> str:
    import pandas as pd

    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "<null>"
    if isinstance(v, float):
        return str(int(v)) if v == int(v) and abs(v) < 1e15 else f"{v:.6g}"
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    return str(v)


def canonical(df) -> list[tuple]:
    """Order-insensitive canonical rows of a pandas frame (the same
    cell rendering the repository's oracle gate compares)."""
    cols = sorted(df.columns, key=str.lower)
    rows = [tuple(_cell(v) for v in r) for r in df[cols].itertuples(index=False, name=None)]
    return sorted(rows)


def compare(spark_pdf, oracle_pdf) -> list[str]:
    if len(spark_pdf) != len(oracle_pdf):
        return [f"row count: spark={len(spark_pdf)} oracle={len(oracle_pdf)}"]
    if sorted(map(str.lower, spark_pdf.columns)) != sorted(map(str.lower, oracle_pdf.columns)):
        return [f"columns: {sorted(spark_pdf.columns)} vs {sorted(oracle_pdf.columns)}"]
    a, b = canonical(spark_pdf), canonical(oracle_pdf)
    if a != b:
        i = next(i for i, (x, y) in enumerate(zip(a, b)) if x != y)
        return [f"values differ at canonical row {i}: {a[i]} vs {b[i]}"]
    return []


def run_oracles(sf_dir: str, specs: dict) -> dict:
    from checks import duckdb_connect
    from hyperion_history_api_spark.tables import TABLE_NAMES

    con = duckdb_connect()
    try:
        for name in TABLE_NAMES:
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')")
        return {n: con.execute(s.oracle).df() for n, s in specs.items()}
    finally:
        con.close()


def run(spark, sf_dir: str, seed: int, chk: harness.Checks) -> dict[str, float]:
    """Run the subset (one warm pass, then ``PASSES`` timed ones), check
    the last result of each query and return the registry-layer metrics."""
    from hyperion_history_api_spark import registry

    specs = {n: registry.all_specs()[n] for n in QUERIES}
    rng = np.random.default_rng([seed, 5])
    for name in rng.permutation(QUERIES):
        specs[name].spark_fn(spark, sf_dir).toPandas()

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    samples: dict[str, list[float]] = {n: [] for n in QUERIES}
    jobs: dict[str, int] = {}
    build_ms = collect_ms = 0.0
    last = {}
    for p in range(PASSES):
        for name in rng.permutation(QUERIES):
            group = f"perfbench-q-{name}-{p}"
            sc.setJobGroup(group, group)
            try:
                q0 = time.perf_counter()
                df = specs[name].spark_fn(spark, sf_dir)
                q1 = time.perf_counter()
                last[name] = df.toPandas()
                q2 = time.perf_counter()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            samples[name].append(q2 - q0)
            build_ms += (q1 - q0) * 1000
            collect_ms += (q2 - q1) * 1000
            jobs[name] = jobs.get(name, 0) + len(tracker.getJobIdsForGroup(group))

    chk.attempted += PASSES * len(QUERIES)
    oracles = run_oracles(sf_dir, specs)
    for name in QUERIES:
        chk.verify("headline_oracle", compare(last[name], oracles[name]))

    layer = {f"query.{n}_s": harness.median(v) for n, v in samples.items()}
    layer.update({f"query.{n}.jobs": j / PASSES for n, j in jobs.items()})
    layer["registry.build_ms"] = build_ms / PASSES
    layer["spark.collect_ms"] = collect_ms / PASSES
    return layer
