"""Table catalog: load the driver-provided parquet tables for a scale
factor directory and expose them as DataFrames / temp views.

The synthetic star schema stands in for Hyperion's data model
(SURVEY §1.1): ``events`` is the append-only history log (actions),
``orders``/``lineitem`` the transaction/trace hierarchy, ``customer``/
``supplier`` mutable account state, ``documents``/``embeddings`` the
training-data corpus for the beyond-reference operators.

At 100 TB the log tables are range-partitioned on a block/time prefix
(reference: index_partition_size=10M blocks,
elastic-routes.ts:484-486); ``sources.lake`` owns that layout. Here we
read the driver's flat parquet as-is — partition pruning still applies
through parquet row-group min/max pushdown on ``ts``/``event_id``.
"""

from __future__ import annotations

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimensions that should always broadcast in joins (each is O(10-1k)
# rows at any scale factor; region/nation are fixed-size).
BROADCAST_DIMS = frozenset({"region", "nation", "supplier"})


# Explicit read schema for the raw events feed (streaming sources need
# one; file ships TIMESTAMP(NANOS) which we read as long — see
# _ns_timestamp_cols).
EVENTS_SCHEMA_RAW = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),  # ns since epoch
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def normalize_events(df: DataFrame) -> DataFrame:
    """Restore TimestampType on a raw-schema events frame (ns long ->
    micros, the same truncation the batch loader applies)."""
    return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))


def _ns_timestamp_cols(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) — Spark reads them as
    long (``spark.sql.legacy.parquet.nanosAsLong``); we restore
    TimestampType by truncating to micros (same truncation DuckDB's
    ns->us conversion applies, keeping oracle parity).

    ``path`` may be a single parquet file (the driver's flat testdata)
    or a DIRECTORY of parquet files (a growing spool/lake — e.g. the
    HTTP layer's live tail or the SHIP reader's spool); for a
    directory the schema comes from its first data file."""
    import os

    if os.path.isdir(path):
        first = next(
            (
                os.path.join(path, f)
                for f in sorted(os.listdir(path))
                if f.endswith(".parquet")
            ),
            None,
        )
        if first is None:
            return []
        path = first
    schema = pq.read_schema(path)
    return [
        f.name
        for f in schema
        if str(f.type).startswith("timestamp[ns")
    ]


def _path_fingerprint(path: str) -> tuple:
    """Invalidation key for a parquet path: (size, mtime_ns) of the
    file, or the full recursive (relpath, size, mtime_ns) listing for
    a directory — so a spool dir gaining a file, a partition subdir's
    file being rewritten IN PLACE (same name, new bytes — which does
    not bump the subdir's own mtime), or any rename republish misses
    the cache. stat-only (no reads): one syscall per entry."""
    import os

    if os.path.isdir(path):
        st = os.stat(path)
        out = [("", st.st_mtime_ns, 0)]
        # os.walk stats every file at every depth (a partitioned lake
        # table is dirs-of-files; in-place rewrites only show up on
        # the leaf file's own stat, never the parent dir's mtime)
        for root, dirs, files in os.walk(path):
            dirs.sort()
            rel = os.path.relpath(root, path)
            for f in sorted(files):
                st = os.stat(os.path.join(root, f))
                out.append((os.path.join(rel, f), st.st_mtime_ns, st.st_size))
        return tuple(out)
    st = os.stat(path)
    return (st.st_size, st.st_mtime_ns)


#: (appId, abspath) -> (fingerprint, DataFrame, ns-cols). An analyzed
#: DataFrame is immutable (its file listing binds at creation), so a
#: hit returns exactly what a fresh read would produce as long as the
#: fingerprint matches; a changed file/dir re-reads, footer included.
#: This exists for DRIVER overhead, not data: every registry row used
#: to pay ~60 ms of JVM round-trips per table re-analyzed per call
#: (14 reads = ~0.9 s on the dedup_incremental row), plus a footer
#: read per table per query construction. At cluster scale the
#: catalog (metastore) plays this role; the cache is bounded and
#: per-session.
_READ_CACHE: dict[tuple, tuple] = {}
_READ_CACHE_MAX = 256


def _read_memo(spark: SparkSession, path: str) -> tuple:
    """``(fingerprint, DataFrame, ns-cols)`` for ``path``, one
    fingerprint per call and one read + footer scan per change."""
    import os

    key = (spark.sparkContext.applicationId, os.path.abspath(path))
    fp = _path_fingerprint(path)
    hit = _READ_CACHE.get(key)
    if hit is not None and hit[0] == fp:
        return hit
    entry = (fp, spark.read.parquet(path), _ns_timestamp_cols(path))
    if len(_READ_CACHE) >= _READ_CACHE_MAX:
        _READ_CACHE.clear()
    _READ_CACHE[key] = entry
    return entry


def cached_read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return _read_memo(spark, path)[1]


def _load_one(spark: SparkSession, path: str) -> DataFrame:
    _, df, ns_cols = _read_memo(spark, path)
    for c in ns_cols:
        # integer div keeps full ns precision (double div would round)
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every table of the scale-factor dir as a DataFrame.

    Works with ANY caller-provided session (the driver builds its own):
    the nanos-timestamp shim conf is runtime-settable, so apply it here
    rather than relying on session.get_spark having run.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return {name: _load_one(spark, f"{sf_dir}/{name}.parquet") for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load tables and register each as a temp view (for spark.sql use)."""
    tables = load_tables(spark, sf_dir)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables
