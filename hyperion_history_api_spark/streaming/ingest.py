"""Structured-Streaming ingest pipeline (SURVEY §3.2, §2.1 S1-S5, §2.4
A13, §2.9 T2-T4).

The reference's four-process pipeline (state-reader -> RabbitMQ ->
deserializer -> ds-pool -> indexer; ``src/indexer/modules/master.ts``,
``workers/state-reader.ts``, ``workers/deserializer.ts``) collapses to
ONE streaming query here: the RabbitMQ hops are Spark shuffles, the
master's range assignment is the file-source's partition planning, and
the ES bulk writers are ``foreachBatch`` sinks.

- Source (S1-S3): ``readStream`` over the raw event parquet directory
  — stand-in for the SHIP WebSocket feed. ``maxFilesPerTrigger``
  mirrors the reference's in-flight window (``max_messages_in_flight``
  = 50, state-reader.ts:117); a Kafka source drops in unchanged.
- Decode (S4): ``from_json`` promotes the raw JSON payload to typed
  columns — the vectorized analogue of the abieos decode
  (deserializer.ts:893-906); the per-contract ABI as-of variant lives
  in ``operators/asof.py``.
- Ingest filters (P15): broadcast blacklist/whitelist applied in-stream
  (base-parser.ts:40-70).
- Rollups (A13): per-block trx_count/usage sums (deserializer.ts:
  317-415) as a streaming aggregation with watermark.
- Sinks (S5-S8): ``foreachBatch`` fans one micro-batch out to (a) the
  append-only action log, partitioned by block_part and sorted within
  partitions by sequence — the lake layout of SURVEY §1.3 — and (b)
  MERGE-maintained state via :class:`ParquetStateStore`.

At 100 TB: the append sink is a narrow write (no shuffle — file-source
partitions map straight to output files); only the state merge
shuffles, on the natural key. Watermark bounds rollup state; AQE
handles skew.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..tables import EVENTS_SCHEMA_RAW, normalize_events
from .state_store import ParquetStateStore

# block grouping for the synthetic feed: event_id ~ global_sequence,
# BLOCK_SIZE events per "block"; partition = floor(block/PARTITION_BLOCKS)
# (elastic-routes.ts:484-486, index_partition_size)
BLOCK_SIZE = 100
PARTITION_BLOCKS = 100

PROPS_SCHEMA = T.StructType([T.StructField("k", T.LongType())])


def read_event_stream(
    spark: SparkSession, sf_dir: str, *, max_files_per_trigger: int | None = None
) -> DataFrame:
    """S1/S3: the raw feed as a file stream (one parquet = the backlog;
    live operation appends files / swaps in Kafka)."""
    reader = (
        spark.readStream.schema(EVENTS_SCHEMA_RAW)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return normalize_events(reader.load(sf_dir))


def decode_and_enrich(
    raw: DataFrame, *, blacklist: list[str] | None = None
) -> DataFrame:
    """S4 + P15 + §2.10 plugin hook: promote JSON payload to typed
    columns, derive block keys, drop blacklisted "contracts"
    (event_types), then chain any registered action plugins into the
    plan (the processActionData hook point, ds-pool.ts:183-185).

    All narrow, whole-stage-codegen operations — the hot path has no
    Python and no shuffle; plugins are plan transforms, not row
    callbacks.
    """
    # Round-14 (guide §1.2 per-task work): the JSON promote runs as
    # VARIANT parse + typed path extraction instead of from_json —
    # Spark 4's binary-variant decoder measured ~2x faster than the
    # Jackson row parser on this payload (isolated noop A/B at sf0.1,
    # 2M rows: from_json 1.11 s median vs 0.69 s), with identical
    # null semantics on the malformed-payload cases the property
    # tests pin (missing key, non-numeric value, corrupt JSON, null:
    # try_parse_json/try_variant_get -> NULL exactly where PERMISSIVE
    # from_json yielded a NULL field; exceptAll twin check = 0 rows).
    out = (
        raw.withColumn("block_num", (F.col("event_id") / BLOCK_SIZE).cast("long"))
        .withColumn(
            "block_part", (F.col("block_num") / PARTITION_BLOCKS).cast("long")
        )
        .withColumn(
            "k",
            F.try_variant_get(F.try_parse_json("props"), "$.k", "long"),
        )
    )
    if blacklist:
        out = out.where(~F.col("event_type").isin(blacklist))  # P15 must_not
    from ..functions.plugins import apply_plugins

    return apply_plugins(out, "action", contract_col="event_type")


def dedup_stream(
    decoded: DataFrame,
    *,
    key_cols: "tuple[str, ...]" = ("event_id",),
    watermark: str = "10 minutes",
) -> DataFrame:
    """S5 natural-key idempotence, stream-native: an at-least-once
    source (SHIP reconnect replays, Kafka rebalance, file re-listing)
    re-delivers rows; the reference absorbs duplicates via the ES
    ``_id`` overwrite (elastic-routes.ts:60-65,94). The Spark-first
    equivalent for the APPEND path is
    ``dropDuplicatesWithinWatermark`` keyed by the natural key —
    exactly-once output with state bounded by the watermark horizon
    (a replayed block arrives within seconds of the original; state
    holds only the horizon's keys, not history). Batch frames fall
    back to plain ``dropDuplicates`` (same semantics, no state)."""
    if not decoded.isStreaming:
        return decoded.dropDuplicates(list(key_cols))
    return decoded.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


def block_rollups(decoded: DataFrame, *, watermark: str = "10 minutes") -> DataFrame:
    """A13: per-block totals (trx_count, usage sums) as a streaming agg.

    The watermark bounds state exactly where the reference relies on
    strictly-sequential block application (state-reader.ts:686-727):
    once a block's time passes the watermark no more rows can join it.
    """
    src = decoded
    if decoded.isStreaming:
        src = decoded.withWatermark("ts", watermark)
    # NO rounding here: these rows are PARTIALS (a block straddling a
    # micro-batch boundary emits one per batch), and round-then-sum
    # drifts from the one-shot rollup (e.g. 0.00005 + 0.00005 rounds
    # to 0.0001 each -> 0.0002 merged vs 0.0001 exact). Rounding
    # happens once, in read_block_rollups' final combine.
    return src.groupBy("block_num").agg(
        F.count("*").alias("trx_count"),
        F.sum("value").alias("total_usage"),
        F.min("ts").alias("block_time"),
    )


def enrich_with_blocks(
    actions: DataFrame,
    blocks: DataFrame,
    *,
    ts_col: str = "ts",
    block_ts_col: str = "block_ts",
    key: str = "block_num",
    watermark: str = "10 minutes",
    slack: str = "2 minutes",
) -> DataFrame:
    """Stream-stream enrichment join: action rows pick up their block's
    header columns (the at-ingest trace<->block enrichment the
    reference's indexer performs while both feeds are live,
    deserializer.ts processBlock).

    Structured-Streaming state hygiene: BOTH sides carry a watermark
    and the join adds an event-time range constraint (an action's ts
    sits within ``slack`` of its block's ts — true by construction,
    block cadence ~0.5s), so Spark can GC join state for blocks older
    than watermark+slack instead of buffering both streams forever.
    Falls back to a plain equi-join in batch mode."""
    a = actions.withWatermark(ts_col, watermark) if actions.isStreaming else actions
    b = blocks.withWatermark(block_ts_col, watermark) if blocks.isStreaming else blocks
    bb = b.withColumnRenamed(key, "__bk")
    cond = F.col(key) == F.col("__bk")
    # the range constraint exists ONLY for stream-stream state GC; in a
    # stream-static join it would silently drop actions whose ts
    # deviates more than slack from their block's ts
    if actions.isStreaming and blocks.isStreaming:
        cond = (
            cond
            & (F.col(ts_col) >= F.col(block_ts_col) - F.expr(f"INTERVAL {slack}"))
            & (F.col(ts_col) <= F.col(block_ts_col) + F.expr(f"INTERVAL {slack}"))
        )
    return a.join(bb, cond).drop("__bk")


def session_rollup(
    events: DataFrame,
    *,
    gap: str = "30 minutes",
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    watermark: str = "1 hour",
) -> DataFrame:
    """Gap-based session aggregation per account — live session
    tracking over the action stream (batch twin: the ``user_sessions``
    registered query). ``session_window`` merges overlapping
    [ts, ts+gap) intervals per key; in streaming the watermark bounds
    session state and finalized sessions emit in append mode once the
    watermark passes their close time. One shuffle on the user key;
    state per open session only."""
    src = events
    if events.isStreaming:
        src = events.withWatermark(ts_col, watermark)
    return (
        src.groupBy(user_col, F.session_window(ts_col, gap).alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(value_col), 4).alias("sum_value"),
        )
        .select(
            user_col,
            F.col("w.start").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


def backfill_write(decoded: DataFrame, log_path: str) -> None:
    """The backfill write path alone: hash-repartition on the block
    partition key -> per-partition sort -> partitioned write.

    Hash instead of range on block_part (round-2 measurement, ~20%
    faster): ``repartitionByRange`` runs a sampling job that re-executes
    the whole upstream (scan -> decode -> enrich) once before the real
    shuffle, and buys nothing here — directory partitioning by
    ``block_part`` already aligns files with block ranges for pruning,
    and the within-partition sort keyed (block_part, event_id) keeps
    each file internally ordered for top-K/min-max skipping. Without
    the repartition each task writes every block_part directory
    (tasks x parts small files, measured 6x slower)."""
    npart = int(
        decoded.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    (
        decoded.repartition(npart, "block_part")
        .sortWithinPartitions("block_part", "event_id")
        .write.mode("overwrite")
        .partitionBy("block_part")
        .parquet(log_path)
    )


def batch_backfill(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    *,
    blacklist: list[str] | None = None,
    verify: bool = True,
) -> int:
    """S2 parallel range backfill: the batch twin of run_ingest for
    historical ranges (master.ts:934-966 assigns block ranges to N
    readers; here the range split IS the partitioning).

    One narrow pass: scan -> decode -> :func:`backfill_write`. With
    ``verify`` a read-back count confirms rows written (NOT part of
    ingest itself — callers timing ingest pass verify=False and count
    separately, per round-1 bench advice). Returns rows written, or -1
    when unverified.
    """
    raw = normalize_events(
        spark.read.schema(EVENTS_SCHEMA_RAW).parquet(os.path.join(sf_dir, "events.parquet"))
    )
    decoded = decode_and_enrich(raw, blacklist=blacklist)
    log_path = os.path.join(out_dir, "action_log")
    backfill_write(decoded, log_path)
    if not verify:
        return -1
    return spark.read.parquet(log_path).count()


def read_block_rollups(spark: SparkSession, rollup_path: str) -> DataFrame:
    """Merge the per-batch partial rollups to final per-block totals.

    A block straddling a micro-batch boundary emits one partial row per
    batch; the read-time combine (one hash agg on block_num) makes the
    stored partials safe to sum — the same split the reference has
    between per-queue partial counters and the indexed block doc.
    """
    return (
        spark.read.parquet(rollup_path)
        .groupBy("block_num")
        .agg(
            F.sum("trx_count").alias("trx_count"),
            F.round(F.sum("total_usage"), 4).alias("total_usage"),
            F.min("block_time").alias("block_time"),
        )
    )


def make_ingest_sink(
    spark: SparkSession, out_dir: str
) -> "tuple[callable, dict[str, str]]":
    """Build the foreachBatch sink and its output paths.

    foreachBatch is at-least-once: on failure/restart Spark replays the
    whole micro-batch with the SAME batch_id. Every append target is
    therefore written to a ``ingest_batch=<id>`` subdirectory with
    mode=overwrite — a replay overwrites its own (possibly partial)
    prior attempt instead of double-appending, which makes the append
    sinks idempotent per batch (on a production lake this is a Delta
    txn keyed by batch_id; the directory swap is the parquet-only
    equivalent). The state merge is already idempotent through the
    updateByBlock >= guard.
    """
    log_path = os.path.join(out_dir, "action_log")
    state = ParquetStateStore(
        spark,
        os.path.join(out_dir, "user_state"),
        keys=["user_id"],
        block_col="event_id",
    )
    rollup_path = os.path.join(out_dir, "block_rollups")

    def sink(batch: DataFrame, batch_id: int) -> None:
        batch = batch.persist()
        try:
            # The three targets are mutually independent (separate
            # output paths; each reads only the persisted batch), so
            # their jobs are submitted from a thread pool and joined
            # before the micro-batch commits — the scheduler back-fills
            # one leg's straggler tail with the next leg's tasks
            # instead of serializing three action rounds (guide §2.6;
            # measured A/B below in the repo bench protocol). Safe on
            # the shared persisted batch: BlockManager get-or-compute
            # locks make concurrent first-computation of a cached
            # partition single-writer.
            from concurrent.futures import ThreadPoolExecutor

            def _log() -> None:
                # S5: append-only log, partitioned for pruning, sorted
                # for top-K; per-batch subdir => replay-idempotent
                (
                    batch.repartition("block_part")
                    .sortWithinPartitions("event_id")
                    .write.mode("overwrite")
                    .partitionBy("block_part")
                    .parquet(os.path.join(log_path, f"ingest_batch={batch_id}"))
                )

            def _state() -> None:
                # S6: latest-state upsert per user (updateByBlock)
                state.apply_batch(batch)

            def _rollup() -> None:
                # A13: per-batch PARTIAL rollups (a block can straddle
                # batch boundaries); read_block_rollups combines them
                # at read time
                (
                    block_rollups(batch)
                    .write.mode("overwrite")
                    .parquet(os.path.join(rollup_path, f"ingest_batch={batch_id}"))
                )

            with ThreadPoolExecutor(max_workers=3) as pool:
                # the state MERGE is the longest leg: submitted first,
                # its driver-side planning does not queue behind the others'
                futures = [pool.submit(f) for f in (_state, _log, _rollup)]
                for fut in futures:
                    fut.result()  # re-raise the first leg failure
        finally:
            batch.unpersist()

    paths = {
        "action_log": log_path,
        "user_state": os.path.join(out_dir, "user_state"),
        "block_rollups": rollup_path,
    }
    return sink, paths


def read_state(spark: SparkSession, state_root: str) -> DataFrame:
    """Resolve a :class:`ParquetStateStore` root through its manifest
    pointer (the reader half of the commit protocol)."""
    store = ParquetStateStore(spark, state_root, keys=[])
    cur = store.current()
    if cur is None:
        raise FileNotFoundError(f"no committed snapshot under {state_root}")
    return cur


def compact_log(spark: SparkSession, log_path: str) -> int:
    """S12 lifecycle: compact the streaming append sink's per-batch
    layout (``ingest_batch=<id>/block_part=*``, one small file set per
    micro-batch) into the canonical backfill layout (one consolidated
    file set per ``block_part``, internally sorted).

    The reference runs index lifecycle merges on ES segments
    (lifecycleManager.ts); a Delta lake runs OPTIMIZE. The parquet-only
    equivalent: one :func:`backfill_write` pass over the accumulated
    batches (dropping the batch key), then an atomic directory swap —
    readers see either the old layout or the new, never a mix. A tail
    of small files otherwise dominates listing + task-scheduling cost
    long before 100 TB. Returns the number of compacted rows."""
    import uuid

    from ..commitlog import replace_dir

    df = spark.read.parquet(log_path)
    if "ingest_batch" in df.columns:
        df = df.drop("ingest_batch")
    parent = os.path.dirname(log_path.rstrip("/"))
    tmp = os.path.join(parent, f"compact-tmp-{uuid.uuid4().hex}")
    # The compacted set lands UNDER ingest_batch=-1 so the directory
    # layout stays the sink's two-level scheme: a compacted root of
    # bare block_part=* dirs plus one post-compaction micro-batch
    # (ingest_batch=N/...) is a partition-discovery error
    # ("Conflicting directory structures") that breaks every read of
    # the log — compaction must stay transparent to an in-flight
    # streaming query.
    backfill_write(df, os.path.join(tmp, "ingest_batch=-1"))
    rows = spark.read.parquet(tmp).count()
    replace_dir(tmp, log_path)
    return rows


def run_ingest(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    *,
    blacklist: list[str] | None = None,
) -> dict[str, str]:
    """One availableNow pass of the full pipeline: source -> decode ->
    filter -> multi-sink foreachBatch (append log + state MERGE +
    rollups). Returns the sink paths.

    foreachBatch is the reference's indexer worker (§3.2 step 4): each
    micro-batch is one "bulk", idempotent per batch_id (see
    :func:`make_ingest_sink`), with the updateByBlock guard inside the
    state merge.
    """
    sink, paths = make_ingest_sink(spark, out_dir)
    stream = read_event_stream(spark, sf_dir)
    decoded = decode_and_enrich(stream, blacklist=blacklist)
    q = (
        decoded.writeStream.foreachBatch(sink)
        .option("checkpointLocation", os.path.join(out_dir, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return paths
