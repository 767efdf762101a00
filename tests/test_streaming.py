"""Streaming-half tests (SURVEY §2.9/§2.1): subscription routing,
updateByBlock merge guards, end-to-end Structured Streaming ingest and
stateful missed-block detection. The history->live switchover is
tested on the path that serves it, in test_http_server.py and
test_ws_stream.py."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from hyperion_history_api_spark.streaming.filters import (
    RequestFilter,
    StreamRequest,
    StreamSchema,
    compile_filter,
    compile_request,
    route_to_subscribers,
)
from hyperion_history_api_spark.streaming.ingest import (
    batch_backfill,
    BLOCK_SIZE,
    decode_and_enrich,
    make_ingest_sink,
    read_block_rollups,
    run_ingest,
)
from hyperion_history_api_spark.streaming.missed_blocks import (
    detect_missed_stateful,
    find_missing_ranges,
)
from hyperion_history_api_spark.streaming.state_store import (
    fork_retract,
    merge_update_by_block,
    prune_retention,
)
from hyperion_history_api_spark.tables import load_tables

SF_DIR = os.environ.get("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.001")


# ---------------------------------------------------------------- filters


def _sample(spark):
    rows = [
        (1, "transfer", 3, 10.5, '{"k": 7, "memo": "hello world"}'),
        (2, "transfer", 4, 200.0, '{"k": 3, "memo": "refund"}'),
        (3, "vote", 3, 50.0, '{"k": 7}'),
        (4, "error", 9, 0.5, "{}"),
    ]
    return spark.createDataFrame(
        rows, "event_id long, event_type string, user_id long, value double, props string"
    )


def _ids(df):
    return sorted(r.event_id for r in df.collect())


def test_filter_operators(spark):
    df = _sample(spark)
    cases = [
        (RequestFilter("event_type", "transfer", "eq"), [1, 2]),
        (RequestFilter("event_type", "transfer", "ne"), [3, 4]),
        (RequestFilter("value", 50.0, "gte"), [2, 3]),
        (RequestFilter("value", 50.0, "lt"), [1, 4]),
        (RequestFilter("event_type", "vo", "starts_with"), [3]),
        (RequestFilter("event_type", "or", "ends_with"), [4]),
        # JSON fallback: memo is not a column -> resolves into props
        (RequestFilter("memo", "world", "contains"), [1]),
        (RequestFilter("k", 7, "eq"), [1, 3]),
        # missing JSON field never matches (null => no match)
        (RequestFilter("absent", 1, "eq"), []),
    ]
    for flt, expect in cases:
        got = _ids(df.where(compile_filter(df, flt)))
        assert got == expect, f"{flt}: {got} != {expect}"


def test_filter_asset_compare(spark):
    df = _sample(spark).withColumn(
        "quantity",
        F.when(F.col("event_id") == 1, "10.5000 EOS").otherwise("900.0000 SYS"),
    )
    # symbol-gated: huge SYS amounts don't match an EOS filter
    flt = RequestFilter("quantity", 5, "gt", asset="EOS")
    assert _ids(df.where(compile_filter(df, flt))) == [1]
    flt2 = RequestFilter("quantity", 20, "gt", asset="EOS")
    assert _ids(df.where(compile_filter(df, flt2))) == []


def test_filter_asset_symbol_mismatch_raw_string(spark):
    """checkMetaFilter only rewrites fieldValue=parseFloat(amount) when
    the split symbol EQUALS filter.asset (common_functions.ts:294-299);
    on mismatch the operator runs against the RAW string — contains
    '10' still matches '100 WAX' under asset=EOS, and strict eq/ne
    compare the full raw string."""
    df = _sample(spark).withColumn(
        "quantity",
        F.when(F.col("event_id") == 1, "100 WAX").otherwise("10.5000 EOS"),
    )
    # string op on mismatched symbol: raw-string contains (the r12
    # NULL-on-mismatch compile missed this — ADVICE r12)
    flt = RequestFilter("quantity", "10", "contains", asset="EOS")
    assert _ids(df.where(compile_filter(df, flt))) == [1, 2, 3, 4]
    # strict eq: raw string equality on mismatch, numeric on match
    assert _ids(
        df.where(
            compile_filter(
                df, RequestFilter("quantity", "100 WAX", "eq", asset="EOS")
            )
        )
    ) == [1]
    assert _ids(
        df.where(
            compile_filter(
                df, RequestFilter("quantity", 10.5, "eq", asset="EOS")
            )
        )
    ) == [2, 3, 4]
    # strict ne with numeric value: mismatched-symbol rows are !== true
    assert _ids(
        df.where(
            compile_filter(
                df, RequestFilter("quantity", 10.5, "ne", asset="EOS")
            )
        )
    ) == [1]
    # relational on mismatch: raw string loose-coerces -> NaN -> false
    assert _ids(
        df.where(
            compile_filter(
                df, RequestFilter("quantity", 1, "gt", asset="EOS")
            )
        )
    ) == [2, 3, 4]


def test_request_and_or(spark):
    df = _sample(spark)
    schema = StreamSchema(action_col=None)
    both = StreamRequest(
        contract="transfer",
        filters=(RequestFilter("value", 100, "gt"), RequestFilter("k", 3, "eq")),
    )
    assert _ids(df.where(compile_request(df, both, schema))) == [2]
    either = StreamRequest(
        contract="transfer",
        filter_op="or",
        filters=(RequestFilter("value", 100, "gt"), RequestFilter("k", 7, "eq")),
    )
    assert _ids(df.where(compile_request(df, either, schema))) == [1, 2]


def test_route_to_subscribers(spark):
    df = _sample(spark)
    reqs = {
        "u1": StreamRequest(contract="transfer"),
        "u2": StreamRequest(account="3"),
        "u3": StreamRequest(contract="nope"),
    }
    routed = route_to_subscribers(df, reqs)
    got = {r.event_id: sorted(r.matching_requests) for r in routed.collect()}
    assert got == {1: ["u1", "u2"], 2: ["u1"], 3: ["u2"]}


# ------------------------------------------------------------- state store


def test_merge_update_by_block_guard(spark):
    cur = spark.createDataFrame(
        [(1, 100, "a"), (2, 50, "b")], "key long, block_num long, val string"
    )
    # stale update for key 1 (block 90 < 100) must be dropped; equal block
    # wins for key 2 (painless guard is >=); key 3 is an insert
    upd = spark.createDataFrame(
        [(1, 90, "stale"), (2, 50, "b2"), (3, 10, "new")],
        "key long, block_num long, val string",
    )
    out = merge_update_by_block(cur, upd, ["key"])
    got = {r.key: (r.block_num, r.val) for r in out.collect()}
    assert got == {1: (100, "a"), 2: (50, "b2"), 3: (10, "new")}


def test_merge_present_delete(spark):
    cur = spark.createDataFrame([(1, 10, 1), (2, 10, 1)], "key long, block_num long, present int")
    upd = spark.createDataFrame([(1, 20, 0)], "key long, block_num long, present int")
    out = merge_update_by_block(cur, upd, ["key"], present_col="present")
    assert {r.key for r in out.collect()} == {2}


def test_merge_same_block_batch_order_tiebreak(spark):
    """Two updates for one key at the SAME block resolve in batch order
    (the reference applies updates in queue order) — ADVICE r1 item."""
    upd = spark.createDataFrame(
        [(1, 10, "first"), (1, 10, "second"), (1, 10, "third")],
        "key long, block_num long, val string",
    ).coalesce(1)
    out = merge_update_by_block(None, upd, ["key"])
    assert [(r.key, r.val) for r in out.collect()] == [(1, "third")]


def test_fork_retract_and_prune(spark):
    df = spark.createDataFrame(
        [(i, f"b{i // 10}") for i in range(100)], "block_num long, block_id string"
    )
    forked = spark.createDataFrame([("b3",), ("b7",)], "block_id: string")
    kept = fork_retract(df, forked)
    assert kept.count() == 80
    pruned = prune_retention(df, head_block=99, max_retained_blocks=20)
    assert pruned.count() == 20 and pruned.agg(F.min("block_num")).first()[0] == 80


# ------------------------------------------------------------------ ingest


def test_run_ingest_end_to_end(spark, tmp_path):
    paths = run_ingest(spark, SF_DIR, str(tmp_path), blacklist=["error"])
    ev = load_tables(spark, SF_DIR)["events"]
    expected = decode_and_enrich(ev, blacklist=["error"])

    log = spark.read.parquet(paths["action_log"])
    assert log.count() == expected.count()
    # partition column exists and prunes
    parts = [r.block_part for r in log.select("block_part").distinct().collect()]
    assert len(parts) > 0

    # state = latest non-blacklisted event per user (resolved through
    # the manifest pointer)
    from hyperion_history_api_spark.streaming.ingest import read_state

    state = read_state(spark, paths["user_state"])
    exp_state = {
        r.user_id: r.event_id
        for r in expected.groupBy("user_id")
        .agg(F.max("event_id").alias("event_id"))
        .collect()
    }
    got_state = {r.user_id: r.event_id for r in state.collect()}
    assert got_state == exp_state

    # rollups: per-block counts match a batch recompute (read-time
    # combine merges per-batch partials)
    roll = read_block_rollups(spark, paths["block_rollups"])
    exp_roll = {
        r.block_num: r.n
        for r in expected.groupBy("block_num").agg(F.count("*").alias("n")).collect()
    }
    got_roll = {r.block_num: r.trx_count for r in roll.collect()}
    assert got_roll == exp_roll
    # block grouping sanity
    assert all(b * BLOCK_SIZE <= BLOCK_SIZE * (b + 1) for b in got_roll)


def test_ingest_sink_replay_idempotent(spark, tmp_path):
    """foreachBatch replays a failed micro-batch with the same
    batch_id; the per-batch-subdir overwrite must not double-append
    (ADVICE r1: at-least-once append sinks)."""
    sink, paths = make_ingest_sink(spark, str(tmp_path))
    ev = load_tables(spark, SF_DIR)["events"]
    batch = decode_and_enrich(ev).limit(500)
    sink(batch, 0)
    sink(batch, 0)  # simulated replay of the same micro-batch
    log = spark.read.parquet(paths["action_log"])
    assert log.count() == 500
    roll = read_block_rollups(spark, paths["block_rollups"])
    n = batch.groupBy("block_num").count().count()
    assert roll.count() == n


def test_live_sized_batch_sink_job_count(spark, tmp_path, count_jobs):
    """A live-sized (1k-event) micro-batch through the ingest sink runs
    at most 8 Spark jobs. The log and rollup legs run two each (one
    exchange) and the state leg one: a small state is one bucket, read
    with the manifest schema and merged in the task that writes it.
    Each leg may add one job that builds the shared batch cache when
    it finds the cache not yet built, so 5 to 8 by thread timing."""
    sink, paths = make_ingest_sink(spark, str(tmp_path))
    ev = load_tables(spark, SF_DIR)["events"]
    span = ev.agg(F.max("event_id")).first()[0] + 1
    sink(decode_and_enrich(ev), 0)
    live = decode_and_enrich(ev.withColumn("event_id", F.col("event_id") + span))
    assert live.count() == 1000
    assert count_jobs(lambda: sink(live, 1)) <= 8
    from hyperion_history_api_spark.streaming.ingest import read_state

    state = {r.user_id: r.event_id for r in read_state(spark, paths["user_state"]).collect()}
    want = {
        r.user_id: r.event_id
        for r in live.groupBy("user_id").agg(F.max("event_id").alias("event_id")).collect()
    }
    assert state == want


def test_read_until_inclusive(spark):
    """read_until=N includes block/seq N (reference blockRange lte,
    functions.ts:758-768) — ADVICE r1 off-by-one."""
    df = _sample(spark)
    req = StreamRequest(read_until=3)
    assert _ids(df.where(compile_request(df, req, StreamSchema()))) == [1, 2, 3]


def test_promoted_field_gated_on_action_name(spark):
    """'@transfer.amount' only resolves into the payload for rows whose
    action column equals 'transfer' (common_functions.ts:266-279) —
    ADVICE r1: ungated fallback matched ANY action with that field."""
    rows = [
        (1, "transfer", '{"amount": 100}'),
        (2, "buyram", '{"amount": 100}'),  # same field, wrong action
        (3, "transfer", '{"amount": 5}'),
    ]
    df = spark.createDataFrame(rows, "event_id long, act_name string, props string")
    flt = RequestFilter("@transfer.amount", 50, "gt")
    got = _ids(df.where(compile_filter(df, flt, action_col="act_name")))
    assert got == [1]
    # no action column in schema => promoted prefix can never match
    got2 = _ids(df.where(compile_filter(df, flt, action_col=None)))
    assert got2 == []


def test_batch_backfill_matches_stream_ingest(spark, tmp_path):
    """S2: the batch backfill writes the same partitioned log the
    streaming pipeline appends — same rows, same partition scheme,
    sorted within partitions."""
    n = batch_backfill(spark, SF_DIR, str(tmp_path), blacklist=["error"])
    ev = load_tables(spark, SF_DIR)["events"]
    expected = decode_and_enrich(ev, blacklist=["error"])
    assert n == expected.count()

    log = spark.read.parquet(str(tmp_path) + "/action_log")
    assert log.count() == n
    assert "block_part" in log.columns
    # partition pruning: one partition dir per block_part value
    import os as _os

    dirs = [
        d
        for d in _os.listdir(str(tmp_path) + "/action_log")
        if d.startswith("block_part=")
    ]
    assert len(dirs) == expected.select("block_part").distinct().count()
    # sorted within each partition by event_id
    from pyspark.sql import Window

    w = Window.partitionBy(F.spark_partition_id()).orderBy(
        F.monotonically_increasing_id()
    )
    seq = log.select("event_id", F.lag("event_id").over(w).alias("prev"))
    assert seq.where(F.col("prev") > F.col("event_id")).count() == 0


# ------------------------------------------------------- missed blocks (T8)


def test_find_missing_ranges(spark):
    df = spark.createDataFrame(
        [(s,) for s in [1, 2, 3, 7, 8, 12]], "seq: long"
    )
    got = [
        (r.gap_start, r.gap_end, r.missing)
        for r in find_missing_ranges(df, "seq").orderBy("gap_start").collect()
    ]
    assert got == [(4, 6, 3), (9, 11, 3)]


def test_detect_missed_stateful(spark, tmp_path):
    src = str(tmp_path / "slots")
    spark.createDataFrame(
        [("alice", s) for s in [1, 2, 5]] + [("bob", s) for s in [1, 2, 3]],
        "producer string, slot long",
    ).coalesce(1).write.parquet(src)
    stream = (
        spark.readStream.schema("producer string, slot long").parquet(src)
    )
    out = detect_missed_stateful(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("missed_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {r.producer: (r.missed, r.up_to) for r in spark.sql("select * from missed_t").collect()}
    assert rows == {"alice": (2, 5)}  # slots 3,4 missed; bob contiguous


def test_dedup_stream_across_microbatches(spark, tmp_path):
    """An at-least-once source re-delivers rows in a later micro-batch;
    dropDuplicatesWithinWatermark keyed by the natural key must emit
    each event exactly once (S5 _id idempotence, stream-native)."""
    from hyperion_history_api_spark.streaming.ingest import dedup_stream

    rows = [(i, f"2024-01-01 00:00:{i:02d}", "click") for i in range(10)]
    schema = "event_id long, ts_s string, event_type string"
    feed = str(tmp_path / "feed")
    mk = lambda r: (  # noqa: E731
        spark.createDataFrame(r, schema).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    )
    # batch 1: events 0-9; batch 2: re-delivery of 5-9 plus new 10-14
    mk(rows).coalesce(1).write.mode("append").parquet(feed)
    rows2 = [(i, f"2024-01-01 00:00:{i:02d}", "click") for i in range(5, 15)]
    mk(rows2).coalesce(1).write.mode("append").parquet(feed)

    stream = (
        spark.readStream.schema("event_id long, event_type string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    out = dedup_stream(stream, key_cols=("event_id",), watermark="1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_stream_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        r["event_id"] for r in spark.sql("select * from dedup_stream_t").collect()
    )
    assert got == list(range(15))

    # batch fallback: plain dropDuplicates
    batch = mk(rows + rows2)
    assert dedup_stream(batch).count() == 15


def test_compact_log_preserves_rows_and_cuts_files(spark, tmp_path):
    """S12: compaction rewrites the per-batch append layout into one
    consolidated file set per block_part with identical rows."""
    import os as _os

    from hyperion_history_api_spark.streaming.ingest import compact_log

    paths = run_ingest(spark, SF_DIR, str(tmp_path))
    log = paths["action_log"]
    before = spark.read.parquet(log).drop("ingest_batch").collect()

    def _nfiles(root):
        return sum(
            1 for _, _, fs in _os.walk(root) for f in fs if f.endswith(".parquet")
        )

    n_before = _nfiles(log)
    rows = compact_log(spark, log)
    assert rows == len(before)
    after = spark.read.parquet(log).drop("ingest_batch").collect()
    assert sorted(map(tuple, after)) == sorted(map(tuple, before))
    assert _nfiles(log) <= n_before
    # the compacted set keeps the sink's two-level layout (under the
    # ingest_batch=-1 sentinel): a bare block_part=* root plus one
    # post-compaction micro-batch is a partition-discovery error that
    # breaks every read of the log
    assert [
        d for d in _os.listdir(log) if d.startswith("ingest_batch=")
    ] == ["ingest_batch=-1"]
    from hyperion_history_api_spark.streaming.ingest import backfill_write

    tail = spark.read.parquet(log).drop("ingest_batch").limit(5)
    backfill_write(tail, _os.path.join(log, "ingest_batch=99"))
    assert spark.read.parquet(log).count() == len(before) + 5


def test_session_rollup_stream_matches_batch(spark, tmp_path):
    """Streaming session_window (watermark-bounded state) finalizes the
    same sessions the batch twin computes; a far-future flush event
    advances the watermark so every real session closes."""
    from hyperion_history_api_spark.streaming.ingest import session_rollup

    rows = [
        # user 1: two sessions (gap > 30 min between :00-:10 and :50)
        (1, "2024-01-01 10:00:00", 1.0),
        (1, "2024-01-01 10:10:00", 2.0),
        (1, "2024-01-01 10:50:00", 4.0),
        # user 2: one session spanning both micro-batches
        (2, "2024-01-01 10:05:00", 8.0),
        (2, "2024-01-01 10:25:00", 16.0),
    ]
    flush = [(99, "2024-01-03 00:00:00", 0.0)]
    schema = "user_id long, ts_s string, value double"
    mk = lambda r: (  # noqa: E731
        spark.createDataFrame(r, schema)
        .withColumn("ts", F.to_timestamp("ts_s"))
        .drop("ts_s")
    )
    feed = str(tmp_path / "sess_feed")
    mk(rows[:3]).coalesce(1).write.mode("append").parquet(feed)
    mk(rows[3:]).coalesce(1).write.mode("append").parquet(feed)
    mk(flush).coalesce(1).write.mode("append").parquet(feed)

    stream = (
        spark.readStream.schema("user_id long, value double, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    q = (
        session_rollup(stream, watermark="10 minutes")
        .writeStream.format("memory")
        .queryName("session_rollup_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sess_cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["user_id"], str(r["session_start"]), r["n_events"], r["sum_value"])
        for r in spark.sql(
            "select * from session_rollup_t where user_id != 99"
        ).collect()
    }
    want = {
        (r["user_id"], str(r["session_start"]), r["n_events"], r["sum_value"])
        for r in session_rollup(mk(rows)).collect()
    }
    assert got == want
    assert {u for u, *_ in got} == {1, 2}
    assert len(got) == 3  # user 1 splits on the 40-min gap; user 2 merges


def test_enrich_with_blocks_stream_stream_join(spark, tmp_path):
    """Stream-stream trace<->block enrichment: watermarks on both
    sides + an event-time range constraint (state is GC-able), output
    equals the batch equi-join."""
    from hyperion_history_api_spark.streaming.ingest import enrich_with_blocks

    acts = [
        (100 + i, i // 2, f"2024-01-01 10:{i:02d}:00", "click") for i in range(8)
    ]
    blks = [(b, f"2024-01-01 10:{2 * b:02d}:00", f"prod{b % 3}") for b in range(4)]
    a_schema = "event_id long, block_num long, ts_s string, event_type string"
    b_schema = "block_num long, bts_s string, producer string"
    mk_a = lambda r: (  # noqa: E731
        spark.createDataFrame(r, a_schema)
        .withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    )
    mk_b = lambda r: (  # noqa: E731
        spark.createDataFrame(r, b_schema)
        .withColumn("block_ts", F.to_timestamp("bts_s")).drop("bts_s")
    )
    a_feed, b_feed = str(tmp_path / "a_feed"), str(tmp_path / "b_feed")
    mk_a(acts[:4]).coalesce(1).write.mode("append").parquet(a_feed)
    mk_a(acts[4:]).coalesce(1).write.mode("append").parquet(a_feed)
    mk_b(blks).coalesce(1).write.mode("append").parquet(b_feed)

    sa = (
        spark.readStream.schema(
            "event_id long, block_num long, event_type string, ts timestamp"
        ).option("maxFilesPerTrigger", 1).parquet(a_feed)
    )
    sb = spark.readStream.schema(
        "block_num long, producer string, block_ts timestamp"
    ).parquet(b_feed)
    q = (
        enrich_with_blocks(sa, sb)
        .writeStream.format("memory")
        .queryName("enrich_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ej_cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["event_id"], r["block_num"], r["producer"])
        for r in spark.sql("select * from enrich_t").collect()
    }
    want = {
        (r["event_id"], r["block_num"], r["producer"])
        for r in enrich_with_blocks(mk_a(acts), mk_b(blks)).collect()
    }
    assert got == want
    assert len(want) == 8  # every action found its block


def test_compile_request_missing_routing_column_never_matches(spark):
    """A subscription that names an action (or scope) the schema has
    no column for must match NOTHING — dropping the predicate
    over-delivered every action type to the subscriber (same
    convention as the missing-field filter gate)."""
    from hyperion_history_api_spark.streaming.filters import (
        StreamRequest,
        StreamSchema,
        compile_request,
    )

    df = spark.createDataFrame(
        [(1, "transfer", 5, 1)],
        "event_id long, event_type string, user_id long, value long",
    )
    schema = StreamSchema(json_col=None)  # action_col/scope_col = None
    req = StreamRequest(contract="*", action="transfer", account="")
    assert df.where(compile_request(df, req, schema)).count() == 0
    req2 = StreamRequest(contract="*", action="*", account="", scope="x")
    assert df.where(compile_request(df, req2, schema)).count() == 0


def test_filter_nested_struct_field_type_discipline(spark):
    """The wire type-mismatch discipline resolves dtypes through
    DOTTED paths (df.schema walk, not the flat df.dtypes map): a
    numeric struct field filtered with a junk string value must
    compile to checkMetaFilter semantics (eq/gt never match, ne
    matches where present) instead of an ANSI cast that throws
    mid-scan; relational ops still coerce numeric strings."""
    from hyperion_history_api_spark.streaming.filters import (
        RequestFilter,
        compile_filter,
    )

    df = spark.createDataFrame(
        [(1, (7.0, "x")), (2, (150.0, "y"))],
        "event_id long, a struct<b: double, s: string>",
    )

    def ids(flt):
        return sorted(
            r["event_id"]
            for r in df.where(
                compile_filter(df, flt, json_fallback_col=None)
            ).collect()
        )

    assert ids(RequestFilter("a.b", "click", "eq")) == []
    assert ids(RequestFilter("a.b", "click", "gt")) == []
    assert ids(RequestFilter("a.b", "click", "ne")) == [1, 2]
    assert ids(RequestFilter("a.b", "100", "gt")) == [2]  # JS 150 > '100'
    # string struct field vs number: strict eq/ne, raw-string contains
    assert ids(RequestFilter("a.s", 7, "eq")) == []
    assert ids(RequestFilter("a.s", 7, "ne")) == [1, 2]
