"""Physical-plan audits: the scale properties the bench can't see at
small SF — pushdown, broadcast choice, codegen, absence of needless
exchanges. These assertions encode "the plan you'd want at 100 TB"
(SURVEY §4) so a regression shows up as a test failure, not as a
production straggler.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from hyperion_history_api_spark import registry

SF_DIR = os.environ.get("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.001")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _q(name: str, spark):
    return registry.all_specs()[name].spark_fn(spark, SF_DIR)


def test_get_actions_pushdown_and_topk(spark):
    """P1 page query: filter reaches the parquet scan (PushedFilters)
    and the sort+limit compiles to TakeOrdered, not a global sort."""
    plan = _plan(_q("get_actions_by_account", spark))
    assert "PushedFilters: [" in plan and "user_id" in plan.split("PushedFilters")[1][:120]
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan  # top-K merges partition results driver-side


def test_tpch_q5_broadcasts_dimensions(spark):
    """Small dims must broadcast — a shuffle join on region/nation at
    100 TB would shuffle the fact table for nothing."""
    plan = _plan(_q("tpch_q5_region_volume", spark))
    assert "BroadcastHashJoin" in plan


def test_nested_disjunction_stays_jvm(spark):
    """P7 nested involvement predicate: higher-order functions stay
    JVM-side (no Python eval) and the filter is a narrow map."""
    plan = _plan(_q("hyp_actions_account_disjunction", spark))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "TakeOrderedAndProject" in plan


def test_abi_decode_is_arrow_batched(spark):
    """The one true UDF family must run as Arrow-batched pandas eval,
    never row-at-a-time python."""
    plan = _plan(_q("abi_binary_decode", spark))
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan  # row-at-a-time pickle path


def test_latest_state_single_shuffle(spark):
    """W1 latest-state: exactly one exchange (the window partition-by);
    a second exchange would mean the dedup re-shuffles."""
    plan = _plan(_q("get_table_state_latest", spark))
    assert plan.count("Exchange hashpartitioning") <= 1


def test_blacklist_antijoin_broadcasts(spark):
    """P16 enforcement: the window set broadcasts into the log scan —
    the log side must not shuffle for the anti-join."""
    plan = _plan(_q("abi_blacklist_applied", spark))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_fork_retraction_broadcast_antijoin(spark):
    plan = _plan(_q("fork_retraction", spark))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_partition_bounds_prune_directories(spark, tmp_path):
    """SURVEY §4 pruning helper: numeric seq bounds derive a literal
    block_part predicate -> Catalyst directory pruning (the lake twin
    of get_transaction's block_hint single-partition routing)."""
    from hyperion_history_api_spark.plans.predicates import (
        QueryParams,
        apply_query,
        partition_bounds_pred,
    )
    (
        spark.range(0, 60_000)
        .select(
            F.col("id").alias("event_id"),
            (F.col("id") / 10_000).cast("long").alias("block_part"),
        )
        .write.partitionBy("block_part")
        .parquet(str(tmp_path) + "/action_log")
    )
    log = spark.read.parquet(str(tmp_path) + "/action_log")
    params = QueryParams(after="30000", before="49999", limit=100)
    out = apply_query(
        log,
        params,
        default_sort_field="event_id",
        seq_field="event_id",
        part_col="block_part",
        seq_per_part=10_000,  # BLOCK_SIZE * PARTITION_BLOCKS
    )
    plan = _plan(out)
    seg = plan.split("PartitionFilters: [", 1)
    assert len(seg) == 2 and "block_part" in seg[1][:200]

    # correctness: pruning must not drop rows vs the unpruned query
    unpruned = apply_query(
        log, params, default_sort_field="event_id", seq_field="event_id"
    )
    assert sorted(r["event_id"] for r in out.collect()) == sorted(
        r["event_id"] for r in unpruned.collect()
    )
    # derived bounds hit exactly partitions 3 and 4
    pred = partition_bounds_pred(log, params, part_col="block_part", seq_per_part=10_000)
    parts = sorted(
        r["block_part"] for r in log.where(pred).select("block_part").distinct().collect()
    )
    assert parts == [3, 4]


def test_packing_has_no_global_window(spark):
    """The sequence-packing prefix sum must never sort the corpus into
    one partition: every window in the plan is partitioned (the only
    unpartitioned one runs over the N-row per-partition totals, which
    Spark marks the same way — so assert on the BIG side: the heavy
    input reaches its window through a hash exchange on _pid, not
    through Exchange SinglePartition feeding the full row set)."""
    plan = _plan(_q("doc_pack_sequences", spark))
    # the corpus-side running sum is clustered by the value-derived
    # chunk key (round 9: data-derived, not spark_partition_id — the
    # runtime-pid form mis-joined offsets when AQE re-coalesced the
    # two subtree executions independently)...
    assert "Exchange hashpartitioning(_chunk" in plan
    # ...and the ONLY single-partition funnel is the N-row totals window
    assert plan.count("Exchange SinglePartition") == 1
    # offsets come back as a broadcast, not a shuffle join
    assert "BroadcastExchange" in plan


def test_repetition_filter_counts_are_partial_agged(spark):
    """The bigram count groupBy must partial-aggregate before its
    shuffle (combiner pattern) and stay entirely JVM-side."""
    plan = _plan(_q("doc_repetition_filter", spark))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_mongo_filters_push_to_scan(spark):
    """Every plain comparison in the Mongo filter document must reach
    the parquet scan as a pushed filter."""
    plan = _plan(_q("get_table_rows_mongo_filters", spark))
    pushed = plan.split("PushedFilters")[1][:400] if "PushedFilters" in plan else ""
    assert "o_totalprice" in pushed and "o_orderdate" in pushed


def test_resize_is_arrow_batched(spark):
    """Multimodal resize runs as ONE Arrow-batched python eval over the
    scan — no extra exchange, no row-at-a-time path."""
    plan = _plan(_q("multimodal_resize", spark))
    assert "ArrowEvalPython" not in plan  # mapInPandas shows as MapInPandas
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_stratified_sample_is_narrow(spark):
    """Per-stratum hash sampling must be a pure filter over the scan —
    no shuffle before the aggregation, no Python, no join for the
    cutoff table (it folds into the CASE expression)."""
    plan = _plan(_q("doc_stratified_sample", spark))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # exactly the agg exchange; the sample itself adds none
    assert plan.count("Exchange hashpartitioning") == 1


def test_global_shuffle_is_one_range_sort(spark):
    """The epoch shuffle must compile to a single range-partitioned
    sort (or a TakeOrdered when topped by a LIMIT) — never a window
    over one partition."""
    plan = _plan(_q("doc_global_shuffle", spark))
    assert "Exchange SinglePartition" not in plan
    assert "Window" not in plan
    assert "TakeOrderedAndProject" in plan or "rangepartitioning" in plan


def test_duplicate_spans_is_posting_shaped(spark):
    """Substring-dup detection must be window-hash postings: JVM-only
    span generation, partial-agged hash count, hash join back — no
    Python, no cartesian product."""
    plan = _plan(_q("doc_duplicate_spans", spark))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert plan.count("HashAggregate") >= 2  # combiner before the shuffle


def test_bucketed_join_no_exchange(spark, tmp_path):
    """S10 routing analog: tables bucketed on the join key join with
    ZERO exchanges (co-located buckets), and a groupBy on the bucket
    key aggregates without a shuffle — the layout lever that removes
    the dominant exchange from recurring joins at 100 TB."""
    from hyperion_history_api_spark.sources.bucketed import (
        read_bucketed,
        write_bucketed,
    )
    from hyperion_history_api_spark.tables import load_tables

    ev = load_tables(spark, SF_DIR)["events"].select(
        "event_id", "user_id", "value"
    )
    try:
        write_bucketed(
            ev, "ev_by_user_a", keys=["user_id"], buckets=8,
            path=str(tmp_path / "ev_a"),
        )
        write_bucketed(
            ev.withColumnRenamed("value", "value_b"), "ev_by_user_b",
            keys=["user_id"], buckets=8, path=str(tmp_path / "ev_b"),
        )
        a = read_bucketed(spark, "ev_by_user_a")
        b = read_bucketed(spark, "ev_by_user_b").select("user_id", "value_b")
        # the fixture fits under the broadcast threshold, which would
        # mask the bucket behavior — force the merge join a 100-TB
        # table would get
        joined = a.hint("merge").join(b, "user_id")
        plan = _plan(joined)
        assert "Exchange" not in plan
        assert "SortMergeJoin" in plan
        # same-key aggregation: no exchange either
        agg = a.groupBy("user_id").count()
        assert "Exchange" not in _plan(agg)
        # sanity: results correct, not just plan-shaped
        n_users = ev.select("user_id").distinct().count()
        assert agg.count() == n_users
    finally:
        spark.sql("DROP TABLE IF EXISTS ev_by_user_a")
        spark.sql("DROP TABLE IF EXISTS ev_by_user_b")


def test_user_sessions_single_key_shuffle(spark):
    """Sessionization compiles to partial agg + MergingSessions over
    ONE hash exchange on the session key; ts null-filter is pushed to
    the scan. (The trailing range exchange is the presentation sort.)"""
    plan = _plan(_q("user_sessions", spark))
    assert "MergingSessions" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "PushedFilters: [IsNotNull(ts)]" in plan


def test_tfidf_single_pass_topk(spark):
    """TF-IDF search, round-15 shape: the WHOLE query runs off one
    corpus tokenize pass (the eager checkpoint job triggered at plan
    build — N and per-term dfs ride it as observe metrics), and the
    scoring plan over the checkpointed match-sized rows has no join at
    all, exactly one hash exchange (the doc_id agg) and a TakeOrdered
    top-20 — no global sort, no single-partition funnel, no second
    scan for df/stats that AQE may or may not dedupe."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    _q("doc_search_tfidf", spark)  # warm (index/stat caches)
    sc.setJobGroup("tfidf-build-pin", "build")
    df = _q("doc_search_tfidf", spark)
    sc.setJobGroup("", "")
    # the single tokenize pass = the one checkpoint materialization at
    # query construction (AQE may split its exchange into a second
    # query-stage job; the CORPUS is scanned once either way)
    assert len(tracker.getJobIdsForGroup("tfidf-build-pin")) <= 2
    plan = _plan(df)
    assert "TakeOrderedAndProject(limit=20" in plan
    assert "Join" not in plan
    # at most the checkpoint exchange + the doc_id agg — match-sized
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "Exchange SinglePartition" not in plan
    # the scoring plan reads the checkpointed rows, not the corpus
    assert "documents.parquet" not in plan


def test_bm25_single_pass_topk(spark):
    """Same round-15 single-pass pin for the BM25 twin (its old form
    paid a SECOND corpus split for the (N, avgdl) stats leg)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    _q("doc_search_bm25", spark)  # warm
    sc.setJobGroup("bm25-build-pin", "build")
    df = _q("doc_search_bm25", spark)
    sc.setJobGroup("", "")
    assert len(tracker.getJobIdsForGroup("bm25-build-pin")) <= 2
    plan = _plan(df)
    assert "TakeOrderedAndProject(limit=20" in plan
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "documents.parquet" not in plan


def test_memo_bm25_single_pass_topk(spark):
    """The memo search over the actions lake takes the same single-pass
    plan as doc_search_bm25: the tf rows are built by one tokenize job
    at query construction, and the scoring plan reads the checkpointed
    rows only — no df/stats join, no lake scan."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    _q("hyp_memo_search_bm25", spark)  # warm (lake build)
    sc.setJobGroup("memo-bm25-build-pin", "build")
    df = _q("hyp_memo_search_bm25", spark)
    sc.setJobGroup("", "")
    assert len(tracker.getJobIdsForGroup("memo-bm25-build-pin")) <= 2
    plan = _plan(df)
    assert "TakeOrderedAndProject(limit=20" in plan
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "FileScan" not in plan


def test_semdedup_no_cartesian(spark):
    """SemDeDup's pairwise leg is ONE hash exchange on the cell key
    feeding a per-cell Arrow GEMM — no pair rows materialized: never a
    cartesian product, never even a join."""
    plan = _plan(_q("embedding_semdedup", spark))
    assert "CartesianProduct" not in plan
    assert "Join" not in plan
    assert "FlatMapGroupsInPandas" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_incremental_dedup_no_cartesian_all_equi(spark):
    """Collapsed incremental dedup: every leg — registry split, band
    probe, Jaccard verify, member expansion — is a hash equi-join;
    no cartesian product anywhere, and the interpreted MinHash
    permutation transforms appear only downstream of the novel-rep
    leg (known-fingerprint docs never reach a signature pass)."""
    plan = _plan(_q("dedup_incremental", spark))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # no Python anywhere: the whole operator is JVM expressions
    assert "EvalPython" not in plan


def test_incremental_dedup_probes_stored_index(spark):
    """Round-4 fix (round-3 verdict item 1): the timed plans PROBE the
    persisted index instead of rebuilding it. Since the round-11
    restructure the probe runs as a checkpoint pipeline — annotated
    split -> novel shingles -> verified rep pairs -> restricted
    members — so the stored-index scans live in the CHECKPOINTED
    subtrees, captured here by spying localCheckpoint; the final
    expansion plan must be pure materialized-block joins (no parquet
    scan at all). History must never be re-shingled: the banding
    Generate appears at most twice across the whole pipeline (the
    novel reps' bands feed both the probe and target unions); an
    in-plan history rebuild would add a third from the full corpus."""
    from pyspark.sql.classic.dataframe import DataFrame

    captured: list[str] = []
    orig = DataFrame.localCheckpoint

    def spy(self, eager=True):
        captured.append(self._jdf.queryExecution().executedPlan().toString())
        return orig(self, eager=eager)

    try:
        DataFrame.localCheckpoint = spy
        final = _plan(_q("dedup_incremental", spark))
    finally:
        DataFrame.localCheckpoint = orig
    assert len(captured) == 4  # ann, new_hashed, rep_pairs, members_rel
    ann, new_hashed, rep_pairs, members_rel = captured
    # the batch split scans the batch source + the stored registry
    assert "documents.parquet" in ann and "dedup_idx_registry" in ann
    # the verify leg probes the STORED band/hash frames; the member
    # expansion reads the STORED members frame; none of them touch
    # the corpus source
    assert "dedup_idx_bands" in rep_pairs and "dedup_idx_hashes" in rep_pairs
    assert "dedup_idx_members" in members_rel
    for p in (new_hashed, rep_pairs, members_rel):
        assert "documents.parquet" not in p
    # ONE restricted members scan in the whole pipeline (the round-11
    # point: the expansion's four references read its blocks)
    assert members_rel.count("dedup_idx_members") == 1
    # the final action joins materialized blocks only
    assert "Scan ExistingRDD" in final
    assert "FileScan" not in final and "documents.parquet" not in final
    combined = "".join(captured) + final
    assert combined.count("Generate inline") <= 2


def test_quantized_topk_scans_stored_int8(spark):
    """Round-4 fix (round-3 verdict item 3) + round-15 GEMM: the
    quantized candidate scan reads the STORED array<tinyint> table and
    scores via the Arrow-batched numpy matmul (the brute_force_topk
    path — probes are driver-resident and ride in the UDF closure, so
    no full-precision embeddings scan and no join appears in the
    serving plan at all)."""
    plan = _plan(_q("embedding_quantized_topk", spark))
    assert "int8_codes" in plan
    assert "ArrowEvalPython" in plan  # the GEMM batch kernel
    assert "embeddings.parquet" not in plan  # probes live in the closure
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_ccnet_buckets_freqs_broadcast(spark):
    """CCNet bucketing: the per-language vocab and totals broadcast
    into the scoring pass (map-side after the freq build) — the word
    scoring join must NEVER shuffle the exploded corpus."""
    plan = _plan(_q("ccnet_perplexity_buckets", spark))
    assert "BroadcastHashJoin" in plan
    assert plan.count("SortMergeJoin") == 0


def test_http_route_plans_push_down(spark):
    """The get_blocks and get_table_state routes run the registry rows
    get_blocks_range and get_table_state_latest: the range predicate
    reaches the scan; the as-of bound prunes before the window (one
    exchange)."""
    from hyperion_history_api_spark.api.endpoints_ext import get_blocks_range
    from hyperion_history_api_spark.api.state import get_table_state_latest

    plan = _plan(get_blocks_range(spark, SF_DIR, after=100, before=699))
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters")[1][:160]
    assert "GreaterThan" in pushed and "LessThan" in pushed

    plan = _plan(get_table_state_latest(spark, SF_DIR, block=800))
    assert "LessThanOrEqual(event_id,800" in plan.split("PushedFilters")[1][:200]
    assert plan.count("Exchange") == 1  # the window key shuffle only


def test_shard_assignment_prunes_columns_and_broadcasts(spark):
    """The shard-assignment prefix sum reads ONLY the three columns it
    needs (no text in the scan) and ships offsets by broadcast."""
    plan = _plan(_q("doc_shard_assignment", spark))
    read = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "text" not in read and "n_chars" in read
    assert "BroadcastExchange" in plan
    assert "Exchange hashpartitioning(_chunk" in plan


def test_live_relay_tick_job_counts(spark, tmp_path):
    """The live relay's 100x shape, asserted (round-12 verdict item
    3): an idle tick on an unchanged lake runs ZERO Spark jobs (the
    fingerprint-memoized head proves the window empty); an arrival
    tick runs exactly ONE routed-scan job per kind — plus the single
    head-max job on the tick that first sees the new spool file —
    regardless of how many subscriptions are registered. The routed
    plan itself reads the events source exactly once."""
    import json as _json
    import shutil

    from hyperion_history_api_spark.api.http_server import HyperionAPI
    from hyperion_history_api_spark.api.serving_cache import ResponseCache
    from hyperion_history_api_spark.api.http_server import LiveRelay
    from hyperion_history_api_spark.tables import load_tables

    lake = tmp_path / "lake"
    evdir = lake / "events.parquet"
    evdir.mkdir(parents=True)
    shutil.copy(
        "/root/testdata/sf0.001/events.parquet", evdir / "part-000.parquet"
    )
    for t in (
        "region nation customer supplier part orders lineitem "
        "documents embeddings"
    ).split():
        shutil.copy(
            f"/root/testdata/sf0.001/{t}.parquet", lake / f"{t}.parquet"
        )
    ev = load_tables(spark, str(lake))["events"]
    head = int(ev.agg(F.max("event_id")).first()[0])
    api = HyperionAPI(spark, str(lake), cache=ResponseCache(default_ttl=0))
    relay = LiveRelay(api, poll_sec=0.5)
    relay.close()  # ticks driven manually; register()'s thread exits
    for i in range(16):
        kind = "action" if i % 2 == 0 else "delta"
        params = {
            "account": str(i % 5),
            "filters": _json.dumps(
                [{"field": "value", "operator": "gte", "value": i % 3}]
            ),
        }
        if kind == "delta":
            params["stream"] = "deltas"
        req, _k = api.parse_stream_request(params)
        relay.register(i, f"req-{i}", kind, req, head)

    sc = spark.sparkContext

    def tick_jobs(tag: str) -> tuple[int, int]:
        """(total jobs, routed-scan jobs) for one manual tick."""
        sc.setJobGroup(tag, "relay tick")
        relay._tick()
        sc.setJobGroup("idle", "")
        st = sc.statusTracker()
        jids = st.getJobIdsForGroup(tag)
        routed = 0
        for jid in jids:
            info = st.getJobInfo(jid)
            names = [
                st.getStageInfo(s).name
                for s in info.stageIds
                if st.getStageInfo(s) is not None
            ]
            if any("collect at" in n for n in names):
                routed += 1
        return len(jids), routed

    api.head_block()  # warm the head memo (the session's first stat)
    assert tick_jobs("relay-idle-1") == (0, 0)
    assert tick_jobs("relay-idle-2") == (0, 0)
    spark.createDataFrame(
        [(head + 1, 1, "click", 5.0, '{"k": 1}')],
        "event_id long, user_id long, event_type string, value double, "
        "props string",
    ).withColumn(
        "ts", F.timestamp_micros(F.lit(1_700_000_000_000_000))
    ).coalesce(1).write.mode("append").parquet(str(evdir))
    # arrival: exactly ONE routed-scan (collect) job per kind for the
    # {action, delta} mix — 16 subscriptions, 2 scans. The remaining
    # jobs are the once-per-new-file costs (parquet listing + the
    # head-max, which AQE may split in two), never per-subscription.
    total, routed = tick_jobs("relay-arrival")
    assert routed == 2
    assert total <= 5
    # the file is absorbed: the very next tick is idle again
    assert tick_jobs("relay-idle-3") == (0, 0)
    # routed-plan shape: ONE scan of the events source, no exchange
    # (the driver sorts the bounded batch; a Spark sort would add
    # AQE stage-jobs per tick)
    from hyperion_history_api_spark.streaming.filters import (
        StreamSchema,
        route_to_subscribers,
    )

    reqs = {
        u: s["req"] for u, s in relay._subs.items() if s["kind"] == "action"
    }
    from hyperion_history_api_spark.tables import _load_one

    evd = _load_one(spark, str(evdir))
    plan = _plan(
        route_to_subscribers(
            evd.where(F.col("event_id") > head),
            reqs,
            StreamSchema(json_col="props"),
        )
    )
    assert plan.count("Scan parquet") == 1
    assert "Exchange" not in plan


def _cache_miss_jobs(spark, cases: dict) -> dict[str, tuple[dict, int]]:
    """kind -> (body, Spark jobs) for one call of each route with the
    head memo warm, every route called once before to warm the table
    reads and the lake; ``cases`` maps kind -> (path, params, _)."""
    from hyperion_history_api_spark.api.http_server import HyperionAPI
    from hyperion_history_api_spark.api.serving_cache import ResponseCache

    api = HyperionAPI(spark, SF_DIR, cache=ResponseCache(default_ttl=0))
    sc = spark.sparkContext
    st = sc.statusTracker()
    api.log_head()
    for path, params, _ in cases.values():
        api.routes[path](params)
    got = {}
    for kind, (path, params, _) in cases.items():
        group = f"route-jobs-{kind}"
        sc.setJobGroup(group, group)
        try:
            body = api.routes[path](params)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        got[kind] = (body, len(st.getJobIdsForGroup(group)))
    return got


def test_history_route_cache_miss_job_counts(spark):
    """A cache miss on a history route runs the fewest Spark jobs that
    still give an exact answer, with the head memo warm: get_actions
    and get_deltas answer page + exact total in ONE job (the total is
    an observe metric under the page's top-K; the log head comes from
    the stat-fingerprint memo), as does ``model=hyperion``
    get_actions; get_transaction runs the orders key lookup plus one
    lineitem scan, with the traces ordered on the driver."""
    from hyperion_history_api_spark.tables import load_tables

    trx = load_tables(spark, SF_DIR)["orders"].first()["o_orderkey"]
    cases = {
        "get_actions": ("/v2/history/get_actions", {"account": "7", "limit": "20"}, 1),
        "get_deltas": ("/v2/history/get_deltas", {"scope": "7", "limit": "20"}, 1),
        "get_actions-hyperion": (
            "/v2/history/get_actions",
            {"model": "hyperion", "account": "user7", "limit": "20"},
            1,
        ),
        "get_transaction": ("/v2/history/get_transaction", {"id": str(trx)}, 2),
    }
    got = _cache_miss_jobs(spark, cases)
    for kind, (body, _) in got.items():
        assert body.get("actions"), kind
    assert {k: jobs for k, (_, jobs) in got.items()} == {
        kind: want for kind, (_, _, want) in cases.items()
    }


def test_mix_route_cache_miss_job_counts(spark):
    """The other routes of the serving benchmark's mix, pinned the same
    way: get_table_state is the as-of window plus its key page (2),
    get_top_holders one top-K (1), get_trx_count one count (2, the
    partial and final aggregate), get_creator one top-1 (1), get_tokens
    its keyed chain (3: the orders, lineitem and part scans). Beside
    them get_account, whose serial legs are the account row's join and
    rollup (3), the get_tokens core (3), the recent-actions top-K (1)
    and the links rollup (2)."""
    cases = {
        "get_table_state": (
            "/v2/history/get_table_state",
            {"block": "800", "limit": "50"},
            2,
        ),
        "get_top_holders": ("/v2/state/get_top_holders", {"limit": "20"}, 1),
        "get_trx_count": ("/v2/stats/get_trx_count", {}, 2),
        "get_creator": ("/v2/history/get_creator", {"account": "7"}, 1),
        "get_tokens": ("/v2/state/get_tokens", {"account": "7"}, 3),
        "get_account": ("/v2/state/get_account", {"account": "7"}, 9),
    }
    got = _cache_miss_jobs(spark, cases)
    assert got["get_table_state"][0]["rows"]
    assert got["get_tokens"][0]["tokens"]
    assert got["get_account"][0]["tokens"] == got["get_tokens"][0]["tokens"]
    assert {k: jobs for k, (_, jobs) in got.items()} == {
        kind: want for kind, (_, _, want) in cases.items()
    }


def _executed_plans(spark, fn) -> list[str]:
    """The physical plan of every SQL query ``fn`` runs, from the SQL
    status store (fed by the listener bus, so the bus is drained
    before each look)."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def executions() -> dict[int, str]:
        bus.waitUntilEmpty()
        it = store.executionsList().iterator()
        out = {}
        while it.hasNext():
            e = it.next()
            out[e.executionId()] = e.physicalPlanDescription()
        return out

    before = executions()
    fn()
    return [plan for i, plan in executions().items() if i not in before]


def test_get_tokens_is_a_keyed_chain(spark):
    """A get_tokens cache miss runs three scan queries, each one parquet
    scan with a key in its PushedFilters, and no Exchange: the account
    prunes orders, the collected order keys reach the lineitem scan as
    ``In`` and the surviving part keys reach the part scan the same
    way. Past ``broadcast_rows`` order keys the core falls back to the
    join chooser, with the same rows."""
    from hyperion_history_api_spark.api.endpoints_ext import _get_tokens
    from hyperion_history_api_spark.api.http_server import HyperionAPI
    from hyperion_history_api_spark.api.serving_cache import ResponseCache

    api = HyperionAPI(spark, SF_DIR, cache=ResponseCache(default_ttl=0))
    route = api.routes["/v2/state/get_tokens"]
    route({"account": "7"})  # warm the table reads
    plans = _executed_plans(spark, lambda: route({"account": "7"}))
    assert not [p for p in plans if "Exchange" in p]
    scans = [p for p in plans if "Scan parquet" in p]
    # the fourth query collects the local result frame: no scan, no job
    assert len(scans) == 3 and len(plans) == 4
    assert all(p.count("Location: ") == 1 for p in scans)  # one file scan each
    scans = {
        table: next(p for p in scans if f"{table}.parquet" in p)
        for table in ("orders", "lineitem", "part")
    }
    assert "EqualTo(o_custkey,7)" in scans["orders"]
    assert "PushedFilters: [In(l_orderkey, [" in scans["lineitem"]
    assert "PushedFilters: [In(p_partkey, [" in scans["part"]

    df, strategy = _get_tokens(spark, SF_DIR, account=7)
    assert strategy == "keyed"
    assert "LocalTableScan" in _plan(df)
    joined, joined_strategy = _get_tokens(spark, SF_DIR, account=7, broadcast_rows=2)
    assert joined_strategy != "keyed"
    assert [r.asDict() for r in joined.collect()] == [
        r.asDict() for r in df.collect()
    ]
