"""Skew-aware join execution — key-heat profiling, salted
replication, and cost-gated strategy choice.

Reference anchor: the reference's ``scaling.routing_mode: "heatmap"``
(src/indexer/workers/deserializer.ts:612-645 routes a hot contract
account's messages round-robin over an assigned worker POOL;
src/indexer/modules/master.ts:1077 maintains that pool map). That is
hand-rolled skew salting: one hot key fanned over N workers instead
of hashing to a single queue. The Spark-first translation keeps the
same three ingredients but expresses them declaratively:

- ``key_skew_profile`` is the heatmap: per-key row share measured on
  a DETERMINISTIC hash sample (salted-md5 bucket like
  ``operators/sampling.py``), so the profile itself is reproducible
  and oracle-checkable — not an RNG estimate.
- ``salted_join`` is the worker pool: the fact side's hot key is
  split into ``salts`` sub-keys (``pmod(xxhash64(id), salts)``) and
  the dim side is replicated once per salt with a generator — the
  join key becomes (key, salt), so one hot key occupies ``salts``
  reduce tasks instead of one straggler. Salting never changes the
  join RESULT (each fact row still meets exactly one replica of its
  dim row), which is why the oracle for a salted query is the plain
  join SQL.
- ``choose_join_strategy`` is the routing_mode switch: broadcast when
  the dim fits (no shuffle at all beats any salting), salt when the
  profiled top-key share says a single reduce task would carry a
  constant fraction of the fact table, plain shuffle otherwise.

Relation to AQE: ``spark.sql.adaptive.skewJoin.enabled`` already
splits oversized partitions of sort-merge joins at runtime from
shuffle statistics. Salting complements it where AQE can't reach —
broadcast-ineligible dims under ``ShuffledHashJoin``, skew known
ahead of time (the heatmap case: hot system contracts are hot every
day), and engines/stages AQE doesn't re-plan. Aggregation skew is
deliberately NOT salted here: Spark's partial (map-side) aggregation
already collapses algebraic aggs per map task, so a groupBy on a
5-value key ships at most 5 rows per task regardless of skew.

Scale: the profile is one narrow sample-filter + groupBy on the key
(tiny output); salting adds a ``salts``-way replication of the dim
side only — the classic trade of dim-side IO for reduce-side
parallelism, chosen only when the profile proves a straggler.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession  # noqa: F401
from pyspark.sql import functions as F

from .sampling import hash_bucket, _cutoff_hex

#: Join types for which salting is result-equivalent to the unsalted
#: join (each fact row meets exactly one replica of its dim row; no
#: dim-preserving null-extension that would duplicate per salt).
#: Keys are Spark's accepted spellings normalized via _norm_how.
_SALT_SAFE_HOW = frozenset(
    {"inner", "left", "leftouter", "leftsemi", "semi", "leftanti", "anti"}
)


def _norm_how(how: str) -> str:
    """Normalize a Spark join-type spelling (lowercase, strip ``_``),
    mirroring Spark's own ``JoinType.apply`` alias handling so the
    salt-safety gate accepts every spelling Spark itself accepts."""
    return how.lower().replace("_", "")


def key_skew_profile(
    df: DataFrame,
    key_col: str,
    *,
    id_col: str,
    sample_fraction: float = 1.0,
    seed: str = "skew",
) -> DataFrame:
    """Per-key heat: ``(key, key_rows, share)`` over a deterministic
    hash sample (``sample_fraction`` of rows by salted-md5 bucket of
    ``id_col``), descending by share.

    Deterministic by construction — the same rows are sampled on any
    cluster and in the oracle — so a planner decision taken from this
    profile is reproducible, unlike one taken from ``df.sample``.
    Scale: the sample predicate is a narrow map over the scan; the
    groupBy output is one row per distinct key (bounded by key
    cardinality, not data size); the total is one broadcast scalar.
    """
    d = df
    if sample_fraction < 1.0:
        d = df.where(
            hash_bucket(F.col(id_col), seed) < _cutoff_hex(sample_fraction)
        )
    counts = d.groupBy(key_col).agg(F.count("*").alias("key_rows"))
    total = counts.agg(F.sum("key_rows").alias("__total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            key_col,
            "key_rows",
            F.round(F.col("key_rows") / F.col("__total"), 4).alias("share"),
        )
        .orderBy(F.desc("share"), key_col)
    )


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str,
    *,
    salt_id_col: str,
    salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Join ``fact`` to ``dim`` on ``on`` with the fact side's key
    salted into ``salts`` sub-keys and the dim side replicated once
    per salt — the heatmap worker-pool shape as a DataFrame plan.

    The fact salt is ``pmod(xxhash64(salt_id_col), salts)``: a pure
    function of a stable fact column, so the plan is deterministic
    (replay-identical), yet uniform across salts. The dim side gets a
    generator (``explode(sequence(...))``) — ``salts`` copies of each
    dim row, NOT a broadcast: this path exists precisely for dims too
    big to broadcast. Each fact row matches exactly the one replica
    carrying its salt, so the result equals the unsalted join for
    both ``inner`` and ``left`` (pinned by tests/test_skew.py).

    Scale: the join shuffles on (key, salt) — a key carrying p% of
    the fact table occupies ``salts`` reduce tasks at p/salts each
    instead of one straggler at p. Cost: dim IO × salts. Worth it iff
    the profile shows a genuinely hot key; ``choose_join_strategy``
    applies that gate.
    """
    if salts < 1:
        raise ValueError("salts must be >= 1")
    if _norm_how(how) not in _SALT_SAFE_HOW:
        # right/full would null-extend each UNMATCHED dim row once per
        # salt replica — `salts` duplicate rows the unsalted join never
        # emits. Only fact-side-preserving joins are salt-equivalent.
        raise ValueError(
            f"salted_join is result-equivalent to the unsalted join only "
            f"for inner/left/semi/anti (any Spark spelling), not {how!r}"
        )
    f = fact.withColumn(
        "__salt", F.pmod(F.xxhash64(F.col(salt_id_col)), F.lit(salts))
    )
    d = dim.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salts - 1)))
    ).withColumn("__salt", F.col("__salt").cast("bigint"))
    return f.join(d, [on, "__salt"], how).drop("__salt")


#: the largest dimension :func:`choose_join_strategy` will broadcast
BROADCAST_ROWS = 100_000


def choose_join_strategy(
    fact: DataFrame,
    dim: DataFrame,
    on: str,
    *,
    salt_id_col: str,
    broadcast_rows: int = BROADCAST_ROWS,
    skew_share: float = 0.2,
    sample_fraction: float = 0.05,
    salts: int = 8,
    how: str = "inner",
    dim_rows: int | None = None,
    fact_rows: int | None = None,
    broadcast_payoff: float = 4.0,
    fact_floor_rows: int = 5_000_000,
) -> tuple[DataFrame, str]:
    """Pick broadcast / salted / shuffle for this join and return
    ``(joined_df, strategy)``.

    Planner-time cost: one dim count (at production scale a catalog
    statistics lookup — callers that have one inject it via
    ``dim_rows`` and pay zero planner jobs) and — only when the dim
    is broadcast-ineligible — one profile job over the deterministic
    sample. When the chooser must count a DERIVED dim itself, the dim
    is persisted first so the count's work (often the dominant cost —
    e.g. an aggregation over the fact) is reused by the join instead
    of computed twice; the one-copy cache is strictly cheaper than
    the double computation because the count must materialize the agg
    anyway (A/B artifact: JOIN_CHOOSER_BENCH_r06.json). Decision
    order mirrors real cost:

    1. dim fits (``<= broadcast_rows``) AND the broadcast pays for
       itself -> ``broadcast``. Payoff term (round-7 verdict item 5):
       what a broadcast BUYS is the avoided fact exchange
       (~``fact_rows``); what it COSTS is a near-FIXED driver
       round-trip (collect + torrent publish) plus shipping the dim
       once per executor. So the gate has two parts, both measured in
       JOIN_CHOOSER_BENCH_r08.json: a RATIO term (``fact_rows >=
       broadcast_payoff x dim_rows`` — the avoided exchange must
       outweigh the per-executor dim replication) and an ABSOLUTE
       floor (``fact_rows >= fact_floor_rows`` — below it the whole
       fact exchange costs less than the broadcast build itself, the
       "scan dominates" serving-page regime; measured crossover on
       local[32] sits between a 4.5M-row fact, where shuffle-hash
       still wins — the r13 sf3 account_profiles A/B,
       JOIN_CHOOSER_BENCH_r13.json: shuffle_hash 0.58 s vs broadcast
       0.84 s on a 4.5M-row orders fact — and a 6M-row fact, where
       broadcast wins outright (the r8 measurement); 5M is the
       bracket midpoint, refined round-14 from the earlier [1.5M, 6M]
       guess of 4M, and a cluster deployment recalibrates it from its
       own build-latency / shuffle-IO-rate constants). Failing either
       part takes ``shuffle_hash``.
       Callers inject ``fact_rows`` from catalog stats exactly like
       ``dim_rows``; when absent the gate is size-only (the
       pre-round-8 behavior: never worse, just blinder).
    2. profiled top-key share ``>= skew_share`` -> ``salted`` (a
       single reduce task would otherwise carry that share of the
       fact table no matter how many executors exist);
    3. otherwise -> plain ``shuffle`` (uniform keys spread fine;
       replication would add dim IO for nothing). ``shuffle_hash``
       when the dim was broadcast-SIZED but payoff-gated out: a dim
       that small always fits a per-task hash build, so the sort-
       merge sort would be waste.
    """
    if dim_rows is None:
        # MEMORY_AND_DISK (the persist() default): a dim that turns
        # out broadcast-ineligible may exceed executor memory and
        # must spill, not OOM. The cache is deliberately left to
        # Spark's LRU eviction rather than unpersisted here — the
        # join has not executed yet at return time, so an eager
        # unpersist would forfeit exactly the reuse the persist buys;
        # hot serving paths avoid the question entirely by injecting
        # dim_rows from catalog stats (sources/stats.py).
        dim = dim.persist()
        dim_rows = dim.count()
    if dim_rows <= broadcast_rows:
        if fact_rows is not None and (
            fact_rows < broadcast_payoff * dim_rows
            or fact_rows < fact_floor_rows
        ):
            # broadcast-sized but not broadcast-WORTH: the fact
            # exchange it would avoid is smaller than the dim
            # build+ship (ratio term) or than the build's fixed
            # latency (absolute floor). Hash (not sort-merge): a
            # broadcast-sized dim always fits a per-task hash build.
            return fact.join(dim.hint("shuffle_hash"), on, how), "shuffle_hash"
        return fact.join(F.broadcast(dim), on, how), "broadcast"
    if _norm_how(how) not in _SALT_SAFE_HOW:
        # dim-preserving joins can't be salted (see salted_join); past
        # broadcast size they go straight to the plain shuffle.
        return fact.join(dim, on, how), "shuffle"
    top = (
        key_skew_profile(
            fact, on, id_col=salt_id_col, sample_fraction=sample_fraction
        )
        .select("share")
        .first()
    )
    if top is not None and top["share"] >= skew_share:
        return (
            salted_join(
                fact, dim, on, salt_id_col=salt_id_col, salts=salts, how=how
            ),
            "salted",
        )
    return fact.join(dim, on, how), "shuffle"
