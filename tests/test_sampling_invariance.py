"""The property the deterministic sampling/shuffle operators exist
for: the result is a pure function of (seed, id) — repartitioning,
partition count, and row order must not change what is kept or the
produced permutation (unlike df.sample / df.sampleBy / rand(), which
are all partition-dependent).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hyperion_history_api_spark.operators.sampling import (
    global_shuffle,
    hash_sample,
    hash_split,
    stratified_sample,
    temperature_mix,
)
from hyperion_history_api_spark.tables import load_tables

SF_DIR = "/root/testdata/sf0.001"


def _docs(spark):
    return load_tables(spark, SF_DIR)["documents"]


def _ids(df):
    return sorted(r[0] for r in df.select("doc_id").collect())


def test_hash_sample_partition_invariant(spark):
    docs = _docs(spark)
    a = _ids(hash_sample(docs.repartition(1), "doc_id", 0.2))
    b = _ids(hash_sample(docs.repartition(13, "lang"), "doc_id", 0.2))
    assert a == b and a  # same kept set, non-empty


def test_stratified_sample_partition_invariant_and_per_stratum(spark):
    docs = _docs(spark)
    fr = {"en": 0.5, "zh": 1.0, "es": 1.0, "de": 0.25, "fr": 0.25}
    a = _ids(stratified_sample(docs.repartition(1), "doc_id", "lang", fr))
    b = _ids(stratified_sample(docs.coalesce(3), "doc_id", "lang", fr))
    assert a == b and a
    # full-keep strata are complete; zero-default drops unknown strata
    kept = stratified_sample(docs, "doc_id", "lang", fr)
    n_zh = docs.where(F.col("lang") == "zh").count()
    assert kept.where(F.col("lang") == "zh").count() == n_zh
    none_kept = stratified_sample(docs, "doc_id", "lang", {})
    assert none_kept.count() == 0


def test_split_is_total_and_stable(spark):
    docs = _docs(spark)
    split = hash_split(docs, "doc_id")
    assert split.count() == docs.count()
    again = hash_split(docs.repartition(7), "doc_id")
    joined = split.select("doc_id", "split").join(
        again.select("doc_id", F.col("split").alias("split2")), "doc_id"
    )
    assert joined.where(F.col("split") != F.col("split2")).count() == 0


def test_global_shuffle_same_permutation_any_partitioning(spark):
    docs = _docs(spark)
    a = [r[0] for r in global_shuffle(docs.repartition(1), "doc_id").select("doc_id").collect()]
    b = [r[0] for r in global_shuffle(docs.repartition(17), "doc_id").select("doc_id").collect()]
    assert a == b and len(a) == docs.count()
    # different seed -> different permutation (epochs differ)
    c = [r[0] for r in global_shuffle(docs, "doc_id", seed="epoch2").select("doc_id").collect()]
    assert c != a


def test_weighted_sample_partition_invariant_and_proportional(spark):
    from hyperion_history_api_spark.operators.sampling import weighted_sample

    docs = _docs(spark).withColumn(
        "w", (F.col("doc_id") % 4 + 1).cast("double")
    )
    a = _ids(weighted_sample(docs.repartition(1), "doc_id", "w", 0.3))
    b = _ids(weighted_sample(docs.repartition(11, "lang"), "doc_id", "w", 0.3))
    assert a == b and a
    # acceptance scales with weight: the heaviest stratum (w=4) must
    # keep at least the lightest's (w=1) rate on any non-trivial corpus
    kept = weighted_sample(docs, "doc_id", "w", 0.3)
    n4 = docs.where(F.col("w") == 4.0).count()
    n1 = docs.where(F.col("w") == 1.0).count()
    k4 = kept.where(F.col("w") == 4.0).count() / max(n4, 1)
    k1 = kept.where(F.col("w") == 1.0).count() / max(n1, 1)
    assert k4 > k1
    # zero-weight rows are never kept
    z = docs.withColumn("w", F.lit(0.0))
    assert weighted_sample(z, "doc_id", "w", 0.9).count() == 0


def test_quota_cap_deterministic_and_bounded(spark):
    """Per-group quota: kept set identical under any partitioning,
    never exceeds the quota, keeps whole groups smaller than it, and
    picks the TOP of the ordering with id tie-breaks."""
    from hyperion_history_api_spark.operators.sampling import quota_cap

    rows = [
        ("a", 1, 100), ("a", 2, 100), ("a", 3, 300), ("a", 4, 50),
        ("b", 5, 10),
        ("c", 6, 7), ("c", 7, 7), ("c", 8, 7),
    ]
    df = spark.createDataFrame(rows, "src string, doc_id long, n long")
    kept = lambda d: sorted(
        (r["src"], r["doc_id"])
        for r in quota_cap(
            d, group_col="src", quota=2, order_col="n", id_col="doc_id"
        ).collect()
    )
    got = kept(df)
    # a: 300 then the n=100 tie broken by lower doc_id; b: all (< quota);
    # c: two of the three-way tie, lowest ids
    assert got == [("a", 1), ("a", 3), ("b", 5), ("c", 6), ("c", 7)]
    assert got == kept(df.repartition(7)) == kept(df.coalesce(1))


def test_token_budget_cap_greedy_prefix_semantics(spark):
    """Budget walk: rows kept while the running total STARTS inside
    the budget — an over-budget doc at rank 1 still enters (every
    group contributes its best prefix), and the first row starting
    at/past the line is cut."""
    from hyperion_history_api_spark.operators.sampling import (
        token_budget_cap,
    )

    rows = [
        ("big", 1, 5000),          # single doc over budget: kept
        ("tight", 2, 1500), ("tight", 3, 400), ("tight", 4, 400),
        # running: 1500, 1900, 2300 -> third row starts at 1900 < 2000
        # so ALL THREE kept; a fourth would start at 2300 and be cut
        ("exact", 5, 2000), ("exact", 6, 1),
        # second row starts exactly AT the budget -> cut
    ]
    df = spark.createDataFrame(rows, "src string, doc_id long, n long")
    got = sorted(
        (r["src"], r["doc_id"])
        for r in token_budget_cap(
            df,
            group_col="src",
            budget=2000,
            tokens_col="n",
            order_col="n",
            id_col="doc_id",
        ).collect()
    )
    assert got == [
        ("big", 1),
        ("exact", 5),
        ("tight", 2), ("tight", 3), ("tight", 4),
    ]


def test_temperature_mix_zero_mass_group_excluded(spark):
    """A source whose every doc weighs 0 made the keep-rate NaN, and
    least(1.0, NaN) = 1.0 kept the degenerate group in FULL; its
    m^(1/T) share is 0, so it must contribute nothing."""
    rows = [("good", i, 100) for i in range(40)] + [
        ("empty", 100 + i, 0) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "source string, doc_id long, n long")
    kept = temperature_mix(
        df,
        group_col="source",
        id_col="doc_id",
        weight_col="n",
        temperature=2.0,
        fraction=0.5,
    ).collect()
    assert kept, "non-degenerate source should sample"
    assert all(r["source"] == "good" for r in kept)
