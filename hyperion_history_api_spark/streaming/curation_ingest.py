"""Streaming END-TO-END corpus curation: the full pretraining-data
build — quality filter →
language filter → benchmark decontamination → incremental near-dup
dedup against a persisted index → transitive-cluster keeper selection
→ deterministic split rollup — running as ONE ``foreachBatch``
pipeline over arriving micro-batches, with the invariant that the
streamed corpus equals the one-shot batch build
(``api/curation.corpus_curation_full``) over ANY batch split.

Why each stage composes streaming-safely:

- quality/language scoring is per-row (narrow projections — a row's
  verdict never depends on other rows);
- decontamination is against a FIXED benchmark set supplied up front
  (the realistic shape: eval benchmarks are static artifacts; grams
  broadcast once), so a doc's verdict is batch-invariant;
- near-dup pairs come from the persisted :class:`DedupIndexStore` —
  each batch probes the stored index and extends it by delta, and the
  union of per-batch pair outputs over any arrival order equals the
  full-corpus ``minhash_lsh_pairs`` (the property
  tests/test_streaming_dedup.py proves end-to-end);
- keeper selection (component min over the accumulated pair graph)
  and the split rollup are computed over the ACCUMULATED logs — they
  are the serving-time fold, not per-batch state, because a late
  arrival can join two existing duplicate clusters and flip a keeper:
  any per-batch keeper decision would be unsound, so none is made.

Scale shape per batch: narrow filters (pushed to the feed scan), one
broadcast anti-join for decontamination, the O(batch) index
probe/extend, two idempotent ``ingest_batch=<id>`` appends. The fold
is one clustering pass over slim (id, tokens) + (id_a, id_b) rows —
the corpus text is never re-read.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import stopword_ratio, token_count
from .dedup_ingest import DedupIndexStore, pair_and_commit

_STOPWORDS = ["the", "a", "of", "and", "to"]


def curation_filter(
    batch: DataFrame,
    *,
    text_col: str = "text",
    lang_col: str = "lang",
    lang: str = "en",
    min_tokens: int = 30,
    min_stop_ratio: float = 0.02,
) -> DataFrame:
    """The per-row quality/language stage (the ``kept`` CTE of
    corpus_curation_full) — pure narrow projections, identical on a
    batch or a micro-batch by construction."""
    return batch.withColumn(
        "tokens", token_count(F.col(text_col))
    ).withColumn(
        "stop_ratio", stopword_ratio(F.col(text_col), _STOPWORDS)
    ).where(
        (F.col(lang_col) == lang)
        & (F.col("tokens") >= min_tokens)
        & (F.col("stop_ratio") >= min_stop_ratio)
    )


def make_curation_sink(
    spark: SparkSession,
    out_dir: str,
    eval_docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    compact_every: int | None = 8,
    assume_small_batch: bool = True,
):
    """foreachBatch sink for the composed curation pipeline.

    ``eval_docs`` is the static benchmark frame (id + text): its docs
    are excluded from the corpus and its n-grams decontaminate every
    batch. Per batch: filter → decontam → append surviving rows to the
    ``clean`` log → probe/extend the dedup index and append the
    batch's near-dup pairs — both appends under the replay-idempotent
    ``ingest_batch=<id>`` overwrite discipline, the index behind the
    shared CommitLog pointer with the ``last_ingest_batch`` replay
    guard (an at-least-once retry of an applied batch re-overwrites
    its own pairs/clean dirs and leaves the index untouched, so the
    WHOLE sink is idempotent, not just the partition writes).
    Returns ``(sink, paths)``. ``sink.close()`` releases the
    session-lifetime executor memory the sink pins (the persisted
    benchmark grams and the index store's frame cache) — call it when
    the streaming query terminates; the sink must not be invoked
    afterwards.

    ``assume_small_batch`` (default True) asserts every micro-batch
    fits the dedup probe's 64 MB broadcast gate, skipping the
    per-wave gate count (~17% of steady wave latency). Pass False for
    feeds that may replay bulk-sized spool files — those batches pay
    the counted gate and fall back to a shuffle join.
    """
    from ..operators.decontam import clean_corpus

    store = DedupIndexStore(
        spark,
        os.path.join(out_dir, "dedup_index"),
        compact_every=compact_every,
        # the probe DAG re-references the stored frames ~8x per wave;
        # the version-checked cache keeps them persisted across waves
        # instead of re-scanning parquet
        cache_frames=True,
    )
    paths = {
        "clean": os.path.join(out_dir, "clean"),
        "pairs": os.path.join(out_dir, "dup_pairs"),
        "index": store.path,
    }
    # the benchmark id set is tiny and STATIC: collect it once and
    # exclude via an isin() predicate folded into the batch scan — a
    # per-wave broadcast anti-join would cost one broadcast build job
    # every micro-batch for the same constant set.
    # Guardrails: NOT IN under SQL three-valued logic silently drops
    # null ids, so the predicate is made null-safe; and an eval set
    # too large to embed as plan literals (it would bloat every batch
    # plan) falls back to the broadcast anti-join path.
    # Both paths share ONE semantic — null-id batch docs are KEPT: a
    # left_anti join uses plain (non-null-safe) equality, so a null id
    # never matches any eval row, even a null one; the isin predicate
    # mirrors that exactly (a null eval id is dropped from the literal
    # list — it can exclude nothing in either path). The stream==batch
    # invariant depends on the two paths never diverging on nulls.
    _EVAL_ISIN_MAX = 10_000
    eval_id_list = [
        r[0]
        for r in eval_docs.select(id_col).distinct().collect()
        if r[0] is not None
    ]
    _use_isin = len(eval_id_list) <= _EVAL_ISIN_MAX

    def _not_eval_filter(df: DataFrame) -> DataFrame:
        if not eval_id_list:
            return df
        if _use_isin:
            c = F.col(id_col)
            return df.where(c.isNull() | ~c.isin(eval_id_list))
        return df.join(
            F.broadcast(eval_docs.select(id_col).distinct()),
            on=id_col,
            how="left_anti",
        )
    # the benchmark set is STATIC: shingle it once and keep the grams
    # persisted across waves instead of re-deriving + re-broadcasting
    # them per micro-batch
    from ..operators.decontam import _grams

    eval_grams = (
        _grams(eval_docs, text_col, id_col, 3, False)
        .withColumnRenamed(id_col, "__eval_id")
        .persist()
    )

    def sink(batch: DataFrame, batch_id: int) -> None:
        kept = curation_filter(batch, text_col=text_col)
        # collapse=False here, unlike the one-shot batch build: the
        # collapse's exact-duplicate gram-pass saving matters when the
        # WHOLE corpus is decontaminated at once, but per micro-batch
        # it re-pays a fingerprint shuffle the stored index's registry
        # does anyway in the probe right after — and the per-doc
        # verdicts are identical either way (exact copies share every
        # n-gram), so kept-set equality is untouched
        clean = (
            clean_corpus(
                _not_eval_filter(kept),
                eval_docs,
                text_col,
                id_col,
                hashed=False,
                collapse=False,
                eval_grams=eval_grams,
            )
            .select(id_col, text_col, "tokens")
            .persist()
        )
        try:
            pair_and_commit(
                store,
                clean,
                batch_id,
                text_col,
                id_col,
                threshold=threshold,
                assume_small_batch=assume_small_batch,
                pairs_path=paths["pairs"],
                outputs=((clean, paths["clean"]),),
            )
        finally:
            clean.unpersist()

    def close() -> None:
        """Teardown: the grams persist() and the store's cache_frames
        persist() otherwise pin executor memory for the rest of the
        session once the query ends — one leaked sink per query adds
        up on a long-lived serving session."""
        eval_grams.unpersist()
        store._drop_cache()

    sink.close = close
    sink._eval_grams = eval_grams  # introspection for the teardown test
    sink._store = store
    return sink, paths


def curated_corpus(spark: SparkSession, paths: dict) -> DataFrame:
    """The serving-time fold: accumulated clean rows + accumulated
    pair graph → transitive duplicate clusters → keeper rows
    (component min). Equals the batch build's keeper set over any
    arrival split (pinned by tests/test_streaming_curation.py)."""
    from ..operators.clustering import cluster_keepers

    clean = spark.read.parquet(paths["clean"]).drop("ingest_batch")
    pairs = spark.read.parquet(paths["pairs"]).drop("ingest_batch")
    return cluster_keepers(clean, pairs, "doc_id").where(
        F.col("is_keeper") == 1
    )


def curation_rollup(spark: SparkSession, paths: dict) -> DataFrame:
    """Per-split doc/token rollup of the streamed curated corpus —
    the ``corpus_curation_full`` output shape."""
    from ..operators.sampling import hash_split

    keepers = curated_corpus(spark, paths)
    return (
        hash_split(keepers, "doc_id")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("tokens").cast("long")).alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("split")
    )
