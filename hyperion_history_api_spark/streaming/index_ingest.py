"""Search-index maintenance AT INGEST — the reference's indexer loop.

Hyperion's indexer workers write every action into Elasticsearch as it
arrives (src/indexer/helpers/elastic-routes.ts:54-109 bulk routes);
the query layer then serves memo/``match`` searches from postings the
indexer maintained — queries never re-tokenize history
(src/api/.../functions.ts:154-169). This module is that loop on the
engine's own stored index: a Structured Streaming ``foreachBatch``
sink that, per micro-batch,

1. appends the arriving documents to a corpus log under the
   replay-idempotent ``ingest_batch=<id>`` overwrite discipline
   (streaming/ingest.make_ingest_sink's contract), and
2. delta-commits their postings into an :class:`InvertedIndexStore`
   (O(batch-tokens) IO — postings history hard-links forward), guarded
   by ``last_ingest_batch`` so an at-least-once replay of an applied
   batch cannot double its postings or double-count its df/n/sumdl
   contributions (which would silently drift BM25 scores, not just
   bloat storage).

Both write legs run concurrently behind the single manifest swap via
``also=`` — same crash semantics as the dedup sink: the manifest
``os.replace`` after all legs finish is the only commit point, so a
crash anywhere replays the batch cleanly and the published
(corpus, index) pair is always consistent.

Mid-stream serving is the point: :func:`indexed_bm25` answers queries
between (or during) waves from whatever index version is published,
and the registry row ``stream_index_bm25`` proves the stream-built
index scores EXACTLY like from-scratch SQL over the same corpus
(hash-matched), for any arrival split.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..sources.inverted_index import InvertedIndexStore


def make_index_sink(
    spark: SparkSession,
    out_dir: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    compact_every: int | None = 8,
):
    """foreachBatch sink maintaining (corpus log, inverted index).
    ``compact_every`` delta commits trigger the OPTIMIZE rewrite so
    query-time file counts stay flat over a long run (the ES segment
    merge / lifecycleManager behavior). Returns ``(sink, paths)``."""
    store = InvertedIndexStore(
        spark, os.path.join(out_dir, "index"), compact_every=compact_every
    )
    corpus_path = os.path.join(out_dir, "corpus")
    paths = {"corpus": corpus_path, "index": store.path}

    def sink(batch: DataFrame, batch_id: int) -> None:
        batch = batch.select(id_col, text_col).persist()
        try:
            commit = (
                store.commit
                if store.read_manifest() is None
                else store.commit_delta
            )
            commit(
                batch,
                text_col=text_col,
                id_col=id_col,
                batch_id=batch_id,
                also=(
                    lambda: batch.write.mode("overwrite").parquet(
                        os.path.join(corpus_path, f"ingest_batch={batch_id}")
                    ),
                ),
            )
        finally:
            batch.unpersist()

    return sink, paths


def indexed_bm25(
    spark: SparkSession, paths: dict, terms: list[str], k: int
) -> DataFrame:
    """Serve BM25 from the stream-maintained index — the published
    version, whichever wave last committed."""
    return InvertedIndexStore(spark, paths["index"]).bm25(terms, k)
