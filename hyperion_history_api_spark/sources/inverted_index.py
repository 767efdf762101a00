"""Stored inverted index with incremental maintenance — the engine's
form of the reference's core storage primitive.

Hyperion's entire query layer sits on Elasticsearch, which IS an
inverted index: every memo/``match`` search the reference serves
(functions.ts:154-169) reads term postings that the INDEXER maintained
at ingest time; queries never re-tokenize the corpus. The engine's
``doc_search_bm25`` computes the same scores from scratch per query —
correct, but a full-corpus tokenize per search is the wrong serving
story at 100 TB. This module stores the index and maintains it
incrementally, exactly like the dedup/ANN artifact stores:

Frames (parquet, one directory per frame, CommitLog-versioned):

- ``postings``: (word, doc_id, tf, dl) — the classic postings list,
  with the document length denormalized onto each posting so scoring
  needs NO join back to a doc table. Append-only across commits (the
  corpus contract is Hyperion's: documents are immutable and new
  commits carry NEW doc_ids — the append-only history model).
  Full builds cluster by word, so a query's terms prune to a few
  files via parquet min/max footer stats.
- ``df``: (word, df) — document frequencies. Rewritten on every
  commit (it is an aggregate), but it is vocabulary-sized: tiny
  relative to postings at any scale that matters.
- ``stats``: one row (n, sumdl) — INTEGER sums, not the average, so
  increments merge with exact arithmetic (avgdl = sumdl/n at read
  time; no float-accumulation drift across commit orders).

Delta commit cost is O(batch tokens) + O(vocabulary): postings files
of the previous snapshot hard-link forward, only the batch's postings
land as new files; df/stats rewrite from (previous || batch) — no
history re-tokenization ever. The manifest swap is the single atomic
commit point (commitlog.FrameDeltaStore, shared with the dedup index).

Scoring reads ONLY the query terms' postings (pushed word filter)
plus the df and stats frames (pyarrow, no Spark job), and hands them to
the shared scorer (operators/scoring.py) as tf rows: cost follows the
matched postings, not the corpus. The score formula is the one every
from-scratch scored search uses, and the registry rows build their
stores in increments (or retract from them), so each oracle hash
proves incremental maintenance == from-scratch SQL scoring.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..commitlog import FrameDeltaStore
from ..operators import scoring
from ..operators.scoring import TfRows

POSTINGS_FRAME = "postings"
DF_FRAME = "df"
STATS_FRAME = "stats"
_FRAMES = (POSTINGS_FRAME, DF_FRAME, STATS_FRAME)
# Optional 4th frame: (doc_id) rows of RETRACTED documents. The
# append-only corpus contract holds for `documents`, but the moment
# the index serves forkable data (the actions-lake memo field), a fork
# rollback must remove the tip's postings — ES does this with
# deleteByQuery during fork handling (state-reader.ts:469-599), Lucene
# with per-segment tombstone bitmaps cleaned at merge. Same design
# here: retraction appends tombstone ids (O(retracted) IO, postings
# never rewritten), serving anti-joins them out, compaction physically
# drops them. UNLIKE Lucene (which leaves docFreq stale until merge),
# df/stats are adjusted EXACTLY at retraction commit time, so stored
# scores equal from-scratch scores on the retracted corpus — the
# property the oracle row pins.
TOMB_FRAME = "tombstones"


def _tokenize(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(word, doc_id, tf, dl, positions) rows — the same
    ``split(text, ' ')`` token contract as doc_search_bm25/
    doc_search_tfidf, so stored scores are comparable with the
    from-scratch path bit-for-bit. ``positions`` is the sorted
    in-document token-offset list (the Lucene positional-postings
    trade-off: ~token-count list entries instead of ~distinct-term
    rows, bought back by phrase/proximity queries needing no corpus
    access). ``sort_array`` over ``collect_list`` makes the array
    canonical regardless of partitioning, so incremental and full
    builds stay row-identical."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.col(text_col), " ").alias("ws"),
    )
    return (
        toks.select(
            "doc_id",
            F.size("ws").alias("dl"),
            F.posexplode("ws").alias("pos", "word"),
        )
        .groupBy("word", "doc_id", "dl")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.sort_array(F.collect_list("pos")).alias("positions"),
        )
    )


class InvertedIndexStore(FrameDeltaStore):
    """Versioned inverted-index store: postings/df/stats frames (plus
    tombstones once something is retracted) on the shared
    :class:`FrameDeltaStore` policy — the same replay guard, delta
    append, publish path and compaction as DedupIndexStore."""

    FRAMES = _FRAMES
    # postings files of a full build or compaction, range-clustered by
    # word
    CLUSTER_FILES = 8

    # -- read -----------------------------------------------------------

    def read(self) -> dict[str, DataFrame] | None:
        m = self.read_manifest()
        return None if m is None else self._frames(m)

    def tombstones(self) -> DataFrame | None:
        """(doc_id) frame of retracted documents in the current
        snapshot, or None when nothing was ever retracted (the common
        case — serving pays zero extra work then)."""
        m = self.read_manifest()
        if m is None:
            return None
        t = os.path.join(self.log.snapshot_dir(m["snapshot"]), TOMB_FRAME)
        return self.spark.read.parquet(t) if os.path.isdir(t) else None

    def live_postings(self, idx: dict[str, DataFrame] | None = None) -> DataFrame:
        """Postings minus tombstoned docs — what every serving path
        scores over. Tombstones are fork-tip-sized (retraction is the
        exceptional path), so the anti-join broadcasts them; with no
        tombstones this IS the raw postings frame (no join in the
        plan)."""
        idx = idx if idx is not None else self.read()
        if idx is None:
            raise ValueError("live_postings requires a seeded index store")
        p = idx[POSTINGS_FRAME]
        tomb = self.tombstones()
        if tomb is not None:
            # left_anti moves the join key first; restore the frame's
            # column order so callers see one schema either way
            p = p.join(F.broadcast(tomb), "doc_id", "left_anti").select(
                *idx[POSTINGS_FRAME].columns
            )
        return p

    # -- commit ----------------------------------------------------------

    def _layout(self, frame: str, df: DataFrame) -> DataFrame:
        """Postings range-clustered by word (query terms prune to few
        files via footer stats); the aggregates as one file each."""
        df = self._canon(df)
        if frame == POSTINGS_FRAME:
            return df.repartitionByRange(
                self.CLUSTER_FILES, "word"
            ).sortWithinPartitions("word", "doc_id")
        return df.coalesce(1)

    def _append_files(self, frame: str) -> int:
        # a retraction's tombstones land as one file
        return 1 if frame == TOMB_FRAME else self.DELTA_WRITE_PARTITIONS

    def _aggregates(
        self, postings: DataFrame
    ) -> tuple[DataFrame, DataFrame]:
        df_t = postings.groupBy("word").agg(
            F.count(F.lit(1)).alias("df")
        )  # one posting row per (word, doc): count == distinct docs
        stats = postings.select("doc_id", "dl").distinct().agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("dl").cast("long").alias("sumdl"),
        )
        return df_t, stats

    def commit(
        self,
        docs: DataFrame,
        *,
        text_col: str = "text",
        id_col: str = "doc_id",
        batch_id: int | None = None,
        also: tuple = (),
    ) -> None:
        """Full build: postings plus the aggregates derived from them,
        with the ``also`` legs on the same pool. ``batch_id`` (when
        committing from a streaming sink) lands in the manifest so a
        replayed micro-batch is recognized."""
        postings = _tokenize(docs, text_col, id_col)
        df_t, stats = self._aggregates(postings)
        self._publish(
            None,
            rewrite={
                POSTINGS_FRAME: postings,
                DF_FRAME: df_t,
                STATS_FRAME: stats,
            },
            also=also,
            batch_id=batch_id,
        )

    def commit_delta(
        self,
        docs: DataFrame,
        *,
        text_col: str = "text",
        id_col: str = "doc_id",
        batch_id: int | None = None,
        also: tuple = (),
    ) -> None:
        """Incremental commit of NEW documents (disjoint doc_ids — the
        append-only corpus contract): postings hard-link forward +
        O(batch) new files; df/stats rewritten from (previous ||
        batch) without touching postings history; tombstones carried
        forward. A replayed ``batch_id`` is a no-op: re-appending it
        would double its postings AND its df/n/sumdl contributions,
        so scores would silently drift."""

        def frames(m: dict) -> tuple[dict, dict]:
            cur = self._frames(m)
            batch = _tokenize(docs, text_col, id_col)
            bdf, bstats = self._aggregates(batch)
            merged_df = (
                cur[DF_FRAME]
                .unionByName(bdf)
                .groupBy("word")
                .agg(F.sum("df").cast("long").alias("df"))
            )
            merged_stats = (
                cur[STATS_FRAME]
                .unionByName(bstats)
                .agg(
                    F.sum("n").cast("long").alias("n"),
                    F.sum("sumdl").cast("long").alias("sumdl"),
                )
            )
            return (
                {POSTINGS_FRAME: batch, TOMB_FRAME: None},
                {DF_FRAME: merged_df, STATS_FRAME: merged_stats},
            )

        self._commit_delta(frames, batch_id=batch_id, also=also)

    def retract_ids(
        self, ids: DataFrame, *, id_col: str = "doc_id"
    ) -> None:
        """Retract documents from the index — the fork-rollback path
        (S11; ES deleteByQuery during fork handling,
        state-reader.ts:469-599). O(retracted) commit IO:

        - postings hard-link forward UNCHANGED; the retracted ids land
          as new tombstone rows (serving anti-joins them, compaction
          physically drops them);
        - df/stats are adjusted EXACTLY by subtracting the retracted
          docs' own postings contributions — one postings read filtered
          to the retracted ids. A fork retracts the chain TIP, whose
          postings live in the newest delta files, and doc_id footer
          min/max on older files prunes them from this scan (doc ids
          are monotone with commit order under the append contract).
          Integer df/(n, sumdl) arithmetic keeps the adjustment drift-
          free, so post-retraction stored scores equal from-scratch
          scores on the retracted corpus (the oracle-pinned property;
          Lucene by contrast serves stale docFreq until segment merge).

        Ids never indexed are tolerated (they subtract nothing); ids
        already tombstoned are skipped so a replayed retraction cannot
        double-subtract.
        """
        m = self.read_manifest()
        if m is None:
            raise ValueError("retract_ids requires a seeded index store")
        cur = self._frames(m)
        new_ids = ids.select(
            F.col(id_col).cast("long").alias("doc_id")
        ).distinct()
        tomb_prev = self.tombstones()
        if tomb_prev is not None:
            new_ids = new_ids.join(tomb_prev, "doc_id", "left_anti")
        retr = cur[POSTINGS_FRAME].join(F.broadcast(new_ids), "doc_id")
        df_sub = retr.groupBy("word").agg(
            F.count(F.lit(1)).alias("df_sub")
        )
        stats_sub = retr.select("doc_id", "dl").distinct().agg(
            F.count(F.lit(1)).alias("n_sub"),
            F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("sumdl_sub"),
        )
        merged_df = (
            cur[DF_FRAME]
            .join(df_sub, "word", "left")
            .select(
                "word",
                (
                    F.col("df") - F.coalesce(F.col("df_sub"), F.lit(0))
                ).cast("long").alias("df"),
            )
            .where(F.col("df") > 0)
        )
        merged_stats = cur[STATS_FRAME].crossJoin(stats_sub).select(
            (F.col("n") - F.col("n_sub")).cast("long").alias("n"),
            (F.col("sumdl") - F.col("sumdl_sub")).cast("long").alias("sumdl"),
        )
        self._publish(
            m,
            rewrite={DF_FRAME: merged_df, STATS_FRAME: merged_stats},
            append={POSTINGS_FRAME: None, TOMB_FRAME: new_ids},
        )

    def _compacted(self, m: dict) -> dict[str, DataFrame]:
        """OPTIMIZE: tombstoned postings physically dropped (the Lucene
        segment merge that actually reclaims deletes) and the
        tombstones frame not carried; df/stats are already exact and
        rewrite as-is, so rows of the live view are identical before
        and after."""
        cur = self._frames(m)
        return {**cur, POSTINGS_FRAME: self.live_postings(cur)}

    # -- serve -----------------------------------------------------------

    def scalar_aggregates_local(
        self, terms: list[str] | None = None
    ) -> tuple[dict[str, int], int, int]:
        """Driver-side read of the two scalar aggregate frames —
        ``(df_map, n, sumdl)``. Every commit path writes df as one row
        per word and stats as one row, both coalesce(1), so a pyarrow
        read of the snapshot files equals the Spark scan and costs no
        Spark job. ``terms`` prunes the df map."""
        import pyarrow.parquet as pq

        m = self.log.read_manifest()
        if m is None:
            raise ValueError("scalar_aggregates_local requires a seeded store")
        base = self.log.snapshot_dir(m["snapshot"])

        def _tab(frame: str):
            import glob

            parts = sorted(
                glob.glob(os.path.join(base, frame, "*.parquet"))
            )
            import pyarrow as pa

            return pa.concat_tables([pq.read_table(p) for p in parts])

        dft = _tab(DF_FRAME)
        words = dft.column("word").to_pylist()
        dfs = dft.column("df").to_pylist()
        df_map = {
            w: int(d)
            for w, d in zip(words, dfs)
            if terms is None or w in terms
        }
        st = _tab(STATS_FRAME)
        return df_map, int(st.column("n")[0].as_py()), int(
            st.column("sumdl")[0].as_py()
        )

    def tf_rows(self, terms: list[str]) -> TfRows:
        """Term statistics of ``terms`` from the stored frames: the live
        postings pruned to the query terms (pushed word filter over
        word-clustered files) as tf rows keyed by ``word``, with df, n
        and sumdl read without a Spark job by
        :meth:`scalar_aggregates_local`.
        Nothing here tokenizes the corpus, so per-query cost follows
        the matched postings."""
        idx = self.read()
        if idx is None:
            raise ValueError("scoring requires a seeded index store")
        df, n, sumdl = self.scalar_aggregates_local(terms)
        rows = self.live_postings(idx).where(F.col("word").isin(terms))
        return TfRows(rows, "doc_id", "word", df, n, sumdl)

    def bm25_scored(self, terms: list[str]) -> DataFrame:
        """Unlimited (doc_id, score) BM25 frame from the stored index:
        pruned scan -> one hash aggregate, with a join only to drop
        tombstoned docs. Scores equal ``doc_search_bm25`` on the same
        live corpus; callers add their own gate and top-k (:meth:`bm25`,
        the AND-match row)."""
        return scoring.bm25(self.tf_rows(terms))

    def bm25(self, terms: list[str], k: int = 20) -> DataFrame:
        """BM25 top-k: :meth:`bm25_scored` + TakeOrdered."""
        return (
            self.bm25_scored(terms)
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(k)
        )

    def phrase_match(self, words: list[str]) -> DataFrame:
        """Exact-phrase match from positional postings (ES
        ``match_phrase``): per matched doc, the count of phrase
        occurrences. The position chain folds left JVM-side — the
        candidate positions of the length-``i`` prefix are
        ``array_intersect(transform(prefix, p -> p+1),
        positions(word_i))`` — so an n-word phrase is n-1 broadcast-
        or shuffle-equi-joins over ALREADY word-pruned postings plus
        array kernels inside codegen; the corpus is never touched and
        nothing explodes to one-row-per-position."""
        if len(words) < 2:
            raise ValueError("phrase_match needs at least two words")
        idx = self.read()
        if idx is None:
            raise ValueError("phrase_match requires a seeded index store")
        p = self.live_postings(idx)

        def positions_of(w: str, alias: str) -> DataFrame:
            return p.where(F.col("word") == w).select(
                "doc_id", F.col("positions").alias(alias)
            )

        cur = positions_of(words[0], "chain")
        for i, w in enumerate(words[1:]):
            nxt = positions_of(w, f"p{i}")
            cur = (
                cur.join(nxt, "doc_id")
                .withColumn(
                    "chain",
                    F.array_intersect(
                        F.transform("chain", lambda x: x + 1),
                        F.col(f"p{i}"),
                    ),
                )
                .where(F.size("chain") > 0)
                .select("doc_id", "chain")
            )
        return cur.select(
            "doc_id", F.size("chain").alias("n_occurrences")
        ).orderBy("doc_id")


def ensure_index_store(
    spark: SparkSession, sf_dir: str, name: str, source: str, key: str, build
) -> InvertedIndexStore:
    """The write-once stored index ``name`` under the lake root: the
    current snapshot of :func:`~.lake.ensure_snapshot` holds an
    :class:`InvertedIndexStore` with its own commit log, which
    ``build(store)`` fills when the snapshot is missing or stale."""
    from .lake import ensure_snapshot

    path = ensure_snapshot(
        sf_dir,
        name,
        source,
        key,
        lambda p: build(InvertedIndexStore(spark, p)),
    )
    return InvertedIndexStore(spark, path)
