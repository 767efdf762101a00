"""The shared relevance scorer (operators/scoring.py) on degenerate
queries: no matching document, and duplicated query terms, on both the
from-corpus and the stored-index path."""

from __future__ import annotations

from pyspark.sql import functions as F

from hyperion_history_api_spark.operators import scoring
from hyperion_history_api_spark.sources.inverted_index import InvertedIndexStore
from hyperion_history_api_spark.tables import load_tables


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def test_no_match_scores_empty(spark):
    """No document holds any query term: every corpus scorer returns an
    empty frame with the usual (id, score) schema instead of failing on
    the never-reported corpus observation."""
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon")],
        "doc_id long, text string",
    )
    memos = docs.select(
        F.col("doc_id").alias("global_sequence"), F.col("text").alias("memo")
    )
    terms = ["merge", "window"]
    t = scoring.tf_rows(docs, terms)
    memo_t = scoring.tf_rows(
        memos, terms, id_col="global_sequence", text_col="memo"
    )
    for scored, id_col in (
        (scoring.bm25(t), "doc_id"),
        (scoring.tfidf(t), "doc_id"),
        (scoring.bm25(memo_t), "global_sequence"),
    ):
        assert scored.dtypes == [(id_col, "bigint"), ("score", "double")]
        assert scored.collect() == []


def test_duplicate_terms_score_like_deduped(spark, sf_dir, tmp_path):
    """A repeated query term scores exactly like the deduplicated list,
    from the corpus and from the stored index, and gets no df of its own
    on the corpus path."""
    docs = load_tables(spark, sf_dir)["documents"]
    dup, uniq = ["merge", "window", "merge"], ["merge", "window"]
    t_dup, t_uniq = scoring.tf_rows(docs, dup), scoring.tf_rows(docs, uniq)
    assert t_dup.df == t_uniq.df and all(t_uniq.df.values())
    for score in (scoring.bm25, scoring.tfidf):
        assert _rows(score(t_dup)) == _rows(score(t_uniq))

    store = InvertedIndexStore(spark, str(tmp_path / "idx"))
    store.commit(docs)
    for score in (scoring.bm25, scoring.tfidf):
        assert _rows(score(store.tf_rows(dup))) == _rows(
            score(store.tf_rows(uniq))
        )
    # both paths agree on the scores
    assert _rows(scoring.bm25(t_uniq)) == _rows(store.bm25_scored(uniq))
