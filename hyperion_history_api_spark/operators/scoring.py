"""Relevance scoring: the one home of the BM25 and TF-IDF math.

Hyperion scores every memo ``match`` with Elasticsearch's default BM25
similarity (functions.ts:154-169, Lucene constants k1=1.2, b=0.75);
the engine also offers plain TF-IDF. Every scored search reduces to
the same input, a :class:`TfRows`, and differs only in where its tf
rows come from:

- from the corpus, by :func:`tf_rows` in one tokenize pass
  (``doc_search_*`` and the memo search over the actions lake);
- from a stored inverted index, by ``InvertedIndexStore.tf_rows``
  (the ``*_indexed`` rows and the streaming-built index).

:func:`bm25` and :func:`tfidf` map a ``TfRows`` to an unlimited
``(id, score)`` frame with the score rounded to 4 dp; callers add
their own gate and top-k. The corpus statistics (n, sum(dl), df per
term) enter the plan as exact-integer literals, so the scoring plan
has no join and no broadcast, and every score equals the DuckDB
oracle's from-scratch SQL.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

# Lucene BM25Similarity defaults, as used by ES for the memo `match`
K1 = 1.2
B = 0.75


class TfRows(NamedTuple):
    """Term statistics of one query over one corpus.

    ``rows`` holds one row per matching (document, term): the id
    column, ``dl`` (document length in tokens), the per-term ``key``
    column and ``tf`` > 0. ``df`` maps each key value to its document
    frequency; ``n`` and ``sumdl`` are the corpus document count and
    token count. ``n == 0`` means there is nothing to score."""

    rows: DataFrame
    id_col: str
    key: str
    df: dict
    n: int
    sumdl: int


def tf_rows(
    docs: DataFrame,
    terms: list[str],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> TfRows:
    """Term statistics of ``terms`` over ``docs`` in ONE tokenize pass
    (``split(text, ' ')``, the oracle's ``string_split``) and one
    Spark job.

    The per-document token array is exploded, filtered to the query
    terms and aggregated to one (id, dl, widx) row with its tf; the
    result is match-sized and materialized by an eager
    ``localCheckpoint``, so the scoring plan reads blocks and never
    the corpus. Terms are keyed by a 1-byte index ``widx`` (first
    occurrence order; duplicates are dropped) instead of the token
    string. N and sum(dl) ride an ``observe`` on the per-document frame
    and each term's df an ``observe`` on the aggregate (one row per
    distinct (doc, term), so df is a row count); all are exact
    integers.

    When no document contains any term the aggregate is empty, and
    AQE prunes the subtree that carries the N/sum(dl) observation, so
    that observation never reports. The df counts still do, and they
    are all zero then: the result has ``n == 0`` and scores to an
    empty frame without reading the lost observation."""
    terms = list(dict.fromkeys(terms))
    stats = Observation()
    per = docs.select(id_col, F.split(text_col, " ").alias("ws")).observe(
        stats,
        F.count(F.lit(1)).alias("n"),
        F.sum(F.size("ws")).cast("long").alias("sumdl"),
    )
    widx = F.when(F.col("word") == terms[0], F.lit(0))
    for i, t in enumerate(terms[1:], start=1):
        widx = widx.when(F.col("word") == t, F.lit(i))
    dfs = Observation()
    rows = (
        per.select(
            id_col, F.size("ws").alias("dl"), F.explode("ws").alias("word")
        )
        .where(F.col("word").isin(terms))
        .select(id_col, "dl", widx.cast("tinyint").alias("widx"))
        .groupBy(id_col, "dl", "widx")
        .agg(F.count(F.lit(1)).alias("tf"))
        .observe(
            dfs,
            *[
                F.count(F.when(F.col("widx") == i, 1)).alias(f"df{i}")
                for i in range(len(terms))
            ],
        )
        .localCheckpoint(eager=True)
    )
    got = dfs.get
    df = {i: int(got[f"df{i}"]) for i in range(len(terms))}
    if not any(df.values()):
        return TfRows(rows, id_col, "widx", df, 0, 0)
    st = stats.get
    return TfRows(rows, id_col, "widx", df, int(st["n"]), int(st["sumdl"]))


def per_term(key: str, values: dict) -> Column:
    """``CASE key WHEN k THEN v ... END`` — attaches a per-term exact
    constant to tf rows without a join. Keys absent from ``values``
    map to NULL."""
    items = iter(values.items())
    k, v = next(items)
    col = F.when(F.col(key) == k, F.lit(v))
    for k, v in items:
        col = col.when(F.col(key) == k, F.lit(v))
    return col


def _score(t: TfRows, contrib) -> DataFrame:
    """(id, round(sum over the doc's terms of contrib(df), 4)) — one
    hash aggregate over the tf rows. An empty corpus, a fully
    retracted index or a query no document matches yields an empty
    frame of the same schema."""
    if not t.n or not any(t.df.values()):
        return t.rows.limit(0).select(
            t.id_col, F.lit(None).cast("double").alias("score")
        )
    return t.rows.groupBy(t.id_col).agg(
        F.round(F.sum(contrib(per_term(t.key, t.df))), 4).alias("score")
    )


def bm25(t: TfRows) -> DataFrame:
    """BM25 (the Lucene BM25Similarity form)::

        score(d) = sum over query terms t of
            ln(1 + (N - df + 0.5) / (df + 0.5))
            * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

    avgdl = sumdl / n is the exact long/long quotient, the same IEEE
    double as the oracle's ``avg(len(ws))``."""

    def contrib(df: Column) -> Column:
        idf = F.log(
            F.lit(1.0) + (F.lit(t.n) - df + F.lit(0.5)) / (df + F.lit(0.5))
        )
        avgdl = F.lit(t.sumdl / t.n)
        norm = F.col("tf") * F.lit(K1 + 1) / (
            F.col("tf")
            + F.lit(K1) * (F.lit(1.0 - B) + F.lit(B) * F.col("dl") / avgdl)
        )
        return idf * norm

    return _score(t, contrib)


def tfidf(t: TfRows) -> DataFrame:
    """TF-IDF: score(d) = sum over query terms t of tf * ln(N / df)."""
    return _score(t, lambda df: F.col("tf") * F.log(F.lit(float(t.n)) / df))
