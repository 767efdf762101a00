"""The reference's response envelope (SURVEY §3.1 step 6).

``get_actions``-family responses wrap the hits in a metadata envelope
— ``v2-history/get_actions/get_actions.ts:88-131`` and ``timedQuery``
(``functions.ts:946-1006``):

    {
      "query_time_ms": ..., "cached": false, "lib": 0,
      "total": {"value": N, "relation": "eq"},
      "simple_actions" | "actions": [...],
      "last_indexed_block": B, "last_indexed_block_time": T
    }

Like the reference's single ES search (from/size plus
``track_total_hits``), one Spark job answers the page and its exact
``total``: the count is an ``observe`` metric on the filtered rows
under the page's TakeOrderedAndProject. The log head
(``last_indexed_block`` / ``_time``) changes only when the lake does,
so a server passes it in from its memo
(:meth:`.http_server.HyperionAPI.log_head`); direct callers get a
top-1 over the log. ``cached`` is false on every body built here —
:mod:`.serving_cache` flips it on hits.

The oracle-backed query ``get_actions_response_envelope`` returns the
envelope's scalar fields as one row (:func:`envelope_scalars`), so the
metadata computation is hash-checked against DuckDB.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..plans.predicates import QueryParams, apply_query, compile_predicate
from ..registry import register, _t


def envelope_scalars(
    log: DataFrame,
    params: QueryParams,
    *,
    seq_field: str,
    ts_field: str = "ts",
    **compile_kw,
) -> DataFrame:
    """One-row frame with the envelope metadata: exact ``total`` under
    the request predicate plus the log head (last_indexed_block /
    _time, health.ts + get_actions.ts:121-126). Two tiny aggregates,
    both fed by pushed-down scans; crossJoin of two 1-row frames."""
    pred = compile_predicate(
        log, params, seq_field=seq_field, ts_field=ts_field, **compile_kw
    )
    matched = log.where(pred) if pred is not None else log
    total = matched.agg(F.count("*").alias("total"))
    head = log.orderBy(F.col(seq_field).desc()).limit(1).select(
        F.col(seq_field).alias("last_indexed_block"),
        F.col(ts_field).alias("last_indexed_block_time"),
    )
    return total.crossJoin(head).select(
        "total",
        F.lit("eq").alias("relation"),  # exact count => relation always eq
        F.lit(False).alias("cached"),
        "last_indexed_block",
        "last_indexed_block_time",
    )


def scan_head(log: DataFrame, seq_field: str, ts_field: str = "ts") -> tuple:
    """(last_indexed_block, last_indexed_block_time) of ``log``: the
    newest row by ``seq_field`` (health.ts + get_actions.ts:121-126);
    ``(None, None)`` for an empty log. One top-1 job."""
    row = (
        log.orderBy(F.col(seq_field).desc())
        .limit(1)
        .select(seq_field, ts_field)
        .first()
    )
    return (row[0], row[1]) if row is not None else (None, None)


def get_actions_with_envelope(
    spark: SparkSession,
    log: DataFrame,
    params: QueryParams,
    *,
    seq_field: str,
    simple: bool = False,
    lib: int | None = None,
    head: tuple | None = None,
    **query_kw,
) -> dict:
    """Full serving-boundary response: run the page query with its
    observed total and assemble the reference's envelope dict.
    ``simple`` selects the ``simple_actions`` projection name
    (get_actions.ts:104-120).

    ``head`` is the (block, time) pair to report as the log head; when
    omitted it is read from ``log`` with one more job.

    ``lib`` is the last-irreversible watermark to stamp into the
    envelope — the reference defaults ``lib: 0`` and only resolves the
    real value when the request asks (``query.checkLib``,
    get_actions.ts:71-80); when set, simple rows also carry the
    per-action ``irreversible`` flag (``block_num < lib``,
    get_actions.ts:118)."""
    t0 = time.perf_counter()
    # seq_field must reach the predicate compiler: a numeric
    # after/before bound (v2 get_actions ?after=<seq>) is a sequence
    # bound, not an ISO date
    total = Observation() if params.limit else None
    page = apply_query(log, params, seq_field=seq_field, total=total, **query_kw)
    actions = [r.asDict(recursive=True) for r in page.collect()]
    if total is not None:
        n = total.get["total"]
    else:
        # a limit-0 page never scans, so count the matches directly
        pred = compile_predicate(
            log,
            params,
            seq_field=seq_field,
            **{
                k: v
                for k, v in query_kw.items()
                if k in ("numeric_fields", "array_fields", "ts_field")
            },
        )
        n = (log.where(pred) if pred is not None else log).count()
    # get_actions.ts:118 is a ternary: ``irreversible: response.lib
    # !== 0 ? block_num < lib : undefined`` — at lib==0 the value is
    # ``undefined`` and JSON.stringify DROPS the key entirely, so the
    # flag only appears once the watermark has advanced. Truthiness
    # (not an is-None test) is the reference-faithful gate.
    if simple and lib:
        for a in actions:
            if seq_field in a:
                a["irreversible"] = a[seq_field] < lib
    if head is None:
        head = scan_head(log, seq_field, query_kw.get("ts_field", "ts"))
    block, block_time = head
    return {
        "query_time_ms": round((time.perf_counter() - t0) * 1000, 1),
        "cached": False,
        "lib": int(lib or 0),
        "total": {"value": n, "relation": "eq"},  # exact count
        ("simple_actions" if simple else "actions"): actions,
        "last_indexed_block": block,
        "last_indexed_block_time": None if block_time is None else str(block_time),
    }


@register(
    "get_actions_response_envelope",
    """
    SELECT CAST(t.total AS BIGINT) AS total, 'eq' AS relation,
           false AS cached,
           h.last_indexed_block, h.last_indexed_block_time
    FROM (SELECT count(*) AS total FROM events
          WHERE user_id = 7 AND event_id >= 100) t
    CROSS JOIN (SELECT event_id AS last_indexed_block,
                       ts AS last_indexed_block_time
                FROM events ORDER BY event_id DESC LIMIT 1) h
    """,
    "response envelope metadata: exact total + last_indexed_block "
    "(get_actions.ts:88-131, functions.ts:917-1006)",
)
def get_actions_response_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir)["events"]
    return envelope_scalars(
        ev,
        QueryParams(terms={"user_id": "7"}, after="100"),
        seq_field="event_id",
        numeric_fields=frozenset({"user_id"}),
    )
