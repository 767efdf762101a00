"""Query-param -> Column predicate compiler.

Re-expresses Hyperion's URL-param to Elasticsearch bool-query
compilation (reference: src/api/routes/v2-history/get_actions/
functions.ts — SURVEY §2.2 P1-P14, §2.6 O1-O4) as PySpark Column
expressions. Every predicate stays a native Column so Catalyst pushes
it into the parquet scan (PushedFilters), exactly as Hyperion pushes
its bool query into ES.

Grammar (per functions.ts:16-231):
- ``f=v``            term equality                      (P1)
- ``f=!v``           negated term (must_not)            (P2)
- ``f=v1,v2``        multi-value OR (bool.should/terms) (P3)
- ``f=v1 v2``        space-AND: every value must match
                     (array membership / repeated must) (P4)
- ``f=a-b``          numeric range gte/lte              (P5)
- ``before/after``   time (ISO) or block/seq range      (P6)
- ``account=x``      disjunction over involvement cols  (P7)
- ``filter=c:n,...`` code:action OR-list, ``*`` wildcard(P8)
- sort/skip/limit    O1-O3 with guards (skip<=10000,
                     per-route limit caps)
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

# functions.ts:246-250 — hard deep-paging guard
MAX_SKIP = 10_000
# hyperionConfig.ts:112-126 — default per-route row cap
DEFAULT_MAX_LIMIT = 1_000
# functions.ts:269-298 + hyperionConfig.ts:170 — ascending scans must
# be bounded to a recent window (an unbounded asc scan walks the whole
# history from genesis before reaching the page)
MAX_ASC_WINDOW_DAYS = 90

_RANGE_RE = re.compile(r"^(-?\d+(?:\.\d+)?)-(-?\d+(?:\.\d+)?)$")
_ISO_RE = re.compile(r"^\d{4}-\d{2}-\d{2}")


class QueryGuardError(ValueError):
    """Raised when a query violates a cost guard (skip/limit/sort)."""


def _term(col: Column, value: str, numeric: bool) -> Column:
    v: object = value
    if numeric:
        try:
            v = float(value) if "." in value else int(value)
        except ValueError:
            pass
    return col == F.lit(v)


def compile_value(col: Column, raw: str, *, numeric: bool = False, array: bool = False) -> Column:
    """Compile one param value using Hyperion's mini-grammar.

    Mirrors processMultiVars + addRangeQuery (functions.ts:16-69):
    ``!`` prefix negates a term; comma builds a should (OR); space
    builds repeated musts (AND — array membership when the column is
    an array); ``a-b`` on numeric fields is a gte/lte range.
    """
    raw = raw.strip()
    if numeric and (m := _RANGE_RE.match(raw)):
        lo, hi = m.group(1), m.group(2)
        return (col >= F.lit(float(lo) if "." in lo else int(lo))) & (
            col <= F.lit(float(hi) if "." in hi else int(hi))
        )
    if " " in raw:  # P4: every token must match
        parts = [p for p in raw.split(" ") if p]
        preds = [
            F.array_contains(col, p) if array else _term(col, p, numeric) for p in parts
        ]
        out = preds[0]
        for p in preds[1:]:
            out = out & p
        return out
    values = [v for v in raw.split(",") if v != ""]
    include = [v for v in values if not v.startswith("!")]
    exclude = [v[1:] for v in values if v.startswith("!")]
    pred: Column | None = None
    if include:
        if array:
            inc = F.array_contains(col, include[0])
            for v in include[1:]:
                inc = inc | F.array_contains(col, v)
        elif len(include) == 1:
            inc = _term(col, include[0], numeric)
        else:
            vals = [float(v) if "." in v else int(v) for v in include] if numeric else include
            inc = col.isin(vals)
        pred = inc
    for v in exclude:
        ex = ~F.array_contains(col, v) if array else ~_term(col, v, numeric)
        pred = ex if pred is None else pred & ex
    if pred is None:
        raise QueryGuardError(f"empty predicate value: {raw!r}")
    return pred


def compile_time_filter(
    col_ts: Column | None,
    col_seq: Column | None,
    after: str | None,
    before: str | None,
) -> Column | None:
    """before/after -> timestamp range if ISO-dated, else numeric range
    on the sequence column (functions.ts:71-131, P6)."""
    preds: list[Column] = []
    for bound, op in ((after, "ge"), (before, "le")):
        if bound is None or bound == "":
            continue
        if _ISO_RE.match(bound):
            if col_ts is None:
                raise QueryGuardError(f"ISO bound {bound!r} without ts column")
            target = col_ts
            lit = F.to_timestamp(F.lit(bound))
        else:
            if col_seq is None:
                raise QueryGuardError(f"non-ISO bound {bound!r} without sequence column")
            target = col_seq
            lit = F.lit(int(bound))
        preds.append(target >= lit if op == "ge" else target <= lit)
    if not preds:
        return None
    out = preds[0]
    for p in preds[1:]:
        out = out & p
    return out


def compile_code_action_filter(
    code_col: Column, name_col: Column, spec: str
) -> Column:
    """``filter=code:name,code2:*`` -> OR of (code AND name) pairs with
    ``*`` wildcards (functions.ts:205-231, P8)."""
    preds: list[Column] = []
    for pair in spec.split(","):
        if not pair:
            continue
        code, _, name = pair.partition(":")
        ps: list[Column] = []
        if code and code != "*":
            ps.append(code_col == code)
        if name and name != "*":
            ps.append(name_col == name)
        if not ps:
            continue
        p = ps[0]
        for extra in ps[1:]:
            p = p & extra
        preds.append(p)
    if not preds:
        raise QueryGuardError(f"empty filter spec: {spec!r}")
    out = preds[0]
    for p in preds[1:]:
        out = out | p
    return out


@dataclass
class QueryParams:
    """A parsed history-query request (get_actions-shape)."""

    terms: dict[str, str] = field(default_factory=dict)  # field -> raw value
    after: str | None = None
    before: str | None = None
    sort: str = "desc"  # O1: default global_sequence desc
    sorted_by: str | None = None  # "field:dir"
    skip: int = 0
    limit: int = 100


def compile_predicate(
    df: DataFrame,
    params: QueryParams,
    *,
    numeric_fields: frozenset[str] = frozenset(),
    array_fields: frozenset[str] = frozenset(),
    ts_field: str = "ts",
    seq_field: str | None = None,
) -> Column | None:
    """AND of all param predicates (the ES bool.must/filter set)."""
    preds: list[Column] = []
    for fld, raw in params.terms.items():
        preds.append(
            compile_value(
                df[fld], raw, numeric=fld in numeric_fields, array=fld in array_fields
            )
        )
    tf = compile_time_filter(
        df[ts_field] if ts_field in df.columns else None,
        df[seq_field] if seq_field else None,
        params.after,
        params.before,
    )
    if tf is not None:
        preds.append(tf)
    if not preds:
        return None
    out = preds[0]
    for p in preds[1:]:
        out = out & p
    return out


def partition_bounds_pred(
    df: DataFrame,
    params: QueryParams,
    *,
    part_col: str,
    seq_per_part: int,
) -> Column | None:
    """Derive a partition-key predicate from the request's sequence
    bounds — SURVEY §4's one custom pruning helper.

    Hyperion routes ``get_transaction`` to a single ES index partition
    from ``block_hint`` (get_transaction.ts:73-79) and computes
    ``partition = ceil(block/index_partition_size)``
    (elastic-routes.ts:484-486). The lake twin: the log is written
    ``partitionBy(part_col)`` with ``part = floor(seq/P)``, so a
    numeric after/before bound implies ``part BETWEEN floor(after/P)
    AND floor(before/P)`` — a literal predicate on the partition
    column that Catalyst turns into directory pruning
    (PartitionFilters on the scan, whole partitions never listed).
    Returns None when no numeric bound is present (ISO date bounds
    prune via row-group stats instead)."""
    preds: list[Column] = []
    if params.after and not _ISO_RE.match(params.after):
        preds.append(df[part_col] >= int(params.after) // seq_per_part)
    if params.before and not _ISO_RE.match(params.before):
        preds.append(df[part_col] <= int(params.before) // seq_per_part)
    if not preds:
        return None
    out = preds[0]
    for p in preds[1:]:
        out = out & p
    return out


def apply_query(
    df: DataFrame,
    params: QueryParams,
    *,
    default_sort_field: str,
    tiebreaker: str | None = None,
    max_limit: int = DEFAULT_MAX_LIMIT,
    part_col: str | None = None,
    seq_per_part: int | None = None,
    total: Observation | None = None,
    **compile_kw,
) -> DataFrame:
    """Filter + sort + skip/limit, with Hyperion's cost guards.

    Catalyst turns ``orderBy().limit()`` into TakeOrderedAndProject
    (top-K per partition, then merge) — the analogue of ES's
    sorted-index + from/size early termination (SURVEY §4). ``offset``
    is pushed with the limit so only skip+limit rows reach the driver.

    ``total``, when given, observes the exact count of filtered rows as
    metric ``total`` — ES's ``track_total_hits`` riding the page search.
    The top-K reads every filtered row, so the count is exact and costs
    no extra job. A ``limit=0`` plan is pruned to an empty relation and
    never scans, so the observation only fires for ``limit > 0``.
    """
    if params.skip > MAX_SKIP:
        raise QueryGuardError(f"skip {params.skip} > {MAX_SKIP}")  # functions.ts:246-250
    if params.limit > max_limit:
        raise QueryGuardError(f"limit {params.limit} > {max_limit}")
    pred = compile_predicate(df, params, **compile_kw)
    out = df.where(pred) if pred is not None else df
    if part_col and seq_per_part and part_col in df.columns:
        pp = partition_bounds_pred(
            df, params, part_col=part_col, seq_per_part=seq_per_part
        )
        if pp is not None:
            out = out.where(pp)
    if total is not None:
        out = out.observe(total, F.count(F.lit(1)).alias("total"))
    sort_field, direction = default_sort_field, params.sort
    if params.sorted_by:
        sort_field, _, d = params.sorted_by.partition(":")
        direction = d or direction
    if direction not in ("asc", "desc"):
        raise QueryGuardError(f"invalid sort dir {direction!r}")  # getSortDir guard
    if direction == "asc" and sort_field == default_sort_field:
        # O2 asc-scan cost guard (functions.ts:269-298): require a
        # range bound, and if both bounds are dates cap the window
        if not params.after and not params.before:
            raise QueryGuardError("sort=asc requires an after/before bound")
        if (
            params.after
            and params.before
            and _ISO_RE.match(params.after)
            and _ISO_RE.match(params.before)
        ):
            from datetime import datetime

            fmt = "%Y-%m-%d"
            a = datetime.strptime(params.after[:10], fmt)
            b = datetime.strptime(params.before[:10], fmt)
            if (b - a).days > MAX_ASC_WINDOW_DAYS:
                raise QueryGuardError(
                    f"asc window {(b - a).days}d > {MAX_ASC_WINDOW_DAYS}d"
                )
    order = [F.col(sort_field).asc() if direction == "asc" else F.col(sort_field).desc()]
    if tiebreaker and tiebreaker != sort_field:
        # total order => deterministic pages (pagination disjointness,
        # reference e2e api-tests.ts:40-120)
        order.append(F.col(tiebreaker).asc())
    out = out.orderBy(*order)
    if params.skip:
        out = out.offset(params.skip)
    return out.limit(params.limit)
