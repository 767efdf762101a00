"""Missed-block / gap detection (SURVEY §2.9 T8 + repair scans §2.5).

Two forms, mirroring the reference's two uses:

1. **Batch repair scan** (:func:`find_missing_ranges`): the repair CLI
   binary-searches ES for block ranges with missing documents
   (``src/cli/repair-cli/scan.ts:298-333,435``). Spark-first: a single
   ``lag()`` window over the sorted sequence finds every gap in one
   pass — no driver-side binary search. At 100 TB the window shuffles
   once on a range-partitioned sort Catalyst already needs; per-
   partition boundaries are handled by the window machinery.

2. **Stateful live detector** (:func:`detect_missed_stateful`): the
   master tracks the producer schedule and emits ``missed_blocks``
   events when a producer's expected slots don't arrive
   (``src/indexer/modules/master.ts:1325-1340``). Spark-first:
   ``applyInPandasWithState`` keyed by producer keeps the
   last-seen slot per producer and emits (producer, missed) rows per
   micro-batch — bounded state (one long per producer).
"""

from __future__ import annotations

from collections.abc import Iterable
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StructType

MISSED_SCHEMA = "producer string, missed bigint, up_to bigint"
STATE_SCHEMA = "last_seen bigint"


def find_missing_ranges(
    df: DataFrame, seq_col: str, *, partition_by: str | None = None
) -> DataFrame:
    """All gaps in a supposedly-contiguous sequence as
    (gap_start, gap_end, missing) rows.

    Equivalent plan to the repair CLI's range scan, but set-based:
    ``prev = lag(seq)``; a row with ``seq > prev + 1`` starts a gap of
    ``seq - prev - 1`` ids.
    """
    part = [partition_by] if partition_by else []
    w = Window.partitionBy(*part).orderBy(F.col(seq_col).asc())
    prev = F.lag(F.col(seq_col)).over(w)
    out = (
        df.select(*(part + [seq_col]))
        .withColumn("__prev", prev)
        .where(F.col("__prev").isNotNull() & (F.col(seq_col) > F.col("__prev") + 1))
        .select(
            *part,
            (F.col("__prev") + 1).alias("gap_start"),
            (F.col(seq_col) - 1).alias("gap_end"),
            (F.col(seq_col) - F.col("__prev") - 1).alias("missing"),
        )
    )
    return out


def _missed_fn(
    key: tuple[Any, ...],
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterable[pd.DataFrame]:
    """Per-producer state update: emit newly-missed slot counts.

    State = highest slot seen; slots in (last_seen, min_new) that never
    arrived are missed (the reference compares expected schedule slots
    vs produced blocks, master.ts:1325-1340).
    """
    (producer,) = key
    slots: list[int] = []
    for pdf in pdfs:
        slots.extend(int(s) for s in pdf["slot"])
    if not slots:
        return
    last_seen = state.get[0] if state.exists else None
    slots.sort()
    missed = 0
    prev = last_seen
    for s in slots:
        if prev is not None and s > prev + 1:
            missed += s - prev - 1
        prev = max(s, prev) if prev is not None else s
    state.update((int(prev),))
    if missed:
        yield pd.DataFrame(
            {"producer": [producer], "missed": [missed], "up_to": [int(prev)]}
        )


def detect_missed_stateful(slots: DataFrame) -> DataFrame:
    """Streaming missed-slot detector over a (producer, slot) stream.

    Input: streaming DataFrame with columns ``producer`` (string) and
    ``slot`` (long, per-producer expected-contiguous counter). Output
    stream of (producer, missed, up_to) rows.
    """
    return slots.groupBy("producer").applyInPandasWithState(
        _missed_fn,
        outputStructType=MISSED_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


from ..udf_compat import pickle_by_value as _pbv  # noqa: E402

_pbv(__name__)
