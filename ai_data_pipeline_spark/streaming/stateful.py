"""Custom stateful streaming operators via applyInPandasWithState —
the escape hatch for per-key streaming logic the built-in windowed
aggregations can't express (running profiles, custom eviction,
cross-batch counters).

Scale notes: state lives in the state store keyed by the groupBy key
(one shuffle per micro-batch on that key); each key's state here is
O(1) (a handful of counters) so state size grows with distinct keys
only, never with event volume. Use timeouts to evict idle keys in
unbounded-key domains.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

RUNNING_STATS_OUTPUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("last_event_type", StringType()),
    ]
)

RUNNING_STATS_STATE = StructType(
    [
        StructField("n", LongType()),
        StructField("total", DoubleType()),
        StructField("last_type", StringType()),
    ]
)


def running_user_stats(
    events: DataFrame,
    key: str = "user_id",
    value_col: str = "value",
    type_col: str = "event_type",
    time_col: str = "ts",
) -> DataFrame:
    """Per-key running (count, sum, last-event-type) maintained across
    micro-batches in the state store; one updated row per key per
    batch it appears in.

    The last-event-type is taken from the batch's max event time —
    within-batch ordering is explicit (sorted here), cross-batch
    ordering comes from arrival order, the documented semantics of
    this operator (it is a processing-time running profile, not an
    event-time-correct one; use watermarked windows for that).
    """

    def update(
        key_tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        n, total, last_type = (
            state.get if state.exists else (0, 0.0, None)
        )
        latest_ts = None
        for pdf in pdfs:
            if not len(pdf):
                continue
            n += len(pdf)
            total += float(pdf[value_col].fillna(0.0).sum())
            pdf = pdf.sort_values(time_col)
            latest_ts = pdf[time_col].iloc[-1]
            last_type = pdf[type_col].iloc[-1]
        state.update((n, total, last_type))
        yield pd.DataFrame(
            {
                "user_id": [key_tuple[0]],
                "n_events": [n],
                "total_value": [total],
                "last_event_type": [last_type],
            }
        )

    return events.groupBy(key).applyInPandasWithState(
        update,
        outputStructType=RUNNING_STATS_OUTPUT,
        stateStructType=RUNNING_STATS_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
