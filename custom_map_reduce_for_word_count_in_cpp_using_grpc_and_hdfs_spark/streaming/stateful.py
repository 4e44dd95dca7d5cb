"""Custom stateful streaming operators (applyInPandasWithState).

``session_window``/``window`` cover the declarative cases; this module is
the escape hatch the instructions call out for operators Spark lacks: an
arbitrary per-key state machine fed Arrow batches. The example operator
is a per-user activity accumulator (count / value-sum / last-seen) that
emits its state on every trigger — the skeleton any custom stateful op
(fraud scoring, CEP, per-entity model state) starts from.

Scale: state lives in the state store partitioned by the grouping key;
the accumulator never times a key out, so state grows with the keys
seen.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

#: (count, value_sum_cents) — value kept in integer cents so state
#: accumulation is exact regardless of arrival order.
STATE_SCHEMA = "count BIGINT, value_cents BIGINT"
OUTPUT_SCHEMA = "user_id BIGINT, n_events BIGINT, total_value_cents BIGINT"


def _accumulate(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    count, value_cents = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        count += len(pdf)
        # values carry 2 decimals, so value*100 is integer-valued up to
        # float error — rounding never lands on a .5 tie, making pandas
        # (half-to-even) and SQL round (half-away) agree exactly
        value_cents += int((pdf["value"] * 100).round().astype("int64").sum())
    state.update((count, value_cents))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [count], "total_value_cents": [value_cents]}
    )


def user_activity_state(events: DataFrame) -> DataFrame:
    """Per-user stateful accumulator over a stream: one output row per
    user per trigger carrying the running (count, value-cents) state.

    Unbounded state lifetime (NoTimeout) — correct for bounded drains and
    small key spaces; an open-ended key space needs a processing-time
    timeout that evicts idle keys."""
    return events.groupBy("user_id").applyInPandasWithState(
        _accumulate,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

