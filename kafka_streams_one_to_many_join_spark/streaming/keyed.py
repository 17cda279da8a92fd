"""The one keyed-state recipe every stateful streaming operator composes.

The reference keeps each stateful step in one transformer with one store
contract (DemoApp.scala:187-298).  Here each operator is a plain step
function and this module is the only place that talks to Spark's keyed
state API (``applyInPandasWithState``): it groups by the key, decodes the
state, writes the step's new state back, owns the processing-time TTL
policy and builds the output frame.

Step contract: ``step(key, state, pdfs) -> (new_state, rows)`` where
``key`` is the grouping column's value, ``state`` is the decoded state
tuple (None when the key has no state), ``pdfs`` is the key's iterator of
input frames for this micro-batch, ``new_state`` is the tuple to store
(None = leave the state as it is) and ``rows`` are output tuples in
``output_schema`` order.

TTL policy (``ttl_ms``, opt-in; None keeps state forever): a key whose
timer fires has its state removed and emits nothing — its next event is a
cold start.  After any other invocation the timer is re-armed if the key
still has state, because every invocation clears it.

Spark allows one ``applyInPandasWithState`` per streaming query
(``AnalysisException: Multiple applyInPandasWithStates are not
supported``), so chained stateful stages (move detection → join, segment
deltas → totals, word deltas → pair totals) run as separate queries
through a parquet "through" directory.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

Step = Callable[[Any, Any, Iterator[pd.DataFrame]], tuple[Any, list]]


def keyed_state_fn(step: Step, output_schema: StructType, ttl_ms: int | None = None):
    """Wrap ``step`` as an ``applyInPandasWithState`` function applying
    the state and TTL policy of the module docstring."""
    columns = output_schema.fieldNames()

    def fn(key: tuple, pdfs: Iterator[pd.DataFrame], state: Any) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        new_state, rows = step(key[0], state.get if state.exists else None, pdfs)
        if new_state is not None:
            state.update(new_state)
        if ttl_ms is not None and state.exists:
            state.setTimeoutDuration(ttl_ms)
        if rows:
            yield pd.DataFrame(rows, columns=columns)

    return fn


def keyed_state(
    df: DataFrame,
    key: str,
    step: Step,
    output_schema: StructType,
    state_schema: StructType,
    *,
    ttl_ms: int | None = None,
    output_mode: str = "append",
) -> DataFrame:
    """Run ``step`` per ``key`` over ``df`` with ``state_schema`` keyed
    state; ``ttl_ms`` opts into processing-time state expiry."""
    return df.groupBy(key).applyInPandasWithState(
        keyed_state_fn(step, output_schema, ttl_ms),
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode=output_mode,
        timeoutConf="NoTimeout" if ttl_ms is None else "ProcessingTimeTimeout",
    )
