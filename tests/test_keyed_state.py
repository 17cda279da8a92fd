"""The state and TTL policy of ``streaming.keyed`` (the one wrapper every
keyed-state streaming operator runs through), driven with Spark's own
``GroupState`` object — no SparkSession, no stand-ins.
"""

from __future__ import annotations

import json

import pytest
from pyspark.errors import PySparkRuntimeError
from pyspark.sql import Row
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import LongType, StructField, StructType

from kafka_streams_one_to_many_join_spark.streaming.keyed import keyed_state_fn

_OUT = StructType([StructField("k", LongType()), StructField("n", LongType())])
_STATE = StructType([StructField("n", LongType())])
_NOW_MS = 1_000_000
_TTL_MS = 400


def _group_state(value=None, timeout=GroupStateTimeout.ProcessingTimeTimeout, timed_out=False):
    return GroupState(
        optionalValue=None if value is None else Row(*value),
        batchProcessingTimeMs=_NOW_MS,
        eventTimeWatermarkMs=GroupState.NO_TIMESTAMP,
        timeoutConf=timeout,
        hasTimedOut=timed_out,
        watermarkPresent=False,
        defined=value is not None,
        updated=False,
        removed=False,
        timeoutTimestamp=GroupState.NO_TIMESTAMP,
        keyAsUnsafe=b"",
        valueSchema=_STATE,
    )


def _invoke(step, state, ttl_ms=_TTL_MS):
    return list(keyed_state_fn(step, _OUT, ttl_ms)((7,), iter([]), state))


def _counter(key, state, pdfs):
    n = (state[0] if state is not None else 0) + 1
    return (n,), [(key, n)]


def test_timed_out_key_is_removed_and_emits_nothing():
    def never(key, state, pdfs):
        raise AssertionError("a timed-out key must not reach the step")

    state = _group_state((3,), timed_out=True)
    assert _invoke(never, state) == []
    assert not state.exists
    assert json.loads(state.json())["removed"]


def test_invocation_that_leaves_state_rearms_the_timeout():
    state = _group_state()
    (out,) = _invoke(_counter, state)
    assert list(out.columns) == ["k", "n"]
    assert out.values.tolist() == [[7, 1]]
    assert state.get == (1,)
    assert json.loads(state.json())["timeoutTimestamp"] == _NOW_MS + _TTL_MS


def test_unchanged_state_rearms_without_update():
    def idle(key, state, pdfs):
        return None, []

    state = _group_state((3,))
    assert _invoke(idle, state) == []
    snap = json.loads(state.json())
    assert state.get == (3,) and not snap["updated"]
    assert snap["timeoutTimestamp"] == _NOW_MS + _TTL_MS
    # no state, nothing stored: no timer to arm
    empty = _group_state()
    assert _invoke(idle, empty) == []
    assert not empty.exists
    assert json.loads(empty.json())["timeoutTimestamp"] == GroupState.NO_TIMESTAMP


def test_no_ttl_never_sets_a_timeout():
    state = _group_state((3,), timeout=GroupStateTimeout.NoTimeout)
    with pytest.raises(PySparkRuntimeError):
        state.setTimeoutDuration(_TTL_MS)  # what a stray re-arm would hit
    (out,) = _invoke(_counter, state, ttl_ms=None)
    assert out.values.tolist() == [[7, 4]]
    assert state.get == (4,)
    assert json.loads(state.json())["timeoutTimestamp"] == GroupState.NO_TIMESTAMP
