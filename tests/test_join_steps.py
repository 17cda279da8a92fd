"""The two step functions of the streaming join (``streaming/join.py``),
driven directly with the per-key chunks ``keyed_state`` hands them — no
SparkSession.  Each test asserts the exact rows emitted, in order, and the
new state.

Chunks are built the way pyspark's Arrow→pandas conversion builds them: a
join chunk that holds zone rows carries ``car_id`` as float64 with NaN.
"""

from __future__ import annotations

from types import SimpleNamespace

import pandas as pd
from pyspark.sql.types import DoubleType, IntegerType, LongType, StructField, StructType

from kafka_streams_one_to_many_join_spark.streaming import latest
from kafka_streams_one_to_many_join_spark.streaming.join import (
    _ARRIVE,
    _LEAVE,
    _ZONE,
    _join_step,
    _move_step,
)

_MOVE_COLUMNS = ["seq", "car_id", "to_zone_id", "fuel_level"]
_JOIN_COLUMNS = ["zone_id", "seq", "emit_rank", "car_id", "value"]


def _move_chunk(car_id, rows):
    """rows: (seq, to_zone_id, fuel_level)"""
    return pd.DataFrame(
        [(seq, car_id, zone, fuel) for seq, zone, fuel in rows], columns=_MOVE_COLUMNS
    )


def _join_chunk(zone_id, rows):
    """rows: (seq, emit_rank, car_id or None, value)"""
    return pd.DataFrame([(zone_id, *r) for r in rows], columns=_JOIN_COLUMNS)


def test_move_step_orders_an_out_of_order_chunk_by_seq():
    chunk = _move_chunk(1, [(9, 102, 1.5), (2, 100, 3.0), (5, 101, 2.0)])
    state, rows = _move_step(1, None, iter([chunk]))
    assert rows == [
        (1, 100, True, _ARRIVE, 3.0, 2),  # first event: arrive only
        (1, 101, True, _ARRIVE, 2.0, 5),
        (1, 100, False, _LEAVE, 2.0, 5),
        (1, 102, True, _ARRIVE, 1.5, 9),
        (1, 101, False, _LEAVE, 1.5, 9),
    ]
    assert state == (102, 1.5)


def test_move_step_same_zone_and_carried_state():
    """The previous zone comes from state; a move into the same zone
    still emits the leave row (FIXTURES.md edge case 4).  Chunks are
    processed in the order they arrive."""
    first = _move_chunk(2, [(6, 100, 21.0)])
    second = _move_chunk(2, [(8, 103, 22.0)])
    state, rows = _move_step(2, (100, 20.0), iter([first, second]))
    assert rows == [
        (2, 100, True, _ARRIVE, 21.0, 6),
        (2, 100, False, _LEAVE, 21.0, 6),
        (2, 103, True, _ARRIVE, 22.0, 8),
        (2, 100, False, _LEAVE, 22.0, 8),
    ]
    assert state == (103, 22.0)


def test_join_step_probe_before_the_zone_is_known():
    """An arrival in a zone with no value yet emits nothing but is kept;
    the zone event that follows fans out to it."""
    chunk = _join_chunk(100, [(1, _ZONE, None, 50.0), (0, _ARRIVE, 1, 10.0)])
    state, rows = _join_step(100, None, iter([chunk]))
    assert rows == [(1, 100, 10.0, 50.0)]
    assert state == (50.0, [1], [10.0])
    only_car = _join_chunk(101, [(0, _ARRIVE, 1, 10.0)])
    assert _join_step(101, None, iter([only_car])) == ((None, [1], [10.0]), [])


def test_join_step_same_seq_arrive_then_leave():
    """The same-zone quirk: a car's arrive and leave rows share one seq;
    rank puts the arrive first, so the probe emits and the leave then
    erases the car, whatever order the chunk holds them in."""
    chunk = _join_chunk(100, [(6, _LEAVE, 2, 21.0), (6, _ARRIVE, 2, 21.0)])
    state, rows = _join_step(100, (70.0, [2], [20.0]), iter([chunk]))
    assert rows == [(2, 100, 21.0, 70.0)]
    assert state == (70.0, [], [])


def test_join_step_leave_emits_no_retraction():
    chunk = _join_chunk(100, [(4, _LEAVE, 1, 11.0)])
    state, rows = _join_step(100, (60.0, [1, 2], [10.0, 20.0]), iter([chunk]))
    assert rows == []
    assert state == (60.0, [2], [20.0])


def test_join_step_zone_fans_out_in_car_id_order():
    chunk = _join_chunk(7, [(12, _ZONE, None, 80.0), (11, _ARRIVE, 3, 30.0)])
    state, rows = _join_step(7, (None, [9, 5], [90.0, 50.0]), iter([chunk]))
    assert rows == [(3, 7, 30.0, 80.0), (5, 7, 50.0, 80.0), (9, 7, 90.0, 80.0)]
    assert state == (80.0, [9, 5, 3], [90.0, 50.0, 30.0])


def test_latest_by_key_step_keeps_arrival_order_on_ties(monkeypatch):
    """Rows tied on ``ord_col`` are applied in arrival order: with ``>=``
    acceptance each is emitted and the last one wins."""
    schema = StructType(
        [
            StructField("k", IntegerType()),
            StructField("ts", LongType()),
            StructField("v", DoubleType()),
        ]
    )
    captured = {}

    def capture(df, key, step, out_schema, state_schema):
        captured["step"] = step

    monkeypatch.setattr(latest, "keyed_state", capture)
    latest.streaming_latest_by_key(SimpleNamespace(schema=schema), "k", "ts", ["v"])
    chunk = pd.DataFrame({"k": [1, 1, 1, 1], "ts": [5, 3, 5, 1], "v": [0.6, 0.3, 0.5, 0.1]})
    state, rows = captured["step"](1, (2, 0.2), iter([chunk]))
    assert rows == [(1, 3, 0.3), (1, 5, 0.6), (1, 5, 0.5)]
    assert state == (5, 0.5)
