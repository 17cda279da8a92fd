"""Stateful streaming one-to-many join with table semantics.

The reference implements this as two Kafka Streams transformers sharing two
RocksDB stores (DemoApp.scala:187-298).  Here it is two step functions on
the package's one keyed-state recipe (streaming/keyed.py), mirroring the
topology:

  stage 1 — car_move_detection, keyed by car_id (reference O1+O3,
      DemoApp.scala:86-90,116-130): per-car ValueState of the last zone;
      each car event emits an arrive row (and a leave row for the previous
      zone, INCLUDING the same-zone quirk — FIXTURES.md edge case 4).

  stage 2 — symmetric_one_to_many_join, keyed by zone_id (reference O6+O7,
      DemoApp.scala:187-298): per-zone state holds the zone's latest value
      (the reference's zone-events-store, DemoApp.scala:251-254) plus the
      map car_id → fuel of cars currently in the zone (the reference's
      composite-key range-scan store, DemoApp.scala:182-185 — Spark keyed
      state is hash-addressed, so "prefix scan over ZoneCarId(z, *)"
      becomes "the one state entry for key z", same asymptotics, SURVEY.md
      §4.3).  Car arrive → upsert + probe (emit if zone known,
      DemoApp.scala:210-222); car leave → delete, emit nothing
      (DemoApp.scala:224-230 — no retraction); zone event → upsert + fan
      out one row per car in the zone (DemoApp.scala:279-290).

Between the stages sits a shuffle on zone_id — Spark's in-engine version of
the reference's co-partitioning `through` topic (O5, DemoApp.scala:90),
with no broker round trip.  Spark allows one keyed-state operator per
streaming query (streaming/keyed.py), so the topology helper in the tests
materializes stage 1 through a parquet directory — which is *exactly* what
the reference's `through` topic does, minus the broker.

Ordering: the reference relies on per-partition arrival order with no
timestamps (DemoApp.scala:62-63).  Here each micro-batch is processed in
(seq, emit_rank) order per key; cross-batch order is batch arrival order —
the same contract.

State at 100 TB: state is partitioned by key across executors (RocksDB
provider, off-heap, changelog-checkpointed — session.py); per-zone state is
O(cars currently in zone), and the per-update work is O(1) for car events /
O(fan-out) for zone events — identical asymptotics to the reference
(BASELINE.md "Per-update join cost").  State columns are array-typed (no
string re-serialization per batch).

Throughput model: the step functions ``_move_step`` / ``_join_step``
iterate events row-by-row in Python.  That is the faithful-semantics
cost — the operator is an arrival-order state machine
(each event's emission depends on state mutated by the previous event of
the same key), so it cannot be vectorized without changing the emission
contract.  Per-event cost is constant and small; aggregate throughput
scales with ``spark.sql.shuffle.partitions`` × number of executors, exactly
like the reference scales with Kafka partitions × stream threads.  At
100 TB the knob is partition count, not per-row cost.

Checkpoint compatibility: the switch from CSV-string state columns to
array-typed state columns (round 3) is a state-schema BREAK.  A streaming
query restarted from a checkpoint written by the string-state version fails
Spark's state schema compatibility check — discard old checkpoints (or run
with a fresh checkpointLocation) when upgrading across that change.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from kafka_streams_one_to_many_join_spark.streaming.keyed import keyed_state

CAR_MOVE_EVENT_STREAM = StructType(
    [
        StructField("car_id", IntegerType(), False),
        StructField("zone_id", IntegerType(), False),
        StructField("is_arriving", BooleanType(), False),
        StructField("emit_rank", IntegerType(), False),
        StructField("fuel_level", DoubleType(), False),
        StructField("seq", LongType(), False),
    ]
)

_MOVE_STATE = StructType(
    [
        StructField("last_zone", IntegerType(), True),
        StructField("last_fuel", DoubleType(), True),
    ]
)

JOINED_STREAM = StructType(
    [
        StructField("car_id", IntegerType(), False),
        StructField("zone_id", IntegerType(), False),
        StructField("fuel_level", DoubleType(), False),
        StructField("pollution_level", DoubleType(), False),
    ]
)

# zone-side ValueState + car-side map (parallel typed arrays).  Array-typed
# state columns round-trip through the state store natively — no string
# serialization: the per-batch cost is one Arrow-side array materialization,
# not an O(cars-in-zone) parse + format per zone per micro-batch.
_JOIN_STATE = StructType(
    [
        StructField("pollution_level", DoubleType(), True),
        StructField("car_ids", ArrayType(IntegerType()), True),
        StructField("car_fuels", ArrayType(DoubleType()), True),
    ]
)


def _move_step(car_id: int, state: tuple | None, pdfs: Iterator[pd.DataFrame]):
    """Per-car move detection: each event emits an arrive row and, if the
    car had a zone, a leave row for it.  Under a TTL an expired car's next
    event is treated as its first — arrive only, no leave row — the same
    cold-start contract as the join-side TTL."""
    last_zone, last_fuel = state if state is not None else (None, None)
    out: list[tuple] = []
    for pdf in pdfs:
        for row in pdf.sort_values("seq").itertuples(index=False):
            zone, fuel, seq = int(row.to_zone_id), float(row.fuel_level), int(row.seq)
            # arrive at the new zone (DemoApp.scala:127)
            out.append((car_id, zone, True, 0, fuel, seq))
            # leave the previous zone if any — even if unchanged (quirk,
            # DemoApp.scala:116-119,129)
            if last_zone is not None:
                out.append((car_id, int(last_zone), False, 1, fuel, seq))
            last_zone, last_fuel = zone, fuel
    return (last_zone, last_fuel), out


def car_move_detection(car_events: DataFrame, ttl_ms: int | None = None) -> DataFrame:
    """Streaming O1+O3: car events → arrive/leave CarMoveEvents.

    Input columns: seq, car_id, to_zone_id, fuel_level.
    ``ttl_ms``: opt-in processing-time state TTL; default None keeps the
    reference's keep-forever semantics.
    """
    return keyed_state(
        car_events, "car_id", _move_step, CAR_MOVE_EVENT_STREAM, _MOVE_STATE,
        ttl_ms=ttl_ms,
    )


def tag_car_moves(moves: DataFrame) -> DataFrame:
    """CarMoveEvents → the tagged union schema of the join input."""
    return moves.select(
        F.col("zone_id"),
        F.lit("car").alias("kind"),
        F.col("seq"),
        F.col("emit_rank"),
        F.col("car_id"),
        F.col("is_arriving"),
        F.col("fuel_level"),
        F.lit(None).cast("double").alias("pollution_level"),
    )


def tag_zone_events(zone_events: DataFrame) -> DataFrame:
    """Zone events (seq, zone_id, pollution_level) → tagged union schema."""
    return zone_events.select(
        F.col("zone_id"),
        F.lit("zone").alias("kind"),
        F.col("seq"),
        F.lit(2).alias("emit_rank"),
        F.lit(None).cast("int").alias("car_id"),
        F.lit(None).cast("boolean").alias("is_arriving"),
        F.lit(None).cast("double").alias("fuel_level"),
        F.col("pollution_level"),
    )


def _join_step(zone_id: int, state: tuple | None, pdfs: Iterator[pd.DataFrame]):
    """The per-zone state machine.

    Without a TTL this reproduces the reference exactly: state lives
    forever (DemoApp.scala:182-185,251-254 never expire).  With one, a
    zone whose key receives no events for ``ttl_ms`` of processing time
    has its state dropped at the next micro-batch — the opt-in bound on
    the one unbounded resource here (keyed state for never-revisited
    zones) that a 100 TB deployment needs.  Expiry is an EXTENSION of the
    reference semantics: a later car arriving in an expired zone
    re-probes against nothing (no emission) until the next zone event,
    identical to a cold start for that key.
    """
    pollution, ids, fuels = state if state is not None else (None, None, None)
    cars: dict[int, float] = (
        {int(i): float(f) for i, f in zip(ids, fuels)} if ids is not None else {}
    )
    out: list[tuple] = []
    for pdf in pdfs:
        for row in pdf.sort_values(["seq", "emit_rank"]).itertuples(index=False):
            if row.kind == "car":
                car_id = int(row.car_id)
                if bool(row.is_arriving):
                    # upsert + probe (DemoApp.scala:210-222)
                    cars[car_id] = float(row.fuel_level)
                    if pollution is not None:
                        out.append((car_id, zone_id, float(row.fuel_level), float(pollution)))
                else:
                    # delete, no retraction (DemoApp.scala:224-230)
                    cars.pop(car_id, None)
            else:
                # zone upsert + fan-out (DemoApp.scala:279-290)
                pollution = float(row.pollution_level)
                for car_id, fuel in sorted(cars.items()):
                    out.append((car_id, zone_id, fuel, pollution))
    return (pollution, list(cars.keys()), list(cars.values())), out


def symmetric_one_to_many_join(tagged: DataFrame, ttl_ms: int | None = None) -> DataFrame:
    """Streaming O6+O7: tagged union of car-moves and zone events, keyed by
    zone_id, → continuously-refreshed joined rows.

    ``ttl_ms``: opt-in processing-time state TTL (see ``_join_step``);
    default None keeps the reference's keep-forever semantics.
    """
    return keyed_state(
        tagged, "zone_id", _join_step, JOINED_STREAM, _JOIN_STATE, ttl_ms=ttl_ms
    )
