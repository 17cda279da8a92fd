"""Streaming symmetric one-to-many join: FIXTURES.md edge cases, equality
with the batch trace operator, and cross-micro-batch state persistence.
"""

from __future__ import annotations

import os
import time

import pytest

from conftest import stamp_batch_mtimes

from pyspark.sql import functions as F

from kafka_streams_one_to_many_join_spark.operators import one_to_many_join_trace
from kafka_streams_one_to_many_join_spark.sources import read_stream, write_stream
from kafka_streams_one_to_many_join_spark.streaming import (
    car_move_detection,
    symmetric_one_to_many_join,
    tag_car_moves,
    tag_zone_events,
)

# FIXTURES.md edge cases 1-6 in one scenario:
#   seq0 car1→z100 (no zone yet: no emit)          — edge case 1
#   seq1 z100=50   (fan-out: car1)                 — edge case 2
#   seq2 car2→z100 (zone known: emit)
#   seq3 z100=60   (fan-out: car1+car2; upsert won)— edge case 6
#   seq4 car1→z101 (delete from z100, no emit: z101 unknown)
#   seq5 z100=70   (fan-out: car2 only)            — edge case 3 (delete propagation)
#   seq6 car2→z100 (same zone: emit once, then erased) — edge case 4 (quirk)
#   seq7 z100=80   (fan-out: nobody)               — quirk aftermath; no retraction ever (5)
CAR_ROWS = [(0, 1, 100, 10.0), (2, 2, 100, 20.0), (4, 1, 101, 11.0), (6, 2, 100, 21.0)]
ZONE_ROWS = [(1, 100, 50.0), (3, 100, 60.0), (5, 100, 70.0), (7, 100, 80.0)]
EXPECTED = sorted(
    [
        (1, 100, 10.0, 50.0),
        (1, 100, 10.0, 60.0),
        (2, 100, 20.0, 50.0),
        (2, 100, 20.0, 60.0),
        (2, 100, 20.0, 70.0),
        (2, 100, 21.0, 70.0),
    ]
)

CAR_SCHEMA = "seq long, car_id int, to_zone_id int, fuel_level double"
ZONE_SCHEMA = "seq long, zone_id int, pollution_level double"


def _run_topology(spark, tmp, car_batches, zone_rows, query_suffix=""):
    """Run the 2-stage topology; car_batches is a list of row-batches, each
    written as its own file (own micro-batch when maxFilesPerTrigger=1).
    """
    os.makedirs(f"{tmp}/cars", exist_ok=True)
    for i, batch in enumerate(car_batches):
        spark.createDataFrame(batch, CAR_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(f"{tmp}/cars")
        stamp_batch_mtimes(f"{tmp}/cars")
    spark.createDataFrame(zone_rows, ZONE_SCHEMA).coalesce(1).write.parquet(
        f"{tmp}/zones"
    )

    multi = len(car_batches) > 1
    cars_stream = read_stream(
        spark, "parquet", f"{tmp}/cars",
        schema=spark.createDataFrame([], CAR_SCHEMA).schema,
        **({"maxFilesPerTrigger": "1"} if multi else {}),
    )
    moves = car_move_detection(cars_stream)
    q1 = write_stream(
        moves, "parquet", f"{tmp}/through", checkpoint=f"{tmp}/cp1",
        query_name=f"moves{query_suffix}",
    )
    q1.processAllAvailable()
    q1.stop()

    moves_stream = read_stream(spark, "parquet", f"{tmp}/through", schema=moves.schema)
    zones_stream = read_stream(
        spark, "parquet", f"{tmp}/zones",
        schema=spark.createDataFrame([], ZONE_SCHEMA).schema,
    )
    tagged = tag_car_moves(moves_stream).unionByName(tag_zone_events(zones_stream))
    joined = symmetric_one_to_many_join(tagged)
    name = f"joined{query_suffix}"
    q2 = write_stream(joined, "memory", query_name=name, checkpoint=f"{tmp}/cp2")
    q2.processAllAvailable()
    q2.stop()
    return sorted(tuple(r) for r in spark.sql(f"select * from {name}").collect())


def test_streaming_join_edge_cases(spark, tmp_path):
    got = _run_topology(spark, str(tmp_path), [CAR_ROWS], ZONE_ROWS, "_single")
    assert got == EXPECTED


def test_streaming_matches_batch_trace(spark, tmp_path):
    got = _run_topology(spark, str(tmp_path), [CAR_ROWS], ZONE_ROWS, "_vs_batch")
    cars_df = spark.createDataFrame(CAR_ROWS, CAR_SCHEMA).withColumnRenamed(
        "to_zone_id", "zone_id"
    )
    zones_df = spark.createDataFrame(ZONE_ROWS, ZONE_SCHEMA)
    trace = sorted(tuple(r) for r in one_to_many_join_trace(cars_df, zones_df).collect())
    assert got == trace


def test_move_detection_state_survives_batches(spark, tmp_path):
    """Split the car stream into two micro-batches: the second batch's
    moves must see the zones recorded in the first (ValueState carry-over,
    the Spark analog of the reference's persistent store).
    """
    tmp = str(tmp_path)
    batches = [CAR_ROWS[:2], CAR_ROWS[2:]]
    os.makedirs(f"{tmp}/cars", exist_ok=True)
    for batch in batches:
        spark.createDataFrame(batch, CAR_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(f"{tmp}/cars")
        stamp_batch_mtimes(f"{tmp}/cars")
    cars_stream = read_stream(
        spark, "parquet", f"{tmp}/cars",
        schema=spark.createDataFrame([], CAR_SCHEMA).schema,
        maxFilesPerTrigger="1",
    )
    moves = car_move_detection(cars_stream)
    q = write_stream(
        moves, "memory", query_name="mb_moves", checkpoint=f"{tmp}/cp",
    )
    q.processAllAvailable()
    q.stop()
    rows = {
        (r.car_id, r.zone_id, r.is_arriving)
        for r in spark.sql("select * from mb_moves").collect()
    }
    # car1's second event (batch 2) must emit a LEAVE for z100 seen in batch 1
    assert (1, 100, False) in rows
    # car2's same-zone re-arrival must emit arrive AND leave for z100
    assert (2, 100, True) in rows and (2, 100, False) in rows


# ---------------------------------------------------------------------------
# watermarked windowed aggregation + streaming dedup
# ---------------------------------------------------------------------------

from datetime import datetime

EV_SCHEMA = "ts timestamp, event_type string, value double"


def _write_events(spark, path, rows):
    spark.createDataFrame(rows, EV_SCHEMA).coalesce(1).write.mode("append").parquet(path)


def _stream_events(spark, path):
    from kafka_streams_one_to_many_join_spark.sources import read_stream

    return read_stream(
        spark, "parquet", path, schema=spark.createDataFrame([], EV_SCHEMA).schema
    )


def test_tumbling_agg_counts(spark, tmp_path):
    from kafka_streams_one_to_many_join_spark.streaming import tumbling_agg

    rows = [
        (datetime(2024, 1, 1, 10, 5), "click", 1.0),
        (datetime(2024, 1, 1, 10, 55), "click", 3.0),
        (datetime(2024, 1, 1, 11, 5), "click", 5.0),
        (datetime(2024, 1, 1, 10, 20), "view", 7.0),
    ]
    _write_events(spark, f"{tmp_path}/ev", rows)
    agg = tumbling_agg(
        _stream_events(spark, f"{tmp_path}/ev"), "ts", ["event_type"],
        window="1 hour", watermark="10 minutes", value_col="value",
    )
    q = write_stream(
        agg, "memory", query_name="tumb", output_mode="update",
        checkpoint=f"{tmp_path}/cp",
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r.window_start, r.event_type): (r.n_events, r.avg_value)
        for r in spark.sql("select * from tumb").collect()
    }
    assert got[(datetime(2024, 1, 1, 10, 0), "click")] == (2, 2.0)
    assert got[(datetime(2024, 1, 1, 11, 0), "click")] == (1, 5.0)
    assert got[(datetime(2024, 1, 1, 10, 0), "view")] == (1, 7.0)


def test_sliding_agg_overlap(spark, tmp_path):
    from kafka_streams_one_to_many_join_spark.streaming import sliding_agg

    rows = [(datetime(2024, 1, 1, 10, 20), "click", 1.0)]
    _write_events(spark, f"{tmp_path}/ev", rows)
    agg = sliding_agg(
        _stream_events(spark, f"{tmp_path}/ev"), "ts", ["event_type"],
        window="1 hour", slide="30 minutes", watermark="10 minutes",
    )
    q = write_stream(
        agg, "memory", query_name="slide", output_mode="update",
        checkpoint=f"{tmp_path}/cp",
    )
    q.processAllAvailable()
    q.stop()
    starts = sorted(
        r.window_start for r in spark.sql("select * from slide").collect()
    )
    # a 10:20 event belongs to the [09:30,10:30) and [10:00,11:00) windows
    assert starts == [datetime(2024, 1, 1, 9, 30), datetime(2024, 1, 1, 10, 0)]


def test_session_agg_gap_split(spark, tmp_path):
    from kafka_streams_one_to_many_join_spark.streaming import session_agg

    rows = [
        (datetime(2024, 1, 1, 10, 0), "click", 1.0),
        (datetime(2024, 1, 1, 10, 10), "click", 1.0),   # merges (gap 30m)
        (datetime(2024, 1, 1, 11, 30), "click", 1.0),   # new session
    ]
    _write_events(spark, f"{tmp_path}/ev", rows)
    agg = session_agg(
        _stream_events(spark, f"{tmp_path}/ev"), "ts", ["event_type"],
        gap="30 minutes", watermark="10 minutes",
    )
    # session-window aggs reject update mode (merging rewrites windows);
    # complete mode re-emits the full result per batch — fine for a test
    q = write_stream(
        agg, "memory", query_name="sess", output_mode="complete",
        checkpoint=f"{tmp_path}/cp",
    )
    q.processAllAvailable()
    q.stop()
    got = sorted(
        (r.session_start, r.n_events)
        for r in spark.sql("select * from sess").collect()
    )
    assert got == [
        (datetime(2024, 1, 1, 10, 0), 2),
        (datetime(2024, 1, 1, 11, 30), 1),
    ]


def test_streaming_dedup_across_batches(spark, tmp_path):
    from kafka_streams_one_to_many_join_spark.streaming import streaming_dedup

    batch1 = [(datetime(2024, 1, 1, 10, 0), "click", 1.0),
              (datetime(2024, 1, 1, 10, 0), "click", 1.0)]   # in-batch dup
    batch2 = [(datetime(2024, 1, 1, 10, 1), "click", 1.0),
              (datetime(2024, 1, 1, 10, 2), "view", 2.0)]
    _write_events(spark, f"{tmp_path}/ev", batch1)
    stamp_batch_mtimes(f"{tmp_path}/ev")
    _write_events(spark, f"{tmp_path}/ev", batch2)
    stream = read_stream(
        spark, "parquet", f"{tmp_path}/ev",
        schema=spark.createDataFrame([], EV_SCHEMA).schema,
        maxFilesPerTrigger="1",
    )
    deduped = streaming_dedup(stream, keys=["event_type"], ts_col="ts")
    q = write_stream(
        deduped, "memory", query_name="dedup", checkpoint=f"{tmp_path}/cp",
    )
    q.processAllAvailable()
    q.stop()
    got = [tuple(r) for r in spark.sql("select * from dedup").collect()]
    # first click wins (in-batch AND cross-batch dups dropped), view kept
    assert sorted(got) == [
        (datetime(2024, 1, 1, 10, 0), "click", 1.0),
        (datetime(2024, 1, 1, 10, 2), "view", 2.0),
    ]


def test_streaming_dedup_within_watermark(spark, tmp_path):
    from kafka_streams_one_to_many_join_spark.streaming import (
        streaming_dedup_within_watermark,
    )

    rows = [
        (datetime(2024, 1, 1, 10, 0), "click", 1.0),
        (datetime(2024, 1, 1, 10, 1), "click", 1.0),   # dup within delay
        (datetime(2024, 1, 1, 10, 2), "view", 2.0),
    ]
    _write_events(spark, f"{tmp_path}/ev", rows)
    deduped = streaming_dedup_within_watermark(
        _stream_events(spark, f"{tmp_path}/ev"), keys=["event_type"],
        ts_col="ts", watermark="10 minutes",
    )
    q = write_stream(
        deduped, "memory", query_name="dedupww", checkpoint=f"{tmp_path}/cp",
    )
    q.processAllAvailable()
    q.stop()
    got = sorted(r.event_type for r in spark.sql("select * from dedupww").collect())
    assert got == ["click", "view"]


def test_streaming_latest_by_key_changelog(spark, tmp_path):
    from kafka_streams_one_to_many_join_spark.streaming import (
        streaming_latest_by_key,
    )

    k_schema = "seq long, car_id int, zone_id int, fuel double"
    b1 = [(0, 1, 100, 1.0), (2, 1, 101, 2.0), (1, 2, 100, 9.0)]
    b2 = [(3, 1, 102, 3.0), (0, 2, 999, 0.0)]  # second row is STALE for car2
    os.makedirs(f"{tmp_path}/ev", exist_ok=True)
    for batch in [b1, b2]:
        spark.createDataFrame(batch, k_schema).coalesce(1).write.mode(
            "append"
        ).parquet(f"{tmp_path}/ev")
        stamp_batch_mtimes(f"{tmp_path}/ev")
    stream = read_stream(
        spark, "parquet", f"{tmp_path}/ev",
        schema=spark.createDataFrame([], k_schema).schema,
        maxFilesPerTrigger="1",
    )
    latest = streaming_latest_by_key(
        stream, key="car_id", ord_col="seq", payload=["zone_id", "fuel"]
    )
    q = write_stream(
        latest, "memory", query_name="latest_cl", checkpoint=f"{tmp_path}/cp"
    )
    q.processAllAvailable()
    q.stop()
    rows = [tuple(r) for r in spark.sql("select * from latest_cl").collect()]
    # changelog: every ACCEPTED update emitted; stale (2, seq0) suppressed
    assert sorted(rows) == [
        (1, 0, 100, 1.0), (1, 2, 101, 2.0), (1, 3, 102, 3.0), (2, 1, 100, 9.0),
    ]
    # final state per key = batch latest_by_key over the full input
    final = {}
    for r in sorted(rows, key=lambda t: t[1]):
        final[r[0]] = r
    assert final[1] == (1, 3, 102, 3.0) and final[2] == (2, 1, 100, 9.0)


def test_stream_stream_join_inner(spark, tmp_path):
    from kafka_streams_one_to_many_join_spark.streaming import stream_stream_join

    l_schema = "lts timestamp, zone_id int, car_id int"
    r_schema = "rts timestamp, zone_id int, pollution double"
    lrows = [
        (datetime(2024, 1, 1, 10, 0), 100, 1),
        (datetime(2024, 1, 1, 10, 1), 101, 2),
        (datetime(2024, 1, 1, 10, 2), 999, 3),  # no matching zone
    ]
    rrows = [
        (datetime(2024, 1, 1, 10, 0), 100, 50.0),
        (datetime(2024, 1, 1, 10, 1), 100, 60.0),  # APPEND: both match car1
        (datetime(2024, 1, 1, 10, 2), 101, 70.0),
    ]
    spark.createDataFrame(lrows, l_schema).coalesce(1).write.parquet(f"{tmp_path}/l")
    spark.createDataFrame(rrows, r_schema).coalesce(1).write.parquet(f"{tmp_path}/r")
    ls = read_stream(spark, "parquet", f"{tmp_path}/l",
                     schema=spark.createDataFrame([], l_schema).schema)
    rs = read_stream(spark, "parquet", f"{tmp_path}/r",
                     schema=spark.createDataFrame([], r_schema).schema)
    joined = stream_stream_join(ls, rs, on="zone_id", left_ts="lts", right_ts="rts")
    q = write_stream(joined, "memory", query_name="ssj", checkpoint=f"{tmp_path}/cp")
    q.processAllAvailable()
    q.stop()
    got = sorted(
        (r.zone_id, r.car_id, r.pollution)
        for r in spark.sql("select * from ssj").collect()
    )
    # append semantics: car1 joins BOTH zone-100 rows (no upsert);
    # car3's zone 999 never arrives → suppressed (inner)
    assert got == [(100, 1, 50.0), (100, 1, 60.0), (101, 2, 70.0)]


def test_stream_static_join(spark, tmp_path):
    from kafka_streams_one_to_many_join_spark.streaming import stream_static_join

    s_schema = "ts timestamp, zone_id int, car_id int"
    srows = [(datetime(2024, 1, 1, 10, 0), 100, 1),
             (datetime(2024, 1, 1, 10, 1), 999, 2)]
    spark.createDataFrame(srows, s_schema).coalesce(1).write.parquet(f"{tmp_path}/s")
    stream = read_stream(spark, "parquet", f"{tmp_path}/s",
                         schema=spark.createDataFrame([], s_schema).schema)
    static = spark.createDataFrame([(100, 50.0)], "zone_id int, pollution double")
    joined = stream_static_join(stream, static, on="zone_id")
    q = write_stream(joined, "memory", query_name="ssj2", checkpoint=f"{tmp_path}/cp")
    q.processAllAvailable()
    q.stop()
    got = [(r.zone_id, r.car_id, r.pollution)
           for r in spark.sql("select * from ssj2").collect()]
    assert got == [(100, 1, 50.0)]


def test_streaming_join_multi_zone_isolation(spark, tmp_path):
    """Keys are isolated: state/fan-out for one zone never leaks into
    another (hash-partitioned keyed state, the Spark analog of the
    reference's per-key store entries)."""
    cars = [(0, 1, 100, 1.0), (1, 2, 200, 2.0)]
    zones = [(2, 100, 10.0), (3, 200, 20.0), (4, 300, 30.0)]
    got = _run_topology(spark, str(tmp_path), [cars], zones, "_mz")
    assert got == sorted([(1, 100, 1.0, 10.0), (2, 200, 2.0, 20.0)])


def test_streaming_matches_batch_trace_randomized(spark, tmp_path):
    """Seeded random workload in the reference's shape (FakeData.scala:
    27-33 distributions, scaled up): 150 car + 150 zone events over
    12 cars × 5 zones, split across two micro-batches.  The streaming
    operator must reproduce the batch trace exactly — every upsert,
    delete, fan-out, and same-zone quirk included."""
    import random

    rng = random.Random(42)
    cars, zones = [], []
    for seq in range(300):
        if seq % 2 == 0:
            cars.append(
                (seq, rng.randint(1, 12), 100 + rng.randint(0, 4),
                 round(rng.uniform(0, 50), 2))
            )
        else:
            zones.append(
                (seq, 100 + rng.randint(0, 4), round(rng.uniform(0, 200), 2))
            )
    got = _run_topology(
        spark, str(tmp_path), [cars[:75], cars[75:]], zones, "_rand"
    )
    cars_df = spark.createDataFrame(cars, CAR_SCHEMA).withColumnRenamed(
        "to_zone_id", "zone_id"
    )
    zones_df = spark.createDataFrame(zones, ZONE_SCHEMA)
    trace = sorted(
        tuple(r) for r in one_to_many_join_trace(cars_df, zones_df).collect()
    )
    assert len(got) > 100  # non-trivial workload actually joined
    assert got == trace


def test_tumbling_agg_finalized_windows_exclude_late_rows(spark, tmp_path):
    """Append mode emits a window once the watermark passes its end and
    evicts its state; a row arriving AFTER that finalization is dropped —
    it neither changes the emitted count nor re-emits the window (the
    append-mode exactly-once contract).  Three micro-batches: (1) window
    data + watermark-advancing row, (2) benign row — eviction happens
    here, (3) the late row against evicted state."""
    from kafka_streams_one_to_many_join_spark.streaming import tumbling_agg

    batches = [
        [(datetime(2024, 1, 1, 10, 5), "click", 1.0),
         (datetime(2024, 1, 1, 13, 0), "click", 2.0)],   # watermark -> 12:50
        [(datetime(2024, 1, 1, 13, 2), "click", 2.5)],   # 10:00 finalizes now
        [(datetime(2024, 1, 1, 10, 10), "click", 9.0)],  # LATE: state evicted
    ]
    for b in batches:
        _write_events(spark, f"{tmp_path}/ev", b)
        stamp_batch_mtimes(f"{tmp_path}/ev")
    stream = read_stream(
        spark, "parquet", f"{tmp_path}/ev",
        schema=spark.createDataFrame([], EV_SCHEMA).schema,
        maxFilesPerTrigger="1",
    )
    agg = tumbling_agg(stream, "ts", ["event_type"], window="1 hour",
                       watermark="10 minutes")
    q = write_stream(
        agg, "memory", query_name="late", output_mode="append",
        checkpoint=f"{tmp_path}/cp",
    )
    q.processAllAvailable()
    q.stop()
    rows = [tuple(r) for r in spark.sql("select * from late").collect()]
    finalized = [r for r in rows if r[0] == datetime(2024, 1, 1, 10, 0)]
    # exactly one emission, count 1 - the late row was dropped
    assert finalized == [
        (datetime(2024, 1, 1, 10, 0), datetime(2024, 1, 1, 11, 0), "click", 1)
    ]
    # the 13:00 window is still open (watermark < 14:00): not emitted
    assert all(r[0] != datetime(2024, 1, 1, 13, 0) for r in rows)


def test_hll_register_recipe_matches_spark_expression(spark):
    """The python (bucket, rho) recipe in streaming/sketch.py must agree
    bit-for-bit with the SQL expression the batch query uses — this is
    what makes the streaming state mergeable with batch sketches."""
    from kafka_streams_one_to_many_join_spark.streaming.sketch import hll_register

    vals = [str(i) for i in range(64)]
    df = spark.createDataFrame([(v,) for v in vals], "s string").select(
        "s",
        F.expr(
            "cast(conv(substring(md5(s), 1, 12), 16, 10) as bigint)"
        ).alias("h"),
    ).select(
        "s",
        (F.col("h") % 256).alias("bucket"),
        F.when(F.expr("h div 256") == 0, F.lit(41))
        .otherwise(F.lit(41) - F.length(F.expr("bin(h div 256)")))
        .alias("rho"),
    )
    got = {r.s: (r.bucket, r.rho) for r in df.collect()}
    for v in vals:
        assert got[v] == hll_register(v), v


def test_streaming_hll_matches_batch_sketch(spark, tmp_path, sf_dir):
    """Incremental 3-batch streaming sketch == one-shot batch sketch:
    the register merge is commutative/idempotent, so the final streaming
    estimate must equal the batch query's (and a python reference's)."""
    import __spark_entry__ as entry_mod
    from kafka_streams_one_to_many_join_spark.model import load_table
    from kafka_streams_one_to_many_join_spark.streaming import (
        streaming_hll_distinct,
    )
    from kafka_streams_one_to_many_join_spark.streaming.sketch import (
        hll_estimate,
        hll_register,
    )

    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type").cast("string"), F.col("user_id").cast("string")
    )
    rows = [(r[0], r[1]) for r in ev.collect()]
    schema = "event_type string, user_id string"
    os.makedirs(f"{tmp_path}/ev", exist_ok=True)
    third = (len(rows) + 2) // 3
    for i in range(3):
        spark.createDataFrame(
            rows[i * third : (i + 1) * third], schema
        ).coalesce(1).write.mode("append").parquet(f"{tmp_path}/ev")
        stamp_batch_mtimes(f"{tmp_path}/ev")
    stream = read_stream(
        spark, "parquet", f"{tmp_path}/ev",
        schema=spark.createDataFrame([], schema).schema,
        maxFilesPerTrigger="1",
    )
    est = streaming_hll_distinct(stream, "event_type", "user_id")
    q = write_stream(
        est, "memory", query_name="hll", output_mode="update",
        checkpoint=f"{tmp_path}/cp",
    )
    q.processAllAvailable()
    q.stop()
    out = spark.sql("select * from hll").collect()
    final = {}
    for r in out:
        if r.key not in final or r.n_seen > final[r.key].n_seen:
            final[r.key] = r
    # python one-shot reference: identical floats expected (same code path)
    ref_regs: dict[str, list[int]] = {}
    ref_n: dict[str, int] = {}
    for et, uid in rows:
        regs = ref_regs.setdefault(et, [0] * 256)
        b, rho = hll_register(uid)
        regs[b] = max(regs[b], rho)
        ref_n[et] = ref_n.get(et, 0) + 1
    assert set(final) == set(ref_regs)
    for et, r in final.items():
        assert r.n_seen == ref_n[et]
        assert r.hll_estimate == hll_estimate(ref_regs[et]), et
    # batch Spark query agreement (rounded to 4 decimals there)
    batch = {
        r.event_type: r.hll_estimate
        for r in entry_mod.q_hll_distinct(spark, sf_dir).collect()
    }
    for et, r in final.items():
        assert abs(r.hll_estimate - batch[et]) < 1e-4, (et, r.hll_estimate, batch[et])


def test_streaming_quantile_matches_batch_sketch(spark, tmp_path, sf_dir):
    """Incremental 3-batch streaming quantile sketch == one-shot batch
    sketch: the histogram merge is elementwise integer addition
    (commutative/associative), so the final streaming estimates must
    equal the batch query's and a python reference's exactly."""
    import __spark_entry__ as entry_mod
    from kafka_streams_one_to_many_join_spark.model import load_table
    from kafka_streams_one_to_many_join_spark.streaming import (
        streaming_quantile_sketch,
    )
    from kafka_streams_one_to_many_join_spark.streaming.sketch import (
        _Q_BINS,
        quantile_bin,
        quantile_estimate,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("source").cast("string"), F.col("n_chars").cast("double")
    )
    rows = [(r[0], r[1]) for r in docs.collect()]
    schema = "source string, n_chars double"
    os.makedirs(f"{tmp_path}/docs", exist_ok=True)
    third = (len(rows) + 2) // 3
    for i in range(3):
        spark.createDataFrame(
            rows[i * third : (i + 1) * third], schema
        ).coalesce(1).write.mode("append").parquet(f"{tmp_path}/docs")
        stamp_batch_mtimes(f"{tmp_path}/docs")
    stream = read_stream(
        spark, "parquet", f"{tmp_path}/docs",
        schema=spark.createDataFrame([], schema).schema,
        maxFilesPerTrigger="1",
    )
    est = streaming_quantile_sketch(stream, "source", "n_chars")
    q = write_stream(
        est, "memory", query_name="qsketch", output_mode="update",
        checkpoint=f"{tmp_path}/cp",
    )
    q.processAllAvailable()
    q.stop()
    out = spark.sql("select * from qsketch").collect()
    final = {}
    for r in out:
        if r.key not in final or r.n_seen > final[r.key].n_seen:
            final[r.key] = r
    # python one-shot reference
    ref: dict[str, list[int]] = {}
    for src, n_chars in rows:
        ref.setdefault(src, [0] * _Q_BINS)[quantile_bin(n_chars)] += 1
    assert set(final) == set(ref)
    for src, r in final.items():
        assert r.n_seen == sum(ref[src])
        for q_, col in [(0.25, "p25_sketch"), (0.5, "p50_sketch"), (0.9, "p90_sketch")]:
            assert getattr(r, col) == quantile_estimate(ref[src], q_), (src, col)
    # batch Spark query agreement (rounded to 6 decimals there)
    batch = {
        r.source: (r.n_docs, r.p25_sketch, r.p50_sketch, r.p90_sketch)
        for r in entry_mod.q_quantile_sketch(spark, sf_dir).collect()
    }
    for src, r in final.items():
        b = batch[src]
        assert r.n_seen == b[0]
        assert abs(r.p25_sketch - b[1]) < 1e-6, (src, r.p25_sketch, b[1])
        assert abs(r.p50_sketch - b[2]) < 1e-6
        assert abs(r.p90_sketch - b[3]) < 1e-6


_TAGGED_SCHEMA = (
    "zone_id int, kind string, seq long, emit_rank int, car_id int, "
    "is_arriving boolean, fuel_level double, pollution_level double"
)


def _zrow(seq, zid, p):
    return (zid, "zone", seq, 2, None, None, None, p)


def _crow(seq, zid, cid, fuel):
    return (zid, "car", seq, 0, cid, True, fuel, None)


def _await_input_rows(q, seen, target, timeout=90):
    """Block until the query has processed ``target`` input rows in total.

    processAllAvailable() cannot be used under ProcessingTimeTimeout /
    processing-time TTL: the engine schedules continuous no-data
    state-cleanup batches (observed: status "No new data but cleaning up
    state" forever), so the idle condition never holds.  Input-row
    accounting over recentProgress is the trigger-agnostic way to know a
    written file was actually processed; ``seen`` (batchId → numInputRows)
    accumulates across calls because recentProgress is a bounded window."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        for prog in q.recentProgress:
            seen[prog["batchId"]] = prog["numInputRows"]
        if sum(seen.values()) >= target:
            return
        time.sleep(0.05)
    raise AssertionError(
        f"processed {sum(seen.values())}/{target} input rows before timeout"
    )


def _await_cleanup_batch(q, horizon, timeout=60):
    """Block until at least one ZERO-input micro-batch has committed after
    wall-clock ``horizon``.

    Timer-based TTL (ProcessingTimeTimeout) only fires hasTimedOut inside
    a no-data cleanup batch; a key that next sees data before any idle
    batch ran is handed its stale state instead.  A fixed sleep therefore
    races the engine's idle-batch scheduler (flaky on slow CI) — the
    deterministic wait is: let the horizon pass, snapshot the newest
    batchId, then require a LATER batch with numInputRows == 0 (it
    necessarily *started* after the horizon, so the timer fired)."""
    while time.time() < horizon:
        time.sleep(0.1)
    base = max((p["batchId"] for p in q.recentProgress), default=-1)
    deadline = time.time() + timeout
    while time.time() < deadline:
        if any(
            p["batchId"] > base and p["numInputRows"] == 0
            for p in q.recentProgress
        ):
            return
        time.sleep(0.05)
    raise AssertionError("no post-horizon cleanup batch committed in time")


_TTL_MS = 400  # the processing-time TTL every expiry test runs under


def _publish_batch(spark, src, i, rows, schema):
    """Write one input file straight from the driver and rename it into
    place: the file source skips ``.``-names, so it never sees a half
    written file, and no Spark write job runs per batch."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = spark.createDataFrame([], schema).schema
    table = pa.Table.from_pylist(
        [dict(zip(struct.fieldNames(), row)) for row in rows],
        schema=to_arrow_schema(struct),
    )
    pq.write_table(table, f"{src}/.part-{i}.parquet")
    os.rename(f"{src}/.part-{i}.parquet", f"{src}/part-{i}.parquet")


def _ttl_scenario(
    spark, tmp_path, make_query, name, batches, ttl_ms,
    schema=_TAGGED_SCHEMA, output_mode="append", project=tuple,
):
    """Run ``make_query(stream, ttl_ms)`` over ``batches``, one file each,
    waiting until each is processed and then leaving a wall-clock silence
    past the ``_TTL_MS`` horizon before the next; return the sink rows
    through ``project``, sorted.

    With ``ttl_ms`` set, each silence also waits for a committed no-data
    cleanup batch past the horizon (see _await_cleanup_batch) — required
    for timer-based expiry to have actually fired before the next data
    batch arrives.  The keep-forever control (``ttl_ms=None``) gets the
    same silence without it."""
    src = f"{tmp_path}/src_{name}"
    os.makedirs(src, exist_ok=True)
    stream = read_stream(
        spark, "parquet", src,
        schema=spark.createDataFrame([], schema).schema,
    )
    # every micro-batch (cleanup batches too) opens and commits the state
    # store of each shuffle partition; the one-key scenarios need two.  The
    # query clones the session conf at start, so restoring it right after
    # leaves the running query untouched.
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        q = write_stream(
            make_query(stream, ttl_ms), "memory", query_name=name,
            output_mode=output_mode, checkpoint=f"{tmp_path}/cp_{name}",
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    seen: dict = {}
    written = 0
    try:
        for i, batch in enumerate(batches):
            if i:
                horizon = processed_at + _TTL_MS / 1000 + 0.3
                if ttl_ms is not None:
                    _await_cleanup_batch(q, horizon)
                else:
                    time.sleep(max(0.0, horizon - time.time()))
            _publish_batch(spark, src, i, batch, schema)
            written += len(batch)
            _await_input_rows(q, seen, written)
            processed_at = time.time()
        # a batch shows up in recentProgress only after its sink commit
        return sorted(
            project(r) for r in spark.sql(f"select * from {name}").collect()
        )
    finally:
        q.stop()


def test_join_state_ttl_expires_silent_zones(spark, tmp_path):
    """Opt-in TTL drops state for keys silent past the horizon; the
    default (None) preserves the reference's keep-forever semantics on the
    identical scenario.  b1 seeds zone 100 (pollution + car 1 joins); b2,
    after a silence longer than the TTL, has car 2 arrive in zone 100 —
    against remembered pollution without TTL, against a cold zone with."""
    batches = [
        [_zrow(0, 100, 50.0), _crow(1, 100, 1, 10.0)],
        [_crow(2, 100, 2, 20.0)],
    ]

    def run(name, ttl_ms):
        return _ttl_scenario(
            spark, tmp_path,
            lambda st, ttl: symmetric_one_to_many_join(st, ttl_ms=ttl),
            name, batches, ttl_ms,
        )

    forever = run("ttl_off", None)
    assert forever == [(1, 100, 10.0, 50.0), (2, 100, 20.0, 50.0)]
    expiring = run("ttl_on", _TTL_MS)
    assert expiring == [(1, 100, 10.0, 50.0)]


def test_streaming_sessionization_matches_batch(spark, tmp_path, sf_dir):
    """The streaming session operator (F.session_window, engine-managed
    merging) must agree session-for-session with the batch formulation
    (operators.sessionize window cumsum — the q_sessionization oracle
    surface) on the same real events fixture, replayed in 3 micro-batches
    so cross-batch session merging is actually exercised.

    Semantics mapping: a session_window's end is last_event + gap, while
    the batch session_end is the last event itself — so streaming sessions
    are compared on (user, start, end - gap, n_events)."""
    from datetime import timedelta

    from kafka_streams_one_to_many_join_spark.model import load_table
    from kafka_streams_one_to_many_join_spark.operators import session_stats
    from kafka_streams_one_to_many_join_spark.streaming import session_agg

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    batch = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in session_stats(
            ev, key="user_id", ts_col="ts", gap=F.expr("INTERVAL 30 MINUTES")
        ).collect()
    }
    rows = [(r.user_id, r.ts) for r in ev.collect()]
    schema = "user_id int, ts timestamp"
    os.makedirs(f"{tmp_path}/ev", exist_ok=True)
    third = (len(rows) + 2) // 3
    for i in range(3):
        spark.createDataFrame(
            rows[i * third : (i + 1) * third], schema
        ).coalesce(1).write.mode("append").parquet(f"{tmp_path}/ev")
        stamp_batch_mtimes(f"{tmp_path}/ev")
    stream = read_stream(
        spark, "parquet", f"{tmp_path}/ev",
        schema=spark.createDataFrame([], schema).schema,
        maxFilesPerTrigger="1",
    )
    agg = session_agg(stream, "ts", ["user_id"], gap="30 minutes")
    # complete mode: session-window aggs reject update, and append would
    # hold back sessions the watermark hasn't finalized
    q = write_stream(
        agg, "memory", query_name="sess_eq", output_mode="complete",
        checkpoint=f"{tmp_path}/cp",
    )
    q.processAllAvailable()
    q.stop()
    streamed = {
        (
            r.user_id,
            r.session_start,
            r.session_end - timedelta(minutes=30),
            r.n_events,
        )
        for r in spark.sql("select * from sess_eq").collect()
    }
    assert streamed == batch


def test_streaming_dedup_matches_batch_exact(spark, tmp_path, sf_dir):
    """Cross-batch streaming exact-dedup == the batch exact_duplicates
    operator on the same real documents fixture: replayed over 3
    micro-batches, streaming_dedup must emit each distinct content hash
    exactly once (duplicates arriving in LATER batches suppressed by
    state, not just within-batch), and the emitted key set must equal the
    batch operator's group keys."""
    from kafka_streams_one_to_many_join_spark.functions.dedup import (
        exact_duplicates,
    )
    from kafka_streams_one_to_many_join_spark.model import load_table
    from kafka_streams_one_to_many_join_spark.streaming import streaming_dedup

    docs = load_table(spark, sf_dir, "documents")
    batch = {
        (r.text_hash, r.n_copies) for r in exact_duplicates(docs).collect()
    }
    hashes = [
        (r.h,) for r in docs.select(F.md5("text").alias("h")).collect()
    ]
    schema = "h string"
    os.makedirs(f"{tmp_path}/h", exist_ok=True)
    third = (len(hashes) + 2) // 3
    # chunk 1 = first third; chunks 2 and 3 each REPLAY 10 hashes from
    # chunk 1 — cross-batch duplicates that only keyed state can suppress
    # (this sf's documents happen to be all-distinct, so the duplicates
    # are injected)
    chunks = [
        hashes[:third],
        hashes[third : 2 * third] + hashes[:10],
        hashes[2 * third :] + hashes[10:20],
    ]
    for chunk in chunks:
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "append"
        ).parquet(f"{tmp_path}/h")
        stamp_batch_mtimes(f"{tmp_path}/h")
    stream = read_stream(
        spark, "parquet", f"{tmp_path}/h",
        schema=spark.createDataFrame([], schema).schema,
        maxFilesPerTrigger="1",
    )
    dd = streaming_dedup(stream, keys=["h"])  # bounded key domain: no wm
    q = write_stream(
        dd, "memory", query_name="dedup_eq", checkpoint=f"{tmp_path}/cp"
    )
    q.processAllAvailable()
    q.stop()
    emitted = [r.h for r in spark.sql("select * from dedup_eq").collect()]
    # exactly-once per key across ALL batches
    assert len(emitted) == len(set(emitted))
    assert set(emitted) == {h for h, _ in batch}
    # suppression was exercised: 20 replayed hashes arrived in later
    # batches than their first occurrence and were dropped by state
    assert sum(len(c) for c in chunks) == len(emitted) + 20


def test_cms_recipe_matches_spark_expression(spark):
    """The python (j, token) → bucket recipe in streaming/sketch.py must
    agree with the Spark SQL expression the batch query uses — that
    agreement is what makes the streaming state mergeable with batch
    sketches (and the DuckDB oracle)."""
    from kafka_streams_one_to_many_join_spark.streaming.sketch import (
        _CMS_D,
        cms_bucket,
    )

    toks = ["the", "spark", "zz9", "a", "merge"]
    df = spark.createDataFrame([(t,) for t in toks], "tok string")
    for j in range(_CMS_D):
        got = {
            r.tok: r.bucket
            for r in df.select(
                "tok",
                (
                    F.expr(
                        f"cast(conv(substring(md5(concat('{j}:', tok)), 1, 8), 16, 10) as bigint)"
                    )
                    % 256
                ).alias("bucket"),
            ).collect()
        }
        for t in toks:
            assert got[t] == cms_bucket(j, t), (j, t)


def test_streaming_cms_matches_oneshot(spark, tmp_path, sf_dir):
    """Incremental 3-batch streaming CMS == one-shot reference: the
    counter merge is elementwise addition, so the final streaming
    estimates must equal a python one-shot sketch over the same rows —
    and respect the CMS upper-bound contract against exact counts."""
    from collections import Counter

    from kafka_streams_one_to_many_join_spark.model import load_table
    from kafka_streams_one_to_many_join_spark.streaming import (
        streaming_cms_counts,
    )
    from kafka_streams_one_to_many_join_spark.streaming.sketch import (
        _CMS_D,
        _CMS_W,
        cms_estimate,
        cms_update,
    )

    docs = load_table(spark, sf_dir, "documents")
    rows = [
        (r.source, r.tok)
        for r in docs.select(
            "source",
            F.explode(
                F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
            ).alias("tok"),
        ).collect()
    ]
    probes = ["the", "key", "value"]
    schema = "source string, tok string"
    os.makedirs(f"{tmp_path}/toks", exist_ok=True)
    third = (len(rows) + 2) // 3
    for i in range(3):
        spark.createDataFrame(
            rows[i * third : (i + 1) * third], schema
        ).coalesce(1).write.mode("append").parquet(f"{tmp_path}/toks")
        stamp_batch_mtimes(f"{tmp_path}/toks")
    stream = read_stream(
        spark, "parquet", f"{tmp_path}/toks",
        schema=spark.createDataFrame([], schema).schema,
        maxFilesPerTrigger="1",
    )
    est = streaming_cms_counts(stream, "source", "tok", probes)
    q = write_stream(
        est, "memory", query_name="cms", output_mode="update",
        checkpoint=f"{tmp_path}/cp",
    )
    q.processAllAvailable()
    q.stop()
    final = {}
    for r in spark.sql("select * from cms").collect():
        k = (r.key, r.probe)
        if k not in final or r.n_seen > final[k].n_seen:
            final[k] = r
    ref: dict[str, list[int]] = {}
    exact: dict[str, Counter] = {}
    for src, tok in rows:
        cms_update(ref.setdefault(src, [0] * (_CMS_D * _CMS_W)), tok)
        exact.setdefault(src, Counter())[tok] += 1
    assert {k for k, _ in final} == set(ref)
    for (src, probe), r in final.items():
        assert r.cms_est == cms_estimate(ref[src], probe), (src, probe)
        assert r.cms_est >= exact[src][probe]  # CMS upper-bound contract
        assert r.n_seen == sum(exact[src].values())


def test_join_checkpoint_restart_exactness(spark, tmp_path):
    """Kill-and-resume exactness: the symmetric join processes the fixture
    split across TWO separate query instances sharing one checkpoint (a
    planned restart between micro-batches), and the recovered state must
    continue the emission trace exactly — final output equals the batch
    trace oracle over the full input, with no duplicates (file-sink
    exactly-once across the restart included)."""
    tmp = str(tmp_path)
    os.makedirs(f"{tmp}/cars", exist_ok=True)
    spark.createDataFrame(CAR_ROWS, CAR_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(f"{tmp}/cars")
    cars_stream = read_stream(
        spark, "parquet", f"{tmp}/cars",
        schema=spark.createDataFrame([], CAR_SCHEMA).schema,
    )
    moves = car_move_detection(cars_stream)
    q1 = write_stream(
        moves, "parquet", f"{tmp}/through", checkpoint=f"{tmp}/cp1",
        query_name="rst_moves",
    )
    q1.processAllAvailable()
    q1.stop()

    through = spark.read.parquet(f"{tmp}/through")
    zones_df = spark.createDataFrame(ZONE_ROWS, ZONE_SCHEMA)
    tagged_df = tag_car_moves(through).unionByName(tag_zone_events(zones_df))
    tagged_all = tagged_df.collect()
    schema = tagged_df.schema
    # split respecting global seq order, so the batch trace oracle stays
    # the valid expectation for the concatenated processing
    lo = [r for r in tagged_all if r.seq <= 3]
    hi = [r for r in tagged_all if r.seq > 3]
    src, out = f"{tmp}/tagged", f"{tmp}/out"
    os.makedirs(src, exist_ok=True)
    for chunk in (lo, hi):  # each chunk: a fresh query on the same checkpoint
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        stream = read_stream(spark, "parquet", src, schema=schema)
        q = write_stream(
            symmetric_one_to_many_join(stream), "parquet", path=out,
            checkpoint=f"{tmp}/cp2", trigger_available_now=True,
            query_name="rst_join",
        )
        q.awaitTermination()
    got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    cars_df = spark.createDataFrame(CAR_ROWS, CAR_SCHEMA).withColumnRenamed(
        "to_zone_id", "zone_id"
    )
    trace = sorted(
        tuple(r) for r in one_to_many_join_trace(cars_df, zones_df).collect()
    )
    assert got == trace == sorted(EXPECTED)


def test_streaming_minhash_lsh_matches_batch(spark, tmp_path, sf_dir):
    """Cross-batch fuzzy-dedup equivalence: a 3-batch replay of the
    documents fixture through the streaming MinHash-LSH operator emits
    exactly the batch operator's verified pair set (the recipe is shared
    bit-for-bit, and bucket state makes cross-batch pairs complete).
    Multi-band duplicates are deduped at the sink — the documented
    contract (the batch op's final .distinct(); a streaming query gets
    one stateful operator, spent on the bucket state)."""
    from kafka_streams_one_to_many_join_spark.functions.dedup import (
        minhash_lsh_pairs,
    )
    from kafka_streams_one_to_many_join_spark.model import load_table
    from kafka_streams_one_to_many_join_spark.streaming.dedup import (
        streaming_minhash_lsh_pairs,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    expected = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in minhash_lsh_pairs(docs, threshold=0.5, shingle_n=3).collect()
    }
    assert expected, "fixture must contain near-duplicate pairs"

    rows = [(r.doc_id, r.text) for r in docs.collect()]
    schema = "doc_id long, text string"
    os.makedirs(f"{tmp_path}/docs", exist_ok=True)
    third = (len(rows) + 2) // 3
    for i in range(3):
        spark.createDataFrame(
            rows[i * third : (i + 1) * third], schema
        ).coalesce(1).write.mode("append").parquet(f"{tmp_path}/docs")
        stamp_batch_mtimes(f"{tmp_path}/docs")
    stream = read_stream(
        spark, "parquet", f"{tmp_path}/docs",
        schema=spark.createDataFrame([], schema).schema,
        maxFilesPerTrigger="1",
    )
    pairs = streaming_minhash_lsh_pairs(stream, threshold=0.5, shingle_n=3)
    q = write_stream(
        pairs, "memory", query_name="mhlsh", output_mode="append",
        checkpoint=f"{tmp_path}/cp_mhlsh",
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in spark.sql("select * from mhlsh").collect()
    }
    assert got == expected


def test_streaming_minhash_bucket_cap(spark, tmp_path):
    """The admission-bounded streaming bucket cap: a hot bucket stops
    pairing AND admitting once it holds max_bucket_size docs, later
    batches' arrivals to it are ignored, small buckets are untouched,
    and every emission is a subset of the unbounded batch pair set.
    The cap lands exactly on a batch boundary so admission order inside
    a batch cannot make the expectation nondeterministic."""
    from kafka_streams_one_to_many_join_spark.functions.dedup import (
        minhash_lsh_pairs,
    )
    from kafka_streams_one_to_many_join_spark.streaming.dedup import (
        streaming_minhash_lsh_pairs,
    )

    hot_text = "the quick brown fox jumps over the lazy dog"
    batches = [
        [(0, hot_text), (1, hot_text), (2, hot_text),
         (100, "pack my box with five dozen liquor jugs today")],
        [(3, hot_text), (4, hot_text),
         (101, "pack my box with five dozen liquor jugs tonight")],
        [(5, hot_text), (6, hot_text)],
    ]
    schema = "doc_id long, text string"
    all_rows = [r for b in batches for r in b]
    unbounded = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(
            spark.createDataFrame(all_rows, schema), threshold=0.5, shingle_n=3
        ).collect()
    }

    os.makedirs(f"{tmp_path}/capdocs", exist_ok=True)
    for rows in batches:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(f"{tmp_path}/capdocs")
        stamp_batch_mtimes(f"{tmp_path}/capdocs")
    stream = read_stream(
        spark, "parquet", f"{tmp_path}/capdocs",
        schema=spark.createDataFrame([], schema).schema,
        maxFilesPerTrigger="1",
    )
    pairs = streaming_minhash_lsh_pairs(
        stream, threshold=0.5, shingle_n=3, max_bucket_size=3
    )
    q = write_stream(
        pairs, "memory", query_name="mhlsh_cap", output_mode="append",
        checkpoint=f"{tmp_path}/cp_mhlsh_cap",
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r.doc_a, r.doc_b)
        for r in spark.sql("select * from mhlsh_cap").collect()
    }
    # batch 1 fills the hot bucket to the cap; docs 3..6 never pair
    assert got == {(0, 1), (0, 2), (1, 2), (100, 101)}
    assert got <= unbounded


def test_streaming_bloom_matches_batch_build(spark, tmp_path, sf_dir):
    """Incremental 3-batch streaming Bloom == the batch bloom_build
    word-for-word (bit_or is commutative+idempotent, so micro-batch
    partitioning must not change the final filter), and the filter
    admits every inserted key (no false negatives through the streaming
    path either)."""
    from kafka_streams_one_to_many_join_spark.functions.bloom import (
        bloom_build,
    )
    from kafka_streams_one_to_many_join_spark.model import load_table
    from kafka_streams_one_to_many_join_spark.streaming import (
        streaming_bloom_filter,
    )
    from kafka_streams_one_to_many_join_spark.streaming.sketch import (
        bloom_word_mask,
    )

    orders = load_table(spark, sf_dir, "orders")
    rows = [
        (r.o_orderpriority, r.o_custkey)
        for r in orders.select("o_orderpriority", "o_custkey").limit(3000).collect()
    ]
    schema = "prio string, custkey long"
    os.makedirs(f"{tmp_path}/keys", exist_ok=True)
    third = (len(rows) + 2) // 3
    for i in range(3):
        spark.createDataFrame(
            rows[i * third : (i + 1) * third], schema
        ).coalesce(1).write.mode("append").parquet(f"{tmp_path}/keys")
        stamp_batch_mtimes(f"{tmp_path}/keys")
    stream = read_stream(
        spark, "parquet", f"{tmp_path}/keys",
        schema=spark.createDataFrame([], schema).schema,
        maxFilesPerTrigger="1",
    )
    est = streaming_bloom_filter(stream, "prio", "custkey", m=512, k=3)
    q = write_stream(
        est, "memory", query_name="bloomtwin", output_mode="update",
        checkpoint=f"{tmp_path}/cp",
    )
    q.processAllAvailable()
    q.stop()
    final = {}
    for r in spark.sql("select * from bloomtwin").collect():
        if r.key not in final or r.n_seen > final[r.key].n_seen:
            final[r.key] = r
    prios = {p for p, _ in rows}
    assert set(final) == prios
    df_all = spark.createDataFrame(rows, schema)
    for prio in prios:
        batch = {
            r.word: r.bits
            for r in bloom_build(
                df_all.filter(F.col("prio") == prio), "custkey", m=512, k=3
            ).collect()
        }
        stream_words = list(final[prio].words)
        # batch emits only non-zero words; align representations
        assert {w: b for w, b in enumerate(stream_words) if b} == batch, prio
        assert final[prio].n_seen == sum(1 for p, _ in rows if p == prio)
        # no false negatives through the streaming path
        for p, ck in rows:
            if p != prio:
                continue
            for i in range(3):
                w, mask = bloom_word_mask(i, str(ck), 512)
                assert stream_words[w] & mask == mask


def test_streaming_segment_dedup_matches_batch(spark, tmp_path):
    """Retroactive cross-batch line-dedup equivalence: documents arrive in
    3 micro-batches; when a later doc repeats an earlier doc's segment,
    the earlier doc's duplicated-fraction must update RETROACTIVELY —
    stage 1 (segment-keyed state) re-emits deltas on the 2-occurrence
    crossing, stage 2 (doc-keyed state) folds totals.  Final streaming
    rows must equal the batch segment-dedup pipeline on the full corpus
    (same segment_hash_expr, same join semantics)."""
    from kafka_streams_one_to_many_join_spark.functions.dedup import (
        segment_hash_expr,
    )
    from kafka_streams_one_to_many_join_spark.streaming import (
        streaming_segment_dup_deltas,
        streaming_segment_dup_totals,
    )

    w = lambda *words: " ".join(words)
    seg = lambda tag: w(*[f"{tag}{i}" for i in range(10)])  # one 10-token segment
    # batch 1: A unique; B shares nothing yet.  batch 2: C repeats one of
    # A's segments (retroactive flip for A) and has a WITHIN-DOC repeated
    # segment.  batch 3: D repeats B's segment (retroactive flip for B)
    # and C's repeated one (already dup — no re-emission for C).
    docs = [
        (1, seg("a") + " " + seg("x")),                     # A: segs {a, x}
        (2, seg("b")),                                      # B: seg {b}
        (3, seg("x") + " " + seg("c") + " " + seg("c")),    # C: x (dups A's), c twice
        (4, seg("b") + " " + seg("c")),                     # D: b (dups B's), c (already dup)
    ]
    batches = [docs[:2], docs[2:3], docs[3:]]
    schema = "doc_id long, text string"
    tmp = str(tmp_path)
    for i, b in enumerate(batches):
        spark.createDataFrame(b, schema).coalesce(1).write.mode("append").parquet(
            f"{tmp}/docs"
        )
        stamp_batch_mtimes(f"{tmp}/docs")
    stream = read_stream(
        spark, "parquet", f"{tmp}/docs",
        schema=spark.createDataFrame([], schema).schema,
        maxFilesPerTrigger="1",
    )
    deltas = streaming_segment_dup_deltas(stream)
    q1 = write_stream(
        deltas, "parquet", f"{tmp}/through", checkpoint=f"{tmp}/cp1",
        query_name="segdeltas",
    )
    q1.processAllAvailable()
    q1.stop()

    totals = streaming_segment_dup_totals(
        read_stream(spark, "parquet", f"{tmp}/through", schema=deltas.schema)
    )
    q2 = write_stream(
        totals, "memory", query_name="segtotals", output_mode="update",
        checkpoint=f"{tmp}/cp2",
    )
    q2.processAllAvailable()
    q2.stop()
    final = {}
    for r in spark.sql("select * from segtotals").collect():
        if r.doc_id not in final or r.n_segments > final[r.doc_id].n_segments or (
            r.n_segments == final[r.doc_id].n_segments
            and r.n_dup_segments >= final[r.doc_id].n_dup_segments
        ):
            final[r.doc_id] = r

    # batch reference: the q_segment_dedup pipeline on the full corpus
    all_docs = spark.createDataFrame(docs, schema)
    segs = all_docs.select(
        "doc_id",
        F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)").alias("_toks"),
    ).select("doc_id", F.explode(F.expr(segment_hash_expr("_toks"))).alias("seg_h"))
    occ = segs.groupBy("seg_h").agg(F.count(F.lit(1)).alias("occ"))
    expected = {
        r.doc_id: r
        for r in segs.join(occ, "seg_h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum((F.col("occ") >= 2).cast("bigint")).alias("n_dup_segments"),
        )
        .collect()
    }
    assert set(final) == set(expected)
    for d, exp in expected.items():
        got = final[d]
        assert (got.n_segments, got.n_dup_segments) == (
            exp.n_segments,
            exp.n_dup_segments,
        ), (d, got, exp)
    # the engineered retroactive flips actually happened
    assert final[1].n_dup_segments == 1  # A's 'x' flipped by C
    assert final[2].n_dup_segments == 1  # B's 'b' flipped by D
    assert final[3].n_dup_segments == 3  # C: x + both c's
    assert final[4].n_dup_segments == 2  # D: both segments already dup


def test_streaming_segment_dedup_fixture_replay(spark, tmp_path, sf_dir):
    """The same equivalence on the real documents fixture split across 3
    arbitrary batches — arrival order and batch boundaries must not
    change the final per-document totals."""
    from kafka_streams_one_to_many_join_spark.functions.dedup import (
        segment_hash_expr,
    )
    from kafka_streams_one_to_many_join_spark.model import load_table
    from kafka_streams_one_to_many_join_spark.streaming import (
        streaming_segment_dup_deltas,
        streaming_segment_dup_totals,
    )

    docs_df = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    rows = [(r.doc_id, r.text) for r in docs_df.limit(150).collect()]
    schema = "doc_id long, text string"
    tmp = str(tmp_path)
    third = (len(rows) + 2) // 3
    for i in range(3):
        spark.createDataFrame(
            rows[i * third : (i + 1) * third], schema
        ).coalesce(1).write.mode("append").parquet(f"{tmp}/docs")
        stamp_batch_mtimes(f"{tmp}/docs")
    stream = read_stream(
        spark, "parquet", f"{tmp}/docs",
        schema=spark.createDataFrame([], schema).schema,
        maxFilesPerTrigger="1",
    )
    deltas = streaming_segment_dup_deltas(stream)
    q1 = write_stream(
        deltas, "parquet", f"{tmp}/through", checkpoint=f"{tmp}/cp1",
        query_name="segdeltas_fx",
    )
    q1.processAllAvailable()
    q1.stop()
    totals = streaming_segment_dup_totals(
        read_stream(spark, "parquet", f"{tmp}/through", schema=deltas.schema)
    )
    q2 = write_stream(
        totals, "memory", query_name="segtotals_fx", output_mode="update",
        checkpoint=f"{tmp}/cp2",
    )
    q2.processAllAvailable()
    q2.stop()
    final = {}
    for r in spark.sql("select * from segtotals_fx").collect():
        cur = final.get(r.doc_id)
        if cur is None or (r.n_segments, r.n_dup_segments) >= (
            cur.n_segments, cur.n_dup_segments
        ):
            final[r.doc_id] = r

    all_docs = spark.createDataFrame(rows, schema)
    segs = all_docs.select(
        "doc_id",
        F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)").alias("_toks"),
    ).select("doc_id", F.explode(F.expr(segment_hash_expr("_toks"))).alias("seg_h"))
    occ = segs.groupBy("seg_h").agg(F.count(F.lit(1)).alias("occ"))
    expected = {
        r.doc_id: (r.n_segments, r.n_dup_segments)
        for r in segs.join(occ, "seg_h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum((F.col("occ") >= 2).cast("bigint")).alias("n_dup_segments"),
        )
        .collect()
    }
    assert set(final) == set(expected)
    mismatches = {
        d: ((final[d].n_segments, final[d].n_dup_segments), exp)
        for d, exp in expected.items()
        if (final[d].n_segments, final[d].n_dup_segments) != exp
    }
    assert not mismatches, mismatches


def test_sketch_checkpoint_restart_exactness(spark, tmp_path, sf_dir):
    """Kill-and-resume exactness for the sketch family: the streaming
    Bloom filter processes its input across TWO separate query instances
    sharing one checkpoint (planned restart between micro-batches), and
    the recovered RocksDB state must continue the bit_or accumulation
    exactly — the final filter equals the one-shot batch build word for
    word, with n_seen equal to the full row count."""
    from kafka_streams_one_to_many_join_spark.functions.bloom import (
        bloom_build,
    )
    from kafka_streams_one_to_many_join_spark.model import load_table
    from kafka_streams_one_to_many_join_spark.streaming import (
        streaming_bloom_filter,
    )

    orders = load_table(spark, sf_dir, "orders")
    rows = [
        (r.o_orderpriority, r.o_custkey)
        for r in orders.select("o_orderpriority", "o_custkey").limit(2000).collect()
    ]
    schema = "prio string, custkey long"
    tmp = str(tmp_path)
    os.makedirs(f"{tmp}/keys", exist_ok=True)
    half = (len(rows) + 1) // 2
    for chunk in (rows[:half], rows[half:]):  # fresh query per chunk, shared cp
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "append"
        ).parquet(f"{tmp}/keys")
        stream = read_stream(
            spark, "parquet", f"{tmp}/keys",
            schema=spark.createDataFrame([], schema).schema,
        )
        est = streaming_bloom_filter(
            stream, "prio", "custkey", m=512, k=3, output_mode="append"
        )
        q = write_stream(
            est, "parquet", path=f"{tmp}/out",
            checkpoint=f"{tmp}/cp", trigger_available_now=True,
            query_name="bloomrst",
        )
        q.awaitTermination()
    final = {}
    for r in spark.read.parquet(f"{tmp}/out").collect():
        if r.key not in final or r.n_seen > final[r.key].n_seen:
            final[r.key] = r
    df_all = spark.createDataFrame(rows, schema)
    prios = {p for p, _ in rows}
    assert set(final) == prios
    for prio in prios:
        batch = {
            r.word: r.bits
            for r in bloom_build(
                df_all.filter(F.col("prio") == prio), "custkey", m=512, k=3
            ).collect()
        }
        got = {w: b for w, b in enumerate(final[prio].words) if b}
        assert got == batch, prio
        assert final[prio].n_seen == sum(1 for p, _ in rows if p == prio)


def test_segment_dedup_state_ttl_expires(spark, tmp_path):
    """Opt-in TTL on the segment-dedup stage-1 state: after the TTL
    horizon a segment forgets its holders, so a later repeat neither
    retro-flips the earlier doc nor counts as duplicated itself
    (sliding-corpus semantics).  The keep-forever control on the same
    batches gets both.  Uses the cleanup-batch wait (not a fixed sleep)
    so the timer has provably fired before the second batch."""
    from kafka_streams_one_to_many_join_spark.streaming import (
        streaming_segment_dup_deltas,
    )

    seg = lambda tag: " ".join(f"{tag}{i}" for i in range(10))
    b1 = [(1, seg("a"))]
    b2 = [(2, seg("a"))]

    # doc 1 emits (1, 0) on arrival and a retro (0, 1) delta as separate
    # sink rows — delta semantics, so assert on SUMS per doc
    def totals(name, ttl_ms):
        agg = {}
        for doc_id, d_segments, d_dup in _ttl_scenario(
            spark, tmp_path,
            lambda st, ttl: streaming_segment_dup_deltas(st, ttl_ms=ttl),
            name, [b1, b2], ttl_ms, schema="doc_id long, text string",
        ):
            s, d = agg.get(doc_id, (0, 0))
            agg[doc_id] = (s + d_segments, d + d_dup)
        return agg

    t_expired = totals("segttl", _TTL_MS)
    t_control = totals("segkeep", None)
    assert t_control[1] == (1, 1), t_control   # retro-flipped
    assert t_control[2] == (1, 1), t_control   # arrived duplicated
    assert t_expired[1] == (1, 0), t_expired   # state forgot — no flip
    assert t_expired[2] == (1, 0), t_expired   # counted as fresh again


def test_minhash_state_ttl_expires(spark, tmp_path):
    """Opt-in TTL on the MinHash bucket state: a near-dup arriving after
    the TTL horizon no longer pairs with the expired earlier doc
    (sliding-corpus semantics); the keep-forever control on the same
    batches emits the pair."""
    from kafka_streams_one_to_many_join_spark.streaming import dedup as sd

    text = "the quick brown fox jumps over the lazy dog again and again"
    b1 = [(1, text)]
    b2 = [(2, text + " tail")]  # near-dup of doc 1, shares most shingles

    def run(name, ttl_ms):
        return set(_ttl_scenario(
            spark, tmp_path,
            lambda st, ttl: sd.streaming_minhash_lsh_pairs(
                st, threshold=0.5, ttl_ms=ttl
            ),
            name, [b1, b2], ttl_ms, schema="doc_id long, text string",
            project=lambda r: (r.doc_a, r.doc_b),
        ))

    control = run("mhkeep", None)
    expired = run("mhttl", _TTL_MS)
    assert (1, 2) in control, control     # cross-batch pair found
    assert (1, 2) not in expired, expired  # bucket forgot doc 1


def test_segment_dedup_full_topology_restart(spark, tmp_path):
    """Kill-and-resume across BOTH stages of the chained segment-dedup
    topology: each input batch is processed by FRESH query instances of
    stage 1 (segment-keyed deltas) and stage 2 (doc-keyed totals), every
    instance recovering from the shared per-stage checkpoints.  The
    retroactive delta for doc A must survive the stage-1 restart (its
    segment's holder state recovers from RocksDB), and stage 2's running
    totals must continue exactly — final totals equal the batch
    pipeline, no duplicates through the file-sink manifest."""
    from kafka_streams_one_to_many_join_spark.functions.dedup import (
        segment_hash_expr,
    )
    from kafka_streams_one_to_many_join_spark.streaming import (
        streaming_segment_dup_deltas,
        streaming_segment_dup_totals,
    )

    seg = lambda tag: " ".join(f"{tag}{i}" for i in range(10))
    docs = [
        (1, seg("a") + " " + seg("x")),
        (2, seg("b")),
        (3, seg("x") + " " + seg("c") + " " + seg("c")),
        (4, seg("b") + " " + seg("c")),
    ]
    schema = "doc_id long, text string"
    tmp = str(tmp_path)
    os.makedirs(f"{tmp}/docs", exist_ok=True)
    deltas_schema = None
    for batch in (docs[:2], docs[2:]):  # restart between the two halves
        spark.createDataFrame(batch, schema).coalesce(1).write.mode(
            "append"
        ).parquet(f"{tmp}/docs")
        stream = read_stream(
            spark, "parquet", f"{tmp}/docs",
            schema=spark.createDataFrame([], schema).schema,
        )
        deltas = streaming_segment_dup_deltas(stream)
        deltas_schema = deltas.schema
        q1 = write_stream(
            deltas, "parquet", f"{tmp}/through", checkpoint=f"{tmp}/cp1",
            trigger_available_now=True, query_name="segrst1",
        )
        q1.awaitTermination()
        totals = streaming_segment_dup_totals(
            read_stream(spark, "parquet", f"{tmp}/through", schema=deltas_schema),
            output_mode="append",
        )
        q2 = write_stream(
            totals, "parquet", path=f"{tmp}/out",
            checkpoint=f"{tmp}/cp2", trigger_available_now=True,
            query_name="segrst2",
        )
        q2.awaitTermination()
    final = {}
    for r in spark.read.parquet(f"{tmp}/out").collect():
        cur = final.get(r.doc_id)
        if cur is None or (r.n_segments, r.n_dup_segments) >= (
            cur.n_segments, cur.n_dup_segments
        ):
            final[r.doc_id] = r
    all_docs = spark.createDataFrame(docs, schema)
    segs = all_docs.select(
        "doc_id",
        F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)").alias("_toks"),
    ).select("doc_id", F.explode(F.expr(segment_hash_expr("_toks"))).alias("seg_h"))
    occ = segs.groupBy("seg_h").agg(F.count(F.lit(1)).alias("occ"))
    expected = {
        r.doc_id: (r.n_segments, r.n_dup_segments)
        for r in segs.join(occ, "seg_h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum((F.col("occ") >= 2).cast("bigint")).alias("n_dup_segments"),
        )
        .collect()
    }
    got = {d: (r.n_segments, r.n_dup_segments) for d, r in final.items()}
    assert got == expected, (got, expected)
    # the retroactive flip for doc 1 crossed the restart boundary
    assert got[1] == (2, 1), got


@pytest.mark.parametrize("twin", ["hll", "quantile", "cms"])
def test_all_sketch_twins_checkpoint_restart(spark, tmp_path, twin):
    """Kill-and-resume exactness for EVERY sketch twin (Bloom has its own
    dedicated test): two query instances share one checkpoint across a
    planned restart, and the recovered state must continue the
    commutative merge exactly — the final emission equals the one-shot
    python recipe over the full input."""
    from kafka_streams_one_to_many_join_spark.streaming.sketch import (
        _CMS_D,
        _CMS_W,
        _Q_BINS,
        cms_estimate,
        cms_update,
        hll_estimate,
        hll_register,
        quantile_bin,
        quantile_estimate,
        streaming_cms_counts,
        streaming_hll_distinct,
        streaming_quantile_sketch,
    )

    rows = [("k1", float(i * 7 % 500)) for i in range(400)] + [
        ("k2", float(i * 13 % 300)) for i in range(200)
    ]
    schema = "key string, v double"
    tmp = str(tmp_path)
    os.makedirs(f"{tmp}/in", exist_ok=True)
    half = len(rows) // 2
    for chunk in (rows[:half], rows[half:]):
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "append"
        ).parquet(f"{tmp}/in")
        stream = read_stream(
            spark, "parquet", f"{tmp}/in",
            schema=spark.createDataFrame([], schema).schema,
        )
        if twin == "hll":
            est = streaming_hll_distinct(stream, "key", "v", output_mode="append")
        elif twin == "quantile":
            est = streaming_quantile_sketch(stream, "key", "v", output_mode="append")
        else:
            est = streaming_cms_counts(
                stream, "key", "v", probes=["7.0", "91.0"], output_mode="append"
            )
        q = write_stream(
            est, "parquet", path=f"{tmp}/out",
            checkpoint=f"{tmp}/cp", trigger_available_now=True,
            query_name=f"sk_{twin}",
        )
        q.awaitTermination()
    out = spark.read.parquet(f"{tmp}/out").collect()
    final = {}
    for r in out:
        k = (r.key, r.probe) if twin == "cms" else r.key
        if k not in final or r.n_seen > final[k].n_seen:
            final[k] = r
    # one-shot python reference over the full input
    for key in ("k1", "k2"):
        vals = [v for k, v in rows if k == key]
        if twin == "hll":
            regs = [0] * 256
            for v in vals:
                b, rho = hll_register(str(v))
                regs[b] = max(regs[b], rho)
            assert final[key].n_seen == len(vals)
            assert abs(final[key].hll_estimate - hll_estimate(regs)) < 1e-9
        elif twin == "quantile":
            counts = [0] * _Q_BINS
            for v in vals:
                counts[quantile_bin(v)] += 1
            assert final[key].n_seen == len(vals)
            assert final[key].p50_sketch == quantile_estimate(counts, 0.5)
        else:
            ref = [0] * (_CMS_D * _CMS_W)
            for v in vals:
                cms_update(ref, str(v))
            for probe in ("7.0", "91.0"):
                assert final[(key, probe)].cms_est == cms_estimate(ref, probe)
                assert final[(key, probe)].n_seen == len(vals)


def test_streaming_bpe_pair_counts_match_batch(spark, tmp_path, sf_dir):
    """Incremental tokenizer statistics equal the batch BPE operator:
    documents arrive in 3 micro-batches; stage 1 (per-word seen-flag
    state — the only custom state, since pair counts are linear in word
    deltas) feeds stage 2 (pure pair expansion + BUILT-IN streaming
    aggregation).  The final per-pair (pair_count, n_words) must equal
    functions.text.bpe_pair_counts on the full corpus, including the
    merge ranking read off the maintained counts — regardless of batch
    boundaries (words repeat across batches, so first-seen flags and
    count deltas both cross batch lines)."""
    from kafka_streams_one_to_many_join_spark.functions.text import (
        bpe_pair_counts,
    )
    from kafka_streams_one_to_many_join_spark.model import load_table
    from kafka_streams_one_to_many_join_spark.streaming import (
        streaming_bpe_pair_totals,
        streaming_word_deltas,
    )

    rows = [
        (r.doc_id, r.text)
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", "text").limit(90).collect()
    ]
    rows.append((9001, "aaa ab aaa"))  # overlapping pairs + within-corpus repeats
    rows.append((9002, "zq"))          # pair unique to one word
    schema = "doc_id long, text string"
    tmp = str(tmp_path)
    third = (len(rows) + 2) // 3
    for i in range(3):
        spark.createDataFrame(
            rows[i * third : (i + 1) * third], schema
        ).coalesce(1).write.mode("append").parquet(f"{tmp}/docs")
        stamp_batch_mtimes(f"{tmp}/docs")
    stream = read_stream(
        spark, "parquet", f"{tmp}/docs",
        schema=spark.createDataFrame([], schema).schema,
        maxFilesPerTrigger="1",
    )
    deltas = streaming_word_deltas(stream)
    q1 = write_stream(
        deltas, "parquet", f"{tmp}/through", checkpoint=f"{tmp}/cp1",
        query_name="bpedeltas",
    )
    q1.processAllAvailable()
    q1.stop()
    totals = streaming_bpe_pair_totals(
        read_stream(spark, "parquet", f"{tmp}/through", schema=deltas.schema)
    )
    q2 = write_stream(
        totals, "memory", query_name="bpetotals", output_mode="update",
        checkpoint=f"{tmp}/cp2",
    )
    q2.processAllAvailable()
    q2.stop()
    final = {}
    for r in spark.sql("select * from bpetotals").collect():
        key = (r.left_sym, r.right_sym)
        cur = final.get(key)
        if cur is None or (r.pair_count, r.n_words) >= (
            cur.pair_count, cur.n_words
        ):
            final[key] = r

    expected = {
        (r.left_sym, r.right_sym): r
        for r in bpe_pair_counts(spark.createDataFrame(rows, schema)).collect()
    }
    assert set(final) == set(expected)
    mismatches = {
        p: ((final[p].pair_count, final[p].n_words),
            (e.pair_count, e.n_words))
        for p, e in expected.items()
        if (final[p].pair_count, final[p].n_words)
        != (e.pair_count, e.n_words)
    }
    assert not mismatches, mismatches
    # the merge ranking is a read-off of the maintained counts
    stream_rank = [
        p for p, _ in sorted(
            final.items(), key=lambda kv: (-kv[1].pair_count, kv[0])
        )
    ]
    batch_rank = [
        p for p, _ in sorted(expected.items(), key=lambda kv: kv[1].merge_rank)
    ]
    assert stream_rank == batch_rank
    # the engineered cases survived the batch split
    assert final[("z", "q")].pair_count == 1 and final[("z", "q")].n_words == 1


def test_streaming_bpe_checkpoint_restart_exactness(spark, tmp_path, sf_dir):
    """Kill-and-resume exactness for the BPE twin, across BOTH stages:
    each chunk of the corpus is processed by FRESH query instances
    sharing the per-stage checkpoints (planned restart between
    micro-batches).  The recovered stage-1 word state must keep first-
    seen flags exact (a word seen before the restart must NOT re-count
    toward n_words after it) and the recovered stage-2 aggregation state
    must continue the running totals — the final pair table equals the
    one-shot batch operator on the full corpus."""
    from kafka_streams_one_to_many_join_spark.functions.text import (
        bpe_pair_counts,
    )
    from kafka_streams_one_to_many_join_spark.model import load_table
    from kafka_streams_one_to_many_join_spark.streaming import (
        streaming_bpe_pair_totals,
        streaming_word_deltas,
    )

    rows = [
        (r.doc_id, r.text)
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", "text").limit(60).collect()
    ]
    # the same rare word on both sides of the restart: its second
    # arrival must not re-increment n_words from recovered state
    rows.insert(0, (9001, "zquv"))
    rows.append((9002, "zquv zquv"))
    schema = "doc_id long, text string"
    tmp = str(tmp_path)
    os.makedirs(f"{tmp}/docs", exist_ok=True)

    def _idempotent(batch_df, batch_id):
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(f"{tmp}/out")
        )

    half = (len(rows) + 1) // 2
    for chunk in (rows[:half], rows[half:]):  # fresh queries, shared cps
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "append"
        ).parquet(f"{tmp}/docs")
        stream = read_stream(
            spark, "parquet", f"{tmp}/docs",
            schema=spark.createDataFrame([], schema).schema,
        )
        q1 = write_stream(
            streaming_word_deltas(stream), "parquet", f"{tmp}/through",
            checkpoint=f"{tmp}/cp1", trigger_available_now=True,
            query_name="bperst1",
        )
        q1.awaitTermination()
        totals = streaming_bpe_pair_totals(
            read_stream(
                spark, "parquet", f"{tmp}/through",
                schema=streaming_word_deltas(stream).schema,
            )
        )
        q2 = (
            totals.writeStream.foreachBatch(_idempotent)
            .outputMode("update")
            .option("checkpointLocation", f"{tmp}/cp2")
            .trigger(availableNow=True)
            .queryName("bperst2")
            .start()
        )
        q2.awaitTermination()

    final = {}
    for r in spark.read.parquet(f"{tmp}/out").collect():
        key = (r.left_sym, r.right_sym)
        cur = final.get(key)
        if cur is None or (r.pair_count, r.n_words) >= (
            cur.pair_count, cur.n_words
        ):
            final[key] = r
    expected = {
        (r.left_sym, r.right_sym): (r.pair_count, r.n_words)
        for r in bpe_pair_counts(spark.createDataFrame(rows, schema)).collect()
    }
    assert set(final) == set(expected)
    mismatches = {
        p: ((final[p].pair_count, final[p].n_words), e)
        for p, e in expected.items()
        if (final[p].pair_count, final[p].n_words) != e
    }
    assert not mismatches, mismatches
    # the engineered word: 3 occurrences of each pair, ONE distinct word —
    # the post-restart arrivals continued recovered counts without
    # re-flagging first-seen
    assert final[("z", "q")].pair_count == 3
    assert final[("z", "q")].n_words == 1


def test_streaming_minhash_lsh_checkpoint_restart(spark, tmp_path):
    """Kill-and-resume exactness for the streaming MinHash-LSH twin — the
    last restart-unproven stateful operator: each input batch is processed
    by a FRESH query instance recovering from the shared checkpoint, and a
    candidate pair whose two endpoints straddle the restart must still be
    emitted (the band-bucket state for the first endpoint recovers from
    the state store) exactly as an uninterrupted run would emit it.
    Asserted two ways: the recovered pair SET equals the batch
    minhash_lsh_pairs set bit-for-bit, and the emission MULTISET (file
    sink rows, multi-band duplicates and all) equals an uninterrupted
    replay of the same two micro-batches — the restart added nothing and
    lost nothing."""
    from kafka_streams_one_to_many_join_spark.functions.dedup import (
        minhash_lsh_pairs,
    )
    from kafka_streams_one_to_many_join_spark.streaming.dedup import (
        streaming_minhash_lsh_pairs,
    )

    base = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima"
    )
    other = (
        "zulu yankee xray whiskey victor uniform tango sierra romeo "
        "quebec papa oscar"
    )
    docs = [
        (1, base),
        (2, other),
        # after the restart: 3 pairs with 1 (cross-restart), 4 with both
        (3, base + " mike"),
        (4, "november " + base),
    ]
    schema = "doc_id long, text string"
    all_docs = spark.createDataFrame(docs, schema)
    expected = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in minhash_lsh_pairs(all_docs, threshold=0.5, shingle_n=3).collect()
    }
    # the scenario must actually exercise the cross-restart case
    assert (1, 3) in {(a, b) for a, b, _ in expected}, expected

    def run(workdir: str, restart: bool) -> list:
        os.makedirs(f"{workdir}/docs", exist_ok=True)
        batches = (docs[:2], docs[2:])
        if restart:
            for batch in batches:
                spark.createDataFrame(batch, schema).coalesce(1).write.mode(
                    "append"
                ).parquet(f"{workdir}/docs")
                stream = read_stream(
                    spark, "parquet", f"{workdir}/docs",
                    schema=spark.createDataFrame([], schema).schema,
                )
                pairs = streaming_minhash_lsh_pairs(
                    stream, threshold=0.5, shingle_n=3
                )
                q = write_stream(
                    pairs, "parquet", f"{workdir}/out",
                    checkpoint=f"{workdir}/cp",
                    trigger_available_now=True, query_name="mhrst",
                )
                q.awaitTermination()
        else:
            for batch in batches:
                spark.createDataFrame(batch, schema).coalesce(1).write.mode(
                    "append"
                ).parquet(f"{workdir}/docs")
                stamp_batch_mtimes(f"{workdir}/docs")
            stream = read_stream(
                spark, "parquet", f"{workdir}/docs",
                schema=spark.createDataFrame([], schema).schema,
                maxFilesPerTrigger="1",
            )
            pairs = streaming_minhash_lsh_pairs(
                stream, threshold=0.5, shingle_n=3
            )
            q = write_stream(
                pairs, "parquet", f"{workdir}/out",
                checkpoint=f"{workdir}/cp",
                trigger_available_now=True, query_name="mhunint",
            )
            q.awaitTermination()
        return sorted(
            (r.doc_a, r.doc_b, r.jaccard)
            for r in spark.read.parquet(f"{workdir}/out").collect()
        )

    restarted = run(f"{tmp_path}/restarted", restart=True)
    uninterrupted = run(f"{tmp_path}/uninterrupted", restart=False)
    assert set(restarted) == expected
    assert restarted == uninterrupted  # multiset equality, band-for-band


def test_streaming_token_chunks_matches_batch(spark, tmp_path, sf_dir):
    """Replay equivalence for the chunking twin: 3 micro-batches of the
    documents fixture through streaming_token_chunks emit exactly the
    batch token_chunks row set (chunking is stateless per document, so
    the twin IS the batch projection on a stream — this pins that the
    plan really is stream-compatible: no batch-only repartition guard,
    no disallowed operation under append mode)."""
    from kafka_streams_one_to_many_join_spark.functions.packing import (
        token_chunks,
    )
    from kafka_streams_one_to_many_join_spark.model import load_table
    from kafka_streams_one_to_many_join_spark.streaming import (
        streaming_token_chunks,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    expected = sorted(
        tuple(r)
        for r in token_chunks(docs, budget=32, stride=24).collect()
    )
    with pytest.raises(ValueError):
        streaming_token_chunks(docs, budget=32, stride=24)

    rows = [(r.doc_id, r.text) for r in docs.collect()]
    schema = "doc_id long, text string"
    os.makedirs(f"{tmp_path}/docs", exist_ok=True)
    third = (len(rows) + 2) // 3
    for i in range(3):
        spark.createDataFrame(
            rows[i * third : (i + 1) * third], schema
        ).coalesce(1).write.mode("append").parquet(f"{tmp_path}/docs")
        stamp_batch_mtimes(f"{tmp_path}/docs")
    stream = read_stream(
        spark, "parquet", f"{tmp_path}/docs",
        schema=spark.createDataFrame([], schema).schema,
        maxFilesPerTrigger="1",
    )
    chunks = streaming_token_chunks(stream, budget=32, stride=24)
    q = write_stream(
        chunks, "memory", query_name="chunktwin", output_mode="append",
        checkpoint=f"{tmp_path}/cp_chunks",
    )
    q.processAllAvailable()
    q.stop()
    got = sorted(
        tuple(r) for r in spark.sql("select * from chunktwin").collect()
    )
    assert got == expected


def test_streaming_lsh_topk_matches_batch_and_restarts(spark, tmp_path, sf_dir):
    """Continuously-maintained ANN: replaying the embeddings corpus in
    micro-batches through streaming_lsh_topk must leave every query's
    LATEST emitted top-k equal to the batch lsh_topk rows bit-for-bit
    (same planes, probes, cosine rounding, and (sim DESC, vec_id ASC)
    tie-break) — and a kill-and-resume run (fresh query instance per
    micro-batch recovering from the shared checkpoint, append snapshots
    to a file sink) must land on the same final table: state is O(k) per
    query and the merge is order-insensitive."""
    from kafka_streams_one_to_many_join_spark.functions.similarity import (
        lsh_topk,
        seeded_planes,
    )
    from kafka_streams_one_to_many_join_spark.model import load_table
    from kafka_streams_one_to_many_join_spark.streaming import (
        streaming_lsh_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    dim = len(emb.select("embedding").first()[0])
    # a zero-norm (degenerate) corpus vector: its cosine is NULL against
    # every query, and BOTH twins must exclude it from the top-k (batch
    # lsh_topk filters NULL sims; _fold_topk skips NaN) — the shared
    # zero-norm policy, exercised end-to-end
    emb = emb.unionByName(
        spark.createDataFrame(
            [(999_999, [0.0] * dim)], "vec_id long, embedding array<float>"
        )
    )
    planes = seeded_planes(8, dim, 7)
    expected = {
        (r.query_id, r.vec_id, r.sim, r.rank)
        for r in lsh_topk(emb, queries, planes, k=10, probe_hamming=1).collect()
    }
    assert expected, "fixture must produce LSH candidates"
    assert not any(vec_id == 999_999 for _, vec_id, _, _ in expected), (
        "zero-norm vector must never hold a top-k slot"
    )
    with pytest.raises(ValueError):
        streaming_lsh_topk(emb, queries, planes)  # batch corpus rejected

    rows = [(r.vec_id, list(r.embedding)) for r in emb.collect()]
    schema = "vec_id long, embedding array<float>"

    def finalize(collected):
        latest: dict = {}
        for r in collected:
            if r.query_id not in latest or r.n_seen > latest[r.query_id][0]:
                latest[r.query_id] = (r.n_seen, [])
            if r.n_seen == latest[r.query_id][0]:
                latest[r.query_id][1].append((r.query_id, r.vec_id, r.sim, r.rank))
        return {t for _, rs in latest.values() for t in rs}

    # --- 3-batch replay, single query instance, memory sink (update) ---
    os.makedirs(f"{tmp_path}/vecs", exist_ok=True)
    third = (len(rows) + 2) // 3
    for i in range(3):
        spark.createDataFrame(
            rows[i * third : (i + 1) * third], schema
        ).coalesce(1).write.mode("append").parquet(f"{tmp_path}/vecs")
        stamp_batch_mtimes(f"{tmp_path}/vecs")
    stream = read_stream(
        spark, "parquet", f"{tmp_path}/vecs",
        schema=spark.createDataFrame([], schema).schema,
        maxFilesPerTrigger="1",
    )
    topk = streaming_lsh_topk(stream, queries, planes, k=10, probe_hamming=1)
    q = write_stream(
        topk, "memory", query_name="annstream", output_mode="update",
        checkpoint=f"{tmp_path}/cp_mem",
    )
    q.processAllAvailable()
    q.stop()
    assert finalize(spark.sql("select * from annstream").collect()) == expected

    # --- kill-and-resume: fresh instance per batch, shared checkpoint ---
    os.makedirs(f"{tmp_path}/vecs2", exist_ok=True)
    half = (len(rows) + 1) // 2
    for chunk in (rows[:half], rows[half:]):
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "append"
        ).parquet(f"{tmp_path}/vecs2")
        stream = read_stream(
            spark, "parquet", f"{tmp_path}/vecs2",
            schema=spark.createDataFrame([], schema).schema,
        )
        topk = streaming_lsh_topk(
            stream, queries, planes, k=10, probe_hamming=1,
            output_mode="append",
        )
        q = write_stream(
            topk, "parquet", path=f"{tmp_path}/out2",
            checkpoint=f"{tmp_path}/cp_rst", trigger_available_now=True,
            query_name="annrst",
        )
        q.awaitTermination()
    assert finalize(spark.read.parquet(f"{tmp_path}/out2").collect()) == expected


def test_ann_topk_state_ttl_expires(spark, tmp_path):
    """Opt-in TTL on the streaming ANN top-k state: a query whose top-k
    went unrefreshed past the horizon restarts cold (sliding-corpus
    semantics — the next candidate builds a fresh top-k instead of
    merging with the expired one); the keep-forever control on the same
    batches accumulates both candidates."""
    from kafka_streams_one_to_many_join_spark.functions.similarity import (
        seeded_planes,
    )
    from kafka_streams_one_to_many_join_spark.streaming import (
        streaming_lsh_topk,
    )

    dim = 8
    planes = seeded_planes(4, dim, 7)
    base = [1.0, -0.5, 0.25, 2.0, -1.0, 0.5, 0.75, -0.25]
    queries = spark.createDataFrame(
        [(100, base)], "query_id long, embedding array<float>"
    )
    # same direction as the query -> same LSH bucket, cosine 1.0
    b1 = [(1, base)]
    b2 = [(2, [x * 2 for x in base])]

    def run(name, ttl_ms):
        return _ttl_scenario(
            spark, tmp_path,
            lambda st, ttl: streaming_lsh_topk(
                st, queries, planes, k=10, probe_hamming=0, ttl_ms=ttl
            ),
            name, [b1, b2], ttl_ms, schema="vec_id long, embedding array<float>",
            output_mode="update", project=lambda r: r,
        )

    control = run("annkeep", None)
    assert any(r.n_seen == 2 for r in control), control  # both folded
    expired = run("annttl", _TTL_MS)
    assert all(r.n_seen == 1 for r in expired), expired  # never merged
    assert any(r.vec_id == 2 for r in expired), expired  # rebuilt cold


def test_streaming_multimodal_ingest_resizes_binary_files(spark, tmp_path):
    """The multimodal family's streaming face: raw asset FILES land in a
    watched directory (binaryFile readStream — the ingestion path the
    batch twin test_binary_file_feeds_multimodal_pipeline exercises),
    flow through the same Arrow-batched resize transform (stateless
    mapInPandas — ensure_parallelism is a documented no-op on streaming
    DFs), and emit append rows whose payloads are REAL decodable PPMs
    at the resized dimensions.  read_stream supplies binaryFile's fixed
    schema itself (streaming demands one explicitly where batch
    infers it)."""
    from kafka_streams_one_to_many_join_spark.functions.multimodal import (
        decode_ppm,
        encode_ppm,
        resize_images,
    )

    assets_dir = tmp_path / "assets"
    assets_dir.mkdir()
    (assets_dir / "a.ppm").write_bytes(encode_ppm(4, 2, bytes(range(24))))
    (assets_dir / "b.ppm").write_bytes(encode_ppm(2, 2, bytes([9] * 12)))

    raw = read_stream(
        spark, "binaryFile", str(assets_dir), pathGlobFilter="*.ppm"
    )
    assets = raw.select(
        F.xxhash64(F.element_at(F.split("path", "/"), -1)).alias("asset_id"),
        F.lit("image").alias("media_type"),
        F.col("content").alias("payload"),
    )
    resized = resize_images(assets, factor=2)
    q = (
        resized.writeStream.format("memory")
        .queryName("mm_resized")
        .option("checkpointLocation", str(tmp_path / "cp"))
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("select * from mm_resized").collect()
    assert len(rows) == 2
    by_dims = {(r.width, r.height): bytes(r.payload) for r in rows}
    # 4x2 @2 -> 2x1 keeping pixels (0,0) and (0,2); 2x2 @2 -> 1x1
    assert set(by_dims) == {(2, 1), (1, 1)}
    w, h, sr, sg, sb = decode_ppm(by_dims[(1, 1)])
    assert (w, h, sr, sg, sb) == (1, 1, 9, 9, 9)
    w, h, sr, sg, sb = decode_ppm(by_dims[(2, 1)])
    assert (w, h) == (2, 1) and (sr, sg, sb) == (0 + 6, 1 + 7, 2 + 8)
