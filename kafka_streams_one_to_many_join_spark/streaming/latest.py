"""Streaming latest-by-key: the KTable changelog view, generic form.

The reference interprets every keyed stream as a continuously-updated
table (latest value per key) and re-emits the updated value downstream on
every input record (aggregate + toStream, DemoApp.scala:86-87 — SURVEY.md
O1/O2, T1/T2).  This operator is that pattern for arbitrary payload
columns: ValueState of the current row per key; each micro-batch emits the
key's refreshed row per accepted update (a changelog stream, not a final
snapshot).

Update acceptance is by ``ord_col`` (>= current), not arrival order — the
same contract as the batch operators.latest_by_key, so batch and stream
agree under replay/out-of-order delivery.

Scale: state is one row per key, hash-partitioned across executors
(RocksDB provider via session.py); per-record work is O(1).
"""

from __future__ import annotations

from operator import itemgetter

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from kafka_streams_one_to_many_join_spark.streaming.keyed import keyed_state


def streaming_latest_by_key(
    events: DataFrame,
    key: str,
    ord_col: str,
    payload: list[str],
) -> DataFrame:
    """Changelog of the latest (by ord_col) row per key.

    Output columns: (key, ord_col, *payload) — one row per ACCEPTED update
    (stale rows with ord < current state are dropped, not emitted).
    """
    by_name = {f.name: f for f in events.schema.fields}
    cols = [ord_col, *payload]
    out_schema = StructType([by_name[key]] + [by_name[c] for c in cols])
    state_schema = StructType([by_name[c] for c in cols])

    def step(k, cur, pdfs):
        out: list[tuple] = []
        for pdf in pdfs:
            chunk = zip(*(pdf[c].tolist() for c in cols))
            # stable: rows tied on ord_col keep their arrival order
            for vals in sorted(chunk, key=itemgetter(0)):
                if cur is None or vals[0] >= cur[0]:
                    cur = vals
                    out.append((k, *cur))
        return cur, out

    return keyed_state(events, key, step, out_schema, state_schema)
