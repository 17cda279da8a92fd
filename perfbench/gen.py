"""Seeded input generators for every workload.

One ``random.Random(seed)`` per workload, one process, everything built in
memory before any timing starts.  The program under test only ever sees the
files these generators produce.

Values are whole hundredths (fuel 0..50, pollution 0..200) so the oracle's
row fingerprints can use exact integer arithmetic on both sides.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

CAR_SCHEMA = pa.schema(
    [
        ("seq", pa.int64()),
        ("car_id", pa.int32()),
        ("to_zone_id", pa.int32()),
        ("fuel_level", pa.float64()),
    ]
)
ZONE_SCHEMA = pa.schema(
    [("seq", pa.int64()), ("zone_id", pa.int32()), ("pollution_level", pa.float64())]
)
DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])


@dataclass
class Step:
    """One closed-loop step: car events, then zone events with higher seqs."""

    cars: list[tuple[int, int, int, float]]  # (seq, car_id, to_zone_id, fuel)
    zones: list[tuple[int, int, float]]  # (seq, zone_id, pollution)
    car_parquet: bytes = b""
    zone_parquet: bytes = b""

    @property
    def events(self) -> int:
        return len(self.cars) + len(self.zones)


def _parquet_bytes(rows: list[tuple], schema: pa.Schema) -> bytes:
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema
    )
    sink = pa.BufferOutputStream()
    pq.write_table(table, sink)
    return sink.getvalue().to_pybytes()


def _fuel(rng: random.Random) -> float:
    return rng.randrange(5001) / 100


def _pollution(rng: random.Random) -> float:
    return rng.randrange(20001) / 100


def stream_steps(
    seed: int, n_steps: int, cars: int, zones: int, zone_events: int
) -> list[Step]:
    """Closed-loop steps for the two-stage stream topology.

    Every step carries one event for each car (in shuffled order, each to a
    uniformly drawn zone among ``zones``), then ``zone_events`` zone
    updates.  Step 0 additionally publishes one event for every zone, so
    from then on each car arrival probes a known zone and output is about
    one row per car event.  All seqs of a step's zone events lie above its
    car seqs, and the zone file is published only after the car file has
    passed both stages, so per-key order in stage 2 equals the replay's.
    """
    rng = random.Random(seed)
    seq = 0
    steps = []
    for i in range(n_steps):
        ids = list(range(cars))
        rng.shuffle(ids)
        car_rows = []
        for car_id in ids:
            car_rows.append((seq, car_id, rng.randrange(zones), _fuel(rng)))
            seq += 1
        zone_ids = list(range(zones)) if i == 0 else []
        zone_ids += [rng.randrange(zones) for _ in range(zone_events)]
        zone_rows = []
        for zone_id in zone_ids:
            zone_rows.append((seq, zone_id, _pollution(rng)))
            seq += 1
        steps.append(
            Step(
                car_rows,
                zone_rows,
                _parquet_bytes(car_rows, CAR_SCHEMA),
                _parquet_bytes(zone_rows, ZONE_SCHEMA),
            )
        )
    return steps


def changelog(
    seed: int, events: int, cars: int, zones: int, zone_share: float
) -> Step:
    """One interleaved car/zone changelog (as a single ``Step``) for the
    batch trace: ``zone_share`` of the events are zone updates, the rest
    car moves; seqs are the global arrival order."""
    rng = random.Random(seed)
    car_rows, zone_rows = [], []
    for seq in range(events):
        if rng.random() < zone_share:
            zone_rows.append((seq, rng.randrange(zones), _pollution(rng)))
        else:
            car_rows.append((seq, rng.randrange(cars), rng.randrange(zones), _fuel(rng)))
    return Step(car_rows, zone_rows)


def write_changelog(step: Step, car_path: str, zone_path: str) -> None:
    """The batch trace reads ``zone_id`` on the car side (the changelog
    schema of ``one_to_many_join_trace``)."""
    car_schema = CAR_SCHEMA.set(2, pa.field("zone_id", pa.int32()))
    with open(car_path, "wb") as f:
        f.write(_parquet_bytes(step.cars, car_schema))
    with open(zone_path, "wb") as f:
        f.write(_parquet_bytes(step.zones, ZONE_SCHEMA))


@dataclass
class Corpus:
    docs: list[tuple[int, str]]
    planted: list[tuple[int, int]]  # (original doc_id, near-duplicate doc_id)


def corpus(
    seed: int, docs: int, words: int, vocab: int, dup_share: float, max_edits: int
) -> Corpus:
    """Random documents of ``words`` lowercase tokens, of which
    ``dup_share`` are planted near-duplicates: a copy of an earlier
    document with 0..``max_edits`` single-word substitutions."""
    rng = random.Random(seed)
    vocabulary = [f"w{i}" for i in range(vocab)]
    texts: list[list[str]] = []
    planted = []
    for doc_id in range(docs):
        if texts and rng.random() < dup_share:
            src = rng.randrange(len(texts))
            toks = list(texts[src])
            for pos in rng.sample(range(words), rng.randint(0, max_edits)):
                toks[pos] = rng.choice(vocabulary)
            planted.append((src, doc_id))
        else:
            toks = [rng.choice(vocabulary) for _ in range(words)]
        texts.append(toks)
    return Corpus([(i, " ".join(t)) for i, t in enumerate(texts)], planted)


def write_corpus(c: Corpus, path: str) -> None:
    with open(path, "wb") as f:
        f.write(_parquet_bytes(c.docs, DOC_SCHEMA))
