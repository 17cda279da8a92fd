"""Plain-Python oracles, computed before any timing.

``replay`` is the reference topology event by event (DemoApp.scala:210-230
for car arrive/leave, :279-290 for the zone upsert and fan-out), including
the same-zone re-arrival quirk (FIXTURES.md edge case 4): the arrive put is
followed by the leave delete of the same (zone, car) key, so the car drops
out of the zone until it moves again.

Batch passes write to the ``noop`` sink, so they are checked through an
order-independent fingerprint of the output multiset that Spark computes
with ``DataFrame.observe`` and Python computes here with the same integer
arithmetic.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import Column
from pyspark.sql import functions as F

Row = tuple[int, int, float, float]  # (car_id, zone_id, fuel, pollution)

_MOD = 2_147_483_647
_MULTS = ((1_000_003, 1_000_033, 1_000_037), (998_244_353, 1_000_099, 1_000_117))


def replay(steps) -> list[Counter]:
    """Joined rows the reference emits for each step, as a multiset.
    Within a step, car and zone events are applied in seq order."""
    last_zone: dict[int, int] = {}
    pollution: dict[int, float] = {}
    residents: dict[int, dict[int, float]] = {}
    out = []
    for step in steps:
        emitted: Counter = Counter()
        events = sorted([(e[0], e) for e in step.cars] + [(e[0], e) for e in step.zones])
        for _seq, e in events:
            if len(e) == 4:
                _s, car, zone, fuel = e
                residents.setdefault(zone, {})[car] = fuel
                if zone in pollution:
                    emitted[(car, zone, fuel, pollution[zone])] += 1
                prev = last_zone.get(car)
                if prev is not None:
                    # leave the previous zone, even when it is the same one
                    residents[prev].pop(car, None)
                last_zone[car] = zone
            else:
                _s, zone, level = e
                pollution[zone] = level
                for car, fuel in residents.get(zone, {}).items():
                    emitted[(car, zone, fuel, level)] += 1
        out.append(emitted)
    return out


def snapshot(step) -> Counter:
    """Latest car position inner-joined to the latest zone value."""
    cars = {car: (zone, fuel) for _s, car, zone, fuel in sorted(step.cars)}
    zones = {zone: level for _s, zone, level in sorted(step.zones)}
    return Counter(
        (car, zone, fuel, zones[zone]) for car, (zone, fuel) in cars.items() if zone in zones
    )


def _hundredths(x: float) -> int:
    return round(x * 100)


def _mix(values: tuple[int, ...], mults: tuple[int, ...]) -> int:
    h = values[0] % _MOD
    for v, m in zip(values[1:], mults):
        h = (h * m + v) % _MOD
    return h


def row_key(row: Row) -> tuple[int, int, int, int]:
    car, zone, fuel, level = row
    return (car, zone, _hundredths(fuel), _hundredths(level))


def fingerprint(rows: Counter, key=row_key) -> tuple[int, ...]:
    """(row count, two independent sums of per-row hashes) of a multiset;
    ``key`` maps a row to the integers the hash mixes."""
    n, h1, h2 = 0, 0, 0
    for row, k in rows.items():
        values = key(row)
        n += k
        h1 += k * _mix(values, _MULTS[0])
        h2 += k * _mix(values, _MULTS[1])
    return (n, h1, h2)


def _spark_mix(cols: list[Column], mults: tuple[int, ...]) -> Column:
    h = F.pmod(cols[0].cast("long"), F.lit(_MOD))
    for c, m in zip(cols[1:], mults):
        h = F.pmod(h * F.lit(m) + c.cast("long"), F.lit(_MOD))
    return h


def fingerprint_columns(cols: list[Column]) -> list[Column]:
    """Spark aggregates matching ``fingerprint`` over integer-valued
    columns; use ``joined_key_columns`` for joined rows."""
    return [
        F.count(F.lit(1)).alias("n"),
        F.sum(_spark_mix(cols, _MULTS[0])).alias("h1"),
        F.sum(_spark_mix(cols, _MULTS[1])).alias("h2"),
    ]


def joined_key_columns() -> list[Column]:
    return [
        F.col("car_id"),
        F.col("zone_id"),
        F.round(F.col("fuel_level") * 100).cast("long"),
        F.round(F.col("pollution_level") * 100).cast("long"),
    ]


def observed(row) -> tuple[int, ...]:
    """An observation's metrics as a fingerprint (empty sums read as 0)."""
    return (int(row["n"]), int(row["h1"] or 0), int(row["h2"] or 0))


def shingles(text: str, n: int = 3) -> frozenset[str]:
    """Word n-gram shingles of lowercase space-separated text (the ascii
    token class of ``functions.dedup`` on such text is a plain split)."""
    toks = text.split()
    return frozenset(" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    return len(a & b) / len(a | b)


def check_pairs(
    pairs: list[tuple[int, int]],
    docs: list[tuple[int, str]],
    planted: list[tuple[int, int]],
    threshold: float,
    must_find: float,
) -> list[str]:
    """Problems with a near-duplicate pair set: a pair below ``threshold``
    by exact Jaccard, a self or repeated pair, or a planted pair of
    Jaccard >= ``must_find`` that is missing."""
    sh = {doc_id: shingles(text) for doc_id, text in docs}
    problems = []
    if len(set(pairs)) != len(pairs):
        problems.append("repeated pair")
    for a, b in pairs:
        if a >= b:
            problems.append(f"pair ({a}, {b}) is a self pair or out of order")
        elif jaccard(sh[a], sh[b]) < threshold:
            problems.append(f"pair ({a}, {b}) below threshold")
    found = set(pairs)
    for a, b in planted:
        if jaccard(sh[a], sh[b]) >= must_find and (min(a, b), max(a, b)) not in found:
            problems.append(f"planted pair ({a}, {b}) missing")
    return problems
