"""Streaming distinct-count sketch — the stream twin of the batch
HyperLogLog query (``__spark_entry__.q_hll_distinct``).

State per key is the m=256 HLL register array (``ArrayType(Integer)``,
native state-store round-trip — no string serialization); each
micro-batch folds the new rows' (bucket, rho) values into the registers
with ``max`` and emits the refreshed estimate.  Because the register
update is commutative and idempotent, the state after ANY micro-batch
partitioning of the input equals the batch sketch over the same rows —
``tests/test_streaming.py`` asserts the final streaming estimates match
the batch query's to rounding tolerance across a 3-batch split.

The hash/register/estimator arithmetic is the exact deterministic recipe
of the batch query (48-bit md5 prefix, 8-bit bucket, rho = leading zeros
+ 1, exact-integer register sum, linear-counting small-range
correction), so batch, stream and any other engine implementing the
recipe agree bit-for-bit on the registers.

Scale: state is 256 ints per key regardless of stream volume — the
sketch property that makes per-key cardinality tracking viable on a
100 TB/day stream.  The only shuffle is the groupBy(key) partitioning
of incoming events; with a bounded key domain, state is bounded too, so
no watermark/timeout is needed (an unbounded key domain would pass a
``ttl_ms`` to ``streaming/keyed.py``).
"""

from __future__ import annotations

import hashlib
import math

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from kafka_streams_one_to_many_join_spark.streaming.keyed import keyed_state

_M = 256
_ALPHA = 0.7213 / (1 + 1.079 / _M)

_OUTPUT = StructType(
    [
        StructField("key", StringType(), False),
        StructField("n_seen", LongType(), False),
        StructField("hll_estimate", DoubleType(), False),
    ]
)

_STATE = StructType(
    [
        StructField("registers", ArrayType(IntegerType()), True),
        StructField("n_seen", LongType(), True),
    ]
)


def hll_register(value: object) -> tuple[int, int]:
    """(bucket, rho) for one value — the portable md5 recipe shared with
    the batch SQL implementation."""
    h = int(hashlib.md5(str(value).encode()).hexdigest()[:12], 16)
    bucket, v = h % _M, h // _M
    rho = 41 - v.bit_length() if v > 0 else 41
    return bucket, rho


def hll_estimate(regs: list[int]) -> float:
    """Harmonic-mean estimate with linear-counting small-range correction
    — exact-integer register sum, so the float result is deterministic."""
    sum_int = sum(1 << (50 - r) for r in regs if r > 0)
    m_empty = sum(1 for r in regs if r == 0)
    raw = _ALPHA * _M * _M / (sum_int / float(1 << 50) + m_empty)
    if raw <= 2.5 * _M and m_empty > 0:
        return _M * math.log(_M / m_empty)
    return raw


def _hll_step(key, state, pdfs):
    regs, n = (list(state[0]), int(state[1])) if state is not None else ([0] * _M, 0)
    for pdf in pdfs:
        for v in pdf["value"]:
            if v is None or (isinstance(v, float) and pd.isna(v)):
                continue
            bucket, rho = hll_register(v)
            if rho > regs[bucket]:
                regs[bucket] = rho
            n += 1
    return (regs, n), [(key, n, hll_estimate(regs))]


def streaming_hll_distinct(
    events: DataFrame, key_col: str, value_col: str, output_mode: str = "update"
) -> DataFrame:
    """Per-key running distinct-count estimate over a stream.

    Emits one (key, n_seen, hll_estimate) row per key per micro-batch
    that touched the key (update semantics — pair with an update-mode
    sink or an idempotent upsert writer; ``output_mode="append"`` emits
    the same snapshots append-only for file sinks / checkpoint recovery,
    latest per key = max n_seen)."""
    keyed = events.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(value_col).cast("string").alias("value"),
    )
    return keyed_state(keyed, "key", _hll_step, _OUTPUT, _STATE, output_mode=output_mode)


# ---------------------------------------------------------------------------
# fixed-bin quantile sketch — the stream twin of the batch query
# ``__spark_entry__.q_quantile_sketch`` (which complements the EXACT
# ``source_percentiles`` the way ``hll_distinct`` complements
# count(distinct)).
#
# The sketch is a histogram of _Q_BINS fixed-width bins over [0, _Q_BINS *
# _Q_WIDTH); values past the top clamp into the last bin.  Merging is
# elementwise integer addition — commutative and associative, so the state
# after ANY micro-batch partitioning equals the one-shot histogram, and the
# quantile read-off (first bin whose cumulative count reaches ceil(q*n),
# linear interpolation inside it) is a pure function of the histogram.
# Every step is exact integer arithmetic until one final double divide, so
# batch Spark, streaming Python, and the DuckDB oracle agree bit-for-bit.
#
# Scale: state is _Q_BINS ints per key regardless of stream volume; the
# batch twin's shuffle is O(keys x bins), the sketch property.
# ---------------------------------------------------------------------------

_Q_BINS = 64
_Q_WIDTH = 16

_Q_OUTPUT = StructType(
    [
        StructField("key", StringType(), False),
        StructField("n_seen", LongType(), False),
        StructField("p25_sketch", DoubleType(), True),
        StructField("p50_sketch", DoubleType(), True),
        StructField("p90_sketch", DoubleType(), True),
    ]
)

_Q_STATE = StructType(
    [
        StructField("counts", ArrayType(LongType()), True),
        StructField("n_seen", LongType(), True),
    ]
)


def quantile_bin(value: float) -> int:
    """Bin index for one value — the portable recipe shared with the batch
    Spark expression (``v DIV width`` clamped) and the oracle SQL."""
    return min(int(value) // _Q_WIDTH, _Q_BINS - 1)


def quantile_estimate(counts: list[int], q: float) -> float | None:
    """Histogram quantile read-off: first bin whose cumulative count
    reaches ceil(q*n), linearly interpolated within the bin.  ceil(q*n)
    is the same IEEE double product both engines compute — determinism
    relies on doing it identically, not on q*n being exact."""
    n = sum(counts)
    if n == 0:
        return None
    target = math.ceil(q * n)
    cum = 0
    for b, c in enumerate(counts):
        if c and cum < target <= cum + c:
            return b * float(_Q_WIDTH) + _Q_WIDTH * (target - cum) / float(c)
        cum += c
    return float(_Q_BINS * _Q_WIDTH)


def _quantile_step(key, state, pdfs):
    counts, n = (
        (list(state[0]), int(state[1])) if state is not None else ([0] * _Q_BINS, 0)
    )
    for pdf in pdfs:
        for v in pdf["value"]:
            if v is None or (isinstance(v, float) and pd.isna(v)):
                continue
            counts[quantile_bin(v)] += 1
            n += 1
    return (counts, n), [
        (key, n, *(quantile_estimate(counts, q) for q in (0.25, 0.5, 0.9)))
    ]


def streaming_quantile_sketch(
    events: DataFrame, key_col: str, value_col: str, output_mode: str = "update"
) -> DataFrame:
    """Per-key running quantile estimates over a stream (update semantics,
    one refreshed row per touched key per micro-batch;
    ``output_mode="append"`` for file sinks / checkpoint recovery)."""
    keyed = events.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(value_col).cast("double").alias("value"),
    )
    return keyed_state(
        keyed, "key", _quantile_step, _Q_OUTPUT, _Q_STATE, output_mode=output_mode
    )


# ---------------------------------------------------------------------------
# count-min sketch — the stream twin of the batch query
# ``__spark_entry__.q_cms_token_counts``.
#
# _CMS_D md5-addressed counter rows of _CMS_W buckets; update = +1 in one
# bucket per row, merge = elementwise integer addition (commutative and
# associative, like the quantile histogram), estimate(tok) = min over rows
# of the tok's counter — an upper bound on the true count that two engines
# compute identically because the hash recipe is pinned (md5 of "j:token",
# first 8 hex digits, mod _CMS_W: the same addressing deterministic_sample
# and the HLL sketch use).
#
# Scale: state is _CMS_D x _CMS_W longs per key regardless of stream
# volume; the batch twin's shuffle is the sketch size, not the token count.
# ---------------------------------------------------------------------------

_CMS_D = 4
_CMS_W = 256


def cms_bucket(j: int, token: str) -> int:
    """Counter index for hash row ``j`` — the portable recipe shared with
    the batch Spark expression and the DuckDB oracle."""
    h = int(hashlib.md5(f"{j}:{token}".encode()).hexdigest()[:8], 16)
    return h % _CMS_W


def cms_update(counters: list[int], token: str) -> None:
    for j in range(_CMS_D):
        counters[j * _CMS_W + cms_bucket(j, token)] += 1


def cms_estimate(counters: list[int], token: str) -> int:
    """Point-query upper bound: min over the d addressed counters."""
    return min(
        counters[j * _CMS_W + cms_bucket(j, token)] for j in range(_CMS_D)
    )


_CMS_OUTPUT = StructType(
    [
        StructField("key", StringType(), False),
        StructField("probe", StringType(), False),
        StructField("n_seen", LongType(), False),
        StructField("cms_est", LongType(), False),
    ]
)

_CMS_STATE = StructType(
    [
        StructField("counters", ArrayType(LongType()), True),
        StructField("n_seen", LongType(), True),
    ]
)


def streaming_cms_counts(
    events: DataFrame,
    key_col: str,
    token_col: str,
    probes: list[str],
    output_mode: str = "update",
) -> DataFrame:
    """Per-key running count-min estimates for a fixed probe-token list
    (update semantics: one row per probe per touched key per batch)."""

    def step(key, state, pdfs):
        counters, n = (
            (list(state[0]), int(state[1]))
            if state is not None
            else ([0] * (_CMS_D * _CMS_W), 0)
        )
        for pdf in pdfs:
            for tok in pdf["token"]:
                if tok is None:
                    continue
                cms_update(counters, str(tok))
                n += 1
        return (counters, n), [
            (key, probe, n, cms_estimate(counters, probe)) for probe in probes
        ]

    keyed = events.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(token_col).cast("string").alias("token"),
    )
    return keyed_state(
        keyed, "key", step, _CMS_OUTPUT, _CMS_STATE, output_mode=output_mode
    )


# ---------------------------------------------------------------------------
# Bloom filter twin (batch recipe: functions/bloom.py — m bits as 32-bit
# words, k md5-prefix hashes).  bit_or is commutative and idempotent, so
# the state after ANY micro-batch partitioning of the input equals the
# batch filter over the same rows — the equivalence test replays 3
# batches and compares word-for-word.
# ---------------------------------------------------------------------------

_BLOOM_OUTPUT = StructType(
    [
        StructField("key", StringType(), False),
        StructField("n_seen", LongType(), False),
        StructField("bits_set", LongType(), False),
        StructField("words", ArrayType(LongType()), False),
    ]
)

_BLOOM_STATE = StructType(
    [
        StructField("words", ArrayType(LongType()), True),
        StructField("n_seen", LongType(), True),
    ]
)


def bloom_word_mask(i: int, value: str, m: int) -> tuple[int, int]:
    """(word index, mask) of hash i — nibble-identical to the Spark SQL
    ``conv(substring(md5(concat(i, ':', x)), 1, 8), 16, 10) % m`` layout
    in functions/bloom.py."""
    h = int(hashlib.md5(f"{i}:{value}".encode()).hexdigest()[:8], 16) % m
    return h // 32, 1 << (h % 32)


def streaming_bloom_filter(
    events: DataFrame,
    key_col: str,
    value_col: str,
    m: int = 1024,
    k: int = 4,
    output_mode: str = "update",
) -> DataFrame:
    """Per-key running Bloom filter (one refreshed row per touched key
    per batch).  State is m/32 longs per key regardless of stream volume
    — the streaming side of a continuously-maintained join-pruning
    filter.  ``output_mode="append"`` emits the same per-batch snapshots
    append-only (each is new information — the latest per key is the one
    with the max n_seen), which is what a file sink requires; that is
    also the mode the kill-and-resume test drives, since the memory sink
    cannot recover from a checkpoint."""

    n_words = m // 32

    def step(key, state, pdfs):
        words, n = (
            (list(state[0]), int(state[1])) if state is not None else ([0] * n_words, 0)
        )
        for pdf in pdfs:
            for v in pdf["value"]:
                if v is None:
                    continue
                for i in range(k):
                    w, mask = bloom_word_mask(i, str(v), m)
                    words[w] |= mask
                n += 1
        return (words, n), [(key, n, sum(bin(w).count("1") for w in words), words)]

    keyed = events.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(value_col).cast("string").alias("value"),
    )
    return keyed_state(
        keyed, "key", step, _BLOOM_OUTPUT, _BLOOM_STATE, output_mode=output_mode
    )
