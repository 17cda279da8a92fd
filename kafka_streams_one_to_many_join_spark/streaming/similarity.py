"""Streaming ANN — the stream twin of functions.similarity.lsh_topk.

A continuously-maintained nearest-neighbor table: corpus vectors arrive
as a stream, a FIXED query set holds its running top-k per query, and
every micro-batch that lands candidates for a query re-emits that
query's refreshed top-k — the reference's continuously-maintained-join
idea (DemoApp.scala:50-60) applied to similarity search (the vector is
the N-side event, the query set is the 1-side "table").

Topology (one stateful operator, like every twin in this package):

1. The query side is static and small by definition — its multi-probe
   bucket rows (query_id, probe bucket, vector, norm) become a STATIC
   DataFrame; Spark's built-in stream-static inner join (stateless)
   matches each arriving corpus vector's single LSH bucket against the
   probe rows, broadcast, nothing corpus-sized shuffles.
2. Cosine re-rank of the matched candidates is the same codegen
   expression as the batch operator (cosine_from_norms, rounded 6) —
   bit-identical similarity values by construction.
3. The one keyed-state operator (streaming/keyed.py, keyed by
   query_id) folds candidates into the running top-k: state is the
   (vec_id, sim) arrays of at most k entries plus a monotone n_seen
   candidate counter; each invocation merges (dedup by vec_id — a
   (query, vector) pair can match at most one probe, so this is a
   replay guard, not a semantic dedup), sorts by (sim DESC, vec_id
   ASC) — the batch operator's exact tie-break — truncates to k, and
   emits the refreshed rows.

Equivalence contract (tests/test_streaming.py): after replaying the
corpus in micro-batches, the latest emission per query equals the batch
``lsh_topk`` rows bit-for-bit (same planes, same probe set, same
rounding, same tie-break), including across a kill-and-resume restart —
state is O(k) per query, trivially recoverable.

Scale: state is k entries × |queries| — independent of corpus size; the
per-batch work is the batch operator's candidate generation restricted
to the new vectors (O(new·probes/2^planes · |queries|) expected), so an
unbounded corpus stream never re-scans history.  The emitted stream is
an update changelog; pair it with an idempotent upsert sink keyed on
(query_id, rank) for an always-current ANN serving table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_streams_one_to_many_join_spark.functions.similarity import (
    cosine_from_norms,
    hyperplane_lsh_bucket,
    norm_expr,
    probe_masks,
)
from kafka_streams_one_to_many_join_spark.streaming.keyed import keyed_state


def _lsh_candidates(
    corpus_stream: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
    id_col: str,
    vec_col: str,
    query_id_col: str,
    probe_hamming: int,
) -> DataFrame:
    """The stateless front half of ``streaming_lsh_topk``: multi-probe
    bucket rows from the static query side, stream-static bucket join,
    exact cosine re-rank — identical expressions to the batch operator."""
    if not corpus_stream.isStreaming:
        raise ValueError(
            "streaming_lsh_topk expects a streaming corpus; use "
            "functions.similarity.lsh_topk for batch inputs"
        )
    mask_list = ", ".join(
        str(m) for m in probe_masks(len(planes), probe_hamming)
    )
    probe_rows = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("_qvec"),
        F.expr(norm_expr(vec_col)).alias("_qn"),
        hyperplane_lsh_bucket(vec_col, planes).alias("_b0"),
    ).select(
        query_id_col,
        "_qvec",
        "_qn",
        F.explode(
            F.expr(f"transform(array({mask_list}), m -> _b0 ^ m)")
        ).alias("_bucket"),
    )
    tagged = corpus_stream.select(
        F.col(id_col),
        F.col(vec_col),
        F.expr(norm_expr(vec_col)).alias("_n"),
        hyperplane_lsh_bucket(vec_col, planes).alias("_bucket"),
    )
    return (
        tagged.join(F.broadcast(probe_rows), on="_bucket")  # stream-static
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            F.col(id_col).alias("vec_id"),
            F.round(
                cosine_from_norms("_qvec", vec_col, "_qn", "_n"), 6
            ).alias("sim"),
        )
    )


def _fold_topk(top: dict, pdfs, k: int):
    """Fold candidate frames into the (vec_id → sim) running top dict.
    Returns (new candidate count, ranked [(vec_id, sim)] capped at k) —
    the pure merge, kept apart from the state plumbing so it can be
    property-tested alone."""
    new = 0
    for pdf in pdfs:
        for v, s in zip(pdf["vec_id"], pdf["sim"]):
            v = int(v)
            s = float(s) if s is not None else float("nan")
            if s != s:
                # zero-norm (degenerate) vectors cosine to NULL/NaN;
                # NaN breaks Python's sort ordering, so they are
                # excluded from the running top-k — same policy as
                # dropping them upstream
                continue
            if v not in top:  # pairs are probe-unique (one bucket each)
                new += 1
                top[v] = s
    ranked = sorted(top.items(), key=lambda vs: (-vs[1], vs[0]))[:k]
    return new, ranked


def streaming_lsh_topk(
    corpus_stream: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    probe_hamming: int = 1,
    output_mode: str = "update",
    ttl_ms: int | None = None,
) -> DataFrame:
    """Running approximate top-k per query over a corpus-vector stream.

    ``corpus_stream``: streaming DataFrame with (id_col, vec_col).
    ``queries``: BATCH DataFrame with (query_id_col, vec_col) — the
    fixed query set (the static side of the stream-static join).

    Output (update semantics): (query_id, vec_id, sim, rank, n_seen) —
    the full refreshed top-k of every query touched by the batch;
    ``n_seen`` is a monotone per-query emission ordinal (it only grows),
    so a sink can keep the newest emission per query without batch ids.
    It is NOT an exact distinct-candidate count across replays: state
    truncates to k, so a candidate evicted from the top-k re-counts as
    new if it re-arrives (e.g. replay after a restart) — only the
    ordering guarantee, newest emission == max n_seen, is contractual.
    ``output_mode="append"`` emits the same snapshot rows append-only
    (file-sink- and restart-test-compatible; latest row per query = max
    n_seen, exactly the sketch twins' contract).

    ``ttl_ms`` opts into processing-time state expiry exactly like the
    other keyed-state twins (join, MinHash buckets, segment dedup): a
    query whose top-k went unrefreshed past the horizon restarts cold —
    sliding-corpus ANN.  Default None keeps keep-forever semantics,
    matching the batch operator.
    """
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    candidates = _lsh_candidates(
        corpus_stream, queries, planes, id_col, vec_col, query_id_col,
        probe_hamming,
    )

    output_schema = StructType(
        [
            StructField("query_id", LongType(), False),
            StructField("vec_id", LongType(), False),
            StructField("sim", DoubleType(), False),
            StructField("rank", LongType(), False),
            StructField("n_seen", LongType(), False),
        ]
    )
    state_schema = StructType(
        [
            StructField("vec_ids", ArrayType(LongType()), True),
            StructField("sims", ArrayType(DoubleType()), True),
            StructField("n_seen", LongType(), True),
        ]
    )

    def step(query_id, state, pdfs):
        if state is not None:
            ids, sims, n_seen = state
            top = {int(v): float(s) for v, s in zip(ids, sims)}
            n_seen = int(n_seen)
        else:
            top, n_seen = {}, 0
        new, ranked = _fold_topk(top, pdfs, k)
        if not new:
            return None, []
        n_seen += new
        return (
            ([v for v, _ in ranked], [s for _, s in ranked], n_seen),
            [(query_id, v, s, r + 1, n_seen) for r, (v, s) in enumerate(ranked)],
        )

    return keyed_state(
        candidates, query_id_col, step, output_schema, state_schema,
        ttl_ms=ttl_ms, output_mode=output_mode,
    )
