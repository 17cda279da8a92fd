"""Similarity search over embedding columns (ARRAY<FLOAT>).

Two tiers:

- **brute_force_topk** — exact cosine top-k, query side broadcast, corpus
  side scanned once.  Cosine is a Catalyst higher-order expression
  (zip_with + aggregate) computed in DOUBLE, left-to-right over the array —
  bit-reproducible against the oracle's ordered-sum formulation.  This is
  the baseline: one corpus scan per query batch, no shuffle of the corpus.
- **brute_force_topk_pandas** — same semantics through a vectorized Arrow
  batch: numpy matmul per partition.  ~10-50× faster per row at high
  dimensions; the production hot path when queries × corpus is large.
- **lsh_topk** — approximate path for 100 TB: random-hyperplane LSH buckets
  (deterministic seeded planes), candidates only within matching buckets,
  exact re-rank of candidates.  Corpus work drops from O(N·Q) to
  O(N + candidates).

Top-k selection never global-sorts: per-query rank via max-heap-like window
over the (small, query-partitioned) candidate set.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot_expr(a: str, b: str) -> str:
    """SQL text: ordered left-to-right dot product of two arrays, double."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)), "
        "cast(0.0 as double), (s, v) -> s + v)"
    )


def norm_expr(a: str) -> str:
    """SQL text: L2 norm of an array column, ordered sum in double."""
    return (
        f"sqrt(aggregate({a}, cast(0.0 as double), "
        "(s, v) -> s + cast(v as double) * cast(v as double)))"
    )


def cosine_expr(a: str, b: str) -> Column:
    """Cosine similarity of two ARRAY<FLOAT/DOUBLE> columns, in double.

    Ordered left-to-right sums — matches an ORDER BY ordinality oracle sum
    exactly in IEEE double.
    """
    return F.expr(
        f"({dot_expr(a, b)}) / nullif(({norm_expr(a)}) * ({norm_expr(b)}), 0.0)"
    )


def cosine_from_norms(a: str, b: str, na: str, nb: str) -> Column:
    """Cosine with pre-computed norms: same IEEE value as cosine_expr
    (norms are computed once per row instead of once per PAIR — the
    difference between O(N²·d) and O(N·d) norm work in pair joins)."""
    return F.expr(f"({dot_expr(a, b)}) / nullif({na} * {nb}, 0.0)")


def _rank_topk(
    scored: DataFrame, k: int, by: list[str], id_col: str = "vec_id"
) -> DataFrame:
    """The ANN family's one top-k rule: per ``by`` group, ``rank`` =
    row_number over (sim DESC, id ASC), keep ``rank <= k``.  The sim is
    already rounded to 6 decimals, which makes the boundary deterministic
    across engines; the id makes ties stable.  A caller scoring several
    faces unions them with a tag column and ranks once by
    ``[tag, query_id]`` — one sort exchange instead of one per face, and
    per-face ranking is unchanged because the window keys nest."""
    w = Window.partitionBy(*by).orderBy(F.col("sim").desc(), F.col(id_col).asc())
    return scored.withColumn("rank", F.row_number().over(w).cast("bigint")).filter(
        F.col("rank") <= k
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k neighbors per query: (query_id, vec_id, sim rounded 6).

    Queries are broadcast (the small side by definition); the corpus is
    scanned once — the join is a broadcast nested loop producing Q·N cosine
    evaluations with no shuffle of the corpus.  Ranking: ``_rank_topk``
    per query.  Self-matches (same id) are excluded.
    """
    from kafka_streams_one_to_many_join_spark.model import ensure_parallelism

    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("_qvec"),
        F.expr(norm_expr(vec_col)).alias("_qn"),
    )
    scored = (
        ensure_parallelism(corpus)
        .select(
            F.col(id_col), F.col(vec_col), F.expr(norm_expr(vec_col)).alias("_n")
        )
        .join(F.broadcast(q), on=F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            id_col,
            F.round(cosine_from_norms("_qvec", vec_col, "_qn", "_n"), 6).alias("sim"),
        )
    )
    return _rank_topk(scored, k, [query_id_col], id_col)


def brute_force_topk_pandas(
    corpus: DataFrame,
    queries_pdf,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Vectorized exact top-k: numpy matmul per Arrow batch.

    ``queries_pdf``: pandas DataFrame with columns (query_id, embedding) —
    small, shipped in the closure (broadcast by Spark's task serializer).
    Emits per-partition partial top-k then re-ranks globally per query:
    the reduce step sees ≤ partitions·k rows per query, not N.

    NULL embeddings are dropped up front on both sides: ``np.stack``
    cannot batch a missing vector, and a NULL row can never hold a
    top-k slot on any corpus with ≥ k real candidates (its cosine is
    NULL, ranked after every real similarity in both engines).  No
    query left means no row, as in ``brute_force_topk``.
    """
    import numpy as np
    import pandas as pd

    queries_pdf = queries_pdf[queries_pdf["embedding"].notna()]
    if queries_pdf.empty:
        return corpus.sparkSession.createDataFrame(
            [], f"query_id bigint, {id_col} bigint, sim double, rank bigint"
        )
    qids = queries_pdf["query_id"].to_numpy()
    qmat = np.stack(queries_pdf["embedding"].to_numpy()).astype("float64")
    qnorm = np.linalg.norm(qmat, axis=1)

    def part(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy()
            mat = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            sims = (qmat @ mat.T) / np.outer(qnorm, np.linalg.norm(mat, axis=1))
            # mask self BEFORE the partial top-k: otherwise the self match
            # occupies a slot and the partition's k-th real neighbor is
            # silently dropped.  Fully vectorized across queries — one
            # argpartition over the whole (Q, N_batch) matrix and ONE
            # output frame per Arrow batch (no per-query Python loop).
            kk = min(k, sims.shape[1])
            masked = np.where(qids[:, None] == ids[None, :], -np.inf, sims)
            idx = np.argpartition(-masked, kk - 1, axis=1)[:, :kk]
            rows = np.repeat(np.arange(len(qids)), kk)
            cols = idx.ravel()
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(qids, kk),
                    id_col: ids[cols],
                    "sim": np.round(sims[rows, cols], 6),
                }
            )

    from kafka_streams_one_to_many_join_spark.model import ensure_parallelism

    partials = ensure_parallelism(
        corpus.select(id_col, vec_col).filter(F.col(vec_col).isNotNull())
    ).mapInPandas(
        part, schema=f"query_id bigint, {id_col} bigint, sim double"
    )
    return _rank_topk(
        partials.filter(F.col(id_col) != F.col("query_id")), k, ["query_id"], id_col
    )


def probe_masks(n_planes: int, probe_hamming: int) -> list[int]:
    """XOR masks for multi-probe: every bit pattern of Hamming weight
    <= probe_hamming over ``n_planes`` bits, weight-ascending (0 first —
    the query's own bucket).  Bucket sets therefore NEST as
    probe_hamming grows, which is what makes recall monotone in the
    probe distance (test_lsh_recall_monotone_in_probe_hamming)."""
    from itertools import combinations

    masks: list[int] = []
    for w in range(probe_hamming + 1):
        for bits in combinations(range(n_planes), w):
            masks.append(sum(1 << b for b in bits))
    return masks


def hyperplane_lsh_bucket(vec_col: str, planes: list[list[float]]) -> Column:
    """Random-hyperplane LSH bucket id: bit b = sign(<vec, plane_b>)."""
    bits = []
    for b, plane in enumerate(planes):
        arr = "array(" + ",".join(f"cast({x!r} as double)" for x in plane) + ")"
        dot = (
            f"aggregate(zip_with({vec_col}, {arr}, (x, y) -> cast(x as double) * y), "
            "cast(0.0 as double), (s, v) -> s + v)"
        )
        bits.append(f"if(({dot}) >= 0.0, shiftleft(cast(1 as bigint), {b}), cast(0 as bigint))")
    return F.expr(" + ".join(bits))


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    probe_hamming: int = 1,
) -> DataFrame:
    """Approximate top-k: candidates share an LSH bucket, exact re-rank.

    Multi-probe: the QUERY side (tiny by definition) additionally probes
    every bucket within Hamming distance ``probe_hamming`` of its own —
    the standard recall lever that costs nothing corpus-side (each corpus
    vector still lives in exactly ONE bucket, and each (query, corpus)
    pair can match at most one probe, so no dedup pass is needed).
    The measured recall/scanned-fraction curve (scripts/ann_tradeoff.py,
    SCALE.md round 9; 8 planes, random-gaussian twins at 2k AND 20k
    vectors — scale-stable): ph 0 → recall ~0.03 (0.5% of the corpus as
    candidates), 1 → ~0.16 (4%), 2 → ~0.42 (15%), 3 → ~0.66-0.71 (37%),
    monotone by construction (probe_masks sets nest).  A random gaussian
    corpus is LSH's worst case — true neighbors are nearly orthogonal,
    so recall tracks the scanned fraction (about 1.8x the random-scan
    diagonal).  On the round-10 mixture-of-gaussians twin the ladder
    climbs only MILDLY faster (ph=3: 0.72 vs 0.66 recall at equal scan,
    SCALE.md "Clustered-corpus ANN") — hyperplane buckets don't adapt
    to the corpus; for corpus-adaptive partitioning use the IVF path
    with a TRAINED quantizer, which is where clustering pays
    (+0.15 recall at equal scan, same table).  probe_hamming=0 recovers
    the single-probe variant.

    At scale the bucket equi-join replaces the all-pairs nested loop; the
    planes are caller-provided (seeded numpy) so results are deterministic.
    """
    from kafka_streams_one_to_many_join_spark.model import ensure_parallelism

    masks = probe_masks(len(planes), probe_hamming)
    # Degenerate vectors — zero-norm, NULL array, or any NULL/NaN
    # element — cosine to NULL/NaN on every pairing; they carry no
    # similarity signal and the streaming twin (_fold_topk) excludes
    # them from its running top-k, so drop them on BOTH sides here too.
    # Without the element guard a mixed vector (nonzero + NULL element)
    # would survive an exists-only check but yield NULL sims filling
    # trailing ranks (NULLS LAST), and a NaN element would yield NaN
    # sims that Spark ranks FIRST under sim DESC while the stream skips
    # them — both breaking the bit-for-bit twin contract.  The predicate
    # is a scan-level lambda over the raw array, NOT `sim IS NOT NULL`
    # after the projection: that post-filter would alias-substitute the
    # whole cosine aggregate into a pushed-down Filter and re-evaluate
    # it per candidate — the CodegenFallback no-CSE defect class the r08
    # IVF plan fix eliminated (test_roster_wide_plan_hygiene fences it).
    # Oracle equivalent: an element-level list_filter guard plus
    # WHERE sim IS NOT NULL before ranking (see _ann_lsh_sql).
    nonzero = (
        f"forall({vec_col}, v -> v is not null and not isnan(v))"
        f" and exists({vec_col}, v -> v != cast(0.0 as double))"
    )
    c = ensure_parallelism(corpus.filter(F.expr(nonzero))).select(
        F.col(id_col),
        F.col(vec_col),
        F.expr(norm_expr(vec_col)).alias("_n"),
        hyperplane_lsh_bucket(vec_col, planes).alias("_bucket"),
    )
    mask_list = ", ".join(str(m) for m in masks)
    q = queries.filter(F.expr(nonzero)).select(
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
    scored = (
        c.join(F.broadcast(q), on="_bucket")
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            id_col,
            F.round(cosine_from_norms("_qvec", vec_col, "_qn", "_n"), 6).alias("sim"),
        )
    )
    return _rank_topk(scored, k, [query_id_col], id_col)


def seeded_planes(n_planes: int, dim: int, seed: int = 7) -> list[list[float]]:
    """Deterministic random hyperplanes (numpy PCG64, fixed seed).

    Returned as plain floats so both the Spark expression and a SQL oracle
    can embed the identical literals — bucket assignment is then a pure
    function of the data, reproducible across engines and runs.
    """
    import numpy as np

    rng = np.random.default_rng(seed)
    return [[float(x) for x in row] for row in rng.standard_normal((n_planes, dim))]


def seeded_centroids(nlist: int, dim: int, seed: int = 23) -> list[list[float]]:
    """Deterministic unit-norm coarse-quantizer centroids (numpy PCG64),
    rounded to 6 decimals so the Spark expression and the SQL oracle embed
    byte-identical literals.

    Random centroids make this IVF-*flat with a random coarse quantizer* —
    the honest unlearned baseline.  At 100 TB the centroids come from a
    k-means pass (``train_centroids``, the iterated kmeans_step);
    everything downstream (assignment, probe, re-rank) is unchanged —
    training only moves the literals, and the round-10 measurement shows
    what the move buys: ~+0.15 absolute recall at every equal-scan point
    on a clustered corpus (nprobe-3 trained beats nprobe-4 random while
    scanning 24% less; SCALE.md "Clustered-corpus ANN").
    """
    import numpy as np

    rng = np.random.default_rng(seed)
    mat = rng.standard_normal((nlist, dim))
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    return [[float(round(x, 6)) for x in row] for row in mat]


def _cell_dots_expr(vec_col: str, centroids: list[list[float]]) -> str:
    """SQL text: array of <vec, centroid_i> dot products, ordered sums."""
    dots = []
    for c in centroids:
        arr = "array(" + ",".join(f"cast({x!r} as double)" for x in c) + ")"
        dots.append(dot_expr(vec_col, arr))
    return "array(" + ", ".join(dots) + ")"


def ivf_cell(vec_col: str, centroids: list[list[float]]) -> Column:
    """Nearest-centroid cell id (1-based).  Centroids are unit-norm, so
    argmax dot == argmax cosine; ties resolve to the lowest cell id.

    Single-reference argmax fold rather than the textbook
    ``array_position(ds, array_max(ds))``: higher-order functions are
    CodegenFallback (no common-subexpression elimination), so the
    two-reference form evaluates the whole nlist x dim dot array TWICE
    per row — the same defect class as ivf_topk's materialized ``_dots``
    fix, closed here at the source so every caller (kmeans_step, the
    tradeoff sweep) gets the one-evaluation plan without two-projection
    plumbing.  The fold preserves the exact corner semantics of the old
    form: first occurrence wins ties (strict ``>``), NULL dots are
    skipped (comparison yields NULL -> acc kept; the ``acc.i = 0`` arm
    requires a non-null d), NaN ranks greatest, and an all-NULL / NULL
    array yields NULL (``nullif`` on the 0 sentinel)."""
    n = len(centroids)
    ds = _cell_dots_expr(vec_col, centroids)
    return F.expr(
        f"nullif(aggregate(zip_with({ds}, sequence(1, {n}), "
        "(d, i) -> struct(d as d, i as i)), "
        "struct(cast(null as double) as d, 0 as i), "
        "(acc, x) -> if(x.d > acc.d or (acc.i = 0 and x.d is not null), x, acc)"
        ").i, 0)"
    ).cast("int")


def ivf_probe_cells(
    vec_col: str, centroids: list[list[float]], nprobe: int
) -> Column:
    """The ``nprobe`` nearest cell ids for a query vector, best first
    (sorted by dot DESC, cell ASC — same tiebreak as ivf_cell)."""
    n = len(centroids)
    ds = _cell_dots_expr(vec_col, centroids)
    return F.expr(
        f"slice(transform(array_sort(zip_with({ds}, sequence(1, {n}), "
        "(d, i) -> struct(-d as nd, i as cell))), s -> s.cell), "
        f"1, {nprobe})"
    )


def train_centroids(
    corpus: DataFrame,
    init: list[list[float]],
    iters: int = 5,
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Spherical k-means training for the IVF coarse quantizer: iterate
    the ``kmeans_step`` recipe (assign via ``ivf_cell`` argmax-dot,
    recompute per-cell means through the shuffle-friendly posexplode
    aggregation) and renormalize to unit norm each round, so the trained
    centroids satisfy the same contract as ``seeded_centroids`` (unit
    norm ⇒ argmax dot == argmax cosine; 6-decimal literals shared with
    any SQL twin).

    Scale shape: each round is one projection + one O(cells × dim)
    shuffle; only cells × dim doubles ever reach the driver (16×64 here
    — sketch-sized, the same bounded-scalar class as the CC convergence
    sum).  Empty cells keep their previous centroid.  Everything
    downstream of training (assignment, probe, re-rank) is unchanged —
    training only moves the literals, which the recall measurement in
    SCALE.md ("clustered-corpus ANN") shows is exactly what matters on
    clustered data.

    An IVF index stamped with ``init`` (``ann_ivf_index`` /
    ``ann_indexes``) already holds the first step's assignment in its
    ``cell`` column, so the first step reads that column instead of
    re-evaluating the nlist × dim dot argmax over the corpus.  The stamp
    decides: a ``cell`` built on any other centroids is ignored and the
    assignment recomputed, so a stale column cannot skew training.

    Degenerate-input contract (r11 ADVICE close): NULL and
    non-full-width vectors are excluded from training — an empty array
    would otherwise 0-dot-argmax into cell 1 here while a SQL oracle
    that unnests the embedding drops it entirely, and a ragged (short)
    vector would contribute means for only its leading dims.  The same
    width guard is mirrored verbatim in the differential SQL
    (`_ann_ivf_trained_sql`), so degenerate corpora are handled
    identically instead of diverging silently.

    Cross-engine rounding contract: the 6-decimal centroid literals are
    rounded HALF-AWAY-FROM-ZERO (matching DuckDB `round()` and Spark
    `F.round`), not Python's banker's rounding, so an oracle that
    re-derives the one-step training in SQL lands on the same literal
    whenever it computes the same mean.  Remaining tolerance: float
    summation ORDER inside avg() (Spark partial-agg merge vs DuckDB
    sequential scan) can differ by ~1 ulp near the 15th significant
    digit; this flips a 6th-decimal literal only when the true mean
    sits within ~1e-10 of a .5e-6 boundary — not observed on any
    hash-verified fixture, and a flip would localize to one method row
    of the ann_recall differential rather than corrupting it silently.
    """
    import numpy as np

    dim = len(init[0])
    corpus = corpus.filter(
        F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) == dim)
    )
    cents = [list(c) for c in init]
    stamped = _has_stamp(corpus, "cell", _ivf_stamp(cents))
    for it in range(iters):
        assign = F.col("cell") if (it == 0 and stamped) else ivf_cell(vec_col, cents)
        rows = (
            corpus.select(assign.alias("_cell"), vec_col)
            .select("_cell", F.posexplode(vec_col).alias("_dim", "_x"))
            .groupBy("_cell", "_dim")
            .agg(F.avg(F.col("_x").cast("double")).alias("_m"))
            .collect()
        )
        mat = np.array(cents, dtype=np.float64)
        upd = np.full_like(mat, np.nan)
        for r in rows:
            upd[r._cell - 1, r._dim] = r._m
        moved = ~np.isnan(upd).any(axis=1)
        mat[moved] = upd[moved]
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        mat = mat / norms
        # half-away-from-zero, NOT Python round() (banker's): see the
        # cross-engine rounding contract in the docstring
        cents = [[_round_half_away(x, 6) for x in row] for row in mat]
    return cents


def _round_half_away(x: float, ndigits: int) -> float:
    """Round half away from zero — the mode DuckDB's round() and Spark's
    F.round share; Python's built-in round() is half-to-even and would
    systematically diverge on exact .5 ulps."""
    import math

    m = 10.0**ndigits
    return math.copysign(math.floor(abs(x) * m + 0.5), x) / m


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    nprobe: int = 3,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF-style approximate top-k: corpus sharded into nearest-centroid
    cells, each query probes its ``nprobe`` nearest cells, candidates get
    an exact cosine re-rank.

    The cell-probe counterpart to lsh_topk: recall degrades gracefully
    with nprobe (probe all cells ⇒ exact), and corpus work per query is
    O(N·nprobe/nlist + rerank) instead of O(N).  Scale shape: the corpus
    is scanned ONCE to tag cells (a projection — never shuffled); the
    (query, cell) probe list is broadcast; candidates flow map-side into
    the per-query top-k window whose input is bounded by the probed
    cells' occupancy.
    """
    from kafka_streams_one_to_many_join_spark.model import ensure_parallelism

    # Materialize the 16-dot-product array ONCE per vector, then derive
    # the argmax cell from the materialized column: higher-order
    # functions are CodegenFallback, so the inlined
    # array_position(ds, array_max(ds)) form (ivf_cell) evaluates the
    # whole centroid-dot array TWICE per row — measured 1.45 s → 1.0 s
    # for the sf0.1 operator.  Numerically identical (same expression,
    # same values), so the oracle is untouched.
    # NULL and non-full-width embeddings are dropped up front on BOTH
    # sides (a cheap scan-level predicate).  NULLs would produce a NULL
    # cell that the <=> join below silently pairs; empty arrays would
    # 0-dot-argmax into cell 1 here while an unnest-based SQL oracle
    # drops them, and ragged vectors dot only their leading dims — all
    # three degenerate shapes diverge engine-to-engine unless excluded
    # identically (r11 ADVICE close; the same `len(embedding) = dim`
    # predicate sits on the oracle's base scan).
    dim = len(centroids[0])
    full = F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) == dim)
    corpus = corpus.filter(full)
    queries = queries.filter(full)
    ds = _cell_dots_expr(vec_col, centroids)
    c = (
        ensure_parallelism(corpus)
        .select(
            F.col(id_col),
            F.col(vec_col),
            F.expr(norm_expr(vec_col)).alias("_n"),
            F.expr(ds).alias("_dots"),
        )
        .select(
            F.col(id_col),
            F.col(vec_col),
            "_n",
            F.expr("array_position(_dots, array_max(_dots))")
            .cast("int")
            .alias("_cell"),
        )
    )
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("_qvec"),
        F.expr(norm_expr(vec_col)).alias("_qn"),
        F.explode(ivf_probe_cells(vec_col, centroids, nprobe)).alias("_qcell"),
    )
    # Null-safe equality (<=>) instead of "=": the cell id is never null,
    # but Catalyst cannot prove that and infers an isnotnull(_cell)
    # filter it pushes BELOW the projection — re-inlining the whole
    # centroid-dot array into the filter (32 more aggregate() evals per
    # row, visible in the optimized plan).  <=> is still a hash-join
    # key, carries identical semantics on non-null ids, and kills the
    # inference.  Combined with the materialized _dots: 1.45 s → 0.9 s.
    scored = (
        c.join(F.broadcast(q), on=F.col("_cell").eqNullSafe(F.col("_qcell")))
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            id_col,
            F.round(cosine_from_norms("_qvec", vec_col, "_qn", "_n"), 6).alias("sim"),
        )
    )
    return _rank_topk(scored, k, [query_id_col], id_col)


# ---------------------------------------------------------------------------
# Persisted + maintained ANN index (r16, VERDICT r15 item 1 — the third leg
# of the maintenance trilogy after the MinHash band index (r14) and the
# segment state (r15)).  lsh_topk / ivf_topk rebuild their bucket/cell
# structure INSIDE every query; a nightly embedding-ingest user re-pays the
# full corpus signing on every probe and has no upsert/delete story for
# vectors at all — the same stale-state hazard minhash_band_index_apply's
# docstring names, one family over.
# ---------------------------------------------------------------------------


def _lsh_stamp(planes: list[list[float]]) -> dict:
    """Construction-parameter stamp for an LSH bucket index: the FULL
    plane geometry rides in the state column's metadata (floats
    round-trip exactly through the schema's JSON — shortest-repr on
    both the Python and JVM side), so a months-old persisted index
    knows its own geometry and ``ann_index_apply(index, upserts=...)``
    just works with nothing re-passed (the minhash stamp precedent,
    functions/dedup.py:433, taken one step further: geometry, not just
    scalars)."""
    return {
        "method": "hyperplane_lsh",
        "dim": len(planes[0]),
        "n_planes": len(planes),
        # FLAT row-major floats: Spark's column Metadata supports arrays
        # of primitives only (array-of-array raises json4s JArray)
        "geometry_flat": [float(x) for p in planes for x in p],
    }


def _ivf_stamp(centroids: list[list[float]]) -> dict:
    """IVF twin of ``_lsh_stamp``: full centroid table in the stamp."""
    return {
        "method": "ivf",
        "dim": len(centroids[0]),
        "nlist": len(centroids),
        "geometry_flat": [float(x) for c in centroids for x in c],
    }


def _has_stamp(df: DataFrame, col: str, stamp: dict) -> bool:
    """Whether ``df``'s ``col`` carries exactly ``stamp``, compared on the
    JVM.  Reading a stamp into Python renders every geometry float to
    text there (~40 ms per 1,024 floats on JDK 17, paid by ``df.schema``
    and ``df.columns`` on a stamped frame); parsing ``stamp`` there costs
    a few ms."""
    jschema = df._jdf.schema()
    if col not in list(jschema.fieldNames()):
        return False
    meta = df.sparkSession._jvm.org.apache.spark.sql.types.Metadata
    return jschema.apply(col).metadata().equals(meta.fromJson(json.dumps(stamp)))


def _lsh_eligible(vec_col: str, dim: int) -> Column:
    """Scan-level eligibility for the LSH index: full-width, every
    element non-NULL/non-NaN, not the zero vector — the union of
    ``lsh_topk``'s degenerate-element prefilter and the family-wide
    full-width guard, baked into the INDEX so every probe against it
    inherits the policy instead of re-deciding it per query."""
    return F.expr(
        f"{vec_col} is not null and size({vec_col}) = {dim} "
        f"and forall({vec_col}, v -> v is not null and not isnan(v)) "
        f"and exists({vec_col}, v -> v != cast(0.0 as double))"
    )


def ann_lsh_index(
    corpus: DataFrame,
    planes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PERSISTABLE hyperplane-LSH index: one row per eligible vector —
    ``(vec_id, embedding, norm, bucket)`` with the full construction
    geometry stamped into ``bucket``'s column metadata.  This is the
    state ``lsh_topk`` builds in-flight on every call, exposed for the
    nightly-ingest pattern: write it once for the frozen corpus (the
    bucket id is a SCALAR, so ``sources.bucketed.write_bucketed`` on
    ``bucket`` needs no hash helper), then probe with
    ``ann_topk_indexed`` — the corpus is never re-signed — and maintain
    it under upserts/deletes with ``ann_index_apply``.  The norm is
    precomputed per vector (the O(N·d) half of every future cosine),
    so a probe pays only the candidate dot products."""
    from kafka_streams_one_to_many_join_spark.model import ensure_parallelism

    dim = len(planes[0])
    return ensure_parallelism(corpus.filter(_lsh_eligible(vec_col, dim))).select(
        F.col(id_col),
        F.col(vec_col),
        F.expr(norm_expr(vec_col)).alias("norm"),
        hyperplane_lsh_bucket(vec_col, planes).alias(
            "bucket", metadata=_lsh_stamp(planes)
        ),
    )


def ann_ivf_index(
    corpus: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF twin of ``ann_lsh_index``: ``(vec_id, embedding, norm,
    cell)`` rows, nearest-centroid cell assignment (materialized-dots
    argmax — the one-evaluation plan, see ``ivf_topk``), full centroid
    table stamped into ``cell``'s metadata.  Eligibility is the IVF
    family's: full-width vectors only (``ivf_topk``'s r11 guard)."""
    from kafka_streams_one_to_many_join_spark.model import ensure_parallelism

    dim = len(centroids[0])
    ds = _cell_dots_expr(vec_col, centroids)
    return (
        ensure_parallelism(
            corpus.filter(
                F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) == dim)
            )
        )
        .select(
            F.col(id_col),
            F.col(vec_col),
            F.expr(norm_expr(vec_col)).alias("norm"),
            F.expr(ds).alias("_dots"),
        )
        .select(
            F.col(id_col),
            F.col(vec_col),
            "norm",
            F.expr("array_position(_dots, array_max(_dots))")
            .cast("int")
            .alias("cell", metadata=_ivf_stamp(centroids)),
        )
    )


def ann_indexes(
    corpus: DataFrame,
    planes: list[list[float]],
    centroids: list[list[float]],
) -> tuple[DataFrame, DataFrame]:
    """Both frozen indexes from ONE pinned corpus pass: ``(lsh_index,
    ivf_index)``, row for row the frames ``ann_lsh_index(corpus, planes)``
    and ``ann_ivf_index(corpus, centroids)`` return, stamps included.

    Building the two separately scans the corpus and computes every norm
    twice.  Here the plane bucket and the LSH eligibility flag ride on
    ``ann_ivf_index``'s output (its projections collapse into one pass,
    the centroid dots still evaluated once), and the result is pinned
    with ``materialize``; each index is then a narrow projection of the
    pinned blocks (LSH's eligibility is a subset of full-width).
    Every later consumer — probes, the exact baseline over ``ivf_index``,
    ``train_centroids`` reading the stamped ``cell`` — reads pinned
    blocks, never the source scan."""
    from kafka_streams_one_to_many_join_spark.model import materialize

    dim = len(centroids[0])
    if len(planes[0]) != dim:
        raise ValueError(
            f"ann_indexes: planes are {len(planes[0])}-dim but centroids "
            f"are {dim}-dim"
        )
    base = materialize(
        ann_ivf_index(corpus, centroids).withColumns(
            {
                "_lsh_ok": _lsh_eligible("embedding", dim),
                "bucket": hyperplane_lsh_bucket("embedding", planes).alias(
                    "bucket", metadata=_lsh_stamp(planes)
                ),
            }
        )
    )
    return (
        base.filter("_lsh_ok").select("vec_id", "embedding", "norm", "bucket"),
        base.select("vec_id", "embedding", "norm", "cell"),
    )


def _ann_state_col(index: DataFrame, op: str) -> str:
    """The index's state column: ``bucket`` (LSH) or ``cell`` (IVF)."""
    names = list(index._jdf.columns())  # not index.columns: see _has_stamp
    if "bucket" in names:
        return "bucket"
    if "cell" in names:
        return "cell"
    raise ValueError(
        f"{op}: DataFrame is not an ANN index — expected a 'bucket' "
        f"(ann_lsh_index) or 'cell' (ann_ivf_index) column, got "
        f"{index.columns}"
    )


def _ann_resolve_geometry(
    index: DataFrame,
    planes: list[list[float]] | None,
    centroids: list[list[float]] | None,
    op: str,
) -> tuple[str, list[list[float]]]:
    """Resolve (method, geometry) for an index consumer: the stamp wins
    when present (so ``op(index, ...)`` just works on any stamped
    index); explicitly-passed geometry is VALIDATED against the stamp —
    a mismatch raises instead of silently probing/maintaining a
    months-old index under different planes/centroids (wrong, typically
    near-empty, candidate sets).  A PRE-STAMP index (no metadata)
    REFUSES to default: the matching geometry must be passed explicitly
    (the minhash pre-stamp precedent, ADVICE r14)."""
    state_col = _ann_state_col(index, op)
    given = planes if state_col == "bucket" else centroids
    wrong_kind = centroids if state_col == "bucket" else planes
    if wrong_kind is not None and given is None:
        raise ValueError(
            f"{op}: index carries a {state_col!r} column but only the "
            f"{'centroids' if state_col == 'bucket' else 'planes'} "
            "geometry was passed — pass the matching kind"
        )
    key = "planes" if state_col == "bucket" else "centroids"
    stamped = index._jdf.schema().apply(state_col).metadata().contains("method")
    if given is not None:
        # validated on the JVM (``_has_stamp``), never read back
        cand = [list(g) for g in given]
        stamp = (_lsh_stamp if state_col == "bucket" else _ivf_stamp)(cand)
        if stamped and not _has_stamp(index, state_col, stamp):
            raise ValueError(
                f"{op}: the {key} passed differ from the index's stamped "
                "construction geometry; results would be silently wrong — "
                "rebuild the index or drop the explicit argument to use "
                "the stamp"
            )
        return stamp["method"], cand
    if not stamped:
        raise ValueError(
            f"{op}: the index carries no construction stamp and no "
            f"{key} were passed explicitly; probing or maintaining a "
            "pre-stamp index under defaulted geometry silently returns "
            f"wrong candidate sets.  Pass the {key} the index was "
            "built with, or rebuild it once with "
            f"ann_{'lsh' if key == 'planes' else 'ivf'}_index to stamp it"
        )
    meta = index.schema[state_col].metadata
    flat = [float(x) for x in meta["geometry_flat"]]
    dim = int(meta["dim"])
    return meta["method"], [flat[i : i + dim] for i in range(0, len(flat), dim)]


def ann_index_apply(
    index: DataFrame,
    upserts: DataFrame | None = None,
    delete_ids: DataFrame | None = None,
    planes: list[list[float]] | None = None,
    centroids: list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maintain a persisted ANN index under a MUTABLE corpus (VERDICT
    r15 item 1 — completing the maintenance trilogy: band index r14,
    segment state r15, vectors now): retract every row of re-ingested
    (``upserts`` — corrected vectors) and deleted (``delete_ids``)
    ids, then insert the upserted vectors' freshly-assigned rows.
    Append-only evolution leaves a corrected vector in its STALE
    bucket/cell forever — probes keep returning neighbors of an
    embedding that no longer exists (the batch-index analog of the
    reference's N-side delete propagation, DemoApp.scala:224-230).

    Output: the maintained index, row-for-row equal to rebuilding on
    the corrected corpus (differentially asserted in
    tests/test_ann_maintenance.py, both directions: an upsert MOVES a
    vector to a new bucket, a delete makes a former neighbor vanish
    from every top-k).

    Scale shape: the nightly change set is orders smaller than the
    index, so retraction is a BROADCAST anti-join on ``vec_id`` — the
    index streams through exchange-free (plan-asserted: no
    SortMergeJoin, no state-sized exchange), no re-signing of any
    frozen vector, and only the upserted vectors pay the plane/centroid
    dot products.  Geometry defaults to the index's own STAMP
    (``ann_index_apply(index, upserts=...)`` just works); explicitly
    passed geometry is validated against the stamp, and a PRE-STAMP
    index refuses to default (``_ann_resolve_geometry``).

    DELETE PRECEDENCE (the band/segment contract): an id in BOTH
    ``upserts`` and ``delete_ids`` ends DELETED — fresh rows are
    anti-joined against the delete set too.  ``delete_ids`` must be a
    one-column frame or carry ``id_col``."""
    method, geom = _ann_resolve_geometry(
        index, planes, centroids, "ann_index_apply"
    )
    del_ids = None
    if delete_ids is not None:
        if id_col in delete_ids.columns:
            del_col = id_col
        elif len(delete_ids.columns) == 1:
            del_col = delete_ids.columns[0]
        else:
            raise ValueError(
                "ann_index_apply: delete_ids must be a one-column id "
                f"DataFrame or carry {id_col!r}; got columns "
                f"{delete_ids.columns} — retracting on an arbitrary first "
                "column would silently delete the wrong vectors"
            )
        del_ids = delete_ids.select(F.col(del_col).alias(id_col))
    retract = del_ids
    if upserts is not None:
        up_ids = upserts.select(F.col(id_col))
        retract = up_ids if retract is None else retract.unionByName(up_ids)
    out = index
    if retract is not None:
        out = out.join(F.broadcast(retract.distinct()), id_col, "left_anti")
    if upserts is not None:
        build = ann_lsh_index if method == "hyperplane_lsh" else ann_ivf_index
        new_rows = build(upserts, geom, id_col=id_col, vec_col=vec_col)
        if del_ids is not None:
            # deletes win over same-day upserts (band/segment precedent)
            new_rows = new_rows.join(F.broadcast(del_ids), id_col, "left_anti")
        out = out.unionByName(new_rows)
    return out


def ann_topk_indexed(
    index: DataFrame,
    queries: DataFrame,
    k: int = 10,
    probe_hamming: int = 1,
    nprobe: int = 3,
    planes: list[list[float]] | None = None,
    centroids: list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k against a PERSISTED index — the probe that
    kills the per-query corpus rebuild: the index's (vec_id, embedding,
    norm, bucket|cell) rows are read as-is (scanned, never shuffled —
    the query side broadcasts), no plane/centroid dot is evaluated for
    any corpus vector, and the precomputed norm feeds
    ``cosine_from_norms`` directly.  Query-side geometry (bucket +
    multi-probe masks for LSH, nprobe nearest cells for IVF) comes from
    the index's stamp, so the probe CANNOT drift from the index's
    construction.  Semantics match ``lsh_topk`` / ``ivf_topk`` on the
    same corpus exactly (differentially asserted), including the
    degenerate-vector policy, which the index bakes in corpus-side and
    this probe applies query-side."""
    scored = ann_scored_indexed(
        index,
        queries,
        probe_hamming=probe_hamming,
        nprobe=nprobe,
        planes=planes,
        centroids=centroids,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
    )
    return _rank_topk(scored, k, [query_id_col], id_col)


def ann_scored_indexed(
    index: DataFrame,
    queries: DataFrame,
    probe_hamming: int = 1,
    nprobe: int = 3,
    planes: list[list[float]] | None = None,
    centroids: list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """``ann_topk_indexed`` WITHOUT the final ranking window: the scored
    candidate frame ``(query_id, vec_id, sim)``.  Exists so a caller
    probing SEVERAL indexes — typically the pair ``ann_indexes`` builds
    in one pinned pass — can union the scored frames (tagged) and rank
    them once with ``_rank_topk`` keyed ``[tag, query_id]``."""
    method, geom = _ann_resolve_geometry(
        index, planes, centroids, "ann_scored_indexed"
    )
    dim = len(geom[0])
    if method == "hyperplane_lsh":
        masks = probe_masks(len(geom), probe_hamming)
        mask_list = ", ".join(str(m) for m in masks)
        q = queries.filter(_lsh_eligible(vec_col, dim)).select(
            F.col(query_id_col),
            F.col(vec_col).alias("_qvec"),
            F.expr(norm_expr(vec_col)).alias("_qn"),
            hyperplane_lsh_bucket(vec_col, geom).alias("_b0"),
        ).select(
            query_id_col,
            "_qvec",
            "_qn",
            F.explode(
                F.expr(f"transform(array({mask_list}), m -> _b0 ^ m)")
            ).alias("_qkey"),
        )
        join_key = "bucket"
    else:
        q = queries.filter(
            F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) == dim)
        ).select(
            F.col(query_id_col),
            F.col(vec_col).alias("_qvec"),
            F.expr(norm_expr(vec_col)).alias("_qn"),
            F.explode(ivf_probe_cells(vec_col, geom, nprobe)).alias("_qkey"),
        )
        join_key = "cell"
    # spread an under-partitioned index scan before the per-candidate
    # cosine work (a freshly-written small parquet index is 1-2 row
    # groups; a real at-scale index is many files and this is a no-op —
    # measured: probe_vs_full 2.93x -> 0.43x at the sf1 twin without /
    # with the spread)
    from kafka_streams_one_to_many_join_spark.model import ensure_parallelism

    # Null-safe equality (<=>) on the state key, NOT "=" — ivf_topk's
    # documented fix applied to the indexed probe: when the index is
    # IN-FLIGHT (built and maintained in the same plan, the roster
    # shape), Catalyst infers isnotnull(cell|bucket) from a plain equi-
    # join and pushes it below the projection, re-inlining the whole
    # centroid/plane-dot expression into a Filter (the r08 heavy-expr
    # class; flagged by test_roster_wide_plan_hygiene).  The key is
    # never null by construction, so <=> is semantics-identical and
    # still a hash-join key; a parquet-read index is unaffected either
    # way.
    return (
        ensure_parallelism(index)
        .join(
            F.broadcast(q),
            on=F.col(join_key).eqNullSafe(F.col("_qkey")),
        )
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            id_col,
            F.round(
                cosine_from_norms("_qvec", vec_col, "_qn", "norm"), 6
            ).alias("sim"),
        )
    )
