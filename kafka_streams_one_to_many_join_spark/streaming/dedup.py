"""Streaming exact deduplication — the stream twin of functions.dedup.

Two variants with different state-lifetime contracts:

- **streaming_dedup**: dropDuplicates on the key columns; with a watermark
  the per-key state expires once the event-time watermark passes, bounding
  state to the watermark horizon (without one, state grows forever — only
  safe for bounded key domains, like the reference's 20 cars).
- **streaming_dedup_within_watermark**: dropDuplicatesWithinWatermark —
  dedups keys whose events arrive within the watermark delay of each
  other, the contract that matches "the same record delivered twice by an
  at-least-once source" (the reference's delivery guarantee,
  DemoApp.scala:25) without keeping a key forever.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from kafka_streams_one_to_many_join_spark.streaming.keyed import keyed_state


def streaming_dedup(
    events: DataFrame,
    keys: list[str],
    ts_col: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """First occurrence per key wins, duplicates dropped exactly.

    With ``ts_col`` the watermark bounds state; duplicate keys arriving
    after the watermark passed their first occurrence are NOT dropped —
    the deliberate trade for bounded state at 100 TB/day stream volume.
    """
    if ts_col is not None:
        events = events.withWatermark(ts_col, watermark)
    return events.dropDuplicates(keys)


def streaming_dedup_within_watermark(
    events: DataFrame,
    keys: list[str],
    ts_col: str,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Dedup duplicates that arrive within the watermark delay window —
    at-least-once delivery repair with guaranteed state expiry."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


# ---------------------------------------------------------------------------
# streaming MinHash-LSH — the stream twin of functions.dedup.minhash_lsh_pairs
# ---------------------------------------------------------------------------


def streaming_minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.5,
    shingle_n: int = 3,
    seed: int = 11,
    ttl_ms: int | None = None,
    max_bucket_size: int | None = None,
    token_mode: str = "ascii",
    shingle_unit: str = "word",
) -> DataFrame:
    """Cross-batch fuzzy near-dup candidate maintenance: the streaming
    twin of ``functions.dedup.minhash_lsh_pairs`` (recipe reused
    bit-for-bit — same shingles, same 31-bit md5 prefix hash, same
    affine-reseed minhash coefficients, same banding, same exact-Jaccard
    verification; ``token_mode``/``shingle_unit`` thread through the
    SAME shingle builder, so the r13 multilingual configuration —
    unicode tokens + codepoint shingles — streams too, replay-paired
    with its batch twin in tests/test_unicode_tokens.py).

    Per-document signatures are PURE PROJECTIONS here (array_min over
    transform of the doc's distinct shingle hashes) — a signature is a
    function of one document's text, so no pre-aggregation is needed and
    the one stateful operator Spark allows per query is free for the
    bucket state.  Keyed state: (band, band-signature) bucket → the doc
    ids + verification hash-sets seen so far.  Each micro-batch pairs
    every NEW doc in a bucket against the bucket's remembered and
    same-batch docs (a < b), verifies exact Jaccard from the carried
    hash-sets, and emits qualifying pairs — a pair can never re-emit
    from the same bucket, because only new×(old+new) pairs form.

    A pair that collides in several bands emits once per band (the batch
    operator ends with .distinct(); a second stateful op is not allowed
    in the same streaming query) — pair the output with an idempotent
    upsert sink keyed on (doc_a, doc_b), the same pattern
    write_stream_exactly_once uses.  The 3-batch replay equivalence test
    asserts the emitted pair SET equals the batch operator's.

    Scale: state per bucket is the docs that ever hashed into it —
    bounded by the LSH guarantee that buckets stay small (the same
    property that bounds the batch operator's per-bucket quadratic
    work); for unbounded corpora ``ttl_ms`` opts into processing-time
    bucket expiry exactly like the join-state TTL (streaming/join.py) —
    sliding-corpus semantics: pairs against docs older than the TTL
    horizon are deliberately missed; default None keeps the batch-exact
    keep-forever semantics.

    ``max_bucket_size`` bounds the bucket state in SIZE the way
    ``ttl_ms`` bounds it in age — the streaming face of the batch
    operator's hot-bucket guard (SCALE.md round-10 third decade: hot
    band-signatures grow linearly with the corpus, and this store is
    the repo's one corpus-growing state).  Semantics are
    ADMISSION-bounded, not retroactive: the first ``max_bucket_size``
    docs a bucket ever sees are remembered; later arrivals to a full
    bucket neither pair nor enter state.  That deliberately diverges
    from the batch cap (which drops the WHOLE oversized bucket) for the
    same reason the reference's car-delete never retracts emitted join
    results (``DemoApp.scala:224-230``): an append stream cannot take
    back pairs already emitted before the bucket crossed the cap.
    Capped-stream emissions are always a SUBSET of the unbounded batch
    pair set (test-pinned); default None = batch-exact.

    Re-ingest/retraction (r14): a re-seen doc_id is deliberately
    IGNORED (the idempotent-replay guard) — an upsert here could only
    replace the doc's entry in buckets its NEW signature still hashes
    into, leaving stale entries in every bucket the correction moved it
    out of, i.e. pairs verified against a mix of old and new text.
    Mutable-corpus semantics belong to the batch maintenance operator
    (``functions.dedup.minhash_band_index_apply`` — retract + re-sign
    with a global view of the index); the production topology is this
    stream for intra-day arrivals + nightly index maintenance, the same
    division the reference draws between its in-flight join and its
    store upserts/deletes (DemoApp.scala:224-230).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from kafka_streams_one_to_many_join_spark.functions.dedup import (
        MINHASH_P,
        _with_shingles,
        minhash_coeffs,
    )

    rows = num_hashes // bands
    a, b = minhash_coeffs(num_hashes, seed)
    hashes = (
        "array_distinct(transform(_sh, s -> "
        f"cast(conv(substring(md5(s), 1, 8), 16, 10) as bigint) % {MINHASH_P}))"
    )
    sig_items = ", ".join(
        f"array_min(transform(_hs, h -> (h * {a[j]} + {b[j]}) % {MINHASH_P}))"
        for j in range(num_hashes)
    )
    banded = (
        _with_shingles(docs, text_col, id_col, shingle_n, token_mode, shingle_unit)
        .filter(F.expr("size(_sh) > 0"))  # batch drops shingle-less docs too
        .select("doc_id", F.expr(hashes).alias("_hs"))
        .select("doc_id", "_hs", F.expr(f"array({sig_items})").alias("_sig"))
        .select(
            "doc_id",
            "_hs",
            F.explode(
                F.expr(
                    f"transform(sequence(0, {bands - 1}), b -> "
                    f"named_struct('band', b, 'bsig', slice(_sig, b * {rows} + 1, {rows})))"
                )
            ).alias("_b"),
        )
        .select(
            F.concat(
                F.col("_b.band").cast("string"),
                F.lit(":"),
                F.array_join(F.col("_b.bsig"), "-"),
            ).alias("bucket"),
            "doc_id",
            "_hs",
        )
    )

    output_schema = StructType(
        [
            StructField("doc_a", LongType(), False),
            StructField("doc_b", LongType(), False),
            StructField("jaccard", DoubleType(), False),
        ]
    )
    state_schema = StructType(
        [
            StructField("doc_ids", ArrayType(LongType()), True),
            StructField("hsets", ArrayType(ArrayType(LongType())), True),
        ]
    )

    def step(bucket, state, pdfs):
        known = (
            {int(d): {int(h) for h in s} for d, s in zip(*state)}
            if state is not None
            else {}
        )
        out = []
        for pdf in pdfs:
            for doc_id, hs in zip(pdf["doc_id"], pdf["_hs"]):
                doc_id = int(doc_id)
                if doc_id in known:  # idempotent under replay
                    continue
                if max_bucket_size is not None and len(known) >= max_bucket_size:
                    # bucket at capacity: no pairing, no admission (see
                    # docstring — the no-retraction admission bound)
                    continue
                hset = set(int(h) for h in hs)
                for other_id, other_set in known.items():
                    inter = len(hset & other_set)
                    union = len(hset) + len(other_set) - inter
                    jac = inter / union if union else 0.0
                    if jac >= threshold:
                        lo, hi = sorted((doc_id, other_id))
                        out.append((lo, hi, round(jac, 6)))
                known[doc_id] = hset
        return (list(known), [sorted(s) for s in known.values()]), out

    return keyed_state(
        banded, "bucket", step, output_schema, state_schema, ttl_ms=ttl_ms
    )


# ---------------------------------------------------------------------------
# streaming segment-level (line) dedup — the stream twin of the batch
# q_segment_dedup recipe (functions.dedup.segment_hash_expr reused
# bit-for-bit).  Two chained stateful stages, because the semantics are
# RETROACTIVE: when a later document repeats a segment, every EARLIER
# holder of that segment becomes partially duplicated too — so stage 1
# (keyed by segment hash) must re-emit deltas for old documents when a
# segment's global occurrence count crosses 2, and stage 2 (keyed by
# doc_id) folds the deltas into per-document totals.  Spark allows one
# stateful operator per query, so the stages chain through a parquet
# "through" directory — the same topology pattern as the reference's
# move-detection → symmetric-join pipeline (streaming/join.py tests).
# ---------------------------------------------------------------------------


def segment_delta_transition(
    occ: int,
    holder_id: int | None,
    holder_k: int,
    new: dict[int, int],
) -> tuple[list[tuple[int, int, int]], tuple[int, int | None, int]]:
    """The pure threshold-crossing algebra of stage 1, lifted out of the
    stateful step so it can be property-tested exhaustively against a
    brute-force batch reference (tests/test_properties.py): given the
    O(1) state (occ, holder_id, holder_k) and this batch's new per-doc
    occurrence counts, return the (doc_id, d_segments, d_dup) emissions
    and the next state."""
    if not new:
        return [], (occ, holder_id, holder_k)
    occ_after = occ + sum(new.values())
    out = [(d, k, k if occ_after >= 2 else 0) for d, k in new.items()]
    if occ < 2 <= occ_after and holder_id is not None:
        out.append((holder_id, 0, holder_k))
    if occ_after < 2:
        ((d, k),) = new.items()
        return out, (occ_after, d, k)
    return out, (occ_after, None, 0)


def streaming_segment_dup_deltas(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    width: int = 10,
    ttl_ms: int | None = None,
) -> DataFrame:
    """Stage 1: per segment-hash keyed state → (doc_id, d_segments, d_dup)
    deltas, append semantics.

    Per batch: a new document's occurrences are new segments
    (d_segments += k); they are duplicated occurrences (d_dup += k) iff
    the segment's global count is ≥ 2 AFTER the batch; and when the
    batch pushes the count across the 2 threshold, the single EARLIER
    holder retroactively gains d_dup += its own count — the re-emission
    that makes the final totals equal the batch join's, regardless of
    arrival order or batch split (asserted by the 3-batch replay test).

    Scale — state is O(1) PER SEGMENT, not O(holders): below the
    threshold a segment has at most one holder with one occurrence
    (anything more crosses it), so the state is just (occ, holder_id,
    holder_k); past the threshold every future arrival is duplicated by
    definition and the holder detail is dropped.  A boilerplate segment
    appearing in millions of documents therefore costs 3 longs of state,
    not a million-entry list — the property that survives a 100 TB
    corpus.  The trade: replay idempotence is only guarded below the
    threshold (the single remembered holder); past it, an at-least-once
    SOURCE would double-count a replayed document.  Structured Streaming
    sources with checkpointed offsets are exactly-once, so this is moot
    on the supported input paths — pair non-checkpointed sources with an
    upstream dropDuplicates.  ``ttl_ms`` opts into processing-time state
    expiry (sliding-corpus semantics: retroactive flips older than the
    TTL horizon are deliberately missed); default None keeps exact
    keep-forever semantics, matching the batch pipeline.

    Re-ingest/retraction (r15): like the MinHash stream, a mutable
    corpus is NOT this operator's job — its keyed state only ever adds
    occurrences, so a corrected or deleted document's old segments
    would keep inflating counts forever.  Mutable-corpus semantics
    belong to the batch maintenance operator
    (``functions.dedup.segment_index_apply`` — retracts (doc_id, seg_h)
    rows AND decrements the persisted (seg_h, occ) counts, the only
    path on which a frozen doc's dup_frac can DECREASE); the production
    topology is this stream for intra-day arrivals + nightly index
    maintenance, the division pinned end-to-end for the band index in
    tests/test_segment_maintenance.py.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
    )

    from kafka_streams_one_to_many_join_spark.functions.dedup import (
        segment_hash_expr,
    )

    segs = docs.select(
        F.col(id_col).alias("doc_id"),
        F.expr(f"regexp_extract_all(lower({text_col}), '[a-z0-9]+', 0)").alias(
            "_toks"
        ),
    ).select(
        "doc_id",
        F.explode(F.expr(segment_hash_expr("_toks", width))).alias("seg_h"),
    )

    output_schema = StructType(
        [
            StructField("doc_id", LongType(), False),
            StructField("d_segments", LongType(), False),
            StructField("d_dup", LongType(), False),
        ]
    )
    state_schema = StructType(
        [
            StructField("occ", LongType(), True),
            StructField("holder_id", LongType(), True),
            StructField("holder_k", LongType(), True),
        ]
    )

    def step(seg_h, state, pdfs):
        occ, holder_id, holder_k = (
            (
                int(state[0]),
                None if state[1] is None else int(state[1]),
                int(state[2] or 0),
            )
            if state is not None
            else (0, None, 0)
        )
        new: dict[int, int] = {}
        for pdf in pdfs:
            for d in pdf["doc_id"]:
                d = int(d)
                if occ < 2 and d == holder_id:  # pre-threshold replay guard
                    continue
                new[d] = new.get(d, 0) + 1
        if not new:
            return None, []
        out, next_state = segment_delta_transition(occ, holder_id, holder_k, new)
        return next_state, out

    return keyed_state(
        segs, "seg_h", step, output_schema, state_schema, ttl_ms=ttl_ms
    )


def streaming_segment_dup_totals(
    deltas: DataFrame, output_mode: str = "update"
) -> DataFrame:
    """Stage 2: fold the (doc_id, d_segments, d_dup) deltas into running
    per-document totals (one refreshed row per touched doc per batch):
    (doc_id, n_segments, n_dup_segments, dup_frac, keep), the exact
    columns of the batch q_segment_dedup.  ``output_mode="append"``
    emits the same per-batch snapshots append-only (totals are
    monotonically non-decreasing, so the latest row per doc is the max)
    — required for a file sink, and for checkpoint recovery in the
    restart test (memory sinks cannot recover)."""
    from pyspark.sql.types import (
        BooleanType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    output_schema = StructType(
        [
            StructField("doc_id", LongType(), False),
            StructField("n_segments", LongType(), False),
            StructField("n_dup_segments", LongType(), False),
            StructField("dup_frac", DoubleType(), False),
            StructField("keep", BooleanType(), False),
        ]
    )
    state_schema = StructType(
        [
            StructField("n_segments", LongType(), True),
            StructField("n_dup", LongType(), True),
        ]
    )

    def step(doc_id, state, pdfs):
        n_seg, n_dup = (int(state[0]), int(state[1])) if state is not None else (0, 0)
        for pdf in pdfs:
            n_seg += int(pdf["d_segments"].sum())
            n_dup += int(pdf["d_dup"].sum())
        frac = round(n_dup / n_seg, 6) if n_seg else 0.0
        return (n_seg, n_dup), [(doc_id, n_seg, n_dup, frac, frac <= 0.5)]

    return keyed_state(
        deltas, "doc_id", step, output_schema, state_schema, output_mode=output_mode
    )
