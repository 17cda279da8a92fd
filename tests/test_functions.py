"""Dedup / similarity / text / multimodal function tests on small fixtures."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from kafka_streams_one_to_many_join_spark.functions.dedup import (
    UNBOUNDED_SHINGLE_FREQ,
    embedding_near_dup_pairs,
    embedding_near_dup_pairs_lsh,
    exact_duplicates,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    shingles,
    simhash_buckets,
)
from kafka_streams_one_to_many_join_spark.functions.multimodal import (
    asset_metadata,
    encode_ppm,
    encode_wav_pcm16,
    extract_audio_features,
    extract_image_features,
    sample_frames,
)
from kafka_streams_one_to_many_join_spark.functions.similarity import (
    brute_force_topk,
    brute_force_topk_pandas,
    lsh_topk,
    seeded_planes,
)
from kafka_streams_one_to_many_join_spark.model import load_table


def _docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely different words entirely here now"),
            (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        ],
        "doc_id long, text string",
    )


def test_exact_duplicates(spark):
    out = {r.text_hash: (r.canonical_id, r.n_copies) for r in exact_duplicates(_docs(spark)).collect()}
    assert (1, 2) in out.values()  # docs 1 & 4 collapse to canonical 1
    assert len(out) == 3


def test_shingles_short_doc_empty(spark):
    docs = spark.createDataFrame([(1, "one two")], "doc_id long, text string")
    assert shingles(docs, n=5).count() == 0


def test_ngram_jaccard_finds_near_dup(spark):
    pairs = ngram_jaccard_pairs(_docs(spark), n=3, threshold=0.5).collect()
    got = {(r.doc_a, r.doc_b) for r in pairs}
    assert (1, 2) in got and (1, 4) in got and (2, 4) in got
    assert all(a != 3 and b != 3 for a, b in got)
    exact = [r for r in pairs if (r.doc_a, r.doc_b) == (1, 4)][0]
    assert exact.jaccard == 1.0


def test_ngram_jaccard_shingle_freq_cap(spark):
    """Both branches of the max_shingle_freq cap: an active cap drops
    boilerplate shingles BEFORE candidate generation (pairs connected
    only through them vanish), while the effectively-unbounded cap —
    the roster/oracle setting, which now skips the df window entirely —
    keeps every pair."""
    boiler = "common words here every time"
    rows = [(1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta")]
    rows += [(i, f"{boiler} unique{i}a unique{i}b") for i in range(3, 8)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # shared boilerplate: 3 pure 3-gram shingles in all 5 docs -> pairwise
    # jaccard 3/7; the (1,2) exact dup has jaccard 1.0 on df=2 shingles
    unbounded = ngram_jaccard_pairs(
        docs, n=3, threshold=0.3, max_shingle_freq=UNBOUNDED_SHINGLE_FREQ
    )
    # the unbounded branch must really skip the df window — no Window
    # node (and its per-partition sort over shingle occurrences) in plan
    assert "Window" not in unbounded._jdf.queryExecution().optimizedPlan().toString()
    uncapped = {(r.doc_a, r.doc_b) for r in unbounded.collect()}
    assert (1, 2) in uncapped
    assert {(a, b) for a in range(3, 8) for b in range(a + 1, 8)} <= uncapped
    capped_df = ngram_jaccard_pairs(docs, n=3, threshold=0.3, max_shingle_freq=4)
    assert "Window" in capped_df._jdf.queryExecution().optimizedPlan().toString()
    capped = {(r.doc_a, r.doc_b) for r in capped_df.collect()}
    assert capped == {(1, 2)}


def test_minhash_lsh_finds_near_dup(spark):
    pairs = minhash_lsh_pairs(_docs(spark), threshold=0.5, shingle_n=3).collect()
    got = {(r.doc_a, r.doc_b) for r in pairs}
    assert (1, 4) in got  # identical docs always collide on every band
    assert all(a != 3 and b != 3 for a, b in got)


def test_minhash_lsh_max_bucket_size(spark):
    """The hot-bucket guard drops every bucket above the cap BEFORE the
    quadratic pair expansion, adds no shuffle, and default-None keeps
    exact semantics.  A 6-copy identical group fills every band's bucket
    with 6 members; cap=5 drops them all (identical docs collide on ALL
    bands, so no smaller bucket rescues the group), while an unrelated
    near-dup pair in 2-member buckets survives."""
    hot = [(i, "the quick brown fox jumps over the lazy dog") for i in range(6)]
    pair = [
        (10, "pack my box with five dozen liquor jugs today"),
        (11, "pack my box with five dozen liquor jugs tonight"),
    ]
    lone = [(20, "completely different words entirely here now")]
    docs = spark.createDataFrame(hot + pair + lone, "doc_id long, text string")

    unbounded = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(docs, threshold=0.5, shingle_n=3).collect()
    }
    assert {(a, b) for a in range(6) for b in range(a + 1, 6)} <= unbounded
    assert (10, 11) in unbounded

    capped_df = minhash_lsh_pairs(
        docs, threshold=0.5, shingle_n=3, max_bucket_size=5
    )
    capped = {(r.doc_a, r.doc_b) for r in capped_df.collect()}
    assert capped == unbounded - {(a, b) for a in range(6) for b in range(a + 1, 6)}
    assert (10, 11) in capped

    # plan shape (compare FRESH plans: a collected DF prints AQE's final
    # plan, whose ShuffleQueryStage wrappers re-print each Exchange):
    # uncapped emits each pair from its first agreeing band (r18) so it
    # has NO output-sized distinct exchange; capped mode keeps per-band
    # emission + distinct (its first-agreeing bucket may be dropped as
    # hot), costing exactly one more exchange.
    n_exchanges = lambda df: df._jdf.queryExecution().executedPlan().toString().count(
        "Exchange"
    )
    assert n_exchanges(
        minhash_lsh_pairs(docs, threshold=0.5, shingle_n=3, max_bucket_size=5)
    ) == n_exchanges(minhash_lsh_pairs(docs, threshold=0.5, shingle_n=3)) + 1


def test_simhash_vote_modes_bit_identical(spark):
    """The Arrow-vectorized majority vote must equal the expression vote
    bit-for-bit, including the degenerate classes (empty text → 0, NULL
    text → 0, all-repeated token)."""
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, ""),
            (3, None),
            (4, "a a a b"),
            (5, "completely different words entirely here now"),
        ],
        "doc_id long, text string",
    )
    a = {r.doc_id: r.simhash for r in simhash_buckets(docs).collect()}
    b = {
        r.doc_id: r.simhash
        for r in simhash_buckets(docs, vote_mode="pandas").collect()
    }
    assert a == b
    assert a[2] == 0 and a[3] == 0


def test_simhash_similar_docs_close(spark):
    out = {r.doc_id: r.simhash for r in simhash_buckets(_docs(spark)).collect()}
    assert out[1] == out[4]  # identical text → identical simhash
    ham_12 = bin(out[1] ^ out[2]).count("1")
    ham_13 = bin(out[1] ^ out[3]).count("1")
    assert ham_12 < ham_13  # near-dup closer than unrelated


def _emb(spark, n=20, dim=8):
    rng = np.random.RandomState(7)
    rows = [(i, rng.randn(dim).astype("float32").tolist(), i % 3) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_brute_force_topk_expr_vs_pandas(spark):
    emb = _emb(spark)
    queries = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    a = brute_force_topk(emb, queries, k=5).orderBy("query_id", "rank").collect()
    qpdf = queries.toPandas()
    b = (
        brute_force_topk_pandas(emb, qpdf, k=5)
        .orderBy("query_id", "rank")
        .collect()
    )
    assert [(r.query_id, r.vec_id) for r in a] == [(r.query_id, r.vec_id) for r in b]
    assert all(abs(x.sim - y.sim) < 1e-9 for x, y in zip(a, b))


def test_brute_force_topk_pandas_empty_query_set(spark):
    """No query left — none given, or every query vector NULL — returns
    the empty ranked frame, as the 'expr' face does, instead of failing
    in ``np.stack`` on the driver."""
    emb = _emb(spark)
    for qpdf in (
        pd.DataFrame({"query_id": pd.Series([], dtype="int64"), "embedding": []}),
        pd.DataFrame({"query_id": [0, 1], "embedding": [None, None]}),
    ):
        df = brute_force_topk_pandas(emb, qpdf, k=5)
        assert df.columns == ["query_id", "vec_id", "sim", "rank"]
        assert df.collect() == []


def test_train_centroids_reads_only_its_own_stamp(spark):
    """The first Lloyd step reads a corpus's ``cell`` column only when its
    IVF stamp is the ``init`` geometry: an index built on ``init`` trains
    exactly like the bare corpus, an index built on other centroids is
    ignored (a fresh assignment), and the stamped column really is read
    — a forged all-cell-1 column stamped with ``init`` changes the result."""
    from kafka_streams_one_to_many_join_spark.functions.similarity import (
        _ivf_stamp,
        ann_ivf_index,
        seeded_centroids,
        train_centroids,
    )

    emb = _emb(spark, n=60)
    init = seeded_centroids(4, 8, seed=23)
    fresh = train_centroids(emb, init, iters=1)
    own = ann_ivf_index(emb, init)
    assert train_centroids(own, init, iters=1) == fresh
    other = ann_ivf_index(emb, seeded_centroids(4, 8, seed=5))
    assert train_centroids(other, init, iters=1) == fresh
    forged = own.withColumn(
        "cell", F.lit(1).alias("cell", metadata=_ivf_stamp(init))
    )
    assert train_centroids(forged, init, iters=1) != fresh


def test_lsh_topk_subset_of_exact(spark):
    emb = _emb(spark, n=50)
    queries = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    rng = np.random.RandomState(3)
    planes = rng.randn(4, 8).tolist()
    approx = lsh_topk(emb, queries, planes, k=5).collect()
    # every approx neighbor must be a real corpus vector with correct sim
    exact = brute_force_topk(emb, queries, k=50).collect()
    exact_sims = {(r.query_id, r.vec_id): r.sim for r in exact}
    for r in approx:
        assert (r.query_id, r.vec_id) in exact_sims
        assert abs(exact_sims[(r.query_id, r.vec_id)] - r.sim) < 1e-9


def test_train_centroids_recovers_planted_clusters(spark):
    """5 Lloyd rounds from random unit-norm seeds must (a) return
    unit-norm 6-decimal centroids honoring the seeded_centroids
    contract, (b) reduce spherical quantization error vs the random
    init, and (c) on a planted 4-gaussian mixture quantized with 8
    cells, produce PURE cells (each non-trivial cell ≥90% one planted
    cluster — a planted cluster may legitimately split across cells,
    but a cell MIXING planted clusters means the quantizer failed to
    separate them).  Purity is what makes a trained quantizer beat a
    random one at equal nprobe: probing retrieves same-cluster
    neighbors, not a random slice."""
    from kafka_streams_one_to_many_join_spark.functions.similarity import (
        ivf_cell,
        seeded_centroids,
        train_centroids,
    )

    rng = np.random.RandomState(11)
    centers = rng.randn(4, 8)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    for c in range(4):
        for i in range(60):
            v = centers[c] + rng.randn(8) * 0.15
            rows.append((c * 60 + i, v.astype("float32").tolist(), c))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, planted int"
    )
    init = seeded_centroids(8, 8, seed=23)
    trained = train_centroids(emb, init, iters=5)
    mat = np.array(trained)
    assert mat.shape == (8, 8)
    assert np.allclose(np.linalg.norm(mat, axis=1), 1.0, atol=1e-4)

    vecs = np.array([r.embedding for r in emb.collect()], dtype=np.float64)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)

    def mean_best_cos(cs):
        sims = vecs @ np.array(cs).T
        return float(sims.max(axis=1).mean())

    assert mean_best_cos(trained) > mean_best_cos(init) + 0.05

    assigned = emb.select(
        "planted", ivf_cell("embedding", trained).alias("cell")
    ).collect()
    by_cell: dict[int, list[int]] = {}
    for r in assigned:
        by_cell.setdefault(r.cell, []).append(r.planted)
    for cell, members in by_cell.items():
        if len(members) < 5:
            continue  # near-empty cells carry no probe traffic
        top = max(members.count(x) for x in set(members))
        assert top / len(members) >= 0.9, f"cell {cell} mixes planted clusters"


def test_lsh_topk_degenerate_element_policy(spark):
    """Vectors with NULL or NaN ELEMENTS (not just all-zero / NULL-array)
    are excluded on both the corpus and query sides — the r09 ADVICE gap:
    a mixed vector passed the exists-only check but produced NULL sims
    (trailing ranks) or NaN sims (ranked FIRST under sim DESC), policies
    the streaming _fold_topk does not share."""
    rng = np.random.RandomState(5)
    rows = [(i, rng.randn(8).astype("float32").tolist()) for i in range(10)]
    mixed_null = [1.0] * 8
    mixed_null[3] = None
    rows += [
        (90, mixed_null),                      # nonzero + NULL element
        (91, [float("nan")] + [1.0] * 7),      # NaN element
        (92, [0.0] * 8),                       # zero-norm
        (93, None),                            # NULL array
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = emb.select(F.col("vec_id").alias("query_id"), "embedding")
    planes = np.random.RandomState(3).randn(4, 8).tolist()
    out = lsh_topk(emb, queries, planes, k=20).collect()
    degenerate = {90, 91, 92, 93}
    assert all(r.query_id not in degenerate for r in out)
    assert all(r.vec_id not in degenerate for r in out)
    # and no NULL/NaN sim survives to ranking
    assert all(r.sim is not None and r.sim == r.sim for r in out)


_PPM_1 = encode_ppm(2, 2, bytes(range(12)))  # pixels 0..11
_PPM_2 = encode_ppm(3, 1, bytes([255] * 9))


def _assets(spark):
    return spark.createDataFrame(
        [
            (1, "image", bytearray(_PPM_1), None),
            (2, "image", bytearray(_PPM_2), None),
            (3, "video", bytearray(b"\x00" * 4096), None),
        ],
        "asset_id long, media_type string, payload binary, meta_json string",
    )


def test_asset_metadata(spark):
    out = {r.asset_id: (r.n_bytes, r.digest) for r in asset_metadata(_assets(spark)).collect()}
    assert out[1][0] == len(_PPM_1) and len(out[1][1]) == 32
    assert out[1][1] != out[2][1]


def test_extract_image_features_decodes_real_ppm(spark):
    """The decoder parses genuine P6 bytes: dimensions come from the
    header, channel sums from the RGB plane (exact integers)."""
    out = {r.asset_id: r for r in extract_image_features(_assets(spark)).collect()}
    assert set(out) == {1, 2}  # only media_type == image
    r1 = out[1]
    assert (r1.width, r1.height, r1.n_bytes) == (2, 2, len(_PPM_1))
    # pixels 0..11: R bytes 0,3,6,9; G 1,4,7,10; B 2,5,8,11
    assert (r1.sum_r, r1.sum_g, r1.sum_b) == (18, 22, 26)
    r2 = out[2]
    assert (r2.width, r2.height) == (3, 1)
    assert (r2.sum_r, r2.sum_g, r2.sum_b) == (765, 765, 765)


def test_resize_images_nearest_neighbor_roundtrip(spark):
    """resize_ppm keeps every factor-th pixel (top-left sampling) and the
    distributed transform re-encodes payloads that decode_ppm can read
    back — a REAL resize of real bytes, dims = ceil(dim/factor)."""
    from kafka_streams_one_to_many_join_spark.functions.multimodal import (
        decode_ppm,
        resize_images,
        resize_ppm,
    )

    # 2x2 pixels 0..11 at factor 2 -> the single top-left pixel (0,1,2)
    assert resize_ppm(_PPM_1, 2) == encode_ppm(1, 1, bytes([0, 1, 2]))
    # factor 1 is the identity (same header format, same plane)
    assert resize_ppm(_PPM_1, 1) == _PPM_1
    # 3x1 at factor 2 -> ceil(3/2)=2 columns: pixels 0 and 2
    assert resize_ppm(_PPM_2, 2) == encode_ppm(2, 1, bytes([255] * 6))

    out = {r.asset_id: r for r in resize_images(_assets(spark), factor=2).collect()}
    assert set(out) == {1, 2}  # only media_type == image
    assert (out[1].width, out[1].height) == (1, 1)
    assert (out[2].width, out[2].height) == (2, 1)
    # round-trip: the resized payload is a decodable PPM with matching dims
    w, h, sr, sg, sb = decode_ppm(bytes(out[1].payload))
    assert (w, h, sr, sg, sb) == (1, 1, 0, 1, 2)
    assert out[1].n_bytes == len(bytes(out[1].payload))


def test_resize_images_permissive_corrupt_channel(spark):
    """on_error='permit' preserves the row count and carries the stable
    parse reason for corrupt payloads, same contract as the decode path."""
    from kafka_streams_one_to_many_join_spark.functions.multimodal import (
        resize_images,
    )

    assets = spark.createDataFrame(
        [
            (1, "image", bytearray(_PPM_1), None),
            (2, "image", bytearray(b"P6\n2 2\n255\n\x00\x01"), None),  # truncated
        ],
        "asset_id long, media_type string, payload binary, meta_json string",
    )
    out = {r.asset_id: r for r in resize_images(assets, 2, on_error="permit").collect()}
    assert len(out) == 2
    assert out[1].decode_error is None and out[1].payload is not None
    assert out[2].decode_error == "truncated PPM pixel plane"
    assert out[2].payload is None and out[2].width is None
    import pytest as _pytest

    with _pytest.raises(Exception):
        resize_images(assets, 2).collect()  # default: crash-on-parse


def test_sample_frames_only_video(spark):
    out = sample_frames(_assets(spark), every_nth=10).collect()
    assert len(out) >= 1
    assert all(r.frame_no % 10 == 0 for r in out)


def test_png_roundtrip_every_filter_type():
    """encode_png → _parse_png reproduces the exact pixel plane under
    each of the five PNG filter types individually and under a mixed
    per-row cycle, for every supported color type (grayscale bpp=1,
    RGB bpp=3, RGBA bpp=4 — the filters' left-pixel references depend
    on bpp, so each is its own unfiltering case)."""
    from kafka_streams_one_to_many_join_spark.functions.multimodal import (
        _parse_png,
        encode_png,
    )

    w, h = 6, 5
    for ct, bpp in ((0, 1), (2, 3), (6, 4)):
        px = bytes((i * 29 + 3) % 256 for i in range(w * h * bpp))
        for f in range(5):
            got = _parse_png(encode_png(w, h, px, row_filters=[f], color_type=ct))
            assert got == (w, h, px, ct), (ct, f)
        got = _parse_png(
            encode_png(w, h, px, row_filters=[0, 1, 2, 3, 4], color_type=ct)
        )
        assert got == (w, h, px, ct), ct


def test_png_gray_and_rgba_channel_sums():
    """decode_png's witness per color type: grayscale reports its sum on
    all three channels; RGBA sums r/g/b and ignores alpha."""
    from kafka_streams_one_to_many_join_spark.functions.multimodal import (
        decode_png,
        encode_png,
    )

    w, h = 4, 3
    gray = bytes((i * 7 + 1) % 256 for i in range(w * h))
    s = sum(gray)
    assert decode_png(
        encode_png(w, h, gray, row_filters=[3, 4], color_type=0)
    ) == (w, h, s, s, s)
    rgba = bytes((i * 11 + 5) % 256 for i in range(w * h * 4))
    sums = [0, 0, 0]
    for i, b in enumerate(rgba):
        if i % 4 < 3:
            sums[i % 4] += b
    assert decode_png(
        encode_png(w, h, rgba, row_filters=[1, 2, 4], color_type=6)
    ) == (w, h, *sums)


def test_png_decode_error_channel():
    """Stable ValueError messages for every malformed-input class (the
    permissive decode channel surfaces them as decode_error)."""
    import struct

    import pytest

    from kafka_streams_one_to_many_join_spark.functions.multimodal import (
        PNG_SIG,
        _png_chunk,
        decode_image,
        decode_png,
        synth_png_payload,
    )

    with pytest.raises(ValueError, match="NULL payload"):
        decode_png(None)
    with pytest.raises(ValueError, match="not a PNG payload"):
        decode_png(b"P6\n1 1\n255\nabc")
    with pytest.raises(ValueError, match="truncated PNG chunk"):
        decode_png(PNG_SIG + b"\x00\x00")
    p = synth_png_payload(5)
    with pytest.raises(ValueError, match="truncated PNG chunk"):
        decode_png(p[:-6])
    corrupt = bytearray(p)
    corrupt[45] ^= 0xFF  # inside IDAT → crc mismatch
    with pytest.raises(ValueError, match="bad PNG chunk crc|corrupt PNG"):
        decode_png(bytes(corrupt))
    deep = (
        PNG_SIG
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0))
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="only 8-bit grayscale/RGB/RGBA"):
        decode_png(deep)
    interlaced = (
        PNG_SIG
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 1))
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="interlaced PNG not supported"):
        decode_png(interlaced)
    # dispatch: garbage that is neither format keeps the PPM reason, so
    # the corrupt-asset sweep's predicted errors are unchanged
    with pytest.raises(ValueError, match="not a binary PPM"):
        decode_image(b"garbage")


def test_png_palette_decodes_and_boundaries():
    """r16 (VERDICT r15 item 4, cheap adjacent win): 8-bit palette PNGs
    decode via PLTE expansion under every filter type; the stable
    boundaries move to the genuinely-malformed cases (missing PLTE,
    out-of-range index, malformed PLTE, sub-8-bit palette depth)."""
    import struct
    import zlib

    import pytest

    from kafka_streams_one_to_many_join_spark.functions.multimodal import (
        PNG_SIG,
        _png_chunk,
        decode_png,
        encode_png,
    )

    pal = [(10, 20, 30), (200, 100, 0), (1, 2, 3), (255, 255, 255)]
    w, h = 5, 4
    idx = bytes((i * 7) % len(pal) for i in range(w * h))
    payload = encode_png(
        w, h, idx, row_filters=[0, 1, 2, 3, 4], color_type=3, palette=pal
    )
    exp = [0, 0, 0]
    for i in idx:
        for c in range(3):
            exp[c] += pal[i][c]
    assert decode_png(payload) == (w, h, *exp)
    # single-entry palette, Paeth-filtered
    one = encode_png(2, 2, b"\x00" * 4, row_filters=[4], color_type=3,
                     palette=[(9, 8, 7)])
    assert decode_png(one) == (2, 2, 36, 32, 28)
    # missing PLTE: type-3 stream with pixel data but no palette
    ihdr3 = _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 3, 0, 0, 0))
    idat1 = _png_chunk(b"IDAT", zlib.compress(b"\x00\x00"))
    iend = _png_chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="missing PNG PLTE"):
        decode_png(PNG_SIG + ihdr3 + idat1 + iend)
    # index past the palette
    short_plte = _png_chunk(b"PLTE", b"\x01\x02\x03")
    idat_hi = _png_chunk(b"IDAT", zlib.compress(b"\x00\x05"))
    with pytest.raises(ValueError, match="corrupt PNG palette index"):
        decode_png(PNG_SIG + ihdr3 + short_plte + idat_hi + iend)
    # malformed PLTE: not a multiple of 3 / duplicated / after IDAT
    bad_len = _png_chunk(b"PLTE", b"\x01\x02")
    with pytest.raises(ValueError, match="malformed PNG PLTE"):
        decode_png(PNG_SIG + ihdr3 + bad_len + idat1 + iend)
    with pytest.raises(ValueError, match="malformed PNG PLTE"):
        decode_png(PNG_SIG + ihdr3 + short_plte + short_plte + idat1 + iend)
    with pytest.raises(ValueError, match="malformed PNG PLTE"):
        decode_png(PNG_SIG + ihdr3 + idat1 + short_plte + iend)
    # sub-8-bit palette depth stays a stable unsupported reason
    ihdr4 = _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 4, 3, 0, 0, 0))
    with pytest.raises(ValueError, match="only 8-bit grayscale/RGB/RGBA/palette"):
        decode_png(PNG_SIG + ihdr4 + iend)
    # encoder-side contracts
    with pytest.raises(ValueError, match="palette PNG needs"):
        encode_png(1, 1, b"\x00", color_type=3)
    with pytest.raises(ValueError, match="palette index out of range"):
        encode_png(1, 1, b"\x02", color_type=3, palette=[(0, 0, 0)])
    with pytest.raises(ValueError, match="only valid with color type 3"):
        encode_png(1, 1, b"\x07", color_type=0, palette=[(0, 0, 0)])


def test_jpeg_boundary_pinned():
    """r16 (VERDICT r15 item 4 — decided: boundary, not decoder): real
    JPEG bytes through the dispatching decode report the stable JPEG
    reason instead of falling through to the misleading PPM one."""
    import pytest

    from kafka_streams_one_to_many_join_spark.functions.multimodal import (
        decode_image,
    )

    # a genuine JFIF prelude: SOI + APP0 with the JFIF identifier
    jfif = (
        b"\xff\xd8\xff\xe0\x00\x10JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
        b"\xff\xdb\x00\x43\x00" + bytes(64) + b"\xff\xd9"
    )
    with pytest.raises(ValueError, match="JPEG decode not supported"):
        decode_image(jfif)
    # bare SOI marker (no JFIF APP0 — e.g. EXIF-first camera output)
    with pytest.raises(ValueError, match="JPEG decode not supported"):
        decode_image(b"\xff\xd8\xff\xe1\x00\x16Exif\x00\x00")
    # non-JPEG garbage keeps the PPM reason
    with pytest.raises(ValueError, match="not a binary PPM"):
        decode_image(b"garbage")


def test_png_chunk_order_enforced():
    """ADVICE r15: IHDR must be the FIRST chunk and appear exactly once;
    IDAT before IHDR / duplicate IHDR are stable decode errors, not
    silent successes."""
    import struct
    import zlib

    import pytest

    from kafka_streams_one_to_many_join_spark.functions.multimodal import (
        PNG_SIG,
        _png_chunk,
        decode_png,
        encode_png,
    )

    ihdr = _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 0))
    idat = _png_chunk(b"IDAT", zlib.compress(b"\x00\x2a"))
    iend = _png_chunk(b"IEND", b"")
    # IDAT first (valid CRC, valid pixel data) — previously decoded fine
    with pytest.raises(ValueError, match="malformed PNG IHDR"):
        decode_png(PNG_SIG + idat + ihdr + iend)
    # any non-IHDR first chunk, even ancillary
    with pytest.raises(ValueError, match="malformed PNG IHDR"):
        decode_png(PNG_SIG + _png_chunk(b"tEXt", b"k\x00v") + ihdr + idat + iend)
    # duplicate IHDR re-declaring dims mid-stream
    with pytest.raises(ValueError, match="malformed PNG IHDR"):
        decode_png(PNG_SIG + ihdr + ihdr + idat + iend)
    # the valid ordering still decodes, ancillary chunks after IHDR stay lenient
    good = PNG_SIG + ihdr + _png_chunk(b"tEXt", b"k\x00v") + idat + iend
    assert decode_png(good) == (1, 1, 42, 42, 42)
    # and the real encoder's output is unaffected
    assert decode_png(encode_png(1, 1, b"\x07\x09\x0b")) == (1, 1, 7, 9, 11)


def test_png_decompression_bomb_bounded():
    """ADVICE r15: inflate is capped at the IHDR-declared pixel-plane
    size — a bomb payload (1×1 declared, ~64 MB inflated) reports the
    stable truncated-pixel-data reason instead of materializing the
    full inflated stream in executor memory."""
    import struct
    import time
    import zlib

    import pytest

    from kafka_streams_one_to_many_join_spark.functions.multimodal import (
        PNG_SIG,
        _png_chunk,
        decode_png,
    )

    ihdr = _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 0))
    bomb = PNG_SIG + ihdr + _png_chunk(
        b"IDAT", zlib.compress(b"\x00" * (64 << 20), 9)
    ) + _png_chunk(b"IEND", b"")
    t0 = time.perf_counter()
    with pytest.raises(ValueError, match="truncated PNG pixel data"):
        decode_png(bomb)
    # bounded inflate rejects on the first ~2 output bytes; generous
    # wall bound just to catch a regression to full inflation
    assert time.perf_counter() - t0 < 2.0
    # truncated zlib stream and trailing garbage keep the corrupt reason
    whole = zlib.compress(b"\x00\x2a")
    trunc = PNG_SIG + ihdr + _png_chunk(b"IDAT", whole[:-2]) + _png_chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="corrupt PNG pixel data"):
        decode_png(trunc)
    trail = PNG_SIG + ihdr + _png_chunk(b"IDAT", whole + b"xx") + _png_chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="corrupt PNG pixel data"):
        decode_png(trail)


def test_extract_image_features_dispatches_png_and_ppm(spark):
    """One decode stage, two container formats: a mixed asset frame of
    real PPM and real PNG payloads decodes to the closed-form dims and
    channel sums of each format's generation rule."""
    from kafka_streams_one_to_many_join_spark.functions.multimodal import (
        extract_image_features,
        synth_png_payload,
        synth_ppm_payload,
    )

    def png_expected(did):
        w, h = 4 + did % 11, 3 + did % 5
        sums = [0, 0, 0]
        for idx in range(w * h * 3):
            sums[idx % 3] += (did * 37 + idx * 11) % 256
        return (w, h, *sums)

    def ppm_expected(did):
        w, h = 4 + did % 13, 3 + did % 7
        sums = [0, 0, 0]
        for idx in range(w * h * 3):
            sums[idx % 3] += (did * 31 + idx * 7) % 256
        return (w, h, *sums)

    assets = spark.createDataFrame(
        [
            (1, "image", bytearray(synth_ppm_payload(1)), None),
            (2, "image", bytearray(synth_png_payload(2)), None),
            (3, "image", bytearray(synth_png_payload(3)), None),
        ],
        "asset_id long, media_type string, payload binary, meta_json string",
    )
    got = {
        r.asset_id: (r.width, r.height, r.sum_r, r.sum_g, r.sum_b)
        for r in extract_image_features(assets).collect()
    }
    assert got == {
        1: ppm_expected(1),
        2: png_expected(2),
        3: png_expected(3),
    }


def test_extract_image_features_permissive_corrupt_png(spark):
    """Corrupt PNG payloads flow through the permissive channel with
    their stable reasons, alongside healthy rows (row count preserved)."""
    from kafka_streams_one_to_many_join_spark.functions.multimodal import (
        extract_image_features,
        synth_png_payload,
    )

    good = synth_png_payload(7)
    assets = spark.createDataFrame(
        [
            (1, "image", bytearray(good), None),
            (2, "image", bytearray(good[:-6]), None),
            (3, "image", bytearray(b"\x89PNG\r\n\x1a\n\x00\x00"), None),
        ],
        "asset_id long, media_type string, payload binary, meta_json string",
    )
    out = {
        r.asset_id: r
        for r in extract_image_features(assets, on_error="permit").collect()
    }
    assert len(out) == 3
    assert out[1].decode_error is None and out[1].sum_r is not None
    assert out[2].decode_error == "truncated PNG chunk" and out[2].width is None
    assert out[3].decode_error == "truncated PNG chunk"


def test_sample_frames_payloads_decode_downstream(spark):
    """The upgraded frame sampler emits REAL PNG frames: every payload
    decodes via decode_png to the 8×4 raster whose pixel plane is the
    video payload's bytes at the frame offset (zero-padded tail) — the
    channel sums equal direct byte arithmetic on the source payload, and
    the index arithmetic matches the stub's oracle-pinned rule."""
    from kafka_streams_one_to_many_join_spark.functions.multimodal import (
        decode_png,
        sample_frames,
    )

    video = bytes((i * 13 + 5) % 256 for i in range(2500))
    assets = spark.createDataFrame(
        [(1, "video", bytearray(video), None), (2, "audio", b"x", None)],
        "asset_id long, media_type string, payload binary, meta_json string",
    )
    rows = sample_frames(assets, every_nth=2).collect()
    # frame count = len // (1024*2) + 1 = 2, frame_no = 0, 2
    assert sorted((r.asset_id, r.frame_no) for r in rows) == [(1, 0), (1, 2)]
    for r in rows:
        w, h, sr, sg, sb = decode_png(bytes(r.frame_payload))
        assert (w, h) == (8, 4)
        window = video[r.frame_no * 1024 : r.frame_no * 1024 + 96]
        window = window + bytes(96 - len(window))
        exp = [0, 0, 0]
        for i, b in enumerate(window):
            exp[i % 3] += b
        assert [sr, sg, sb] == exp, r.frame_no


def test_embedding_near_dup_exact(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [2.0, 0.0, 0.0]),   # same direction as 1 → cosine 1.0
        (3, [0.0, 1.0, 0.0]),   # orthogonal to 1/2
        (4, [1.0, 1.0, 0.0]),   # cos 0.7071 with 1/2 and 3
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        (r.vec_a, r.vec_b): r.cosine
        for r in embedding_near_dup_pairs(emb, threshold=0.9).collect()
    }
    assert set(got) == {(1, 2)} and got[(1, 2)] == 1.0
    got_lo = {
        (r.vec_a, r.vec_b)
        for r in embedding_near_dup_pairs(emb, threshold=0.7).collect()
    }
    assert got_lo == {(1, 2), (1, 4), (2, 4), (3, 4)}


def test_embedding_near_dup_lsh_subset_of_exact(spark):
    emb = _emb(spark, n=60)
    planes = seeded_planes(4, 8, seed=3)
    exact = {
        (r.vec_a, r.vec_b): r.cosine
        for r in embedding_near_dup_pairs(emb, threshold=0.3).collect()
    }
    lsh = {
        (r.vec_a, r.vec_b): r.cosine
        for r in embedding_near_dup_pairs_lsh(emb, planes, threshold=0.3).collect()
    }
    assert set(lsh) <= set(exact)
    for pair, cos in lsh.items():
        assert cos == exact[pair]  # identical exact verification
    # identical vectors always share every bucket → LSH must find them
    dup = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0])] * 2,
        "vec_id long, embedding array<float>",
    ).withColumn("vec_id", F.monotonically_increasing_id())
    found = embedding_near_dup_pairs_lsh(dup, planes, threshold=0.99).count()
    assert found == 1


def test_seeded_planes_deterministic():
    a = seeded_planes(4, 8, seed=7)
    b = seeded_planes(4, 8, seed=7)
    assert a == b
    assert len(a) == 4 and len(a[0]) == 8
    assert seeded_planes(4, 8, seed=8) != a


def test_extract_audio_features_decodes_real_wav(spark):
    """Round trip: encode known PCM16 samples with the stdlib wave
    module, decode through the Spark pipeline, recover the exact
    amplitude stats."""
    samples = [0, 1000, -32768, 32767, -1]
    wav = encode_wav_pcm16(samples, 22050)
    rows = [
        (0, "audio", bytearray(wav), None),
        (1, "audio", bytearray(encode_wav_pcm16([5], 8000)), None),
        (99, "image", bytearray(_PPM_1), None),
    ]
    assets = spark.createDataFrame(
        rows, "asset_id long, media_type string, payload binary, meta_json string"
    )
    out = {r.asset_id: r for r in extract_audio_features(assets).collect()}
    assert set(out) == {0, 1}  # image row filtered out
    r0 = out[0]
    assert (r0.sample_rate, r0.n_channels, r0.n_samples) == (22050, 1, 5)
    assert r0.n_bytes == 44 + 2 * 5  # standard RIFF/fmt/data header
    assert r0.sum_abs == 0 + 1000 + 32768 + 32767 + 1
    assert r0.peak == 32768
    assert (out[1].sample_rate, out[1].n_samples, out[1].sum_abs) == (8000, 1, 5)


def test_synth_payloads_follow_documented_formula():
    """The fixture synthesizers and the real decoders agree with the
    closed-form formulas the oracle SQL mirrors — pure Python, no Spark."""
    from kafka_streams_one_to_many_join_spark.functions.multimodal import (
        decode_ppm,
        decode_wav_pcm16,
        synth_ppm_payload,
        synth_wav_payload,
    )

    for doc_id in (0, 7, 128, 5001):
        rate, ch, n, sum_abs, peak = decode_wav_pcm16(synth_wav_payload(doc_id))
        exp = [abs(((doc_id * 2654435761 + i * 40503) % 65536) - 32768)
               for i in range(64 + doc_id % 129)]
        assert (ch, n) == (1, len(exp))
        assert rate == (8000, 16000, 22050, 44100, 48000)[doc_id % 5]
        assert (sum_abs, peak) == (sum(exp), max(exp))

        w, h, sr, sg, sb = decode_ppm(synth_ppm_payload(doc_id))
        assert (w, h) == (4 + doc_id % 13, 3 + doc_id % 7)
        px = [(doc_id * 31 + idx * 7) % 256 for idx in range(w * h * 3)]
        assert (sr, sg, sb) == (sum(px[0::3]), sum(px[1::3]), sum(px[2::3]))


def test_winnowing_shared_substring_shares_fingerprint(spark):
    from kafka_streams_one_to_many_join_spark.functions.text import (
        winnowing_fingerprints,
    )

    docs = spark.createDataFrame(
        [
            (1, "aaa common fragment of text zzz"),
            (2, "bbb common fragment of text yyy"),  # long shared substring
            (3, "totally unrelated words qqq"),
            (4, "xy"),  # shorter than k → no fingerprints
        ],
        "doc_id long, text string",
    )
    fp = winnowing_fingerprints(docs, k=8, window=4)
    by_doc = {}
    for r in fp.collect():
        by_doc.setdefault(r.doc_id, set()).add(r.fingerprint)
    assert by_doc[1] & by_doc[2]            # shared window+k-1 substring
    assert not (by_doc[1] & by_doc[3])      # unrelated: disjoint (w.h.p.)
    assert 4 not in by_doc                  # too short
    # deterministic
    again = {}
    for r in winnowing_fingerprints(docs, k=8, window=4).collect():
        again.setdefault(r.doc_id, set()).add(r.fingerprint)
    assert again == by_doc


def test_simhash_near_dup_pairs(spark):
    from kafka_streams_one_to_many_join_spark.functions.dedup import (
        simhash_near_dup_pairs,
    )

    out = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_near_dup_pairs(_docs(spark), max_hamming=3).collect()
    }
    assert out.get((1, 4)) == 0  # identical docs: distance 0
    # every reported pair verified within the bound
    assert all(h <= 3 for h in out.values())


def test_simhash_max_bucket_size(spark):
    """The simhash hot-bucket guard: a 6-copy identical group (one
    simhash -> all four band buckets hold all 6) is dropped entirely at
    cap=5, an unrelated exact-dup pair in 2-member buckets survives, and
    default None keeps the unbounded set."""
    from kafka_streams_one_to_many_join_spark.functions.dedup import (
        simhash_near_dup_pairs,
    )

    hot = [(i, "the quick brown fox jumps over the lazy dog") for i in range(6)]
    pair = [
        (10, "pack my box with five dozen liquor jugs"),
        (11, "pack my box with five dozen liquor jugs"),
    ]
    docs = spark.createDataFrame(hot + pair, "doc_id long, text string")
    unbounded = {
        (r.doc_a, r.doc_b)
        for r in simhash_near_dup_pairs(docs).collect()
    }
    hot_pairs = {(a, b) for a in range(6) for b in range(a + 1, 6)}
    assert hot_pairs <= unbounded and (10, 11) in unbounded
    capped = {
        (r.doc_a, r.doc_b)
        for r in simhash_near_dup_pairs(docs, max_bucket_size=5).collect()
    }
    assert capped == unbounded - hot_pairs
    assert (10, 11) in capped


def test_simhash_banding_exact_recall_any_threshold(spark):
    """Banding derives from max_hamming (h+1 bands): for every supported
    threshold, the banded pipeline must find EXACTLY the pairs brute-force
    Hamming comparison finds — the pigeonhole guarantee, now threshold-
    parametric instead of hard-coded to h=3."""
    import itertools

    import pytest as _pytest

    from kafka_streams_one_to_many_join_spark.functions.dedup import (
        simhash_buckets,
        simhash_near_dup_pairs,
    )

    docs = _docs(spark)
    sigs = {r.doc_id: r.simhash for r in simhash_buckets(docs).collect()}
    for h in (0, 2, 4, 6):
        want = {
            (a, b): bin(sigs[a] ^ sigs[b]).count("1")
            for a, b in itertools.combinations(sorted(sigs), 2)
            if bin(sigs[a] ^ sigs[b]).count("1") <= h
        }
        got = {
            (r.doc_a, r.doc_b): r.hamming
            for r in simhash_near_dup_pairs(docs, max_hamming=h).collect()
        }
        assert got == want, f"h={h}: {got} != {want}"
    with _pytest.raises(ValueError):
        simhash_near_dup_pairs(docs, max_hamming=7)  # 8 bands < 8 bits each


def test_simhash_clusters_match_pairs_plus_cc(spark, sf_dir):
    """simhash_near_dup_clusters is EXACT for the threshold: its output
    must equal connected components over the materialized pair relation
    (near_dup_clusters ∘ simhash_near_dup_pairs) — on the real sf corpus
    AND on a hand-built chain that only becomes one cluster through
    transitive hops (the case a bucket-collapse shortcut would split)."""
    from kafka_streams_one_to_many_join_spark.functions.dedup import (
        near_dup_clusters,
        simhash_near_dup_clusters,
        simhash_near_dup_pairs,
    )
    from kafka_streams_one_to_many_join_spark.model import load_table

    docs = load_table(spark, sf_dir, "documents")
    want = sorted(
        tuple(r) for r in near_dup_clusters(simhash_near_dup_pairs(docs)).collect()
    )
    got = sorted(tuple(r) for r in simhash_near_dup_clusters(docs).collect())
    assert got == want and len(got) > 0

    # transitive chain: consecutive sentences near each other, endpoints
    # far apart — the cluster must still be ONE component, and the
    # singleton (99) must be absent
    base = "the quick brown fox jumps over the lazy dog again and again today"
    chain = [
        (1, base),
        (2, base + " extra"),
        (3, base + " extra more"),
        (4, base + " extra more words"),
        (99, "completely unrelated text about database query optimizers"),
    ]
    cdocs = spark.createDataFrame(chain, "doc_id long, text string")
    cwant = sorted(
        tuple(r)
        for r in near_dup_clusters(
            simhash_near_dup_pairs(cdocs, max_hamming=6), max_iter=25
        ).collect()
    )
    cgot = sorted(
        tuple(r)
        for r in simhash_near_dup_clusters(cdocs, max_hamming=6).collect()
    )
    assert cgot == cwant
    assert all(doc_id != 99 for doc_id, _ in cgot)


def test_dedup_functions_on_empty_docs(spark):
    from kafka_streams_one_to_many_join_spark.functions.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        simhash_near_dup_clusters,
        simhash_near_dup_pairs,
    )

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert ngram_jaccard_pairs(empty).count() == 0
    assert minhash_lsh_pairs(empty).count() == 0
    assert simhash_near_dup_pairs(empty).count() == 0
    assert simhash_near_dup_clusters(empty).count() == 0


def test_deterministic_sampling_stability(spark):
    from kafka_streams_one_to_many_join_spark.functions.sampling import (
        deterministic_sample,
        train_val_split,
    )

    df = spark.createDataFrame([(i,) for i in range(2000)], "doc_id long")
    s1 = {r.doc_id for r in deterministic_sample(df, "doc_id", 0.1).collect()}
    s2 = {r.doc_id for r in deterministic_sample(df.repartition(7), "doc_id", 0.1).collect()}
    assert s1 == s2                      # partitioning-invariant
    assert 100 <= len(s1) <= 320         # ≈10% of 2000
    # growing the corpus never moves existing rows between splits
    small = train_val_split(df.filter(F.col("doc_id") < 1000), "doc_id")
    big = train_val_split(df, "doc_id")
    small_map = {r.doc_id: r.split for r in small.collect()}
    big_map = {r.doc_id: r.split for r in big.collect()}
    assert all(big_map[k] == v for k, v in small_map.items())
    vals = sum(1 for v in big_map.values() if v == "val")
    assert 100 <= vals <= 320


def test_near_dup_clusters_multi_hop(spark):
    """Transitive closure: a chain a-b, b-c, c-d must collapse into ONE
    cluster labeled with the minimum id, across multiple propagation
    rounds (diameter 3 > 1 round); disjoint components stay separate."""
    from kafka_streams_one_to_many_join_spark.functions.dedup import (
        near_dup_clusters,
    )

    pairs = spark.createDataFrame(
        [(2, 5), (5, 9), (9, 11), (20, 21), (30, 21)],
        "doc_a long, doc_b long",
    )
    got = {
        r.doc_id: r.cluster_id for r in near_dup_clusters(pairs).collect()
    }
    assert got == {2: 2, 5: 2, 9: 2, 11: 2, 20: 20, 21: 20, 30: 20}


def test_materialize_reliable_checkpoint_opt_in(spark, tmp_path):
    """The spark.graft.checkpointDir knob switches every materialize
    site (iterative CC, packing, ann_recall) from executor-local
    localCheckpoint to reliable DataFrame.checkpoint: identical results,
    and the checkpoint blocks actually land in the directory — the
    cluster-scale escape hatch for executor loss (r09 VERDICT item 4)."""
    import os

    from kafka_streams_one_to_many_join_spark.functions.dedup import (
        near_dup_clusters,
    )

    pairs = spark.createDataFrame(
        [(2, 5), (5, 9), (9, 11), (20, 21), (30, 21)],
        "doc_a long, doc_b long",
    )
    expected = {2: 2, 5: 2, 9: 2, 11: 2, 20: 20, 21: 20, 30: 20}
    ckpt = str(tmp_path / "reliable_ckpt")
    spark.conf.set("spark.graft.checkpointDir", ckpt)
    try:
        got = {
            r.doc_id: r.cluster_id for r in near_dup_clusters(pairs).collect()
        }
    finally:
        spark.conf.unset("spark.graft.checkpointDir")
    assert got == expected
    # reliable blocks really were written (rdd-*/part files under the dir)
    written = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(ckpt)
        for f in fs
        if f.startswith("part-")
    ]
    assert written, "no checkpoint blocks written to spark.graft.checkpointDir"
    # and the default path (knob unset) still localCheckpoints
    got_local = {
        r.doc_id: r.cluster_id for r in near_dup_clusters(pairs).collect()
    }
    assert got_local == expected


def test_near_dup_clusters_empty(spark):
    from kafka_streams_one_to_many_join_spark.functions.dedup import (
        near_dup_clusters,
    )

    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    assert near_dup_clusters(empty).count() == 0


def test_stratified_sample_quota_and_stability(spark):
    from kafka_streams_one_to_many_join_spark.functions.sampling import (
        stratified_sample,
    )

    emb = _emb(spark, n=60)  # labels 0/1/2, 20 each
    out = stratified_sample(emb, ["label"], "vec_id", per_stratum=5)
    rows = out.collect()
    per = {}
    for r in rows:
        per.setdefault(r.label, set()).add(r.vec_id)
    assert all(len(v) == 5 for v in per.values()) and len(per) == 3
    # deterministic: same membership on re-run and after repartitioning
    again = {
        (r.label, r.vec_id)
        for r in stratified_sample(
            emb.repartition(7), ["label"], "vec_id", per_stratum=5
        ).collect()
    }
    assert again == {(r.label, r.vec_id) for r in rows}
    # growth stability: ONE added row (vec_id 60, label 0) displaces at
    # most one member of its own stratum and touches no other stratum
    grown = _emb(spark, n=61)
    grown_per = {}
    for r in stratified_sample(grown, ["label"], "vec_id", per_stratum=5).collect():
        grown_per.setdefault(r.label, set()).add(r.vec_id)
    assert grown_per[1] == per[1] and grown_per[2] == per[2]
    assert len(per[0] & grown_per[0]) >= 4


def test_gopher_quality_signals(spark):
    from kafka_streams_one_to_many_join_spark.functions.text import (
        gopher_quality,
    )

    docs = spark.createDataFrame(
        [
            # 6 words, 'the' thrice → top ratio 0.5, distinct 4/6
            (1, "the cat the dog the bird"),
            # repetitive single word
            (2, "spam spam spam spam"),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in gopher_quality(docs, min_words=2).collect()}
    r1 = out[1]
    assert r1.n_words == 6 and r1.top_word_ratio == 0.5
    assert r1.distinct_ratio == round(4 / 6, 6) and r1.n_stopwords == 3
    r2 = out[2]
    assert r2.top_word_ratio == 1.0 and not r2.keep  # repetition filter
    r3 = out[3]
    assert r3.n_words == 0 and not r3.keep  # empty doc present, rejected


def test_contamination_pairs_finds_shared_ngrams(spark):
    from kafka_streams_one_to_many_join_spark.functions.dedup import (
        contamination_pairs,
    )

    train = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon unrelated tail"),
            (2, "nothing in common with the benchmark at all"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "prefix alpha beta gamma delta epsilon suffix")],
        "doc_id long, text string",
    )
    got = {
        (r.train_id, r.bench_id): r.n_common
        for r in contamination_pairs(train, bench, n=4).collect()
    }
    # doc 1 shares the 4-grams "alpha beta gamma delta" and
    # "beta gamma delta epsilon" with the benchmark doc; doc 2 shares none
    assert got == {(1, 100): 2}


def test_ivf_topk_probe_all_is_exact(spark):
    from kafka_streams_one_to_many_join_spark.functions.similarity import (
        ivf_topk,
        seeded_centroids,
    )

    emb = _emb(spark, n=40)
    queries = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = seeded_centroids(4, 8, seed=23)
    # probing every cell degenerates to exact search
    full = ivf_topk(emb, queries, cents, nprobe=4, k=5).orderBy(
        "query_id", "rank"
    ).collect()
    exact = brute_force_topk(emb, queries, k=5).orderBy(
        "query_id", "rank"
    ).collect()
    assert [(r.query_id, r.vec_id, r.sim) for r in full] == [
        (r.query_id, r.vec_id, r.sim) for r in exact
    ]
    # partial probe: every neighbor is a real vector with its exact sim
    part = ivf_topk(emb, queries, cents, nprobe=1, k=5).collect()
    exact_all = {
        (r.query_id, r.vec_id): r.sim
        for r in brute_force_topk(emb, queries, k=40).collect()
    }
    for r in part:
        assert exact_all[(r.query_id, r.vec_id)] == r.sim


def test_near_dup_clusters_matches_union_find_on_random_graphs(spark):
    """Property check: on seeded random pair graphs (including long
    chains, stars, and disjoint unions), the distributed min-label
    propagation must produce exactly the components a reference
    union-find computes."""
    from kafka_streams_one_to_many_join_spark.functions.dedup import (
        near_dup_clusters,
    )

    rng = np.random.RandomState(42)
    for trial in range(3):
        n_nodes = [30, 80, 150][trial]
        n_edges = [15, 60, 100][trial]
        edges = [
            (int(a), int(b))
            for a, b in rng.randint(0, n_nodes, size=(n_edges, 2))
            if a != b
        ]
        # force a long chain so convergence needs several rounds
        chain = list(range(n_nodes, n_nodes + 12))
        edges += list(zip(chain, chain[1:]))

        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {x: find(x) for x in parent}

        got = {
            r.doc_id: r.cluster_id
            for r in near_dup_clusters(
                spark.createDataFrame(edges, "doc_a long, doc_b long")
            ).collect()
        }
        assert got == want, f"trial {trial}"


def test_hll_error_bound_across_cardinalities():
    """Sketch quality property: the deterministic HLL (m=256, expected
    relative error ~1.04/sqrt(m) ≈ 6.5%) must estimate seeded random
    cardinalities within 4 sigma at every scale, including the
    linear-counting small range."""
    import numpy as np

    from kafka_streams_one_to_many_join_spark.streaming.sketch import (
        hll_estimate,
        hll_register,
    )

    rng = np.random.default_rng(11)
    for n in [40, 200, 1_000, 5_000, 20_000]:
        vals = rng.integers(0, 2**60, size=n)
        regs = [0] * 256
        for v in set(vals.tolist()):
            b, rho = hll_register(v)
            regs[b] = max(regs[b], rho)
        est = hll_estimate(regs)
        true = len(set(vals.tolist()))
        assert abs(est - true) / true < 4 * 1.04 / 16, (n, est, true)


def test_hll_incremental_merge_equals_oneshot():
    """Register max-merge is order/split invariant — the property that
    makes the streaming sketch equal the batch sketch."""
    import numpy as np

    from kafka_streams_one_to_many_join_spark.streaming.sketch import (
        hll_estimate,
        hll_register,
    )

    rng = np.random.default_rng(13)
    vals = rng.integers(0, 2**50, size=3_000).tolist()
    oneshot = [0] * 256
    for v in vals:
        b, rho = hll_register(v)
        oneshot[b] = max(oneshot[b], rho)
    merged = [0] * 256
    for chunk in (vals[:1000], vals[2000:], vals[1000:2000]):  # out of order
        for v in chunk:
            b, rho = hll_register(v)
            merged[b] = max(merged[b], rho)
    assert merged == oneshot
    assert hll_estimate(merged) == hll_estimate(oneshot)


def test_weighted_sample_prefers_heavy_items():
    """A-ES property: with weights 10 vs 1, the top-100 of 1000 items is
    dominated by heavy items (expected heavy fraction >> population's
    50%), while remaining fully deterministic (pure function of ids)."""
    import hashlib
    import math

    def key(item_id: int, w: float) -> float:
        h = int(hashlib.md5(str(item_id).encode()).hexdigest()[:12], 16)
        u = (h + 1) / 281474976710656.0
        return math.log(u) / w

    items = [(i, 10.0 if i % 2 == 0 else 1.0) for i in range(1000)]
    top = sorted(items, key=lambda t: -key(*t))[:100]
    heavy = sum(1 for i, w in top if w == 10.0)
    assert heavy >= 80, heavy
    # determinism: recomputation yields the identical sample
    again = sorted(items, key=lambda t: -key(*t))[:100]
    assert top == again


def test_pack_sequences_hand_computed(spark):
    """Concat-and-chunk semantics on a hand-checkable stream: budget 10,
    token counts [4,5,3,12,2,9] → starts [0,4,9,12,24,26] → seqs
    [1,1,1,2,3,3].  Doc 3 (12 tokens, longer than the budget) keeps its
    start chunk and pushes doc 4 to seq 3.  bucket_size=2 forces the
    multi-bucket distributed-prefix-sum path."""
    from kafka_streams_one_to_many_join_spark.functions.packing import (
        pack_sequences,
        pack_stats,
    )

    rows = [(i, " ".join(["tok"] * n)) for i, n in enumerate([4, 5, 3, 12, 2, 9])]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = [
        (r.doc_id, r.n_tokens, r.start_offset, r.seq_id)
        for r in pack_sequences(df, budget=10, bucket_size=2)
        .orderBy("doc_id")
        .collect()
    ]
    assert out == [
        (0, 4, 0, 1), (1, 5, 4, 1), (2, 3, 9, 1),
        (3, 12, 12, 2), (4, 2, 24, 3), (5, 9, 26, 3),
    ]
    stats = {
        r.seq_id: (r.n_docs, r.seq_tokens, r.first_doc, r.last_doc)
        for r in pack_stats(df, budget=10, bucket_size=2).collect()
    }
    assert stats == {1: (3, 12, 0, 2), 2: (1, 12, 3, 3), 3: (2, 11, 4, 5)}


def test_pack_sequences_bucket_size_invariance(spark):
    """The packing is a pure function of (order, token counts, budget) —
    the bucket fan-out is physical only, so any bucket_size must produce
    the identical assignment."""
    from kafka_streams_one_to_many_join_spark.functions.packing import (
        pack_sequences,
    )

    rows = [(i * 7 % 97, "w " * (i % 13)) for i in range(97)]  # gappy ids
    df = spark.createDataFrame(rows, "doc_id long, text string")
    ref = sorted(
        (r.doc_id, r.seq_id)
        for r in pack_sequences(df, budget=20, bucket_size=10_000).collect()
    )
    for bs in (1, 7, 16):
        got = sorted(
            (r.doc_id, r.seq_id)
            for r in pack_sequences(df, budget=20, bucket_size=bs).collect()
        )
        assert got == ref, bs


def test_quantile_sketch_merge_and_error_bound():
    """Histogram merge is order-independent, and the read-off is within
    one bin width of the exact quantile for in-range data."""
    import numpy as np

    from kafka_streams_one_to_many_join_spark.streaming.sketch import (
        _Q_BINS,
        _Q_WIDTH,
        quantile_bin,
        quantile_estimate,
    )

    rng = np.random.default_rng(7)
    vals = rng.integers(0, _Q_BINS * _Q_WIDTH, size=5_000).tolist()
    oneshot = [0] * _Q_BINS
    for v in vals:
        oneshot[quantile_bin(v)] += 1
    merged = [0] * _Q_BINS
    for chunk in (vals[3000:], vals[:1000], vals[1000:3000]):  # out of order
        for v in chunk:
            merged[quantile_bin(v)] += 1
    assert merged == oneshot
    for q in (0.1, 0.25, 0.5, 0.9, 0.99):
        est = quantile_estimate(oneshot, q)
        exact = float(np.quantile(np.array(vals), q))
        assert abs(est - exact) <= _Q_WIDTH, (q, est, exact)
    assert quantile_estimate([0] * _Q_BINS, 0.5) is None


def test_token_chunks_hand_computed(spark):
    """Budget 5 / stride 3 on hand-checkable docs: 12 tokens -> starts
    0,3,6,9 (ceil((12-5)/3)+1 = 4 chunks, last short); 4 tokens -> one
    chunk; empty text -> one empty chunk (every doc appears)."""
    from kafka_streams_one_to_many_join_spark.functions.packing import (
        token_chunks,
    )

    toks12 = [f"t{i}" for i in range(12)]
    rows = [(0, " ".join(toks12)), (1, "a b c d"), (2, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r.doc_id, r.chunk_no): (r.n_chunk_tokens, r.chunk_md5)
        for r in token_chunks(df, budget=5, stride=3).collect()
    }
    assert sorted(out) == [(0, 0), (0, 1), (0, 2), (0, 3), (1, 0), (2, 0)]
    import hashlib

    def h(ts):
        return hashlib.md5(" ".join(ts).encode()).hexdigest()

    assert out[(0, 0)] == (5, h(toks12[0:5]))
    assert out[(0, 1)] == (5, h(toks12[3:8]))
    assert out[(0, 3)] == (3, h(toks12[9:12]))  # truncated tail window
    assert out[(1, 0)] == (4, h(["a", "b", "c", "d"]))
    assert out[(2, 0)] == (0, h([]))


def test_packing_efficiency_ordering_and_exactness(spark):
    """On any corpus: concat-and-chunk wastes least (only the final
    sequence pads), the FFD surrogate is in between, and pad-each-doc is
    the upper bound.  Hand-check the concat row exactly."""
    from kafka_streams_one_to_many_join_spark.functions.packing import (
        packing_efficiency,
    )

    counts = [4, 5, 3, 12, 2, 9, 7, 7, 1, 10]  # total 60
    rows = [(i, " ".join(["tok"] * n)) for i, n in enumerate(counts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.strategy: (r.n_seqs, r.pad_frac) for r in packing_efficiency(df, budget=10).collect()}
    assert out["concat_chunk"] == (6, 0.0)  # 60 tokens fill 6x10 exactly
    assert out["pad_each_doc"][0] == sum((n + 9) // 10 for n in counts)
    assert (
        out["concat_chunk"][1]
        <= out["sorted_prefix"][1]
        <= out["pad_each_doc"][1]
    )


def test_bloom_filter_no_false_negatives_and_low_fp(spark):
    """Every inserted key must probe positive (the property that makes
    Bloom join-pruning safe); non-members mostly probe negative at this
    fill level; duplicate inserts change nothing (bit_or idempotence)."""
    from kafka_streams_one_to_many_join_spark.functions.bloom import (
        bloom_build,
        bloom_probe,
    )

    members = spark.createDataFrame([(i,) for i in range(200)], "k long")
    dupes = members.unionAll(members)
    bloom = bloom_build(members, "k", m=2048, k=3)
    bloom_dup = bloom_build(dupes, "k", m=2048, k=3)
    assert sorted(map(tuple, bloom.collect())) == sorted(
        map(tuple, bloom_dup.collect())
    )

    probe = spark.createDataFrame([(i,) for i in range(400)], "k long")
    res = {r.k: r.maybe_present for r in bloom_probe(probe, "k", bloom, m=2048, k=3).collect()}
    assert all(res[i] for i in range(200)), "false negative!"
    fp = sum(1 for i in range(200, 400) if res[i])
    assert fp < 60, f"implausible false-positive count {fp} at ~14% fill"


def test_hash_mode_xxhash64_contracts(spark):
    """The opt-in engine-native hash mode (functions.hashing) preserves
    every probabilistic contract the md5 default guarantees — Bloom zero
    false negatives, CMS point-query upper bound, MinHash finding exact
    duplicates at jaccard 1.0 — while producing a different (equally
    uniform) bucket assignment.  The default mode stays md5 everywhere
    (oracle parity), pinned by the unchanged parity suite."""
    import pytest as _pytest

    from kafka_streams_one_to_many_join_spark.functions.bloom import (
        bloom_build,
        bloom_probe,
    )
    from kafka_streams_one_to_many_join_spark.functions.dedup import (
        minhash_lsh_pairs,
    )
    from kafka_streams_one_to_many_join_spark.functions.hashing import (
        prefix_hash32,
    )

    with _pytest.raises(ValueError):
        prefix_hash32("x", "sha9000")

    # hash values land in the 32-bit domain and differ from md5's
    vals = spark.sql(
        f"SELECT {prefix_hash32('x', 'xxhash64')} AS xx, "
        f"{prefix_hash32('x', 'md5')} AS m5 "
        "FROM (SELECT cast(id as string) AS x FROM range(100))"
    ).collect()
    assert all(0 <= r.xx < 2**32 and 0 <= r.m5 < 2**32 for r in vals)
    assert any(r.xx != r.m5 for r in vals)

    # Bloom: zero false negatives under the fast hash too
    members = spark.createDataFrame([(i,) for i in range(200)], "k long")
    bloom = bloom_build(members, "k", m=2048, k=3, hash_mode="xxhash64")
    probe = spark.createDataFrame([(i,) for i in range(400)], "k long")
    res = {
        r.k: r.maybe_present
        for r in bloom_probe(
            probe, "k", bloom, m=2048, k=3, hash_mode="xxhash64"
        ).collect()
    }
    assert all(res[i] for i in range(200)), "false negative under xxhash64!"
    assert sum(1 for i in range(200, 400) if res[i]) < 60

    # MinHash: an exact duplicate pair is found at jaccard 1.0 in BOTH
    # modes (unbiasedness is hash-family-independent)
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta theta"),
            (3, "one two three four five six seven eight nine"),
        ],
        "doc_id long, text string",
    )
    for mode in ("md5", "xxhash64"):
        pairs = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in minhash_lsh_pairs(
                docs, threshold=0.5, hash_mode=mode
            ).collect()
        }
        assert pairs.get((1, 2)) == 1.0, (mode, pairs)
        assert (1, 3) not in pairs and (2, 3) not in pairs

    # CMS: upper-bound contract holds under the fast hash
    import __spark_entry__ as entry_mod

    rows = entry_mod.q_cms_token_counts(
        spark, "/root/testdata/sf0.001", hash_mode="xxhash64"
    ).collect()
    assert rows and all(r.cms_est >= r.exact_n for r in rows)

    # n-gram Jaccard: recall-1.0 candidate generation is hash-family-
    # independent up to 2^-32 collisions — the exact-dup pair scores 1.0
    # and the disjoint doc pairs with nothing in BOTH modes
    for mode in ("md5", "xxhash64"):
        pairs = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in ngram_jaccard_pairs(
                docs, n=3, threshold=0.5, max_shingle_freq=UNBOUNDED_SHINGLE_FREQ,
                hash_mode=mode,
            ).collect()
        }
        assert pairs.get((1, 2)) == 1.0, (mode, pairs)
        assert (1, 3) not in pairs and (2, 3) not in pairs


def test_bloom_masks_stay_in_32_bit_words(spark):
    """The layout never shifts into the sign bit: every stored word is a
    non-negative BIGINT < 2^32, so the identical arithmetic is portable
    to engines without unsigned 64-bit types."""
    from kafka_streams_one_to_many_join_spark.functions.bloom import bloom_build

    keys = spark.createDataFrame([(f"key-{i}",) for i in range(500)], "k string")
    rows = bloom_build(keys, "k", m=256, k=4).collect()
    assert rows, "empty filter"
    for r in rows:
        assert 0 <= r.word < 256 // 32
        assert 0 <= r.bits < 2**32


def test_ivf_recall_monotone_in_nprobe(spark):
    """Probing more cells can only add candidates, so recall@k against
    the exact baseline must be non-decreasing in nprobe — and at nprobe
    = nlist (scan everything) the result IS the exact top-k."""
    from kafka_streams_one_to_many_join_spark.functions.similarity import (
        brute_force_topk,
        ivf_topk,
        seeded_centroids,
    )

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = seeded_centroids(16, 64, 23)
    exact = {
        (r.query_id, r.vec_id)
        for r in brute_force_topk(emb, queries, k=10).collect()
    }
    recalls = []
    for nprobe in (1, 3, 16):
        approx = {
            (r.query_id, r.vec_id)
            for r in ivf_topk(emb, queries, cents, nprobe=nprobe, k=10).collect()
        }
        recalls.append(len(approx & exact) / len(exact))
    assert recalls == sorted(recalls), recalls
    assert recalls[-1] == 1.0, recalls  # nprobe = nlist degenerates to exact


def test_lsh_recall_monotone_in_probe_hamming(spark):
    """Multi-probe candidates are supersets as probe Hamming distance
    grows (bucket sets nest), so recall@k is non-decreasing in
    probe_hamming."""
    from kafka_streams_one_to_many_join_spark.functions.similarity import (
        brute_force_topk,
        lsh_topk,
        seeded_planes,
    )

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    planes = seeded_planes(8, 64, 7)
    exact = {
        (r.query_id, r.vec_id)
        for r in brute_force_topk(emb, queries, k=10).collect()
    }
    recalls = []
    for ph in (0, 1, 2, 3):
        approx = {
            (r.query_id, r.vec_id)
            for r in lsh_topk(emb, queries, planes, k=10, probe_hamming=ph).collect()
        }
        recalls.append(len(approx & exact) / len(exact))
    assert recalls == sorted(recalls), recalls
    assert recalls[-1] > recalls[0], recalls  # the upgrade actually helps


def test_bpe_pair_counts_hand_computed(spark):
    """Standard BPE counting on a hand-checkable corpus: overlapping
    pairs each count ("aaa" → (a,a) twice per occurrence), pair totals
    weight by word frequency, single-char words contribute nothing, and
    the rank order is (count desc, pair asc)."""
    from kafka_streams_one_to_many_join_spark.functions.text import (
        bpe_pair_counts,
    )

    docs = spark.createDataFrame(
        [(1, "aaa ab a"), (2, "aaa ba"), (3, "a a a")],
        "doc_id int, text string",
    )
    rows = {
        (r.left_sym, r.right_sym): (r.pair_count, r.n_words, r.merge_rank)
        for r in bpe_pair_counts(docs).collect()
    }
    # "aaa" occurs twice → (a,a) = 2 occurrences × 2 positions = 4
    assert rows[("a", "a")] == (4, 1, 1)
    # "ab" once, "ba" once; tie broken lexicographically
    assert rows[("a", "b")] == (1, 1, 2)
    assert rows[("b", "a")] == (1, 1, 3)
    assert len(rows) == 3  # bare "a" words never reach the pair stage


def test_hashed_quality_score_edges(spark):
    """Empty documents keep their row at the sigmoid midpoint; token
    weights are exact integer sums (identical regardless of execution
    order); deciles stay clamped to 0..9."""
    from kafka_streams_one_to_many_join_spark.functions.text import (
        hashed_quality_score,
    )

    docs = spark.createDataFrame(
        [(1, "hello world"), (2, "...!!!"), (3, "hello hello")],
        "doc_id int, text string",
    )
    out = {r.doc_id: r for r in hashed_quality_score(docs).collect()}
    assert out[2].n_tokens == 0 and out[2].w_sum == 0
    assert out[2].score == 0.5 and out[2].decile == 5
    # doc 3 = the same token twice → w_sum exactly 2x the single weight
    assert out[3].w_sum % 2 == 0 and out[3].n_tokens == 2
    single = out[3].w_sum // 2
    assert 0 <= single < 2**32
    # doc 1 sums the two tokens' independent weights
    assert out[1].n_tokens == 2
    for r in out.values():
        assert 0 <= r.decile <= 9
        assert 0.0 < r.score < 1.0 or r.score == 0.5


def test_gopher_quality_empty_doc_oracle_parity(spark, tmp_path):
    """Token-free documents keep a row on BOTH engines (Spark via
    explode_outer, the oracle via LEFT JOIN from documents): zeroed
    signals, NULL entropy, keep=false — pinned here because the shipped
    fixtures contain no empty text, so the driver's parity gate never
    exercises this branch (the quantile-null lesson, ADVICE r06)."""
    import duckdb

    import __spark_entry__ as entry_mod

    rows = [
        (1, "the quick brown fox and the dog of it", "en", 10, "s1"),
        (2, "", "en", 0, "s1"),
        (3, "...!!!", "en", 6, "s2"),
    ]
    pdf = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "n_chars", "source"]
    )
    pdf.to_parquet(f"{tmp_path}/documents.parquet")
    a = (
        entry_mod.queries()["gopher_quality"](spark, str(tmp_path))
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'"
    )
    b = (
        con.execute(entry_mod.oracle_sql()["gopher_quality"])
        .fetchdf()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    a, b = a[sorted(a.columns)], b[sorted(b.columns)]
    pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
    empty = a[a.doc_id != 1]
    assert (empty.n_words == 0).all() and (~empty.keep).all()
    assert empty.entropy.isna().all()
