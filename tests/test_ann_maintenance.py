"""Persisted + maintained ANN index (r16, VERDICT r15 item 1 — the third
leg of the maintenance trilogy: band index r14, segment state r15,
vectors now).

``lsh_topk``/``ivf_topk`` rebuild their bucket/cell structure inside
every query; ``ann_lsh_index``/``ann_ivf_index`` persist it (full
geometry stamped in column metadata), ``ann_index_apply`` maintains it
under upserts/deletes with broadcast retraction and delete-wins
precedence, and ``ann_topk_indexed`` probes it without re-signing any
corpus vector.

Claims proven here:

1. the maintained index is row-equal to a rebuild on the corrected
   corpus, and probes over it equal the in-flight operators on the
   corrected corpus — BOTH directions (an upsert MOVES a vector to a
   new bucket; a delete makes a former top-1 neighbor vanish);
2. an id in both upserts and delete_ids ends DELETED;
3. the stamp survives a parquet round trip and geometry resolution
   refuses pre-stamp defaults / mismatched explicit geometry;
4. maintenance and probe are scan-only on the index (no SortMergeJoin,
   no full-outer, no state-sized exchange on any executed plan);
5. ``ann_indexes``' one pinned pass equals the two single builders, and
   a probe derives a query's norm and bucket from its embedding, never
   from index columns the query rows carry.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_streams_one_to_many_join_spark.functions.similarity import (
    ann_index_apply,
    ann_indexes,
    ann_ivf_index,
    ann_lsh_index,
    ann_topk_indexed,
    ivf_topk,
    lsh_topk,
    seeded_centroids,
    seeded_planes,
)
from kafka_streams_one_to_many_join_spark.model import load_table

DIM = 64
PLANES = seeded_planes(8, DIM, 7)
CENTROIDS = seeded_centroids(16, DIM, 23)


def _corpus(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def _corrected(emb):
    """The nightly change applied corpus-side: %7==3 vectors corrected
    (reversed — moves their bucket/cell), %11==5 deleted; delete wins
    on the overlap (ids ≡ 38 mod 77)."""
    return emb.filter(F.col("vec_id") % 11 != 5).withColumn(
        "embedding",
        F.when(
            F.col("vec_id") % 7 == 3, F.reverse("embedding")
        ).otherwise(F.col("embedding")),
    )


def _changes(emb):
    upserts = emb.filter(F.col("vec_id") % 7 == 3).withColumn(
        "embedding", F.reverse("embedding")
    )
    deletes = emb.filter(F.col("vec_id") % 11 == 5).select("vec_id")
    return upserts, deletes


def _index_rows(idx):
    col = "bucket" if "bucket" in idx.columns else "cell"
    return sorted(
        (r.vec_id, round(r.norm, 9), r[col], tuple(r.embedding))
        for r in idx.collect()
    )


def _probe_rows(df):
    return sorted(
        (r.query_id, r.vec_id, r.sim, r.rank) for r in df.collect()
    )


def _queries_of(df):
    return df.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def test_ann_lsh_index_apply_differential(spark, sf_dir):
    """Maintained LSH index == rebuild on the corrected corpus, and the
    probe over it == lsh_topk on the corrected corpus, pair-for-pair —
    while the STALE index provably answers differently (the
    counterexample that justifies the operator)."""
    emb = _corpus(spark, sf_dir)
    index = ann_lsh_index(emb, PLANES)
    upserts, deletes = _changes(emb)
    maintained = ann_index_apply(index, upserts=upserts, delete_ids=deletes)
    corrected = _corrected(emb)
    rebuilt = ann_lsh_index(corrected, PLANES)
    assert _index_rows(maintained) == _index_rows(rebuilt)
    queries = _queries_of(corrected)
    got = _probe_rows(ann_topk_indexed(maintained, queries, k=10, probe_hamming=2))
    # lsh_topk does not enforce full width itself (its q_ wrapper does);
    # the index bakes the policy in, so mirror it corpus-side here
    full = corrected.filter(F.size("embedding") == DIM)
    expected = _probe_rows(
        lsh_topk(full, queries, PLANES, k=10, probe_hamming=2)
    )
    assert got == expected and got
    stale = _probe_rows(ann_topk_indexed(index, queries, k=10, probe_hamming=2))
    assert stale != got, "fixture must exercise retraction/correction"


def test_ann_ivf_index_apply_differential(spark, sf_dir):
    """IVF face of the same differential."""
    emb = _corpus(spark, sf_dir)
    index = ann_ivf_index(emb, CENTROIDS)
    upserts, deletes = _changes(emb)
    maintained = ann_index_apply(index, upserts=upserts, delete_ids=deletes)
    corrected = _corrected(emb)
    assert _index_rows(maintained) == _index_rows(
        ann_ivf_index(corrected, CENTROIDS)
    )
    queries = _queries_of(corrected)
    got = _probe_rows(ann_topk_indexed(maintained, queries, k=10, nprobe=3))
    expected = _probe_rows(
        ivf_topk(corrected, queries, CENTROIDS, nprobe=3, k=10)
    )
    assert got == expected and got


def test_ann_delete_removes_former_neighbor(spark):
    """The decrease direction, minimally: vector 2 is vector 1's only
    near neighbor; deleting 2 must remove it from 1's top-k (the
    grow-only/stale index keeps returning it)."""
    base = [0.0] * DIM
    v1 = list(base)
    v1[0] = 1.0
    v2 = list(base)
    v2[0] = 0.9
    v2[1] = 0.1
    v3 = list(base)
    v3[2] = 1.0
    emb = spark.createDataFrame(
        [(1, v1), (2, v2), (3, v3)], "vec_id bigint, embedding array<double>"
    )
    index = ann_lsh_index(emb, PLANES)
    q = emb.filter("vec_id = 1").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    before = {
        r.vec_id
        for r in ann_topk_indexed(index, q, k=1, probe_hamming=3).collect()
    }
    assert before == {2}
    maintained = ann_index_apply(
        index, delete_ids=spark.createDataFrame([(2,)], "vec_id bigint")
    )
    after = {
        r.vec_id
        for r in ann_topk_indexed(maintained, q, k=1, probe_hamming=3).collect()
    }
    assert 2 not in after


def test_ann_index_apply_delete_wins_over_upsert(spark):
    """A vector corrected AND deleted in the same nightly feed ends
    DELETED — its fresh row must not be re-inserted."""
    emb = spark.createDataFrame(
        [(1, [1.0] * DIM), (2, [0.5] * DIM)],
        "vec_id bigint, embedding array<double>",
    )
    index = ann_lsh_index(emb, PLANES)
    upserts = spark.createDataFrame(
        [(2, [0.25] * DIM)], "vec_id bigint, embedding array<double>"
    )
    deletes = spark.createDataFrame([(2,)], "vec_id bigint")
    maintained = ann_index_apply(index, upserts=upserts, delete_ids=deletes)
    assert {r.vec_id for r in maintained.collect()} == {1}


def test_ann_index_apply_delete_ids_contract(spark):
    """delete_ids must be one column or carry vec_id (the band/segment
    contract applied from birth)."""
    emb = spark.createDataFrame(
        [(1, [1.0] * DIM)], "vec_id bigint, embedding array<double>"
    )
    index = ann_lsh_index(emb, PLANES)
    with pytest.raises(ValueError, match="delete_ids"):
        ann_index_apply(
            index,
            delete_ids=spark.createDataFrame(
                [(9, 1)], "other_id bigint, something int"
            ),
        )
    out = ann_index_apply(
        index,
        delete_ids=spark.createDataFrame([("x", 1)], "text string, vec_id bigint"),
    )
    assert out.count() == 0


def test_ann_index_stamp_survives_parquet(spark, sf_dir, tmp_path):
    """The full geometry round-trips through parquet in column
    metadata, so a reloaded index maintains and probes with NOTHING
    re-passed — and yields the identical result."""
    emb = _corpus(spark, sf_dir).limit(200)
    path = str(tmp_path / "annidx")
    ann_lsh_index(emb, PLANES).write.mode("overwrite").parquet(path)
    reloaded = spark.read.parquet(path)
    meta = dict(reloaded.schema["bucket"].metadata or {})
    assert meta.get("method") == "hyperplane_lsh"
    assert [float(x) for x in meta["geometry_flat"]] == [
        float(x) for p in PLANES for x in p
    ]
    q = _queries_of(emb)
    got = _probe_rows(ann_topk_indexed(reloaded, q, k=5, probe_hamming=2))
    expected = _probe_rows(
        ann_topk_indexed(ann_lsh_index(emb, PLANES), q, k=5, probe_hamming=2)
    )
    assert got == expected
    # maintenance on the reloaded index needs no geometry either
    out = ann_index_apply(
        out_index := reloaded,
        delete_ids=emb.limit(1).select("vec_id"),
    )
    assert out.count() == out_index.count() - 1


def test_ann_index_prestamp_refuses_defaults(spark):
    """A stamp-less index (e.g. hand-built before r16) refuses to
    default geometry; passing the original geometry explicitly works;
    passing DIFFERENT geometry against a stamped index raises."""
    emb = spark.createDataFrame(
        [(1, [1.0] * DIM), (2, [0.5] * DIM)],
        "vec_id bigint, embedding array<double>",
    )
    index = ann_lsh_index(emb, PLANES)
    # strip the stamp by re-aliasing with explicit EMPTY metadata (a
    # plain alias propagates the child's metadata)
    bare = index.select(
        "vec_id", "embedding", "norm",
        F.col("bucket").alias("bucket", metadata={}),
    )
    assert not dict(bare.schema["bucket"].metadata or {})
    q = emb.select(F.col("vec_id").alias("query_id"), "embedding")
    with pytest.raises(ValueError, match="no construction stamp"):
        ann_topk_indexed(bare, q)
    with pytest.raises(ValueError, match="no construction stamp"):
        ann_index_apply(bare, delete_ids=emb.limit(1).select("vec_id"))
    got = ann_topk_indexed(bare, q, k=1, probe_hamming=3, planes=PLANES)
    assert got.count() > 0
    # the stamped geometry passed explicitly is accepted as the stamp
    assert _probe_rows(
        ann_topk_indexed(index, q, k=1, probe_hamming=3, planes=PLANES)
    ) == _probe_rows(ann_topk_indexed(index, q, k=1, probe_hamming=3))
    other = seeded_planes(8, DIM, 99)
    with pytest.raises(ValueError, match="stamped construction geometry"):
        ann_topk_indexed(index, q, planes=other)
    with pytest.raises(ValueError, match="stamped construction geometry"):
        ann_index_apply(index, upserts=emb, planes=other)
    # passing the wrong KIND of geometry is caught, not silently ignored
    with pytest.raises(ValueError, match="matching kind"):
        ann_topk_indexed(index, q, centroids=CENTROIDS)


def test_ann_index_apply_plan_scan_only(spark, sf_dir):
    """Scale fence: maintenance and probe must not shuffle the index —
    every join on both executed plans is broadcast (retraction
    anti-join, probe equi-join); no SortMergeJoin, no full-outer."""
    emb = _corpus(spark, sf_dir)
    index = ann_lsh_index(emb, PLANES)
    upserts, deletes = _changes(emb)
    maintained = ann_index_apply(index, upserts=upserts, delete_ids=deletes)
    probe = ann_topk_indexed(maintained, _queries_of(emb), k=10, probe_hamming=2)
    for f in (maintained, probe):
        plan = f._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" not in plan, plan
        assert "FullOuter" not in plan, plan
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" not in plan
    # the maintained plan's only joins are broadcast
    mplan = maintained._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in mplan


def test_ann_topk_indexed_matches_inflight_on_frozen_corpus(spark, sf_dir):
    """On an unchanged corpus the indexed probe is bit-equal to the
    in-flight operators — the index is a pure factoring, not a new
    semantics."""
    emb = _corpus(spark, sf_dir)
    queries = _queries_of(emb)
    lsh_idx = ann_lsh_index(emb, PLANES)
    got = _probe_rows(ann_topk_indexed(lsh_idx, queries, k=10, probe_hamming=2))
    full = emb.filter(F.size("embedding") == DIM)
    assert got == _probe_rows(
        lsh_topk(full, queries, PLANES, k=10, probe_hamming=2)
    )
    ivf_idx = ann_ivf_index(emb, CENTROIDS)
    got_ivf = _probe_rows(ann_topk_indexed(ivf_idx, queries, k=10, nprobe=3))
    assert got_ivf == _probe_rows(
        ivf_topk(emb, queries, CENTROIDS, nprobe=3, k=10)
    )


def test_streamed_vector_additions_then_maintenance_then_probe(
    spark, sf_dir, tmp_path
):
    """The vector face of the stream-vs-maintenance division (the
    band/segment composition pins, r15): intra-day embedding arrivals
    stream into the persisted ANN index one micro-batch at a time
    (foreachBatch upserts via ann_index_apply — the stamp survives
    every parquet round trip), THEN the nightly maintenance applies
    corrections + deletes, THEN the index is probed — the probe must
    equal the in-flight operator on the final corrected corpus,
    pair-for-pair."""
    from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField, StructType

    emb = _corpus(spark, sf_dir).filter(F.size("embedding") == DIM)
    frozen = emb.filter(F.col("vec_id") % 10 < 5)
    arrivals = emb.filter(
        (F.col("vec_id") % 10 >= 5) & (F.col("vec_id") % 10 <= 7)
    ).select("vec_id", "embedding")
    idx_dir = str(tmp_path / "annidx_v0")
    ann_lsh_index(frozen, PLANES).write.mode("overwrite").parquet(idx_dir)
    in_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    for i in range(3):
        arrivals.filter(F.col("vec_id") % 3 == i).write.mode("append").parquet(in_dir)
    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(DoubleType())),
    ])
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
    )
    versions = {"cur": idx_dir, "n": 0}

    def ingest(bdf, bid):
        if bdf.isEmpty():
            return
        cur = spark.read.parquet(versions["cur"])
        nxt = str(tmp_path / f"annidx_v{versions['n'] + 1}")
        ann_index_apply(cur, upserts=bdf).write.mode("overwrite").parquet(nxt)
        versions["cur"], versions["n"] = nxt, versions["n"] + 1

    q = stream.writeStream.foreachBatch(ingest).option(
        "checkpointLocation", ckpt
    ).start()
    q.processAllAvailable()
    q.stop()
    assert versions["n"] >= 2, "arrivals must span multiple micro-batches"
    streamed = spark.read.parquet(versions["cur"])
    corrections = emb.filter(F.col("vec_id") % 10 == 6).withColumn(
        "embedding", F.reverse("embedding")
    )
    deletes = emb.filter(F.col("vec_id") % 10 == 4).select("vec_id")
    maintained = ann_index_apply(
        streamed, upserts=corrections, delete_ids=deletes
    )
    final_corpus = (
        emb.filter((F.col("vec_id") % 10 <= 7) & (F.col("vec_id") % 10 != 4))
        .withColumn(
            "embedding",
            F.when(
                F.col("vec_id") % 10 == 6, F.reverse("embedding")
            ).otherwise(F.col("embedding")),
        )
    )
    queries = final_corpus.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = _probe_rows(
        ann_topk_indexed(maintained, queries, k=5, probe_hamming=2)
    )
    expected = _probe_rows(
        lsh_topk(final_corpus, queries, PLANES, k=5, probe_hamming=2)
    )
    assert got == expected and got


def _degenerate_corpus(spark, sf_dir):
    """The fixture corpus plus one row of each degenerate shape: zero,
    NaN element, NULL element, NULL array, empty and half-width."""
    base = [1.0] * DIM
    nan, null = list(base), list(base)
    nan[3], null[5] = float("nan"), None
    extra = spark.createDataFrame(
        [
            (990001, [0.0] * DIM),
            (990002, nan),
            (990003, null),
            (990004, None),
            (990005, []),
            (990006, base[: DIM // 2]),
        ],
        "vec_id long, embedding array<float>",
    )
    return _corpus(spark, sf_dir).select("vec_id", "embedding").unionByName(extra)


def test_ann_indexes_equal_the_single_builders(spark, sf_dir):
    """One pinned pass, two indexes: row for row and stamp for stamp the
    frames ``ann_lsh_index`` and ``ann_ivf_index`` build, degenerate rows
    included, and neither reads the source scan again."""
    emb = _degenerate_corpus(spark, sf_dir)
    lsh, ivf = ann_indexes(emb, PLANES, CENTROIDS)
    for got, want in (
        (lsh, ann_lsh_index(emb, PLANES)),
        (ivf, ann_ivf_index(emb, CENTROIDS)),
    ):
        assert got.schema == want.schema
        col = want.columns[-1]
        assert got.schema[col].metadata == want.schema[col].metadata
        # repr: NULL norms and NaN elements compare as written
        assert sorted(map(repr, got.collect())) == sorted(
            map(repr, want.collect())
        )
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "Scan" in plan and "parquet" not in plan.lower(), plan


def test_probe_derives_query_geometry_from_the_embedding(spark, sf_dir):
    """Queries cut from the index's own rows carry its norm and stamped
    bucket; the probe ignores both and derives them from the embedding,
    so those queries, and the same rows with a forged bucket under the
    index's stamp, probe exactly like plain (query_id, embedding)
    queries."""
    emb = _corpus(spark, sf_dir)
    lsh, _ = ann_indexes(emb, PLANES, CENTROIDS)
    plain = _probe_rows(
        ann_topk_indexed(lsh, _queries_of(lsh), k=5, probe_hamming=1)
    )
    assert plain
    own = lsh.filter(F.col("vec_id") % 100 == 0).withColumnRenamed(
        "vec_id", "query_id"
    )
    forged = own.withColumn(
        "bucket",
        F.col("bucket").bitwiseXOR(255).alias(
            "bucket", metadata=lsh.schema["bucket"].metadata
        ),
    )
    for queries in (own, forged):
        assert (
            _probe_rows(ann_topk_indexed(lsh, queries, k=5, probe_hamming=1))
            == plain
        )
