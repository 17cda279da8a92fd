"""Unit pins for model.py's cross-cutting helpers (r18, VERDICT r17
items 4-6): ensure_parallelism must decide without running jobs,
materialize_with_sum's Observation contract must fail loudly instead of
hanging if a Spark upgrade drops it, and the reader-plan cache must miss
on content changes and stay bounded.
"""

from __future__ import annotations

import os
import shutil
import time

import pytest
from pyspark.sql import functions as F

import kafka_streams_one_to_many_join_spark.model as model
from kafka_streams_one_to_many_join_spark.model import (
    _bounded_observation_get,
    _OBS_TIMEOUT,
    ensure_parallelism,
    load_table,
    materialize,
    materialize_with_sum,
)


def _total_jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


# ---------------------------------------------------------------------------
# ensure_parallelism: zero jobs at construction for every plan shape
# ---------------------------------------------------------------------------


def test_ensure_parallelism_scan_only_spreads_without_jobs(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    j0 = _total_jobs(spark)
    out = ensure_parallelism(docs)
    assert _total_jobs(spark) == j0, "scan-only probe must run no job"
    # the sf0.001 table is a single tiny file: the spread must fire
    assert out is not docs
    assert out.count() == docs.count()


def test_ensure_parallelism_shuffle_plan_skips_without_jobs(spark, sf_dir):
    agg = load_table(spark, sf_dir, "documents").groupBy("source").count()
    j0 = _total_jobs(spark)
    out = ensure_parallelism(agg)
    assert _total_jobs(spark) == j0, "shuffle-bearing probe must run no job"
    assert out is agg, "an Exchange-bearing plan is already cluster-governed"


def test_ensure_parallelism_broadcast_plan_no_jobs(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    dim = spark.createDataFrame([("s",)], "source string")
    bj = docs.join(F.broadcast(dim), "source")
    j0 = _total_jobs(spark)
    ensure_parallelism(bj)
    # the r17 guard paid a 1-job eager probe exactly here (the broadcast
    # subtree executed at df.rdd time); the file-footprint estimate must not
    assert _total_jobs(spark) == j0, "broadcast-bearing probe must run no job"


def test_ensure_parallelism_checkpointed_leaf_no_jobs(spark, sf_dir):
    pinned = materialize(load_table(spark, sf_dir, "documents").select("doc_id"))
    j0 = _total_jobs(spark)
    out = ensure_parallelism(pinned)
    assert _total_jobs(spark) == j0, "leaf-RDD probe must run no job"
    assert out.count() == pinned.count()


def test_ensure_parallelism_spread_pinned_leaves_build_no_rdd(
    spark, sf_dir, monkeypatch
):
    """A narrow plan over pinned frames that already have enough
    partitions is decided from the leaves alone; a pinned frame with one
    partition is still spread."""
    target = spark.sparkContext.defaultParallelism
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    pinned = materialize(docs.repartition(target))
    narrow = pinned.filter("doc_id > 0").unionByName(pinned)
    with monkeypatch.context() as m:
        m.setattr(
            type(narrow), "rdd", property(lambda self: pytest.fail("RDD built"))
        )
        assert ensure_parallelism(narrow) is narrow
    single = materialize(docs.coalesce(1))
    assert ensure_parallelism(single) is not single


def test_ensure_parallelism_well_partitioned_is_noop(spark):
    target = spark.sparkContext.defaultParallelism
    df = spark.range(0, 1000, 1, numPartitions=target)
    out = ensure_parallelism(df)
    assert out is df


def test_estimate_scan_partitions_matches_split_packing(spark, sf_dir):
    # a single small parquet file estimates to a handful of splits — far
    # under any real core count, so the spread decision is stable
    docs = load_table(spark, sf_dir, "documents")
    files = list(docs.inputFiles())
    est = model._estimate_scan_partitions(spark, files)
    assert est is not None and 1 <= est <= 4
    # non-local URIs are refused (caller falls back to its probe)
    assert model._estimate_scan_partitions(spark, ["s3://bucket/x"]) is None


# ---------------------------------------------------------------------------
# materialize_with_sum: both paths pinned, bounded wait fails loudly
# ---------------------------------------------------------------------------


def test_materialize_with_sum_observation_path(spark):
    df = spark.range(100).select(F.col("id").alias("lbl"))
    pinned, s = materialize_with_sum(df, "lbl")
    assert s == sum(range(100))
    assert pinned.agg(F.sum("lbl")).collect()[0][0] == s


def test_materialize_with_sum_reliable_path(spark, tmp_path):
    df = spark.range(50).select(F.col("id").alias("lbl"))
    spark.conf.set("spark.graft.checkpointDir", str(tmp_path / "ckpt"))
    try:
        pinned, s = materialize_with_sum(df, "lbl")
        assert s == sum(range(50))
        assert pinned.agg(F.sum("lbl")).collect()[0][0] == s
    finally:
        spark.conf.unset("spark.graft.checkpointDir")


def test_bounded_observation_get_times_out_on_hung_metrics():
    class _Hung:
        @property
        def get(self):
            time.sleep(60)
            return {"s": -1}

    t0 = time.monotonic()
    out = _bounded_observation_get(_Hung(), timeout_sec=0.2)
    assert out is _OBS_TIMEOUT
    assert time.monotonic() - t0 < 5


def test_bounded_observation_get_returns_prompt_metrics():
    class _Ready:
        @property
        def get(self):
            return {"s": 42}

    assert _bounded_observation_get(_Ready(), timeout_sec=5.0) == {"s": 42}


# ---------------------------------------------------------------------------
# reader-plan cache: content-fingerprint misses, LRU bound
# ---------------------------------------------------------------------------


def test_load_table_cache_hit_and_mtime_miss(spark, sf_dir, tmp_path):
    src = os.path.join(sf_dir, "region.parquet")
    dst = str(tmp_path / "region.parquet")
    (shutil.copytree if os.path.isdir(src) else shutil.copyfile)(src, dst)
    a = load_table(spark, str(tmp_path), "region")
    b = load_table(spark, str(tmp_path), "region")
    assert a is b, "unchanged table must hit the cache"
    # rewrite a part file IN PLACE (dir mtime unchanged): must miss
    target = dst
    if os.path.isdir(dst):
        parts = [e.path for e in os.scandir(dst) if e.name.endswith(".parquet")]
        target = parts[0] if parts else dst
    os.utime(target, ns=(time.time_ns(), time.time_ns()))
    c = load_table(spark, str(tmp_path), "region")
    assert c is not a, "content fingerprint change must miss the cache"


def test_load_table_cache_is_bounded(spark, sf_dir):
    model._TABLE_PLAN_CACHE.clear()
    old_max = model._TABLE_PLAN_CACHE_MAX
    model._TABLE_PLAN_CACHE_MAX = 3
    try:
        for name in ("region", "nation", "customer", "orders", "lineitem"):
            load_table(spark, sf_dir, name)
        assert len(model._TABLE_PLAN_CACHE) <= 3
        # most-recently-used entries survive
        keys = list(model._TABLE_PLAN_CACHE)
        assert any("lineitem" in k[2] for k in keys)
    finally:
        model._TABLE_PLAN_CACHE_MAX = old_max


def test_load_table_cache_keys_by_session(spark, sf_dir):
    a = load_table(spark, sf_dir, "region")
    sibling = spark.newSession()
    b = load_table(sibling, sf_dir, "region")
    assert a is not b, "a cached plan is bound to the session that analyzed it"
    assert b.sparkSession is sibling
