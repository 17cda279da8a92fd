"""Scale-posture assertions: the physical plans must have the shape that
survives 100 TB — filters pushed to the scan, schemas pruned, dimension
sides broadcast, partial aggregation before the exchange.
"""

from __future__ import annotations

from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from kafka_streams_one_to_many_join_spark import plans
from kafka_streams_one_to_many_join_spark.model import load_table
from kafka_streams_one_to_many_join_spark.operators import latest_by_key, one_to_many_join


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    """O8's null-guard + threshold predicate reaches the parquet scan even
    through the O9 union (Catalyst pushes the filter into BOTH branches)."""
    df = entry_mod.q_union_filter(spark, sf_dir)
    pushed = plans.pushed_filters(df)
    assert "IsNotNull" in pushed and "GreaterThan" in pushed, pushed


def test_column_pruning(spark, sf_dir):
    df = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    schema = plans.scan_read_schema(df)
    assert "l_orderkey" in schema and "l_extendedprice" not in schema, schema


def test_one_to_many_join_broadcasts_dimension(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").withColumnRenamed("c_custkey", "o_custkey")
    df = one_to_many_join(orders, cust, fk="o_custkey")
    assert plans.has_broadcast_join(df), plans.formatted_plan(df)


def test_latest_by_key_uses_partial_aggregation(spark, sf_dir):
    """The agg formulation must pre-reduce on the map side (partial_max_by
    BEFORE the exchange) — shuffle volume O(keys), not O(rows).  The struct
    buffer forces SortAggregate, but the partial/final split is the property
    that survives 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    df = latest_by_key(ev.select("user_id", "event_id", "value"),
                       keys="user_id", order_by="event_id")
    plan = plans.formatted_plan(df)
    assert "partial_max_by" in plan, plan
    assert plans.count_shuffles(df) == 1, plan
    # partial agg node must appear below (after, in formatted order) the scan
    # and before the exchange: formatted list order is leaf-last, so simply
    # assert both phases exist
    assert plan.count("Aggregate") >= 2, plan


def test_flagship_single_shuffle_on_many_side(spark, sf_dir):
    """Snapshot join: the many side aggregates with partial agg and the
    dimension join is broadcast — no extra exchange for the join itself."""
    df = entry_mod.q_one_to_many_snapshot(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan


def test_whole_stage_codegen_on_hot_path(spark, sf_dir):
    """AQE shows codegen spans only in the executed (final) plan — run the
    query, then inspect the final physical plan."""
    df = entry_mod.q_pricing_summary(spark, sf_dir)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    # codegen'd operators carry the '*(id)' whole-stage marker
    assert "*(1)" in executed, executed


def test_minhash_pipeline_has_no_joins(spark, sf_dir):
    """The bucket pipeline replaced the band self-join: no join node at
    all, and exactly the 3 designed shuffles (per-doc agg, band buckets,
    final pair distinct)."""
    from kafka_streams_one_to_many_join_spark.functions.dedup import (
        minhash_lsh_pairs,
    )

    df = minhash_lsh_pairs(load_table(spark, sf_dir, "documents"))
    plan = plans.formatted_plan(df)
    assert "Join" not in plan, plan
    # 3 designed shuffles + the round-robin input spread for the
    # single-row-group test file (a no-op on well-partitioned input)
    assert plans.count_shuffles(df) <= 4, plan


def test_near_dup_broadcasts_not_shuffles(spark, sf_dir):
    """Exact pair generation broadcasts one side; the corpus is never
    shuffled BY KEY — the only allowed exchange is the round-robin input
    spread for an under-partitioned (single-row-group) scan."""
    from kafka_streams_one_to_many_join_spark.functions.dedup import (
        embedding_near_dup_pairs,
    )

    df = embedding_near_dup_pairs(load_table(spark, sf_dir, "embeddings"))
    plan = plans.formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert plans.count_shuffles(df) <= 1, plan
    assert "hashpartitioning" not in plan, plan


def test_props_surface_pushes_projection(spark, sf_dir):
    """JSON extraction + map explode reads only (event_id, props) from
    the scan."""
    df = entry_mod.q_props_surface(spark, sf_dir)
    schema = plans.scan_read_schema(df)
    assert "props" in schema and "value" not in schema, schema


def test_promo_revenue_broadcasts_part(spark, sf_dir):
    """The Q14 branch of the consolidated query keeps its broadcast FK
    join and its shipdate pushdown; the Q19 branch keeps the extracted
    p_brand conjunct at its part scan."""
    df = entry_mod.q_promo_q19_revenue(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    pushed = plans.pushed_filters(df)
    assert "l_shipdate" in pushed, pushed
    assert "p_brand" in pushed, pushed


def test_sessionize_single_shuffle(spark, sf_dir):
    """Both window functions share one (key, order) frame: one exchange."""
    from kafka_streams_one_to_many_join_spark.operators import sessionize

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    df = sessionize(ev, "user_id", "ts", gap=F.expr("INTERVAL 30 MINUTES"))
    assert plans.count_shuffles(df) == 1, plans.formatted_plan(df)


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """Hive-style partitioned parquet: a filter on the partition column
    becomes a PartitionFilter (directories skipped), not a data filter."""
    from kafka_streams_one_to_many_join_spark.sources import read_batch, write_batch

    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    write_batch(orders, "parquet", f"{tmp_path}/by_year", partition_by=["o_year"])
    back = read_batch(spark, "parquet", f"{tmp_path}/by_year").filter(
        F.col("o_year") == 1997
    )
    plan = plans.formatted_plan(back)
    assert "PartitionFilters: [" in plan and "o_year" in plan.split("PartitionFilters")[1][:120], plan
    n_all = read_batch(spark, "parquet", f"{tmp_path}/by_year").count()
    assert back.count() < n_all


def test_correlated_subquery_decorrelates(spark, sf_dir):
    """Catalyst rewrites the correlated scalar subquery into agg + join —
    no per-row subquery nodes survive in the physical plan."""
    df = entry_mod.q_max_order_per_customer(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "Subquery" not in plan, plan
    assert "Join" in plan or "BroadcastHashJoin" in plan, plan


def test_bucketed_join_eliminates_shuffle(spark, sf_dir, tmp_path):
    """Tables bucketed on the join key join WITHOUT any exchange: the
    pre-partitioned layout satisfies the join's distribution requirement.
    This is the co-location strategy for repeated large-large joins at
    100 TB (pay the shuffle once at write time, never again)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    orders.write.bucketBy(8, "o_custkey").sortBy("o_custkey").mode(
        "overwrite"
    ).saveAsTable("orders_b")
    cust.withColumnRenamed("c_custkey", "o_custkey").write.bucketBy(
        8, "o_custkey"
    ).sortBy("o_custkey").mode("overwrite").saveAsTable("customer_b")
    try:
        # disable auto-broadcast so the join would otherwise shuffle
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("orders_b").join(
            spark.table("customer_b"), on="o_custkey"
        )
        assert plans.count_shuffles(joined) == 0, plans.formatted_plan(joined)
        assert "SortMergeJoin" in plans.formatted_plan(joined)
        # sanity: results match the plain join
        n_plain = orders.join(
            cust.withColumnRenamed("c_custkey", "o_custkey"), on="o_custkey"
        ).count()
        assert joined.count() == n_plain
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS customer_b")


def test_bucketed_sort_elision_pruning_and_check(spark, sf_dir, tmp_path):
    """The other two bucketing wins beyond shuffle elimination (see
    sources/bucketed.py — both are gated on read-side confs the default
    planner hides):

    - sort ELISION: single-file sorted buckets + the legacy
      outputOrdering conf turn the SMJ into a pure zip-merge (zero
      Exchange AND zero Sort);
    - bucket PRUNING: a point filter on the bucket key scans 1 of N
      buckets — but only once autoBucketedScan's auto-disable is off
      (with the default conf the planner marks the scan "Bucketed:
      false" and the SelectedBucketsCount never appears);
    - groupBy on the bucket key needs no Exchange;
    - ``bucketed_join_check`` reads the catalog's own bucket spec and
      accepts differently-named key columns (bucket ids hash values,
      not names).
    """
    from kafka_streams_one_to_many_join_spark.sources.bucketed import (
        BUCKETED_READ_CONFS,
        bucket_spec,
        bucketed_join_check,
        write_bucketed,
    )

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    saved = {k: spark.conf.get(k, None) for k in BUCKETED_READ_CONFS}
    try:
        for k, v in BUCKETED_READ_CONFS.items():
            spark.conf.set(k, v)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        write_bucketed(orders, "orders_bk", 8, "o_custkey", path=str(tmp_path / "o"))
        write_bucketed(cust, "cust_bk", 8, "c_custkey", path=str(tmp_path / "c"))
        cust.write.mode("overwrite").option("path", str(tmp_path / "p")).saveAsTable(
            "cust_plain"
        )
        assert bucket_spec(spark, "orders_bk") == (8, ["o_custkey"])
        assert bucket_spec(spark, "cust_plain") is None
        assert bucketed_join_check(
            spark, "orders_bk", "cust_bk", "o_custkey", "c_custkey"
        )
        # wrong column / unbucketed side / name-only match all refuse
        assert not bucketed_join_check(spark, "orders_bk", "cust_bk", "o_custkey")
        assert not bucketed_join_check(
            spark, "orders_bk", "cust_plain", "o_custkey", "c_custkey"
        )
        # mismatched counts refuse by default, pass only when divisible
        # AND the coalesce conf is on (Spark then reads the bigger side's
        # buckets pairwise-merged instead of shuffling)
        write_bucketed(cust, "cust_bk4", 4, "c_custkey", path=str(tmp_path / "c4"))
        assert not bucketed_join_check(
            spark, "orders_bk", "cust_bk4", "o_custkey", "c_custkey"
        )
        spark.conf.set("spark.sql.bucketing.coalesceBucketsInJoin.enabled", "true")
        try:
            assert bucketed_join_check(
                spark, "orders_bk", "cust_bk4", "o_custkey", "c_custkey"
            )
            j84 = spark.table("orders_bk").join(
                spark.table("cust_bk4"),
                F.col("o_custkey") == F.col("c_custkey"),
            )
            assert plans.count_shuffles(j84) == 0, plans.formatted_plan(j84)
            # divisible but past maxBucketRatio (default 4): Spark refuses
            # to coalesce 8:1 and shuffles, so the check must refuse too —
            # and must track the conf when the caller raises the ratio
            write_bucketed(cust, "cust_bk1", 1, "c_custkey", path=str(tmp_path / "c1"))
            assert not bucketed_join_check(
                spark, "orders_bk", "cust_bk1", "o_custkey", "c_custkey"
            )
            spark.conf.set(
                "spark.sql.bucketing.coalesceBucketsInJoin.maxBucketRatio", "8"
            )
            try:
                assert bucketed_join_check(
                    spark, "orders_bk", "cust_bk1", "o_custkey", "c_custkey"
                )
                j81 = spark.table("orders_bk").join(
                    spark.table("cust_bk1"),
                    F.col("o_custkey") == F.col("c_custkey"),
                )
                assert plans.count_shuffles(j81) == 0, plans.formatted_plan(j81)
            finally:
                spark.conf.unset(
                    "spark.sql.bucketing.coalesceBucketsInJoin.maxBucketRatio"
                )
        finally:
            spark.conf.unset("spark.sql.bucketing.coalesceBucketsInJoin.enabled")

        bo, bc = spark.table("orders_bk"), spark.table("cust_bk")
        j = bo.join(bc, bo.o_custkey == bc.c_custkey)
        plan = plans.formatted_plan(j)
        assert plans.count_shuffles(j) == 0, plan
        assert "SortMergeJoin" in plan, plan
        assert "Sort (" not in plan, plan  # zip-merge: both Sorts elided

        g = bo.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("s"))
        assert plans.count_shuffles(g) == 0, plans.formatted_plan(g)

        fplan = plans.formatted_plan(bo.filter(F.col("o_custkey") == 42))
        assert "SelectedBucketsCount: 1 out of 8" in fplan, fplan

        # value parity with the plain shuffle join
        n_plain = orders.join(cust, orders.o_custkey == cust.c_custkey).count()
        assert j.count() == n_plain
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        for t in ("orders_bk", "cust_bk", "cust_bk4", "cust_plain"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_salted_join_spreads_hot_key_under_aqe(spark, sf_dir):
    """Forced-skew fixture: 90% of the many side shares ONE fk value.  The
    salted join must (a) shuffle on (fk, _salt) — the exchange partitioning
    carries the salt column, so no reducer owns the whole hot key — and
    (b) at runtime, with AQE on (adaptive + coalescePartitions + skewJoin,
    session.py), land the hot key's rows in multiple output partitions.
    AQE's own skew-join splitting handles sort-merge joins it can see; the
    salt is the explicit formulation that also covers what AQE cannot fix
    (first-shuffle skew, holistic agg state), and the two must compose —
    AQE coalescing must not undo the salt spread."""
    from kafka_streams_one_to_many_join_spark.operators import (
        salted_one_to_many_join,
    )

    n = 20_000
    many = spark.range(n).select(
        F.col("id").alias("rid"),
        # 90% hot key 0, the rest spread over 99 cold keys
        F.when(F.col("id") % 10 < 9, F.lit(0))
        .otherwise((F.col("id") % 99) + 1)
        .cast("int")
        .alias("fk"),
    )
    one = spark.range(100).select(
        F.col("id").cast("int").alias("fk"),
        F.concat(F.lit("dim_"), F.col("id")).alias("payload"),
    )
    try:
        # keep it a shuffle join: broadcast would hide the skew entirely
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # at test scale every partition is a few KB, so AQE coalescing
        # (correctly) merges them all; shrink the advisory size so the
        # coalescer sees test partitions the way it would see at-scale
        # (hundreds-of-MB) partitions — i.e. not worth merging
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8kb")
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize", "1kb"
        )
        joined = salted_one_to_many_join(
            many, one, fk="fk", identity_cols=["rid"], buckets=16
        )
        plan = plans.formatted_plan(joined)
        # (a) the exchanges partition on the salt, not on fk alone
        assert "_salt" in plan and "hashpartitioning" in plan, plan
        import re

        for m in re.finditer(r"hashpartitioning\(([^)]*)\)", plan):
            args = m.group(1)
            if "fk" in args:
                assert "_salt" in args, f"shuffle on fk without salt: {args}"
        # (b) runtime: the hot key's rows occupy many partitions even after
        # AQE coalescing, and no partition holds a majority of them
        dist = (
            joined.where(F.col("fk") == 0)
            .groupBy(F.spark_partition_id().alias("pid"))
            .count()
            .collect()
        )
        hot_total = sum(r["count"] for r in dist)
        assert hot_total == int(n * 0.9)
        assert len(dist) >= 8, f"hot key confined to {len(dist)} partitions"
        assert max(r["count"] for r in dist) < hot_total * 0.5
        # results identical to the plain join
        assert joined.count() == many.join(one, "fk").count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
        spark.conf.unset(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize"
        )


def test_bigram_pmi_single_aggregation_no_vocab_joins(spark, sf_dir):
    """PMI needs bigram counts, unigram counts and totals — the plan must
    get all three from ONE grouping-sets aggregation (Expand) plus
    window re-attachment, not from unigram/bigram equi-joins whose
    branches would each re-run the tokenize→explode subtree."""
    df = entry_mod.q_bigram_pmi(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "Expand" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # main pipeline + the 1-row totals branch: at most 2 corpus scans
    assert plans.count_scans(df) <= 2, plan


def test_doc_repetition_single_corpus_scan(spark, sf_dir):
    """Trigram stats are carried through the bigram explode, so the whole
    repetition filter is one corpus pass — no join back to documents."""
    df = entry_mod.q_doc_repetition(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert plans.count_scans(df) == 1, plan
    assert "Join" not in plan, plan
    # the short-doc filter must NOT sit below the exchange recomputing the
    # trigram transform on the unparallelized scan side
    scan_to_exchange = plan.split("Exchange")[0]
    assert "transform" not in scan_to_exchange, scan_to_exchange


def test_posting_lists_caps_before_collect(spark, sf_dir):
    """The row_number cap must sit BELOW collect_list in the plan so no
    stop-word ever materializes an unbounded posting array."""
    df = entry_mod.q_posting_lists(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert plans.count_scans(df) == 1, plan
    cap_pos = plan.find("row_number")
    collect_pos = plan.find("collect_list")
    assert cap_pos != -1 and collect_pos != -1
    # detail sections print leaf-first (node 1 = scan), so the cap
    # (producer) must appear BEFORE the collect agg (consumer)
    assert cap_pos < collect_pos, plan
    # Spark should push the cap into the sort via WindowGroupLimit
    assert "WindowGroupLimit" in plan, plan


def test_tfidf_attaches_df_without_self_join(spark, sf_dir):
    """Document frequency comes from a vocabulary-keyed window over the
    (doc, term) aggregate — not a second explode branch equi-joined back."""
    df = entry_mod.q_tfidf_top_terms(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "SortMergeJoin" not in plan, plan
    # corpus pass + column-pruned count(*) branch
    assert plans.count_scans(df) <= 2, plan
    assert "BroadcastNestedLoopJoin" in plan, plan  # 1-row N broadcast


def test_daily_click_purchase_pushes_event_type(spark, sf_dir):
    pushed = plans.pushed_filters(entry_mod.q_daily_click_purchase(spark, sf_dir))
    assert "event_type" in pushed, pushed


def test_grouping_sets_one_expand_broadcast_dim(spark, sf_dir):
    df = entry_mod.q_grouping_sets_segments(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert plan.count("Expand") >= 1, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_sequence_pack_single_full_width_shuffle(spark, sf_dir):
    """Distributed prefix sum: the doc-level data crosses the network
    exactly twice — once hash(bucket) for the within-bucket cumsum window,
    once (map-side pre-aggregated) for the per-sequence rollup.  The
    bucket-offset branch runs on the |buckets|-row aggregate (partial agg
    before its exchange + a single-partition window over the tiny domain),
    and the offsets come back via broadcast, not shuffle.  The text column
    is tokenized once (checkpointed compact projection) and never shuffled."""
    df = entry_mod.q_sequence_pack(spark, sf_dir)
    plan = plans.formatted_plan(df)
    # offsets side joins back as a broadcast
    assert "BroadcastHashJoin" in plan, plan
    # window + tiny-agg + tiny single-partition window + final rollup
    assert plans.count_shuffles(df) <= 4, plan
    # the bucket-totals branch pre-aggregates before its exchange
    assert plan.count("HashAggregate") >= 3, plan
    # doc-level full-width exchanges: window's hash(_bucket) and the final
    # per-seq rollup only — the formatted tree shows exactly one exchange
    # whose input is NOT an aggregate or a tiny window (checked by shuffle
    # budget above; the hard cap is what survives refactors)


def test_token_count_modes_stays_codegen(spark, sf_dir):
    """Three-way token accounting is a pure projection: no shuffle beyond
    the parallelism spread of the single-row-group test input, and the
    regex work runs inside whole-stage codegen."""
    df = entry_mod.q_token_count_modes(spark, sf_dir)
    assert plans.count_shuffles(df) <= 1, plans.formatted_plan(df)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "*(" in executed, executed


def test_mixture_weights_broadcasts_totals(spark, sf_dir):
    """The 1-row totals come back via broadcast; the only data-sized work
    is the per-source partial-aggregated token sum."""
    df = entry_mod.q_mixture_weights(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    # source agg + totals agg exchanges only (plus optional AQE coalesce)
    assert plans.count_shuffles(df) <= 3, plan


def test_quantile_sketch_shuffles_sketch_not_data(spark, sf_dir):
    """The histogram aggregation pre-reduces map-side: the exchange
    carries (source, bin) partials — sketch-sized — and the quantile
    read-off windows run on that aggregate."""
    df = entry_mod.q_quantile_sketch(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert plan.count("HashAggregate") >= 2, plan  # partial + final
    assert plans.count_shuffles(df) <= 3, plan


def test_cms_probe_joins_broadcast_sketch(spark, sf_dir):
    """The 4x256-counter sketch broadcasts to the 10-row probe side —
    no data-sized join input ever shuffles for the estimate."""
    df = entry_mod.q_cms_token_counts(spark, sf_dir)
    assert plans.has_broadcast_join(df), plans.formatted_plan(df)


def test_curation_funnel_tokenizes_once(spark, sf_dir):
    """The funnel derives both the token count and the stop-word flag from
    ONE projected token array — codegen does not CSE repeated
    regexp_extract_all calls, so a second occurrence would double the
    per-row regex work (the dominant cost at corpus scale)."""
    df = entry_mod.q_curation_funnel(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert plan.count("regexp_extract_all") == 1, plan


def test_doc_profile_single_scan_single_shuffle(spark, sf_dir):
    """The consolidated per-doc profile reads and tokenizes the corpus
    exactly once (the five standalone queries it replaced scanned it five
    times) and its only exchange is the per-source ntile window."""
    import re

    df = entry_mod.q_doc_profile(spark, sf_dir)
    plan = plans.formatted_plan(df)
    # formatted output names each node once in the tree and once in the
    # details section — count the numbered detail headers
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert plan.count("regexp_extract_all") == 1, plan
    # ntile window shuffle + the round-robin input spread for the
    # single-row-group test file (a no-op on well-partitioned input)
    assert plans.count_shuffles(df) <= 2, plan


def test_token_chunks_composite_plan(spark, sf_dir):
    """The r15 composite (chunks face ∪ efficiency face): the chunks face
    stays a pure generate/projection — no join anywhere near it — and
    the efficiency face's FFD-surrogate branch joins the tiny per-length
    base offsets back by broadcast; doc-level rows never join-shuffle
    (no SortMergeJoin on the whole plan)."""
    from kafka_streams_one_to_many_join_spark.functions.packing import (
        token_chunks,
    )
    from kafka_streams_one_to_many_join_spark.model import load_table

    chunks_face = token_chunks(
        load_table(spark, sf_dir, "documents"), budget=32, stride=24
    )
    cplan = plans.formatted_plan(chunks_face)
    assert plans.count_shuffles(chunks_face) <= 1, cplan
    assert "Join" not in cplan, cplan
    df = entry_mod.q_token_chunks(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_segment_dedup_shuffles_hashes_not_text(spark, sf_dir):
    """Line-level dedup: the corpus text is scanned and tokenized once;
    only (doc_id, 32-bit segment hash) pairs cross the network (occurrence
    agg, hash-keyed join-back, per-doc re-agg)."""
    import re

    df = entry_mod.q_segment_dedup(spark, sf_dir)
    plan = plans.formatted_plan(df)
    # the tokenize+hash projection sits BEHIND the lazy localCheckpoint
    # boundary, so both consumers replay the materialized compact pairs —
    # the plan re-derives the text zero times
    assert plan.count("regexp_extract_all") == 0, plan
    # the shuffled attributes are hashes and ids, never the text column
    for m in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m, plan
    assert plans.count_shuffles(df) <= 3, plan


def test_unigram_logprob_single_tokenize_branch(spark, sf_dir):
    """The perplexity proxy reuses ONE exploded (doc, token) branch for
    both the vocabulary counts and the per-doc average; the corpus total
    comes back as a 1-row broadcast."""
    df = entry_mod.q_unigram_logprob(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_bloom_probe_is_projection_over_broadcast(spark, sf_dir):
    """The probed table never shuffles: the filter collapses to a 1-row
    word->bits map broadcast onto the probe side, and the membership test
    runs as a pure projection."""
    from kafka_streams_one_to_many_join_spark.functions.bloom import (
        bloom_build,
        bloom_probe,
    )

    orders = entry_mod.load_table(spark, sf_dir, "orders")
    cust = entry_mod.load_table(spark, sf_dir, "customer").select("c_custkey")
    bloom = bloom_build(orders, "o_custkey")
    probed = bloom_probe(cust, "c_custkey", bloom)
    plan = plans.formatted_plan(probed)
    assert "BroadcastNestedLoopJoin" in plan, plan
    # shuffles: the build-side bit_or agg only (plus optional input spread)
    assert plans.count_shuffles(probed) <= 2, plan
    # one digest per seed hash, build and probe sides alike: the spec form
    # (word + mask both inlining the hash) would show 2k per side, and
    # codegen subexpression elimination does NOT reach a Generate input
    # (measured 1.7x on a 5M-row build)
    opt = probed._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("md5(") == 2 * 4, opt.count("md5(")


def test_pii_redaction_pure_projection_one_agg(spark, sf_dir):
    """Detection + redaction is whole-stage-codegen row work; the only
    exchange is the |segments|-row rollup."""
    df = entry_mod.q_pii_redaction(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "Join" not in plan, plan
    assert plans.count_shuffles(df) <= 1, plan
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "*(" in executed, executed


def test_embedding_normalize_broadcasts_moments(spark, sf_dir):
    """Per-dimension moments (64 rows) come back via broadcast; the
    exploded corpus never join-shuffles."""
    df = entry_mod.q_embedding_normalize(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_split_leakage_adds_no_shuffle_over_pair_pipeline(spark, sf_dir):
    """The leak audit labels each pair endpoint with a pure hash
    projection of its doc_id — shuffle count must equal the underlying
    MinHash-LSH pair pipeline's exactly."""
    base = plans.count_shuffles(entry_mod.q_minhash_lsh(spark, sf_dir))
    audited = plans.count_shuffles(entry_mod.q_split_leakage(spark, sf_dir))
    assert audited == base, (audited, base)


def test_lsh_topk_explodes_query_side_only(spark, sf_dir):
    """Multi-probe lives on the broadcast query side: the corpus keeps
    exactly one bucket per row (no corpus-side Generate), joins via
    broadcast, and never shuffles by key."""
    from kafka_streams_one_to_many_join_spark.functions.similarity import (
        lsh_topk,
        seeded_planes,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    df = lsh_topk(emb, q, seeded_planes(8, 64, 7), k=10, probe_hamming=2)
    plan = plans.formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    # exactly one Generate (the query-side probe explode), none under
    # the corpus scan branch
    assert plan.count("+- Generate") == 1, plan


def test_ann_composites_read_only_pinned_blocks(spark, sf_dir):
    """ann_recall and ann_topk_maintained build their indexes in one
    pinned pass (``ann_indexes``): the final plan reads checkpointed
    blocks only — no parquet scan — and keeps its exchange count (4 and
    2: the faces share one ranking window)."""
    for name, max_shuffles in (("ann_recall", 4), ("ann_topk_maintained", 2)):
        df = entry_mod.queries()[name](spark, sf_dir)
        plan = plans.formatted_plan(df)
        assert "Scan parquet" not in plan, (name, plan)
        assert plans.count_shuffles(df) <= max_shuffles, (name, plan)


def test_brand_price_rank_broadcasts_brand_stats(spark, sf_dir):
    """The consolidated per-brand aggregate attaches to the window rows
    via broadcast — the |brands|-row side must never trigger a
    sort-merge shuffle of the part table beyond the window's own
    p_brand exchange."""
    df = entry_mod.q_brand_price_rank(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_bpe_pairs_explode_vocab_not_corpus(spark, sf_dir):
    """BPE pair counting must run over the vocabulary, never the corpus:
    exactly two Generates (corpus token explode feeding the word-count
    aggregate, and the pair-position explode ABOVE it, on distinct
    words), with the word aggregate map-side combined before its
    exchange.  Shuffle budget covers spread + vocab agg + two-phase
    distinct pair agg + the alphabet²-bounded rank window."""
    df = entry_mod.q_bpe_merge_step(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert plan.count("+- Generate") == 2, plan
    assert plan.count("HashAggregate") >= 4, plan  # partial+final × 2 stages
    assert plans.count_shuffles(df) <= 5, plan


def test_quality_classifier_single_doc_sized_exchange(spark, sf_dir):
    """The hashed classifier is explode → ONE map-side-combined per-doc
    aggregate: no join-back, no second corpus pass — at most the
    parallelism spread plus the |docs|-sized aggregation exchange."""
    df = entry_mod.q_quality_classifier(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "Join" not in plan, plan
    assert plans.count_shuffles(df) <= 2, plan
    assert plan.count("HashAggregate") >= 2, plan  # partial + final


def test_source_overlap_attaches_sources_by_key_and_counts_by_broadcast(
    spark, sf_dir
):
    """The overlap matrix adds to the MinHash pair pipeline exactly: two
    doc_id-keyed attach joins of the 2-column (doc_id, source)
    projection, one |sources|²-bounded aggregate, and the 20-row count
    table back by broadcast — no cartesian, no corpus self-join."""
    base = plans.count_shuffles(entry_mod.q_minhash_lsh(spark, sf_dir))
    df = entry_mod.q_source_overlap(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    # pair pipeline + (attach joins + matrix agg); the attach side is a
    # pruned 2-column scan
    assert plans.count_shuffles(df) <= base + 4, (plans.count_shuffles(df), base)


def test_gopher_entropy_rides_the_same_aggregate(spark, sf_dir):
    """Folding token_entropy into gopher_quality must add NO exchange:
    the entropy sums ride the existing per-(doc, word) aggregation."""
    df = entry_mod.q_gopher_quality(spark, sf_dir)
    assert plans.count_shuffles(df) <= 2, plans.formatted_plan(df)


_HEAVY_CALLS = ("array_intersect(", "regexp_extract_all(", "md5(", "aggregate(")


def _has_duplicate_heavy_call(line: str) -> bool:
    """True if the IDENTICAL heavy call substring (balanced to its closing
    paren, >30 chars so trivial fragments don't count) occurs twice in one
    plan line — the textual signature of a re-evaluated expression."""
    from collections import Counter

    calls = []
    for fn in _HEAVY_CALLS:
        start = 0
        while True:
            i = line.find(fn, start)
            if i < 0:
                break
            depth = 0
            j = i + len(fn) - 1
            for j in range(i + len(fn) - 1, min(len(line), i + 400)):
                if line[j] == "(":
                    depth += 1
                elif line[j] == ")":
                    depth -= 1
                    if depth == 0:
                        break
            calls.append(line[i : j + 1])
            start = i + len(fn)
    return any(v >= 2 for c, v in Counter(x for x in calls if len(x) > 30).items())


def test_roster_wide_plan_hygiene(spark, sf_dir):
    """Global scale invariants over EVERY declared query's physical plan:
    no cartesian product ever; no row-at-a-time Python UDF
    (BatchEvalPython) — Python crossings must be Arrow-vectorized; and
    broadcast nested-loop joins only where a 1-row/bounded side makes
    them the designed plan (whitelisted).  One test, whole-roster
    coverage — a regression anywhere in the 100 queries fails here even
    if the query's own plan test doesn't exist.

    Duplication-cost taxonomy behind the two heavy-expr fences (each
    class measured in round 9): WITHIN one Project, codegen CSE dedupes
    identical subtrees even for CodegenFallback — free.  In a Generate
    input — paid (1.7x on the bloom build).  Re-inlined into a Filter by
    pushdown — paid (the r08 ann_topk_ivf class).  In a Join condition
    AND the post-join Project (the embedding_near_dup pair cosine) —
    audited benign: the condition evaluation per candidate is the
    operator's intrinsic cost and the Project re-computes only for
    SURVIVING pairs, so no fence on that shape."""
    # queries whose DESIGN uses a bounded-side nested-loop broadcast:
    # ANN/near-dup pair generation (capped query side), 1-row scalar
    # attach (totals/slope/fill), and the recall eval built on them
    bnlj_ok = {
        "ann_topk", "ann_topk_pandas", "ann_topk_lsh", "ann_topk_ivf",
        "ann_recall", "embedding_near_dup", "embedding_near_dup_lsh",
        "kmeans_step", "contamination_check", "mixture_weights",
        "unigram_logprob", "top_token_zipf", "bloom_filter",
        "promo_q19_revenue", "zone_occupancy", "curation_funnel",
        "token_chunks", "sequence_pack", "sequence_pack_text",
        "click_purchase_funnel", "corpus_stats", "quantile_sketch",
        "cms_token_counts", "hll_distinct", "vocab_growth",
        # 1-row scalar-threshold attaches (corpus totals, z-score cuts,
        # as-of watermark bounds) — audited designed plans
        "bigram_pmi", "tfidf_top_terms", "wealthy_low_activity",
        "join_trace", "incremental_snapshot",
    }
    offenders = {}
    for name, fn in entry_mod.queries().items():
        df = fn(spark, sf_dir)
        plan = plans.formatted_plan(df)
        problems = []
        if "CartesianProduct" in plan:
            problems.append("cartesian")
        if "BatchEvalPython" in plan:
            problems.append("row-python-udf")
        if "BroadcastNestedLoopJoin" in plan and name not in bnlj_ok:
            problems.append("unlisted-bnlj")
        # Heavy interpreted expressions re-inlined into a Filter — the
        # ann_topk_ivf regression class: deriving a join/group key from a
        # CodegenFallback expression lets InferFiltersFromConstraints push
        # an isnotnull(<whole expression>) below the projection, paying
        # the dominant per-row cost again.  One md5/aggregate in a filter
        # is a legitimate hash-addressed scan predicate (sampling); two+
        # means a materialized column got re-inlined.
        opt = df._jdf.queryExecution().optimizedPlan().toString()
        for line in opt.split("\n"):
            if "Filter" in line:
                heavy = (
                    line.count("aggregate(")
                    + line.count("regexp_extract_all")
                    + line.count("md5(")
                    + line.count("array_intersect(")
                )
                if heavy >= 2:
                    problems.append(f"heavy-expr-in-filter:{heavy}")
                    break
        # The SAME heavy expression textually duplicated inside one
        # Generate input — the bloom_positions regression class: codegen
        # subexpression elimination covers Project duplicates (measured
        # free) but does NOT reach a Generate input, so e.g. deriving
        # word AND mask from an inlined md5 pays every digest twice.
        # Distinct heavy calls per Generate are fine (k seed hashes);
        # the *identical* call appearing twice is the defect.
        for line in opt.split("\n"):
            if "Generate " not in line:
                continue
            if _has_duplicate_heavy_call(line):
                problems.append("dup-heavy-expr-in-generate")
                break
        if problems:
            offenders[name] = problems
    assert not offenders, offenders


def test_kmeans_assignment_evaluates_dots_once(spark, sf_dir):
    """ivf_cell's argmax fold must reference the nlist-dot array exactly
    once.  Honest scope of the win: WITHIN one Project, codegen-level CSE
    dedupes even identical CodegenFallback subtrees, so the textbook
    array_position(ds, array_max(ds)) form was measured wall-NEUTRAL at
    the sf10 twin — the single-reference form's value is that pushdown
    can never re-inline the array into a Filter (the r08 ann_topk_ivf
    class, where duplication crosses operators and IS paid) and the
    plan stays auditable.  Expected count: one aggregate(zip_with per
    centroid dot plus one for the fold itself."""
    df = entry_mod.queries()["kmeans_step"](spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    n_dot_evals = opt.count("aggregate(zip_with")
    assert n_dot_evals == entry_mod._IVF_NLIST + 1, n_dot_evals


def test_streaming_ann_candidate_join_broadcasts(spark, sf_dir):
    """The streaming ANN's stream-static bucket join must plan as a
    broadcast hash join of the (tiny, static) query probe rows — a
    sort-merge or nested-loop plan here would shuffle or re-scan the
    corpus stream per micro-batch."""
    from pyspark.sql import functions as F

    from kafka_streams_one_to_many_join_spark.functions.similarity import (
        seeded_planes,
    )
    from kafka_streams_one_to_many_join_spark.sources import read_stream
    from kafka_streams_one_to_many_join_spark.streaming.similarity import (
        _lsh_candidates,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    dim = len(emb.select("embedding").first()[0])
    stream = read_stream(
        spark, "parquet", sf_dir + "/embeddings.parquet",
        schema=emb.select("vec_id", "embedding").schema,
    )
    cand = _lsh_candidates(
        stream, queries, seeded_planes(8, dim, 7),
        "vec_id", "embedding", "query_id", 1,
    )
    plan = plans.formatted_plan(cand)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
