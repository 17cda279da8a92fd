"""Schemas: the reference domain model re-expressed as Spark StructTypes,
plus loaders for the driver-generated testdata tables.

Reference domain (DomainModel.scala:8-12, DemoApp.scala:142-151):
  CarArrivalEvent(car_id, to_zone_id, fuel_level)    — many side, keyed car_id
  ZoneEvent(zone_id, pollution_level)                — one side, keyed zone_id
  JoinedCarPollutionEvent(car_id, zone_id, fuel_level, pollution_level)
  CarMove(from_zone nullable, to_zone, car_id, fuel_level)  — Option[Int] →
      nullable INT column; the ``noPrevMov`` sentinel (DemoApp.scala:146)
      becomes SQL NULL, no sentinel needed.
  CarMoveEvent(car_id, zone_id, is_arriving, fuel_level)

All streams carry an explicit ``seq BIGINT`` ordering column because the
reference's semantics depend on arrival order and have no data timestamps
(DemoApp.scala:62-63; FIXTURES.md).

JSON codec: the reference's crash-on-parse JsonSerdes (JsonSerdes.scala:40)
is replaced with Spark's from_json/to_json in PERMISSIVE mode — malformed
records land in a corrupt-record column instead of killing the pipeline.
"""

from __future__ import annotations

import os
import re
import stat
from collections import OrderedDict

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

_CORRUPT_COL = "_corrupt_record"

CAR_ARRIVAL_EVENT = StructType(
    [
        StructField("seq", LongType(), False),
        StructField("car_id", IntegerType(), False),
        StructField("to_zone_id", IntegerType(), False),
        StructField("fuel_level", DoubleType(), False),
    ]
)

ZONE_EVENT = StructType(
    [
        StructField("seq", LongType(), False),
        StructField("zone_id", IntegerType(), False),
        StructField("pollution_level", DoubleType(), False),
    ]
)

JOINED_CAR_POLLUTION_EVENT = StructType(
    [
        StructField("car_id", IntegerType(), False),
        StructField("zone_id", IntegerType(), False),
        StructField("fuel_level", DoubleType(), False),
        StructField("pollution_level", DoubleType(), False),
    ]
)

CAR_MOVE = StructType(
    [
        StructField("car_id", IntegerType(), False),
        StructField("from_zone_id", IntegerType(), True),  # Option[Int] → nullable
        StructField("to_zone_id", IntegerType(), False),
        StructField("fuel_level", DoubleType(), False),
    ]
)

CAR_MOVE_EVENT = StructType(
    [
        StructField("car_id", IntegerType(), False),
        StructField("zone_id", IntegerType(), False),
        StructField("is_arriving", BooleanType(), False),
        StructField("fuel_level", DoubleType(), False),
    ]
)

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Analyzed reader plans, keyed by (session identity, abspath, content
# fingerprint).  METADATA memoization only — see load_table.  Bounded LRU
# (r18, ADVICE r17): the bench touches ~12 tables, but a long-lived session
# iterating many sf dirs would otherwise grow the dict monotonically, and an
# mtime change would leave the stale sibling entry alive forever.
_TABLE_PLAN_CACHE: "OrderedDict[tuple, DataFrame]" = OrderedDict()
_TABLE_PLAN_CACHE_MAX = 64


def _path_fingerprint(path: str) -> tuple:
    """Content fingerprint of a parquet table path for the reader-plan
    cache key.  Spark-written tables are DIRECTORIES: the directory's own
    mtime only moves when entries are added/removed/renamed, and its
    st_size is not content size — a part file rewritten IN PLACE would
    serve a stale cached plan under a dir-stat key (ADVICE r17, medium).
    So for directories the fingerprint folds in every entry's (name,
    mtime_ns, size); for plain files it is the file's own (mtime_ns,
    size).  Raises OSError upward — the caller treats that as
    uncacheable."""
    st = os.stat(path)
    if not stat.S_ISDIR(st.st_mode):
        return (st.st_mtime_ns, st.st_size)
    entries = []
    with os.scandir(path) as it:
        for e in sorted(it, key=lambda e: e.name):
            es = e.stat()
            entries.append((e.name, es.st_mtime_ns, es.st_size))
    return (st.st_mtime_ns, tuple(entries))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver-generated parquet table (TESTDATA.md).

    Session-agnostic, and normalizes ``events.ts`` across testdata vintages:
    older generators wrote INT64 TIMESTAMP(NANOS) (readable only as BIGINT
    nanos via the runtime-settable ``nanosAsLong`` legacy conf — set here so
    any SparkSession, the driver's included, can read every table), newer
    ones write TIMESTAMP(MICROS) (arriving as TIMESTAMP_NTZ).  Every query
    downstream sees ONE type — TIMESTAMP — matching the oracle engine's
    native reading of the same parquet.

    The analyzed reader PLAN is memoized per (owning session, absolute
    path, content fingerprint) — r17, measured: every ``spark.read.parquet``
    call re-lists the path and re-reads parquet footers for schema
    inference (~110 ms warm on this host), and a bench run constructs
    every query several times (warm-up + repeats), ~600 such calls per
    run — tens of seconds of pure repeated metadata work for byte-
    identical scan plans.  This caches METADATA ONLY: the DataFrame is a
    lazy plan, no row or result is stored, nothing is persisted across
    processes, and every execution still scans the parquet inputs in
    full (the engine-catalog analogy: a real warehouse resolves a table
    reference from its catalog instead of re-deriving the schema from
    data files per query).  A new SparkSession — sibling ``newSession()``
    included, via ``id(spark)`` in the key (ADVICE r17: a cached plan is
    bound to the session that analyzed it) — a changed part file (the
    fingerprint folds in every directory entry's mtime/size, so an
    in-place part-file rewrite misses), or an unstat-able path misses or
    bypasses the cache; the cache itself is a small LRU so stale
    fingerprints for the same path age out instead of accumulating."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    key: tuple | None
    try:
        key = (
            id(spark),
            spark.sparkContext.applicationId,
            os.path.abspath(path),
            _path_fingerprint(path),
        )
    except OSError:
        key = None
    if key is not None and key in _TABLE_PLAN_CACHE:
        _TABLE_PLAN_CACHE.move_to_end(key)
        return _TABLE_PLAN_CACHE[key]
    df = spark.read.parquet(path)
    if name == "events" and "ts" in df.columns:
        t = dict(df.dtypes)["ts"]
        if t == "bigint":  # legacy INT64 nanos vintage
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif t == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    if key is not None:
        _TABLE_PLAN_CACHE[key] = df
        while len(_TABLE_PLAN_CACHE) > _TABLE_PLAN_CACHE_MAX:
            _TABLE_PLAN_CACHE.popitem(last=False)
    return df


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Spread an under-partitioned input across the cluster before
    expression-heavy per-row work.

    A small parquet file is one scan partition (one row group), so every
    downstream projection — tokenization, hashing, cosine — runs on ONE
    core no matter how many the session has.  Repartitioning costs one
    shuffle of the (small, by definition) input and unlocks full map-side
    parallelism.  When the input already has at least half the session's
    default parallelism (any real at-scale table: many files / row groups),
    this is a NO-OP — no shuffle is ever added to a well-partitioned
    100 TB scan.

    The under-partitioned check runs NO job and builds NO RDD (r18,
    VERDICT r17 item 4 — the r17 guard still paid a 1-job eager probe on
    scan+broadcast plans, and ``df.rdd`` under AQE materializes every
    query stage of a shuffle-bearing plan):

    1. A plan already containing a shuffle ``Exchange`` is
       cluster-partitioned by construction (its exchanges land on
       ``spark.sql.shuffle.partitions`` / AQE-coalesced partitioning, or
       an upstream explicit repartition — every such call site here):
       skip.  The match is anchored to the rendered tree position
       (ADVICE r17: a bare substring match would false-positive on a
       column literal like ``stockExchange``); Broadcast/Reused
       exchanges do not repartition and do not match.
    2. Otherwise, if the plan reads files, the scan's partition count is
       ESTIMATED from the file footprint (``df.inputFiles()`` + os.stat —
       driver-side metadata only, no job, no RDD conversion) using
       Spark's own split-packing arithmetic (FilePartition.maxSplitBytes:
       files are chunked at ``maxPartitionBytes`` and small files packed
       with ``openCostInBytes`` padding).  This is exactly the case the
       spread exists for — a small freshly-written parquet table is 1-2
       splits no matter how many cores the session has (the sf1
       single-row-group fix, SCALE.md r16: 2.93x → 0.43x).
    3. A file-less, exchange-free plan (in-flight LocalRelation /
       checkpointed-RDD leaves) falls back to ``df.rdd.getNumPartitions``
       — on such leaf plans the conversion runs no job; if the plan
       contains a broadcast/subquery anyway (building its RDD WOULD run
       the broadcast job), skip instead of probing.

    Before all of these: a plan whose every leaf is an RDD that already
    has ``floor`` partitions (a pinned ``materialize`` frame and any
    projection, filter or union over such frames) is left alone after
    reading the leaves' partition counts from the analyzed plan — no
    physical planning, no RDD built for the whole plan.
    """
    if df.isStreaming:  # micro-batch partitioning is the engine's concern
        return df
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    floor = max(2, target // 2)
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    if all(
        leaf.getClass().getSimpleName() == "LogicalRDD"
        and leaf.rdd().getNumPartitions() >= floor
        for leaf in (leaves.apply(i) for i in range(leaves.size()))
    ):
        return df
    # CHEAP check first (r18, ADVICE r17: rendering executedPlan() pays
    # full analysis+optimization+physical planning of the subtree — up
    # to ~0.5 s on the in-flight index trees — and the caller's final
    # plan pays it again).  ``inputFiles()`` needs ANALYSIS only; when
    # the file footprint alone already proves the scan well-partitioned
    # (est >= floor), the answer is "leave df alone" REGARDLESS of what
    # the physical plan holds — a shuffle-bearing plan would also be
    # left alone — so the physical render is skipped entirely.  Only
    # the under-partitioned-footprint case still needs the plan: an
    # Exchange above the small scan means the data is already spread by
    # the shuffle and a repartition on top would be pure cost.
    files = []
    try:
        files = list(df.inputFiles())
    except Exception:
        pass
    est = _estimate_scan_partitions(spark, files) if files else None
    if est is not None and est >= floor:
        return df
    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
    except Exception:  # defensive: fall back to the file estimate/probe
        plan = ""
    # anchored to a tree-node position: "Exchange hashpartitioning(...)" /
    # "+- Exchange rangepartitioning(...)" etc.; BroadcastExchange and
    # ReusedExchange render with their prefix attached (no word boundary)
    if re.search(r"(?m)(?:^|[-+:] |\+- |:- )Exchange ", plan):
        return df
    if est is not None:
        return df.repartition(target)  # under-partitioned file scan
    if "BroadcastExchange" in plan or "Subquery" in plan:
        # building this plan's RDD would execute the broadcast/subquery
        # job eagerly; its stream side is an already-governed leaf
        return df
    if df.rdd.getNumPartitions() < floor:
        return df.repartition(target)
    return df


def _estimate_scan_partitions(spark: SparkSession, files: list[str]) -> int | None:
    """Estimate how many scan partitions a file-sourced plan gets, from
    driver-side metadata only — the no-job twin of
    ``df.rdd.getNumPartitions()`` for file scans.  Mirrors
    ``FilePartition.maxSplitBytes`` (Spark 3.x/4.x): splittable files are
    chunked at ``maxSplitBytes = min(maxPartitionBytes, max(openCost,
    totalBytes / minPartitionNum))`` and chunks are bin-packed to that
    size with ``openCostInBytes`` padding per file, so the partition
    count is ≈ ceil(Σ(size + openCost) / maxSplitBytes).  Returns None
    when a file cannot be stat'ed (non-local URI) — the caller then
    falls back to its probe."""
    sizes = []
    for uri in files:
        p = uri
        if p.startswith("file:"):
            p = re.sub(r"^file:(//)?", "", p)
        elif "://" in p:
            return None  # non-local filesystem: stat not applicable
        try:
            sizes.append(os.stat(p).st_size)
        except OSError:
            return None
    if not sizes:
        return None
    try:
        conf = spark._jsparkSession.sessionState().conf()
        max_pb = int(conf.filesMaxPartitionBytes())
        open_cost = int(conf.filesOpenCostInBytes())
    except Exception:
        max_pb, open_cost = 128 << 20, 4 << 20
    total = sum(sizes) + open_cost * len(sizes)
    bytes_per_core = total / max(1, spark.sparkContext.defaultParallelism)
    max_split = min(max_pb, max(open_cost, int(bytes_per_core)))
    return max(1, -(-total // max(1, max_split)))


# armed (set to a list) only by scripts/plan_audit.py — see materialize()
_PLAN_AUDIT_SINK: list | None = None


def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """Pin a DataFrame's result and truncate its lineage — the repo-wide
    wrapper for every batch ``localCheckpoint`` site (iterative label
    propagation, multi-branch reuse of an expensive projection, exact
    ANN baselines).

    Default: ``localCheckpoint`` — executor-local blocks, fastest, but a
    lost executor discards its blocks and FAILS the job.  Fine on
    local[*] and on clusters where re-running the job beats paying the
    replication.  For fault-tolerant runs, opt in to reliable
    checkpointing by setting the session conf
    ``spark.graft.checkpointDir`` (or env ``SPARK_GRAFT_CHECKPOINT_DIR``)
    to a (distributed) filesystem path: blocks then go through
    ``DataFrame.checkpoint`` into that directory and survive executor
    loss.  The knob is read per call, so one session can mix modes.

    ``reliable`` checkpointing is always eager (Spark materializes on
    write); the ``eager`` flag only controls the local fast path.

    Plan-audit hook (r11 VERDICT item 3): checkpointing truncates
    lineage, which made scripts/plan_audit.py blind to exactly the
    iterative queries' real per-round plans (their PLANS.md rows read
    "0 shuffles / 0 scans").  When ``_PLAN_AUDIT_SINK`` is armed (a
    list), the PRE-truncation DataFrame is appended before
    checkpointing so the auditor can count each stage's shuffles/joins/
    scans; the default (None) costs nothing.
    """
    if _PLAN_AUDIT_SINK is not None:
        _PLAN_AUDIT_SINK.append(df)
    spark = df.sparkSession
    ckpt_dir = spark.conf.get("spark.graft.checkpointDir", None) or os.environ.get(
        "SPARK_GRAFT_CHECKPOINT_DIR"
    )
    if ckpt_dir:
        sc = spark.sparkContext
        if sc.getCheckpointDir() is None:
            sc.setCheckpointDir(ckpt_dir)
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=eager)


def materialize_with_sum(df: DataFrame, col: str) -> tuple[DataFrame, int | None]:
    """``materialize`` + the column's sum in ONE job (r17): the iterative
    label-propagation loops pin each round's labels (an eager checkpoint —
    already a full pass over every row) and then ran a SECOND job per
    round just to collect ``sum(lbl)`` for the convergence test.  An
    ``Observation`` metric rides the checkpoint pass itself, so the scalar
    costs zero extra jobs.  Returns ``(pinned_df, sum)``.

    The reliable-checkpoint path (``spark.graft.checkpointDir`` /
    ``SPARK_GRAFT_CHECKPOINT_DIR``) keeps the two-job form:
    ``DataFrame.checkpoint`` materializes through an internal RDD action
    whose observation semantics are not contractual, and a hung
    ``Observation.get`` would deadlock the driver — one small extra
    aggregate over checkpointed blocks is the safe price there.

    The local path's ``Observation`` contract is itself undocumented
    (verified firing on ``localCheckpoint(eager=True)`` on this Spark
    version, and pinned by a unit test), so ``obs.get`` is wrapped in a
    BOUNDED wait (r18, ADVICE r17): if the metrics do not arrive within
    the timeout — a future Spark dropping the internal action's
    observation, a listener failure — the sum is recomputed with one
    small aggregate over the already-pinned blocks instead of blocking
    the driver forever."""
    spark = df.sparkSession
    ckpt_dir = spark.conf.get("spark.graft.checkpointDir", None) or os.environ.get(
        "SPARK_GRAFT_CHECKPOINT_DIR"
    )
    if ckpt_dir:
        pinned = materialize(df)
        return pinned, pinned.agg(F.sum(col)).collect()[0][0]
    from pyspark.sql import Observation

    obs = Observation()
    pinned = materialize(df.observe(obs, F.sum(F.col(col)).alias("s")))
    got = _bounded_observation_get(obs, timeout_sec=30.0)
    if got is _OBS_TIMEOUT:
        return pinned, pinned.agg(F.sum(col)).collect()[0][0]
    return pinned, got["s"]


_OBS_TIMEOUT = object()


def _bounded_observation_get(obs, timeout_sec: float):
    """``Observation.get`` with a timeout: the checkpoint action has
    already COMPLETED by the time this is called, so healthy metrics
    arrive in milliseconds; a wait hitting the bound means the
    observation never fired and the caller must recompute.  The waiter
    runs on a daemon thread — if it is truly hung it cannot block
    interpreter exit."""
    import concurrent.futures

    ex = concurrent.futures.ThreadPoolExecutor(
        max_workers=1, thread_name_prefix="graft-obs-get"
    )
    try:
        fut = ex.submit(lambda: obs.get)
        try:
            return fut.result(timeout=timeout_sec)
        except concurrent.futures.TimeoutError:
            return _OBS_TIMEOUT
    finally:
        ex.shutdown(wait=False)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TESTDATA_TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for spark.sql queries."""
    for t in TESTDATA_TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


def decode_json(raw: DataFrame, schema: StructType, value_col: str = "value") -> DataFrame:
    """JSON bytes/string → typed columns, permissive (JsonSerdes replacement).

    Unlike JsonSerdes.scala:40 (Try.get → pipeline crash on malformed input),
    parse failures yield NULL fields plus the raw payload in
    ``_corrupt_record`` — a dead-letter channel the reference's TODO at
    JsonSerdes.scala:35 wished for.
    """
    schema_with_corrupt = StructType(
        list(schema.fields) + [StructField(_CORRUPT_COL, StringType(), True)]
    )
    parsed = raw.withColumn(
        "_parsed",
        F.from_json(
            F.col(value_col).cast("string"),
            schema_with_corrupt,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": _CORRUPT_COL},
        ),
    )
    return parsed.select(*raw.columns, "_parsed.*")


def encode_json(df: DataFrame, cols: list[str] | None = None) -> Column:
    """Typed columns → JSON string (to_json over a struct of all columns)."""
    use = cols or df.columns
    return F.to_json(F.struct(*[F.col(c) for c in use]))
