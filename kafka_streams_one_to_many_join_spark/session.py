"""SparkSession factory.

One place to encode the scale posture (SURVEY.md §7.2-6): AQE on (runtime
re-planning, skew-join splitting, partition coalescing), Arrow on (every
pandas UDF crossing is vectorized), UTC session timezone (oracle parity with
DuckDB), RocksDB state store for streaming state (the Spark analog of the
reference's persistent RocksDB stores, DemoApp.scala:182-185,251-254).

Shuffle partitions default to the local core count; on a real cluster this
is overridden via ``spark.sql.shuffle.partitions`` / AQE advisory sizes —
the operators themselves never hardcode a partition count.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

_REPO_ROOT = str(Path(__file__).resolve().parent.parent)


def _ensure_workers_can_import() -> None:
    """Pandas-UDF / stateful-op functions are pickled by module reference,
    so executor Python workers must be able to import this package no
    matter what the driver's cwd is.  Local mode forks workers from the
    driver env — prepend the repo root to PYTHONPATH before the JVM
    starts.  (On a real cluster: ship a wheel via spark.submit.pyFiles.)
    """
    current = os.environ.get("PYTHONPATH", "")
    if _REPO_ROOT not in current.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            _REPO_ROOT + (os.pathsep + current if current else "")
        )


def _default_driver_memory() -> str:
    """16g (sized for a 128 GiB local[32] host), capped at ¾ of this
    host's physical RAM so a smaller host never asks the JVM for a heap
    larger than the machine.  ``SPARK_GRAFT_DRIVER_MEM`` overrides it."""
    try:
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, OSError, ValueError):
        return "16g"
    return f"{min(16 * 1024, ram * 3 // 4 // 2**20)}m"


def get_session(
    app_name: str = "one-to-many-join-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    Every knob here is cluster-size-relative, not data-size-absolute, so the
    same code runs on local[32] and on a 1000-executor cluster:

    - AQE re-plans at runtime: coalesces small shuffle partitions, converts
      sort-merge to broadcast joins when a side turns out small, and splits
      skewed partitions (the salting fallback for hot FK keys).
    - ``autoBroadcastJoinThreshold`` stays at default (10 MB); dimension-side
      broadcast for the one-to-many join is *also* forced explicitly with
      ``F.broadcast`` in the operators where the 1-side is known-small.
    - RocksDB state store provider: streaming join state lives off-heap and
      spills to disk, like the reference's stores, instead of on-heap maps.
    """
    _ensure_workers_can_import()
    cpus = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.filterPushdown", "true")
        # InferFiltersFromGenerate synthesizes `size(e) > 0` from
        # explode(e) and pushes it below exchanges — for expression-heavy
        # generators (tokenize→shingle→explode) that re-evaluates the
        # whole expression in a scan-side filter, single-threaded and
        # twice per row (measured 10× slowdown on the dedup pipelines).
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # events.parquet carries TIMESTAMP(NANOS) which Spark cannot read
        # natively; surface it as BIGINT nanos (no query depends on ts as a
        # timestamp — arrival order is the unique event_id/seq column).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
        # the generated-class cache defaults to 100 entries; a 100-query
        # suite compiles far more codegen stages than that, so later
        # queries recompile classes their predecessors evicted.  Sizing
        # the cache to the working set avoids that recompilation (a few
        # hundred extra cached classes of footprint).  Measured effect on
        # bench totals: none beyond the host's ±5% run-to-run noise —
        # kept because the eviction cost is real even where it is not
        # the dominant noise source (see SCALE.md "Measurement noise").
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # broadcast + window-heavy queries run the suite near an 8g
        # ceiling on a 128 GiB local[32] host
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_memory()),
        )
        .config("spark.ui.enabled", "false")
    )
    # SPARK_GRAFT_MASTER overrides the default local[cpus] master without
    # touching call sites — e.g. local-cluster[2,4,4096] for multi-JVM
    # executor-boundary testing (see README "Multi-JVM execution").
    env_master = os.environ.get("SPARK_GRAFT_MASTER")
    if master is not None:
        builder = builder.master(master)
    elif env_master:
        builder = builder.master(env_master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
