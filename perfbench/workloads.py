"""The workloads.  Each one runs *units* — a closed-loop stream step or
one batch pass — and checks every unit against the oracle.

Interface: the constructor writes inputs and oracle results (not timed),
``start(spark)`` builds queries (part of set-up), ``unit(i, traced)``
runs unit ``i`` and returns its sample, ``check()`` returns one ok flag per
unit run, ``stop()`` ends what ``start()`` began.
"""

from __future__ import annotations

import os
from collections import Counter

import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

from kafka_streams_one_to_many_join_spark.functions.dedup import minhash_lsh_pairs
from kafka_streams_one_to_many_join_spark.operators import (
    latest_by_key,
    one_to_many_join,
    one_to_many_join_trace,
)
from kafka_streams_one_to_many_join_spark.sources.readers import read_stream
from kafka_streams_one_to_many_join_spark.sources.writers import write_stream
from kafka_streams_one_to_many_join_spark.streaming.join import (
    car_move_detection,
    symmetric_one_to_many_join,
    tag_car_moves,
    tag_zone_events,
)

import gen
import oracle
import probe
from probe import now


CAR_DDL = "seq long, car_id int, to_zone_id int, fuel_level double"
ZONE_DDL = "seq long, zone_id int, pollution_level double"
# the batch changelog's car side carries zone_id; explicit schemas spare
# every pass a schema-inference job
LOG_CAR_DDL = "seq long, car_id int, zone_id int, fuel_level double"
DOC_DDL = "doc_id long, text string"


def _ms(d: dict, key: str) -> float:
    return float(d.get("durationMs", {}).get(key, 0))


def _state(d: dict) -> dict:
    ops = d.get("stateOperators") or [{}]
    return ops[0]


def _custom(d: dict, key: str) -> float:
    return float(_state(d).get("customMetrics", {}).get(key, 0))


class _Traced:
    """Counter reads shared by the workloads: jobs, stages, Python exec
    nodes, GC and host CPU, taken around each traced unit."""

    def __init__(self, spark) -> None:
        self.reader = probe.StatusReader(spark)

    def begin(self) -> dict:
        self.reader.new_jobs()
        self.reader.new_python_metrics()
        jvm, py = probe.cpu_seconds()
        return {"gc": self.reader.gc_seconds(), "jvm": jvm, "py": py}

    def end(self, before: dict, layers: dict) -> dict:
        t = now()
        jobs = self.reader.new_jobs()
        py = self.reader.new_python_metrics()
        jvm, pyc = probe.cpu_seconds()
        layers.update(
            {
                "python.bytes_sent": py.get("data sent to Python workers", 0.0),
                "python.bytes_received": py.get("data returned from Python workers", 0.0),
                "python.rows_received": py.get("number of output rows", 0.0),
                "python.exec_s": py.get("time to run Python workers", 0.0),
                "jvm.gc_s": self.reader.gc_seconds() - before["gc"],
                "host.cpu_jvm_s": jvm - before["jvm"],
                "host.cpu_python_s": pyc - before["py"],
            }
        )
        layers["trace.read_ms"] = (now() - t) * 1000
        return jobs


class StreamWorkload:
    """The reference topology as two chained queries: stage 1
    (``car_move_detection``) writes a parquet "through" directory that
    stage 2 (``symmetric_one_to_many_join``) reads with the zone stream.

    One step is in flight at a time: publish the step's car file, run it
    through both stages, then publish its zone file and run stage 2.
    """

    def __init__(self, work: str, steps: list[gen.Step], expected, spans) -> None:
        self.spark = None
        self.work = work
        self.steps = steps
        self.expected = expected
        self.spans = spans
        self.n_units = len(steps)
        self.unit_files: list[list[str]] = []
        self._seen = {"through": set(), "out": set()}
        self._batch = [-1, -1]  # last progress batch before a traced step
        self._traced = None
        self.q1 = self.q2 = None

    def start(self, spark) -> None:
        self.spark = spark
        w = self.work
        for d in ("cars", "zones"):
            os.makedirs(f"{w}/{d}")
        moves = car_move_detection(read_stream(self.spark, "parquet", f"{w}/cars", schema=CAR_DDL))
        self.q1 = write_stream(moves, "parquet", f"{w}/through", checkpoint=f"{w}/cp1",
                               query_name="stage1")
        tagged = tag_car_moves(
            read_stream(self.spark, "parquet", f"{w}/through", schema=moves.schema)
        ).unionByName(
            tag_zone_events(read_stream(self.spark, "parquet", f"{w}/zones", schema=ZONE_DDL))
        )
        self.q2 = write_stream(symmetric_one_to_many_join(tagged), "parquet", f"{w}/out",
                               checkpoint=f"{w}/cp2", query_name="stage2")

    def _publish(self, data: bytes, kind: str, i: int) -> None:
        # Spark's file source skips names starting with "." — write under
        # one, then rename into view
        tmp = f"{self.work}/{kind}/.{i:06d}.parquet"
        with open(tmp, "wb") as f:
            f.write(data)
        os.rename(tmp, f"{self.work}/{kind}/{i:06d}.parquet")

    def _new_files(self, kind: str) -> list[str]:
        d = f"{self.work}/{kind}"
        names = {n for n in os.listdir(d) if n.startswith("part-")}
        new = sorted(names - self._seen[kind])
        self._seen[kind] = names
        return [f"{d}/{n}" for n in new]

    def unit(self, i: int, traced: bool) -> dict:
        step = self.steps[i]
        if traced and self._traced is None:
            self._traced = _Traced(self.spark)
        before = None
        if traced:
            before = self._traced.begin()
            for k, q in enumerate((self.q1, self.q2)):
                last = q.lastProgress
                self._batch[k] = last.batchId if last is not None else -1
        t0 = now()
        self._publish(step.car_parquet, "cars", i)
        t_vis = now()
        self.q1.processAllAvailable()
        t1 = now()
        self.q2.processAllAvailable()
        t2 = now()
        self._publish(step.zone_parquet, "zones", i)
        t3 = now()
        self.q2.processAllAvailable()
        t4 = now()
        through = self._new_files("through")
        self.unit_files.append(self._new_files("out"))
        sample = {"wall": t4 - t_vis, "events": step.events}
        if traced:
            for name, a, b, parent in (
                ("step", t0, t4, None),
                ("gen.publish_cars", t0, t_vis, "step"),
                ("stage1", t_vis, t1, "step"),
                ("stage2.cars", t1, t2, "step"),
                ("gen.publish_zones", t2, t3, "step"),
                ("stage2.zones", t3, t4, "step"),
            ):
                self.spans.add(name, a, b, parent, i)
            sample["layers"] = self._layers(before, through, (t0, t_vis, t1, t2, t3, t4))
        return sample

    def _layers(self, before, through, t) -> dict:
        t0, t_vis, t1, t2, t3, t4 = t
        p1 = probe.progress_since(self.q1, self._batch[0])
        p2 = probe.progress_since(self.q2, self._batch[1])
        both = p1 + p2
        busy1 = sum(_ms(d, "triggerExecution") for d in p1)
        busy2 = sum(_ms(d, "triggerExecution") for d in p2)
        out_files = self.unit_files[-1]
        layers = {
            "gen.publish_ms": ((t_vis - t0) + (t3 - t2)) * 1000,
            "sources.list_ms": _mean(_ms(d, "latestOffset") + _ms(d, "getBatch") for d in both),
            "sources.log_commit_ms": _mean(
                _ms(d, "walCommit") + _ms(d, "commitOffsets") for d in both
            ),
            "sources.through_bytes": float(sum(os.path.getsize(f) for f in through)),
            "stage1.wall_s": t1 - t_vis,
            "stage1.busy_ms": busy1,
            "stage1.wait_ms": (t1 - t_vis) * 1000 - busy1,
            "stage1.state_update_ms": sum(_state(d).get("allUpdatesTimeMs", 0) for d in p1),
            "stage1.state_commit_ms": sum(_state(d).get("commitTimeMs", 0) for d in p1),
            "stage1.state_rows": float(_state(p1[-1]).get("numRowsTotal", 0)) if p1 else 0.0,
            "stage1.rows_in": float(sum(d.get("numInputRows", 0) for d in p1)),
            "stage1.rows_out": float(sum(pq.read_metadata(f).num_rows for f in through)),
            "stage2.car_wall_s": t2 - t1,
            "stage2.zone_wall_s": t4 - t3,
            "stage2.busy_ms": busy2,
            "stage2.wait_ms": ((t2 - t1) + (t4 - t3)) * 1000 - busy2,
            "stage2.state_update_ms": sum(_state(d).get("allUpdatesTimeMs", 0) for d in p2),
            "stage2.state_commit_ms": sum(_state(d).get("commitTimeMs", 0) for d in p2),
            "stage2.state_rows": float(_state(p2[-1]).get("numRowsTotal", 0)) if p2 else 0.0,
            "stage2.state_bytes": float(_state(p2[-1]).get("memoryUsedBytes", 0)) if p2 else 0.0,
            "stage2.rows_in": float(sum(d.get("numInputRows", 0) for d in p2)),
            "stage2.rows_out": float(sum(pq.read_metadata(f).num_rows for f in out_files)),
            "state.fsync_ms": sum(_custom(d, "rocksdbCommitFileSyncLatencyMs") for d in both),
            "state.changelog_commit_ms": sum(
                _custom(d, "rocksdbChangeLogWriterCommitLatencyMs") for d in both
            ),
        }
        jobs = self._traced.end(before, layers)
        stage2_jobs = jobs.get(str(self.q2.runId), {})
        layers["stage2.task_skew"] = probe.skew(stage2_jobs.get("task_ms", []))
        return layers

    def check(self) -> list[bool]:
        ok = []
        for i, files in enumerate(self.unit_files):
            got: Counter = Counter()
            if files:
                cols = pq.read_table(files).to_pydict()
                got.update(zip(cols["car_id"], cols["zone_id"], cols["fuel_level"],
                               cols["pollution_level"]))
            ok.append(got == self.expected[i])
        return ok

    def checkpoint_bytes(self) -> float:
        return float(probe.tree_bytes(f"{self.work}/cp1") + probe.tree_bytes(f"{self.work}/cp2"))

    def stop(self) -> None:
        for q in (self.q1, self.q2):
            if q is not None:
                q.stop()


class BatchWorkload:
    """One pass = the operators part, then the dedup part, each written
    whole to the ``noop`` sink and checked by fingerprint.

    operators: ``one_to_many_join_trace`` and the snapshot join
    (``latest_by_key`` on both sides, then ``one_to_many_join``) over one
    changelog.  dedup: ``minhash_lsh_pairs`` over a corpus with planted
    near-duplicates; its pair set is collected in the first pass, checked
    in Python (exact Jaccard, no self or repeated pairs, every planted pair
    of Jaccard >= ``must_find`` found), and its fingerprint then checks
    every pass.
    """

    n_units = 1 << 30

    def __init__(self, work: str, log: gen.Step, c: gen.Corpus, threshold: float,
                 must_find: float, spans) -> None:
        self.spark = None
        self.spans = spans
        self.cars, self.zones = f"{work}/cars.parquet", f"{work}/zones.parquet"
        self.docs = f"{work}/docs.parquet"
        gen.write_changelog(log, self.cars, self.zones)
        gen.write_corpus(c, self.docs)
        self.corpus = c
        self.threshold = threshold
        self.must_find = must_find
        self.events = log.events + len(c.docs)
        self.expect_ops = (
            oracle.fingerprint(oracle.replay([log])[0]),
            oracle.fingerprint(oracle.snapshot(log)),
        )
        self.expect_pairs = None
        self.problems: list[str] = []
        self.oks: list[bool] = []
        self._traced = None

    def _pairs(self):
        docs = self.spark.read.schema(DOC_DDL).parquet(self.docs)
        return minhash_lsh_pairs(docs, threshold=self.threshold).select("doc_a", "doc_b")

    def start(self, spark) -> None:
        self.spark = spark

    def _write(self, df, cols) -> tuple[int, ...]:
        obs = Observation()
        df.observe(obs, *oracle.fingerprint_columns(cols)).write.format("noop").mode(
            "overwrite"
        ).save()
        return oracle.observed(obs.get)

    def _operators(self):
        car = self.spark.read.schema(LOG_CAR_DDL).parquet(self.cars)
        zone = self.spark.read.schema(ZONE_DDL).parquet(self.zones)
        key = oracle.joined_key_columns()
        t0 = now()
        trace = self._write(one_to_many_join_trace(car, zone), key)
        t1 = now()
        snap = self._write(
            one_to_many_join(
                latest_by_key(car, "car_id", "seq", payload=["zone_id", "fuel_level"]),
                latest_by_key(zone, "zone_id", "seq", payload=["pollution_level"]),
                "zone_id",
            ),
            key,
        )
        t2 = now()
        marks = [("operators.trace", t0, t1), ("operators.snapshot", t1, t2)]
        return marks, "rows_out", trace[0] + snap[0], (trace, snap) == self.expect_ops

    def _dedup(self):
        t0 = now()
        if self.expect_pairs is None:
            # first pass: collect the pairs and check them in Python
            pairs = [(r.doc_a, r.doc_b) for r in self._pairs().collect()]
            t1 = now()
            self.problems = oracle.check_pairs(
                pairs, self.corpus.docs, self.corpus.planted, self.threshold, self.must_find
            )
            self.expect_pairs = oracle.fingerprint(Counter(pairs), key=lambda r: r)
            return [("dedup.pass", t0, t1)], "pairs_out", len(pairs), not self.problems
        got = self._write(self._pairs(), [F.col("doc_a"), F.col("doc_b")])
        t1 = now()
        ok = not self.problems and got == self.expect_pairs
        return [("dedup.pass", t0, t1)], "pairs_out", got[0], ok

    def unit(self, i: int, traced: bool) -> dict:
        if traced and self._traced is None:
            self._traced = _Traced(self.spark)
        before = self._traced.begin() if traced else None
        layers = {"sources.scan_bytes": 0.0}
        parts = {}
        ok = True
        t0 = now()
        for prefix, part in (("operators", self._operators), ("dedup", self._dedup)):
            marks, rows_name, rows, part_ok = part()
            ok = ok and part_ok
            for name, a, b in marks:
                parts[name] = b - a
                if traced:
                    self.spans.add(name, a, b, "pass", i)
                    layers[f"{name}_s"] = b - a
            if traced:
                jobs = self._traced.reader.new_jobs().get(None, {"jobs": 0, "stages": []})
                tot = probe.stage_totals(jobs["stages"])
                layers.update(
                    {
                        f"{prefix}.jobs": float(jobs["jobs"]),
                        f"{prefix}.stages": float(len(jobs["stages"])),
                        f"{prefix}.shuffle_read_bytes": tot["shuffleReadBytes"],
                        f"{prefix}.shuffle_write_bytes": tot["shuffleWriteBytes"],
                        f"{prefix}.spill_bytes": tot["diskBytesSpilled"],
                        f"{prefix}.executor_run_s": tot["executorRunTime"] / 1000,
                        f"{prefix}.{rows_name}": float(rows),
                    }
                )
                layers["sources.scan_bytes"] += tot["inputBytes"]
        wall = now() - t0
        self.oks.append(ok)
        sample = {"wall": wall, "events": self.events, "parts": parts}
        if traced:
            self.spans.add("pass", t0, t0 + wall, None, i)
            self._traced.end(before, layers)
            sample["layers"] = layers
        return sample

    def check(self) -> list[bool]:
        return self.oks

    def stop(self) -> None:
        pass


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0
