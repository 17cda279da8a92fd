"""Closed-loop benchmark of the one-to-many join engine.

    python3 perfbench/run.py --workload stream_cars --seed 1 --seconds 10 --trace 0

Runs one workload (see WORKLOADS) from the root of a checkout: generates its
inputs from ``--seed`` in memory, computes the oracle, starts Spark, warms
up, then runs units (stream steps or batch passes) one at a time for
``--seconds`` and checks every unit's output.  The last stdout line is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``, a separate run that also times alternate untraced units for
the tracing overhead and repeats the workload on ``local[1]``).  The line
before it records the seed, workload sizes and the host's core count and
Spark, Java and Python versions, and the wall time of every measured unit
(and of its parts, for batch passes).  Scratch files live in
``.perfbench_work/`` and are removed; traced runs leave their spans, and a
crashing JVM its error log, in ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import threading
import time
import traceback

import gen
import probe

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = {
    # closed-loop stream: every car moves once per step; 5% zone events
    "stream_cars": {"kind": "stream", "cars": 600, "zones": 2000, "zone_events": 32,
                    "warmup": 2},
    # a changelog with ~10 cars resident per zone, and a corpus with 20%
    # planted near-duplicates (0..6 word substitutions in 120 words).  Pass
    # times settle after ~7 passes (4-vCPU host, JIT): ``warm_passes`` run on
    # inputs ``warm_scale`` the size (same code paths, a quarter of the row
    # work), then ``warmup`` on the measured inputs.
    "batch": {"kind": "batch", "events": 100_000, "cars": 10_000, "zones": 1_000,
              "zone_share": 0.1, "docs": 4000, "words": 120, "vocab": 5000,
              "dup_share": 0.2, "max_edits": 6, "threshold": 0.8, "must_find": 0.95,
              "warm_scale": 0.25, "warm_passes": 5, "warmup": 2},
}
DRIVER_MEM = "2g"
DEADLINE_S = 165  # the whole run, set-up and checks included


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _pin_env(work: str) -> None:
    """Fixed, explicit engine settings; must run before the package is
    imported (it reads SPARK_GRAFT_CPUS at import)."""
    os.environ["SPARK_GRAFT_CPUS"] = str(_cpus())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # temp files (Python's, and the JVMs' native libraries) stay in the checkout
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    crash_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(crash_dir, exist_ok=True)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        f"-XX:ErrorFile={crash_dir}/hs_err_pid%p.log"
    )
    for var in ("SPARK_GRAFT_MASTER", "SPARK_MASTER"):
        os.environ.pop(var, None)
    # workers inherit this: pandas deprecation chatter on stderr
    os.environ["PYTHONWARNINGS"] = "ignore::FutureWarning"


def _scaled(params: dict, scale: float) -> dict:
    keep = {"warmup", "warm_passes", "zone_share", "dup_share", "threshold", "must_find",
            "words", "max_edits"}
    return {
        k: (max(1, int(v * scale)) if isinstance(v, int) and k not in keep else v)
        for k, v in params.items()
    }


def _quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1])."""
    s = sorted(values)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


class Run:
    def __init__(self, args, params: dict, work: str) -> None:
        self.args = args
        self.params = params
        self.work = work
        self.spans = probe.Spans()
        self.spark = None
        self.timed_out = False
        self.versions: dict = {}
        self.pair_check = None  # the batch's collected pair check, reused on local[1]

    # -- set-up ------------------------------------------------------------

    def generate(self) -> None:
        """Inputs and oracle, before any timing."""
        import oracle

        p, seed = self.params, self.args.seed
        if p["kind"] == "stream":
            n = p["warmup"] + int(2 * self.args.seconds) + 4
            self.steps = gen.stream_steps(seed, n, p["cars"], p["zones"], p["zone_events"])
            self.expected = oracle.replay(self.steps)
            if self.args.corrupt_oracle:
                self.expected[0][(-1, -1, 0.0, 0.0)] += 1
        else:
            self.inputs = {False: self._batch_inputs(seed, p)}
            if p.get("warm_passes"):
                self.inputs[True] = self._batch_inputs(seed, _scaled(p, p["warm_scale"]))

    @staticmethod
    def _batch_inputs(seed: int, p: dict) -> tuple[gen.Step, gen.Corpus]:
        return (
            gen.changelog(seed, p["events"], p["cars"], p["zones"], p["zone_share"]),
            gen.corpus(seed, p["docs"], p["words"], p["vocab"], p["dup_share"], p["max_edits"]),
        )

    def start_session(self, master: str):
        from kafka_streams_one_to_many_join_spark.session import get_session

        spark = get_session(
            f"perfbench-{self.args.workload}",
            master=master,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        self.versions = {
            "spark": spark.version,
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(),
        }
        return spark

    def make_workload(self, phase: str, warm: bool = False):
        import workloads

        work = os.path.join(self.work, phase)
        os.makedirs(work)
        p = self.params
        if p["kind"] == "stream":
            return workloads.StreamWorkload(work, self.steps, self.expected, self.spans)
        log, corpus = self.inputs[warm]
        w = workloads.BatchWorkload(work, log, corpus, p["threshold"], p["must_find"],
                                    self.spans)
        if self.pair_check is not None and not warm:
            w.expect_pairs, w.problems = self.pair_check
        if self.args.corrupt_oracle:
            (n, h1, h2), snap = w.expect_ops
            w.expect_ops = ((n, h1 + 1, h2), snap)
        return w

    # -- one phase: session, warm-up, measured units -------------------------

    def phase(self, name: str, master: str, warmup: int, seconds: float, traced: bool,
              warm_passes: int = 0) -> dict:
        """Session, ``warm_passes`` units on the small warm-up inputs,
        ``warmup`` units on the measured inputs, then measured units for
        ``seconds``."""
        wl = self.make_workload(name)
        small = self.make_workload(f"{name}-warm", warm=True) if warm_passes else None
        samples, error = [], None
        t0 = time.perf_counter()
        t_session = t_setup = cpu0 = None
        try:
            self.spark = self.start_session(master)
            t_session = time.perf_counter()
            wl.start(self.spark)
            if small is not None:
                small.start(self.spark)
            for i in range(warm_passes):
                small.unit(i, False)
            for i in range(warmup):
                wl.unit(i, False)
            t_setup = time.perf_counter()
            cpu0 = probe.cpu_seconds()
            i, t_end = warmup, t_setup + seconds
            while i < wl.n_units and (not samples or time.perf_counter() < t_end):
                samples.append(wl.unit(i, traced and i % 2 == 1))
                i += 1
        except Exception:  # a failure ends the phase; it counts as a failed unit
            error = traceback.format_exc()
            print(error, file=sys.stderr, flush=True)
        t_fail = time.perf_counter()
        cpu1 = probe.cpu_seconds()
        oks = wl.check() + (small.check() if small else []) + ([False] if error else [])
        out = {
            "session_s": (t_session or t_fail) - t0,
            "warmup_s": (t_setup or t_fail) - (t_session or t_fail),
            "setup_s": (t_setup or t_fail) - t0,
            "samples": samples,
            "cpu_s": sum(cpu1) - sum(cpu0 or cpu1),
            "rss_mb": probe.peak_rss_mb(),
            "error": error and error.strip().splitlines()[-1],
            "oks": oks,
        }
        if getattr(wl, "expect_pairs", None) is not None:
            self.pair_check = (wl.expect_pairs, wl.problems)
        if hasattr(wl, "checkpoint_bytes"):
            out["checkpoint_bytes"] = wl.checkpoint_bytes() / max(1, len(oks))
        for w in (wl, small):
            if w is not None:
                w.stop()
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        return out

    def watchdog(self) -> threading.Timer:
        def fire():
            self.timed_out = True
            spark = self.spark
            if spark is not None:
                for q in spark.streams.active:
                    q.stop()
                spark.sparkContext.cancelAllJobs()

        t = threading.Timer(DEADLINE_S, fire)
        t.daemon = True
        t.start()
        return t


def _e2e(main: dict) -> dict:
    s = main["samples"]
    walls = [x["wall"] for x in s]
    events = sum(x["events"] for x in s)
    oks = main["oks"]
    return {
        "setup_s": (main["setup_s"], "s"),
        "events_per_s": (events / sum(walls) if walls else 0.0, "1/s"),
        "step_s_p50": (_quantile(walls, 0.5) if walls else 0.0, "s"),
        "cpu_s_per_kevent": (main["cpu_s"] / (events / 1000) if events else 0.0, "s"),
        "ok_ratio": (sum(oks) / len(oks) if oks else 0.0, "ratio"),
    }


def _layers(main: dict, base: dict, units: dict[str, str]) -> dict:
    """Per-layer metrics: medians over the traced units; a layer the
    workload does not run reads 0."""
    traced = [x for x in main["samples"] if "layers" in x]
    plain = [x["wall"] for x in main["samples"] if "layers" not in x]
    out = {name: 0.0 for name in units}
    for name in units:
        vals = [x["layers"][name] for x in traced if name in x["layers"]]
        if vals:
            out[name] = statistics.median(vals)
    out["host.rss_mb_peak"] = main["rss_mb"]
    out["session.start_s"] = main["session_s"]
    out["session.warmup_s"] = main["warmup_s"]
    if "checkpoint_bytes" in main:
        out["state.checkpoint_bytes"] = main["checkpoint_bytes"]
    if traced and plain:
        t = statistics.median(x["wall"] for x in traced)
        u = statistics.median(plain)
        out["trace.overhead_pct"] = (t - u) / u * 100
    base_walls = [x["wall"] for x in base["samples"]]
    main_walls = [x["wall"] for x in main["samples"]]
    if base_walls and main_walls:
        out["baseline1.step_s_p50"] = statistics.median(base_walls)
        out["baseline1.speedup"] = statistics.median(base_walls) / statistics.median(main_walls)
    return {k: {"value": float(v), "unit": units[k]} for k, v in out.items()}


def _stop_jvm(timeout_s: float = 30) -> None:
    """End the JVM this process launched and wait until it and its Python
    workers are gone (they exit when the JVM closes their sockets)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    kids = set(probe.descendants())
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=timeout_s)
    deadline = time.perf_counter() + timeout_s
    while kids and time.perf_counter() < deadline:
        kids = {pid for pid in kids if os.path.exists(f"/proc/{pid}")}
        time.sleep(0.1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiply input sizes (the self-test runs small)")
    ap.add_argument("--corrupt-oracle", action="store_true",
                    help="self-test only: spoil one expected result")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    layer_units = {m["name"]: m["unit"] for m in bench["per_layer"]}

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    params = _scaled(WORKLOADS[args.workload], args.scale)
    run = Run(args, params, work)
    cpus = _cpus()
    dog = None
    try:
        _pin_env(work)
        sys.path.insert(0, ROOT)
        import kafka_streams_one_to_many_join_spark  # noqa: F401  (fail before any work)

        run.generate()
        dog = run.watchdog()
        main_phase = run.phase("main", f"local[{cpus}]", params["warmup"], args.seconds,
                               bool(args.trace), params.get("warm_passes", 0))
        base = {"samples": []}
        if args.trace and not run.timed_out:
            # single-threaded baseline: one warm-up unit, a shorter window
            base = run.phase("local1", "local[1]", 1, args.seconds / 3, False)
    finally:
        if dog is not None:
            dog.cancel()
        if run.spark is not None:
            run.spark.stop()
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    oks = main_phase["oks"] + base.get("oks", [])
    attempted = len(oks)
    failed = attempted - sum(oks)
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "params": params,
        "units": len(main_phase["samples"]),
        "walls": [round(x["wall"], 3) for x in main_phase["samples"]],
        "parts": [{k: round(v, 3) for k, v in x.get("parts", {}).items()}
                  for x in main_phase["samples"]],
        "env": {"nproc": cpus, "driver_mem": DRIVER_MEM, **run.versions},
        "error": main_phase["error"] or base.get("error"),
        "timed_out": run.timed_out,
    }
    if args.trace:
        os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
        spans_path = os.path.join(
            ROOT, ".perfbench_out", f"{args.workload}-seed{args.seed}.spans.jsonl"
        )
        run.spans.write(spans_path)
        info["spans"] = os.path.relpath(spans_path, ROOT)
        metrics = _layers(main_phase, base, layer_units)
    else:
        metrics = {k: {"value": float(v), "unit": u} for k, (v, u) in _e2e(main_phase).items()}
    print(json.dumps(info), flush=True)
    print(json.dumps({"correct": failed == 0 and not run.timed_out, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
