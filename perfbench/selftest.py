"""Self-test of the benchmark itself, at sizes that take seconds per run.

    python3 perfbench/selftest.py

For every workload in BENCHMARK.json it checks that an untraced run prints
every end-to-end metric and a traced run every per-layer metric, each with
its declared unit, that both runs pass their output checks, and that a run
with one spoiled oracle result reports ok_ratio below 1.  It also checks
that the benchmark, copied without the package, fails with a non-zero exit
code and prints no result.  Exits non-zero if any check fails.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCALE = "0.2"


def _run(cwd: str, workload: str, trace: int, *extra: str) -> tuple[int, list[str]]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "2", "--trace", str(trace), *extra]
    proc = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)
    return proc.returncode, proc.stdout.strip().splitlines()


def _result(lines: list[str]) -> dict:
    res = json.loads(lines[-1])
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"result keys {sorted(res)}")
    return res


def _metric_problems(res: dict, declared: list[dict]) -> list[str]:
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v.get("unit") for k, v in res["metrics"].items()}
    problems = [f"{k}: got unit {got.get(k)!r}, want {u!r}" for k, u in want.items()
                if got.get(k) != u]
    problems += [f"undeclared metric {k}" for k in got if k not in want]
    problems += [f"{k} is not a number" for k, v in res["metrics"].items()
                 if not isinstance(v.get("value"), (int, float))]
    return problems


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    failures = []

    def check(label: str, problems: list[str]) -> None:
        print(f"{'FAIL' if problems else 'ok  '} {label}" +
              "".join(f"\n     {p}" for p in problems), flush=True)
        failures.extend(problems)

    for w in (x["name"] for x in bench["workloads"]):
        for trace, declared in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            code, lines = _run(ROOT, w, trace, "--scale", SCALE)
            try:
                res = _result(lines)
            except (ValueError, IndexError) as e:
                check(f"{w} trace={trace}", [f"exit {code}, no result: {e}"])
                continue
            problems = _metric_problems(res, declared)
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"checks failed: {res['attempted']} attempted, "
                                f"{res['failed']} failed")
            check(f"{w} trace={trace}", problems)
        code, lines = _run(ROOT, w, 0, "--scale", SCALE, "--corrupt-oracle")
        try:
            ratio = _result(lines)["metrics"]["ok_ratio"]["value"]
            check(f"{w} spoiled oracle", [] if ratio < 1 else [f"ok_ratio {ratio}"])
        except (ValueError, IndexError, KeyError) as e:
            check(f"{w} spoiled oracle", [f"exit {code}, no result: {e}"])

    bare = os.path.join(ROOT, ".perfbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    code, lines = _run(bare, bench["workloads"][0]["name"], 0)
    shutil.rmtree(bare, ignore_errors=True)
    check("benchmark without the package fails",
          [] if code != 0 and not any('"correct"' in ln for ln in lines)
          else [f"exit {code}, printed {lines[-1:]}"])

    print("selftest", "FAILED" if failures else "passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
