#!/usr/bin/env python3
"""Self-test of the benchmark: every workload at a tiny size.

    python3 pitbench/selftest.py

Run from the repository root (takes a few minutes).  Passes when

* an untraced run prints every end-to-end metric of BENCHMARK.json with
  its unit, and its output checks pass;
* a traced run prints every per-layer metric with its unit, and the
  workloads split the layers as designed (no shuffle on the broadcast
  path of ``pit_asof``; a shuffling union as-of join and a resume that
  rewrites exactly the removed buckets in ``feature_materialize``);
* a planted wrong answer fails its check: a shifted ``matched_ts``, and
  a resume that skipped a removed bucket or rewrote a kept one, which
  only the resume's file diff can catch;
* in a directory holding only BENCHMARK.json and the benchmark itself,
  the benchmark exits non-zero without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY = ["--seed", "5", "--seconds", "1", "--rows", "20000"]


def _run(args: list, cwd: str = ROOT) -> tuple:
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "pitbench", "run.py")] + args,
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, lines, proc.stderr


def _result(args: list) -> tuple:
    """The run's result object and its CHECK FAILED lines."""
    code, lines, err = _run(args)
    if code != 0 or not lines:
        raise AssertionError(f"run.py {' '.join(args)} exited {code}:\n{err[-3000:]}")
    return json.loads(lines[-1]), [line for line in lines if line.startswith("CHECK FAILED")]


def _expect(cond: bool, what: str, failures: list) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        failures.append(what)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    failures: list = []
    for w in (wl["name"] for wl in spec["workloads"]):
        res, _ = _result(["--workload", w, "--trace", "0"] + TINY)
        _expect(res["correct"] and res["failed"] == 0, f"{w}: output checks pass", failures)
        _expect(all(res["metrics"].get(m["name"], {}).get("unit") == m["unit"] for m in spec["end_to_end"]),
                f"{w}: every end-to-end metric printed with its unit", failures)

        plant = "skip" if w == "feature_materialize" else "shift"
        res, failed = _result(["--workload", w, "--trace", "1", "--plant", plant] + TINY)
        _expect(not res["correct"] and res["failed"] == 1, f"{w}: a planted wrong answer ({plant}) fails the check",
                failures)
        got = res["metrics"]
        _expect(all(got.get(m["name"], {}).get("unit") == m["unit"] for m in spec["per_layer"]),
                f"{w}: every per-layer metric printed with its unit", failures)
        v = {k: m["value"] for k, m in got.items()}
        if w == "pit_asof":
            _expect(v["python.run_s"] > 0 and v["shuffle.write_mb"] < 1, f"{w}: Python work, no spine shuffle", failures)
            continue
        _expect(v["shuffle.write_mb"] > 0 and v["temporal.asof_union_s"] > 0, f"{w}: union as-of shuffles", failures)
        _expect(v["checkpoint.resume_rewrite_ratio"] == 1.0, f"{w}: resume rewrites only removed buckets", failures)
        # the resume file diff alone must catch a skipped bucket (whose old
        # files still hold the right rows) and an extra rewritten one
        res2, failed2 = _result(["--workload", w, "--trace", "0", "--plant", "extra"] + TINY)
        for what, r, f in [("skip", res, failed), ("extra", res2, failed2)]:
            _expect(not r["correct"] and len(f) == 1 and "resume rewrote" in f[0],
                    f"{w}: the resume diff alone fails a planted {what}", failures)
        res3, failed3 = _result(["--workload", w, "--trace", "0", "--plant", "shift"] + TINY)
        _expect(not res3["correct"] and len(failed3) == 1 and "differ from the oracle" in failed3[0],
                f"{w}: a planted shifted matched_ts fails the window check", failures)

    bare = os.path.join(HERE, "_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "pitbench"),
                    ignore=shutil.ignore_patterns("_work", "_cache", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    code, lines, _ = _run(["--workload", "pit_asof"] + TINY, cwd=bare)
    shutil.rmtree(bare)
    _expect(code != 0 and not any(line.startswith("{") for line in lines),
            "without the package: non-zero exit, no result", failures)
    print("selftest " + ("FAILED: " + "; ".join(failures) if failures else "passed"))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
