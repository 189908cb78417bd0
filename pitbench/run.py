#!/usr/bin/env python3
"""Point-in-time feature-store benchmark: one workload per process.

    python3 pitbench/run.py --workload pit_asof --seed 1 --seconds 5 --trace 0

Run from the repository root.  The workload runs in a fresh
``local[nproc]`` Spark session as a closed loop (one iteration at a time)
over seeded inputs, then its output is checked once, untimed, against an
independent oracle.  The last line of stdout is one JSON object:
``--trace 0`` reports the end-to-end metrics (``setup_s``,
``rows_per_s``, ``cpu_s``, ``peak_mem_mb``); ``--trace 1`` alternates
untraced and traced iterations and reports the per-layer metrics.
Earlier lines record the host, its noise and the session used.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")

# Spine rows per workload: sized so that one warm iteration takes about
# 1.5 s (pit_asof) and 3.5 s (feature_materialize) on a 4-core host.
# Most of an iteration is per-job overhead (feature_materialize runs
# 13 Spark jobs), so rows move it less than linearly.
ROWS = {"pit_asof": 300_000, "feature_materialize": 50_000}
# Set-ups per run; setup_s is their median.  A set-up opens the tables
# (new DataFrames, so nothing the engine keeps per DataFrame carries over)
# and runs the warm-up iterations.  The first also starts the process,
# the JVM and the session (session.start_s, printed); later ones reuse the
# session, so the JIT and the Python worker pool keep warming across
# set-ups instead of starting over.
SETUPS = 3
# Warm-up iterations per set-up, so three before the timed phase.  On a
# 4-core host, in one session, the first iteration takes 4-5x a warm one
# (JIT, Python workers); pit_asof then settles within 2-3 iterations,
# while feature_materialize still falls by about 10% over its next four.
# One more warm-up per set-up would add about 25 s to each
# feature_materialize run, which the benchmark's time budget lacks.
WARMUP = 1
# Warm iteration time per workload on a 4-core host.  The timed phase
# runs round(seconds / NOMINAL_S) iterations (at least MIN_SAMPLES), so
# every run of a workload takes the same number of samples: with a
# time-bounded loop, host noise would change the count.
NOMINAL_S = {"pit_asof": 1.5, "feature_materialize": 4.0}
MIN_SAMPLES = 4
# Heap cap only: the JVM commits and touches heap as it needs it, so
# peak_mem_mb follows the engine's own memory use.
DRIVER_MEM = "2g"


def _process_start() -> float:
    """Epoch seconds at which this process was started."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


def _session_env(nproc: int) -> dict:
    """Engine knobs sized to this host; scratch stays in the work dir."""
    tmp = os.path.join(WORK, "tmp")
    return {
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_SHUFFLE": str(2 * nproc),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(WORK, "spark-local"),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(p for p in [ROOT, os.environ.get("PYTHONPATH")] if p),
    }


def _session_conf() -> dict:
    tmp = os.path.join(WORK, "tmp")
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(ROWS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rows", type=int, help="spine rows (default: the workload's size)")
    ap.add_argument("--plant", choices=("shift", "skip", "extra"),
                    help="corrupt the checked output, so the check must fail (self-test): a shifted "
                         "matched_ts (shift), or a resume that skips a removed bucket (skip) or "
                         "rewrites a kept one (extra)")
    args = ap.parse_args(argv)
    process_start = _process_start()

    if not os.path.isfile(os.path.join(ROOT, "torchestra_spark", "__init__.py")):
        print(f"torchestra_spark not found under {ROOT}; run from a repository checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    nproc = len(os.sched_getaffinity(0))
    os.environ.update(_session_env(nproc))
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)

    import gen
    import oracle
    import procstat
    from spans import NullTracer, Tracer
    from workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    rows = args.rows or ROWS[args.workload]
    cls = WORKLOADS[args.workload]
    paths, gen_s = gen.inputs(os.path.join(HERE, "_cache"), args.seed, cls.shape, rows)
    print(f"fixture_gen_s {gen_s:.3f} (cached per seed; excluded from setup_s)")

    from torchestra_spark.session import get_spark

    # the first set-up counts from process start: imports, JVM and session
    t0 = time.perf_counter() - (time.time() - process_start - gen_s)
    t_session = time.perf_counter()
    spark = get_spark(f"pitbench-{args.workload}", extra_conf=_session_conf())
    spark.sparkContext.setLogLevel("ERROR")
    session_start_s = time.perf_counter() - t_session
    setups = []
    try:
        for _ in range(SETUPS):
            wl = cls(spark, paths, WORK)
            for _ in range(WARMUP):
                wl.prepare()
                wl.iteration(NullTracer())
            setups.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
        setup_s = median(setups)
        tracer = Tracer(spark) if args.trace else None
        steal0, iowait0 = procstat.steal_s(), procstat.iowait_s()
        samples, layer_samples, errors = _timed_phase(wl, args, tracer, rows)
        steal_total, iowait_total = procstat.steal_s() - steal0, procstat.iowait_s() - iowait0
        t_check = time.perf_counter()
        try:
            failures = oracle.CHECKS[args.workload](wl, paths, WORK, plant=args.plant)
        except Exception:  # a check that cannot run marks the run incorrect
            failures = ["check raised:\n" + traceback.format_exc()]
        check_s = time.perf_counter() - t_check
        if tracer:
            tracer.dump(os.path.join(WORK, f"trace-{args.workload}-s{args.seed}.json"))
        conf = {k: v for k, v in spark.sparkContext.getConf().getAll()
                if k.startswith(("spark.master", "spark.driver.memory", "spark.sql.shuffle", "spark.local",
                                 "spark.sql.adaptive.enabled", "spark.sql.execution.arrow.max"))}
    finally:
        t_stop = time.perf_counter()
        _shutdown(spark)
    stop_s = time.perf_counter() - t_stop

    untraced = [s for s in samples if not s["traced"]]
    walls = [s["wall_s"] for s in untraced]
    if not untraced or (args.trace and not layer_samples):
        print(f"no iteration of {args.workload} completed", file=sys.stderr)
        return 1
    print("host " + json.dumps(procstat.host_info(WORK)))
    print("session " + json.dumps(dict(sorted(conf.items())) | {k: os.environ[k] for k in _session_env(nproc)}))
    print("noise " + json.dumps({
        "steal_s_timed_phase": round(steal_total, 3),
        "steal_s_per_iteration": [round(s["steal_s"], 3) for s in samples],
        "iowait_s_timed_phase": round(iowait_total, 3),
        "loadavg_end": os.getloadavg(),
    }))
    print("setups_s " + json.dumps([round(x, 3) for x in setups]))
    print(f"phases setup_s {setup_s:.2f} session_start_s {session_start_s:.2f} timed_s {sum(s['wall_s'] for s in samples):.2f} "
          f"check_s {check_s:.2f} stop_s {stop_s:.2f}")
    print("samples " + json.dumps({"n_untraced": len(walls), "wall_s": [round(w, 4) for w in walls],
                                   "cpu_s": [round(s["cpu_s"], 3) for s in untraced],
                                   "peak_mb": [round(s["peak_mb"]) for s in untraced]}))
    for f in failures:
        print(f"CHECK FAILED: {f}")
    print(f"rows_per_s {rows / median(walls):.1f} rows/s over n={len(walls)} iterations of {rows} spine rows")

    if args.trace:
        values = {k: median([m[k] for m in layer_samples]) for k in layer_samples[0]}
        values["session.start_s"] = session_start_s
        values.setdefault("checkpoint.resume_rewrite_ratio", 0.0)
        values["trace.overhead"] = median([s["wall_s"] for s in samples if s["traced"]]) / median(walls) - 1
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        values = {
            "setup_s": setup_s,
            "rows_per_s": rows / median(walls),
            "cpu_s": median([s["cpu_s"] for s in untraced]),
            "peak_mem_mb": max(s["peak_mb"] for s in untraced),
        }
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}
    print(json.dumps({"correct": not failures and not errors, "attempted": len(samples) + errors + 1,
                      "failed": errors + (1 if failures else 0), "metrics": metrics}))
    return 0


def _timed_phase(wl, args, tracer, rows: int) -> tuple:
    """Closed loop of about ``args.seconds`` of iteration time; when
    traced, half the iterations are.  Returns the per-iteration samples,
    the traced iterations' per-layer metrics and the number of iterations
    that raised."""
    import procstat
    import workloads
    from spans import NullTracer

    n = max(MIN_SAMPLES, round(args.seconds / NOMINAL_S[args.workload]))
    samples, layer_samples, errors = [], [], 0
    with procstat.PeakMemory() as peak:
        for i in range(n):
            # untraced/traced in ABBA order, so warm-up drift cancels in trace.overhead
            traced = bool(args.trace) and i % 4 in (1, 2)
            wl.prepare()
            cpu0, steal0 = procstat.tree_cpu_s(), procstat.steal_s()
            peak.take()
            t0 = time.perf_counter()
            try:
                if traced:
                    with tracer.span("iteration") as root:
                        wl.iteration(tracer)
                else:
                    wl.iteration(NullTracer())
            except Exception:  # an engine failure is a failed operation; keep measuring
                traceback.print_exc()
                errors += 1
                continue
            wall = time.perf_counter() - t0
            samples.append(dict(traced=traced, wall_s=wall, cpu_s=procstat.tree_cpu_s() - cpu0,
                                peak_mb=peak.take(), steal_s=procstat.steal_s() - steal0))
            if traced:
                m = tracer.iteration_metrics(root, rows)
                if args.workload == "feature_materialize":
                    # buckets the resume rewrote / manifests removed (1.0: no waste)
                    rewritten = workloads.rewritten(wl.last["before"], wl.last["after"])
                    m["checkpoint.resume_rewrite_ratio"] = len(rewritten) / len(workloads.RESUME_BUCKETS)
                layer_samples.append(m)
    return samples, layer_samples, errors


def _shutdown(spark) -> None:
    """Stop the session, the JVM it launched and that JVM's Python
    workers, and wait until each has ended."""
    import procstat
    from pyspark import SparkContext

    children = [p for p in procstat.tree_pids() if p != os.getpid()]
    jvm = SparkContext._gateway.proc
    spark.stop()
    SparkContext._gateway.shutdown()
    jvm.stdin.close()  # the gateway JVM exits when its stdin closes
    jvm.wait(timeout=60)
    procstat.wait_ended(children, timeout_s=30)


if __name__ == "__main__":
    sys.exit(main())
