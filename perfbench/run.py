"""Benchmark entry point.

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 20 --trace 0

Run from the repository root. ``--workload`` is one of the workloads in
``BENCHMARK.json``; ``--seed`` fixes every generated input and the query
order; ``--seconds`` is how long the passes are measured; ``--trace 1``
makes the traced run that reports the per-layer metrics.
``--perturb row|key`` corrupts one checked output (one cell, or one
dropped row) to show that the correctness check flags it.

Human-readable lines come first; the last line of standard output is
one JSON object with the keys ``correct``, ``attempted``, ``failed`` and
``metrics``. Run details and, for traced runs, every span are written
to ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort, the JVM must not outlive the run
            proc.kill()
            proc.wait(timeout=30)


def _fmt(v) -> str:
    return f"{v:.4g}" if isinstance(v, float) else str(v)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--perturb", choices=("row", "key"), default=None)
    a = p.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {a.workload!r}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    try:
        import bench  # the repository's frozen bench.py: contention helpers
        import fec_cn_support_etl_spark  # noqa: F401

        from perfbench import host, workloads
    except ImportError as e:
        print(f"cannot import the program under test from {ROOT}: {e}", file=sys.stderr)
        return 2

    # foreign java/pytest processes, at the start and as measuring starts
    procs = [bench._competing_procs()]
    run = workloads.Run(ROOT, a.workload, a.seed, a.seconds, bool(a.trace), a.perturb,
                        lambda: procs.append(bench._competing_procs()))
    results_dir = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(results_dir, exist_ok=True)
    host.prepare_env(ROOT, run.work)
    t_run = time.perf_counter()
    try:
        {"catalog": workloads.run_catalog, "cdc_ingest": workloads.run_cdc}[a.workload](run)
        info = host.describe(run.spark)
    except Exception:  # noqa: BLE001 - a run that cannot set up prints no result
        traceback.print_exc()
        return 1
    finally:
        if run.spark is not None:
            run.tracer.unpatch_all()
            _stop_spark(run.spark)
            workloads.log("session stopped")
        shutil.rmtree(run.work, ignore_errors=True)
    wall = time.perf_counter() - t_run

    if a.trace:
        wanted = spec["per_layer"]
        values = {k: v["value"] for k, v in run.layers.items()}
        # a layer this workload does not reach did no work: count 0
        values.update({m["name"]: 0 for m in wanted if m["unit"] == "count" and m["name"] not in values})
    else:
        wanted = spec["end_to_end"]
        values = {"pass_s": run.pass_s(), "setup_s": run.setup_s()}
    metrics = {m["name"]: {"value": values.get(m["name"]), "unit": m["unit"]} for m in wanted}
    finite = all(isinstance(v["value"], (int, float)) and math.isfinite(v["value"]) for v in metrics.values())
    correct = run.failed == 0 and run.gate_ok and finite

    details = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "perturb": a.perturb, "host": info, "n_competing_procs": procs, "run_wall_s": wall,
        "setup": run.setup, "setup_steal": run.setup_steal, "warm_rounds_s": run.warm_rounds,
        "passes_s": run.passes, "pass_cpu_s": run.pass_cpu, "pass_steal": run.pass_steal, "traced_passes_s": run.traced_passes, "named": run.named, "layers": run.layers,
        "attempted": run.attempted, "failed": run.failed, "failures": run.failures,
        "gate_bites": run.gate_ok,
    }
    stem = os.path.join(results_dir, f"{a.workload}-s{a.seed}-t{a.trace}")
    with open(stem + ".json", "w") as fh:
        json.dump(details, fh, indent=1, default=str)
    if a.trace:
        run.tracer.write(stem + "-spans.json", {"self_time_s": run.tracer.self_times()})

    print(f"host: {json.dumps(info)}")
    print(f"contention: foreign java/pytest processes {procs}; host steal during set-up "
          f"{100 * run.setup_steal:.1f} %, during passes {[round(100 * x, 1) for x in run.pass_steal]} %")
    print(f"setup: {json.dumps({k: round(v, 3) for k, v in run.setup.items()})}; "
          f"warm-up rounds (s): {[round(x, 2) for x in run.warm_rounds]}")
    print(f"drift, pass walls in order (s): {[round(x, 3) for x in run.passes]}"
          + (f"; traced: {[round(x, 3) for x in run.traced_passes]}" if a.trace else ""))
    for k, v in run.named.items():
        extra = "".join(f", {q}={_fmt(x)}" for q, x in v.items() if q.startswith("p"))
        print(f"metric {k} = {_fmt(v['value'])} {v['unit']} (median of n={v['n']}{extra})")
    print(f"metric pass_s = {_fmt(run.pass_s())} s (median of n={len(run.passes)})")
    print(f"metric pass_cpu_s = {_fmt(run.pass_cpu_s())} s (CPU, median of {[round(x, 2) for x in run.pass_cpu]})")
    print(f"metric setup_s = {_fmt(run.setup_s())} s")
    print(f"metric failed_frac = {_fmt(run.failed / max(run.attempted, 1))} ratio "
          f"({run.failed} of {run.attempted}; check gate bites: {run.gate_ok})")
    for f in run.failures:
        print(f"FAILED {f}")
    if a.trace:
        for k, v in sorted(run.layers.items()):
            print(f"layer {k} = {_fmt(v['value'])} {v['unit']}")
    print(f"details: {os.path.relpath(stem, ROOT)}.json")
    print(json.dumps({"correct": correct, "attempted": max(run.attempted, 1), "failed": run.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
