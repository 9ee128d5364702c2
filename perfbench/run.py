"""Benchmark entry point for the TravelPulse engine.

    python3 perfbench/run.py --workload kpi_replay --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all --seconds 15

Run it from the repository root. One run starts one Spark driver
(``session.get_spark``, ``local[SPARK_GRAFT_CPUS]``, default
min(4, nproc)) from a cold JVM, stages its inputs and warms up with a
throwaway pass on a small input, measures its workload for about
``--seconds`` seconds, checks the outputs, and prints as its last line
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
With ``--trace 0`` the metrics are the end-to-end metrics; with
``--trace 1`` the run also writes Spark's event log and tags jobs, and
the metrics are the per-layer ones. ``--workload all`` runs every
workload in a child process and prints a table instead. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from common import PACKAGE, ROOT, configure_env, shutdown_spark  # noqa: E402

WORKLOADS = ("kpi_replay", "catalog", "kpi_live")
END_TO_END = ("setup_s", "throughput_per_s", "op_p50_s")


def _per_layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


def _workload_fn(name: str):
    if name == "catalog":
        import catalog_bench

        return catalog_bench.run
    import kpi_bench

    return {"kpi_replay": kpi_bench.run_replay, "kpi_live": kpi_bench.run_live}[name]


def run_one(workload: str, seed: int, seconds: float, trace: bool) -> int:
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"error: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work, trace)
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    try:
        res = _workload_fn(workload)(work, seed, seconds, trace)
        if trace:
            res["layers"].update(_spark_layers(work, res))
    finally:
        shutdown_spark()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it

    if trace:
        # Layers a workload does not exercise report 0.
        wanted = _per_layer_units()
        src = {**res["layers"], **{f"traced.{k}": v for k, v in res["metrics"].items()}}
    else:
        wanted = {k: res["metrics"][k][1] for k in END_TO_END}
        src = res["metrics"]
    metrics = {
        name: {"value": src.get(name, (0.0,))[0], "unit": unit}
        for name, unit in wanted.items()
    }
    correct = not res["problems"] and res["failed"] == 0
    for p in res["problems"][:20]:
        print(f"check failed: {p}", file=sys.stderr)
    summary = " ".join(
        f"{k}={v:.4g}{' ' + u if u else ''}" for k, (v, u) in {**res["metrics"], **res["summary"]}.items()
    )
    print(f"{workload} seed={seed} cores={cores} trace={int(trace)}: {summary} "
          f"attempted={res['attempted']} failed={res['failed']}")
    print(json.dumps({
        "correct": correct,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0 if correct else 1


def _spark_layers(work: str, res: dict) -> dict:
    """Executor-side totals from the event log of the measured session."""
    import eventlog

    res.pop("spark").stop()  # flushes and closes the event log
    logs = sorted(
        (os.path.join(work, "eventlog", f) for f in os.listdir(os.path.join(work, "eventlog"))),
        key=os.path.getmtime,
    )
    per = eventlog.read_event_log(logs[-1], 1000.0 * res["measured_from"])
    measured = {k: v for k, v in per.items() if k not in ("setup", "check")}
    out = {}
    groups = {"": ""}
    groups.update({f"{g}.": f"{g}:" for g in res.get("job_groups", ())})
    for name, prefix in groups.items():
        tot = eventlog.totals(measured, prefix)
        for k in ("jobs", "task_cpu_s", "gc_s", "shuffle_mb", "spill_mb"):
            unit = {"jobs": "count", "shuffle_mb": "MB", "spill_mb": "MB"}.get(k, "s")
            out[f"spark.{name}{k}"] = (tot[k], unit)
    out["spark.untagged_jobs"] = (per.get("untagged", {}).get("jobs", 0.0), "count")
    return out


def run_all(seconds: float, seed: int) -> int:
    """Every workload, untraced then traced, each in its own process.
    Prints each run's summary line (the headline figures under the names
    of README.md, with the core count), operations attempted and failed,
    and the tracing overhead: traced over untraced headline, minus one."""
    runs = {}
    for wl in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", wl,
                   "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
            out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            lines = out.stdout.strip().splitlines()
            ok = len(lines) > 1 and lines[-1].startswith("{")
            runs[wl, trace] = (out.returncode, lines[-2] if ok else "",
                               json.loads(lines[-1]) if ok else None)
            print(f"[{wl} trace={trace} exit={out.returncode}] {runs[wl, trace][1]}", flush=True)
    print("\nworkload     attempted  failed  tracing overhead")
    for wl in WORKLOADS:
        (_, _, plain), (_, _, traced) = runs[wl, 0], runs[wl, 1]
        if plain is None or traced is None:
            print(f"{wl:12s} run failed")
            continue
        over = " ".join(
            f"{k} {traced['metrics'][f'traced.{k}']['value'] / plain['metrics'][k]['value'] - 1:+.1%}"
            for k in ("throughput_per_s", "op_p50_s")
        )
        print(f"{wl:12s} {plain['attempted']:9d}  {plain['failed']:6d}  {over}")
    return 0 if all(code == 0 for code, _, _ in runs.values()) else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t0 = time.perf_counter()
    if a.workload == "all":
        code = run_all(a.seconds, a.seed)
    else:
        code = run_one(a.workload, a.seed, a.seconds, bool(a.trace))
    print(f"total wall {time.perf_counter() - t0:.1f}s", file=sys.stderr)
    return code


if __name__ == "__main__":
    sys.exit(main())
