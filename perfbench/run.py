"""Run one benchmark workload in this process and print its result.

    python3 perfbench/run.py --workload library_sf001 --seed 1 --seconds 45 --trace 0

Run from the repository root. The last line of stdout is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The full record of the run (every pass, every operation,
host noise) is appended to ``.perfbench_cache/results/<workload>.jsonl``.

Every run of a workload does the same fixed passes. ``--seconds`` is
recorded with the result and changes nothing: the work a run does is
never decided by a timer.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import common  # noqa: E402

WORKLOADS = {
    "library_sf001": "perfbench.library:Library",
    "update_lifecycle": "perfbench.lifecycle:Lifecycle",
}
END_TO_END = {"setup_s": "s", "run_s": "s", "pass_s": "s", "cpu_s": "s"}
PER_LAYER = {
    "session.launch_s": "s",
    "catalog.register_views_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "webapp.service_ms": "ms",
    "cli.guard_us": "us",
    "exec.fetch_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.core_busy_frac": "ratio",
    "cache.storage_bytes_peak": "bytes",
    "cache.storage_bytes_end": "bytes",
    "pipeline.ingest_s": "s",
    "pipeline.files_converted": "count",
    "pipeline.compact_s": "s",
    "pipeline.compact_bytes_rewritten": "bytes",
    "pipeline.unify_s": "s",
    "pipeline.fulltext_s": "s",
    "pipeline.sanity_s": "s",
    "pipeline.jobs": "count",
    "pipeline.stored_bytes_per_input_byte": "ratio",
    "trace.overhead_s": "s",
}
CACHE = os.path.join(ROOT, ".perfbench_cache")
#: every run makes the cold pass and then this many warm passes, whatever
#: --seconds says; pass_s is their median (README, "Run structure")
WARM_PASSES = 2


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _environment() -> int:
    """Confine the engine's files to the cache, let Spark's Python workers
    import the package, and run on every core. Returns the core count."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(CACHE, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return cores


def _stop_spark() -> None:
    """Stop the session, then the JVM, and wait for every process this
    one started (the JVM and Spark's Python workers) to end."""
    from pyspark import SparkContext

    started = common.descendants()
    if SparkContext._gateway is None and not started:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
    deadline = time.monotonic() + 60
    while any(common.alive(pid) for pid in started):
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes still running after stop: {started}")
        time.sleep(0.2)


def _results_path(workload: str) -> str:
    return os.path.join(CACHE, "results", f"{workload}.jsonl")


def _recorded_runs(workload: str) -> list[dict]:
    path = _results_path(workload)
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _untraced_baseline(args, code: str) -> tuple[float, str]:
    """run_s of untraced runs of the same code to compare a traced run
    with: the median over this seed's runs recorded in this checkout;
    else the median over the other seeds', which do equal work by
    construction; else one made now in a fresh process."""
    runs: dict[int, list[float]] = {}
    for rec in _recorded_runs(args.workload):
        if rec["trace"] == 0 and rec["code"] == code:
            runs.setdefault(rec["seed"], []).append(rec["end_to_end"]["run_s"])
    if args.seed in runs:
        return common.median(runs[args.seed]), f"untraced runs on seed {args.seed}"
    if runs:
        per_seed = [common.median(v) for v in runs.values()]
        return common.median(per_seed), f"median of untraced runs on seeds {sorted(runs)}"
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.DEVNULL, timeout=170)
    if proc.returncode != 0:
        raise RuntimeError(f"untraced baseline run failed with {proc.returncode}")
    return _recorded_runs(args.workload)[-1]["end_to_end"]["run_s"], f"untraced run on seed {args.seed}, made first"


def run(args) -> dict:
    cores = _environment()
    code = common.source_hash(ROOT)
    module, cls = WORKLOADS[args.workload].split(":")
    workload = getattr(importlib.import_module(module), cls)(args.seed, CACHE, code)
    baseline_run_s, baseline = _untraced_baseline(args, code) if args.trace else (None, None)

    # imports of the engine count as set-up; seeded inputs do not
    t0 = time.perf_counter()
    for name in ("pyspark.sql", "science_datalake_spark.session", *workload.MODULES):
        importlib.import_module(name)
    import_s = time.perf_counter() - t0
    t = time.perf_counter()
    workload.prepare()
    prepare_s = time.perf_counter() - t

    from perfbench.hooks import Plain, Traced

    hooks = Traced(CACHE) if args.trace else Plain()
    t = time.perf_counter()
    workload.setup(hooks)
    setup_s = import_s + time.perf_counter() - t

    passes, ops_log = [], []
    outputs = []
    with hooks.patched():
        for p in range(1 + WARM_PASSES):
            workload.before_pass(p)
            ops = workload.ops(p, hooks)
            h0 = common.HostSample.now()
            for name, fn in ops:
                hooks.begin_op(p, name)
                t = time.perf_counter()
                try:
                    out, err = fn(), None
                except Exception as e:  # a failed operation still counts in every time
                    out, err = None, f"{type(e).__name__}: {e}"
                dt = time.perf_counter() - t
                hooks.end_op()
                ops_log.append({"pass": p, "op": name, "s": dt})
                outputs.append((len(ops_log) - 1, name, out, err))
            passes.append(common.host_delta(h0, common.HostSample.now()))

    failures = []
    for i, name, out, err in outputs:
        err = err or workload.check(name, out)
        if err:
            ops_log[i]["error"] = err
            failures.append({"pass": ops_log[i]["pass"], "op": name, "error": err[:500]})

    walls = [p["wall_s"] for p in passes]
    e2e = {
        "setup_s": setup_s,
        "run_s": sum(walls),
        "pass_s": common.median(common.warm_passes(walls)),
        "cpu_s": sum(p["cpu_s"] for p in passes),
    }
    per_layer = None
    if args.trace:
        ratio = workload.storage_ratio()
        _stop_spark()
        per_layer = hooks.metrics(e2e["run_s"], cores, ratio)
        per_layer["trace.overhead_s"] = e2e["run_s"] - baseline_run_s
    else:
        _stop_spark()

    by_op: dict[str, list[float]] = {}
    for rec in ops_log:
        by_op.setdefault(rec["op"], []).append(rec["s"])
    all_ops = [rec["s"] for rec in ops_log]
    top = common.top_percentile(len(all_ops))
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": cores, "code": code,
        "warm_passes": WARM_PASSES,
        "prepare_s": prepare_s,
        "setup": {"total_s": setup_s, "import_s": import_s, "launch_s": hooks.launch_s},
        "end_to_end": e2e,
        "per_layer": per_layer,
        "spans": common.span_summary(hooks.tracer.spans) if args.trace else None,
        "trace_baseline": baseline,
        "cold_pass_s": walls[0],
        "passes": passes,
        "steal_s": sum(p["steal_s"] for p in passes),
        "peak_rss_bytes": max(p["rss_bytes"] for p in passes),
        "ops": {
            name: {"samples": len(v), "p50_s": common.median(v), "max_s": max(v)}
            for name, v in by_op.items()
        },
        "op_p50_s": common.median(all_ops),
        "op_top_percentile": None if top is None else
        {"q": top, "s": common.percentile(all_ops, top), "samples": len(all_ops)},
        "attempted": len(ops_log),
        "failed": len(failures),
        "failures": failures,
        "counts": workload.counts(),
        "op_log": ops_log,
    }
    os.makedirs(os.path.dirname(_results_path(args.workload)), exist_ok=True)
    with open(_results_path(args.workload), "a") as f:
        f.write(json.dumps(record) + "\n")
    return record


def summary_line(record: dict) -> dict:
    if record["trace"]:
        values, units = record["per_layer"], PER_LAYER
    else:
        values, units = record["end_to_end"], END_TO_END
    return {
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "science_datalake_spark", "__init__.py")):
        _log(f"no science_datalake_spark package under {ROOT}; run from a checkout")
        return 2
    try:
        record = run(args)
    finally:
        _stop_spark()  # no-op after a run that ended normally
    for f in record["failures"]:
        _log(f"FAILED pass {f['pass']} {f['op']}: {f['error']}")
    _log(
        f"{args.workload} seed {args.seed}: passes "
        + " ".join(f"{p['wall_s']:.2f}" for p in record["passes"])
        + f" s, steal {record['steal_s']:.2f} s, load {record['passes'][-1]['load1']:.2f}"
    )
    print(json.dumps(summary_line(record)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
