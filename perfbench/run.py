"""littletable_spark benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 15 --trace 0

Run from the root of a source checkout. Inputs are generated from the
seed under ``.perfbench/`` in the checkout, the package is imported from
the checkout, and the last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics; with ``--trace 1`` they are the
per-layer metrics from a traced run. Lines before it name every metric
with its unit, the environment and any failed check.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("interactive", "curation", "ingest_serve")

# end-to-end metrics: name -> unit
E2E = {
    "setup_s": "s",
    "cold_s": "s",
    "op_p50_ms": "ms",
    "throughput_per_s": "1/s",
    "peak_rss_mb": "MB",
}
# the same readings under the names they carry per workload
E2E_ALIASES = {
    "interactive": {"op_p50_ms": "call_p50_ms", "op_tail_ms": "call_tail_ms",
                    "throughput_per_s": "calls_per_s", "cold_s": "cold_pass_s"},
    "curation": {"op_p50_ms": "stage_p50_ms", "op_tail_ms": "stage_tail_ms",
                 "throughput_per_s": "curation_docs_per_s", "cold_s": "curation_cold_s"},
    "ingest_serve": {"op_p50_ms": "read_p50_ms", "op_tail_ms": "read_tail_ms",
                     "throughput_per_s": "ingest_docs_per_s", "cold_s": "ingest_first_cycle_s"},
}

INTERACTIVE_LAYERS = ("table", "operators.joins", "operators.grouping", "operators.stats",
                      "operators.search", "exporters")
INTERACTIVE_FIELDS = ("construct_ms", "exec_ms", "py4j_calls", "jobs", "tasks", "exec_idle_ms",
                      "executor_run_ms")
CURATION_LAYERS = ("operators.textops", "operators.dedup", "operators.similarity", "operators.bpe")
CURATION_FIELDS = ("construct_ms", "wall_s", "jobs", "tasks", "executor_run_ms", "shuffle_bytes",
                   "exec_idle_ms")
STREAM_LAYERS = ("streaming.ingest", "streaming.maintenance")
STREAM_FIELDS = ("wall_s", "jobs", "tasks", "executor_run_ms", "shuffle_bytes", "exec_idle_ms",
                 "py4j_calls")
FIELD_UNITS = {"construct_ms": "ms", "exec_ms": "ms", "exec_idle_ms": "ms", "executor_run_ms": "ms",
               "py4j_calls": "count", "jobs": "count", "tasks": "count", "wall_s": "s",
               "shuffle_bytes": "bytes"}
EXTRA = {
    "session.get_spark_s": "s",
    "table.import_persist_s": "s",
    "operators.search.index_build_s": "s",
    "table.rows_examined_per_row_returned": "ratio",
    "table.zero_job_call_share": "ratio",
    "operators.dedup.candidates_per_true_pair": "ratio",
    "operators.dedup.dup_recall": "ratio",
    "operators.dedup.false_drop_rate": "ratio",
    "operators.similarity.ivf_recall_at_10": "ratio",
    "streaming.ingest.write_amp": "ratio",
    "streaming.ingest.files_per_batch": "count",
    "streaming.ingest.survivor_ratio": "ratio",
    "streaming.maintenance.bytes_rewritten": "bytes",
    "spark.failed_tasks": "count",
    "tracing.overhead_frac": "ratio",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name -> unit, in BENCHMARK.json order."""
    out = {}
    for layers, fields in ((INTERACTIVE_LAYERS, INTERACTIVE_FIELDS),
                           (CURATION_LAYERS, CURATION_FIELDS),
                           (STREAM_LAYERS, STREAM_FIELDS)):
        for layer in layers:
            for f in fields:
                out[f"{layer}.{f}"] = FIELD_UNITS[f]
    out.update(EXTRA)
    return out


# -- measurement helpers --------------------------------------------------------


def tail(samples: list[float]) -> tuple[float, float, int] | None:
    """The highest percentile with at least ten samples beyond it:
    (value, percentile, sample count), or None when that percentile
    would not reach the median (fewer than 20 samples)."""
    n = len(samples)
    if n < 20:
        return None
    s = sorted(samples)
    return s[n - 11], 100.0 * (n - 10) / n, n


def peak_rss_mb(jvm_pid: int | None) -> float:
    total = 0
    for pid in ("self", jvm_pid):
        if pid is None:
            continue
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024


def cpu_steal() -> tuple[int, int] | None:
    """(steal, total) CPU ticks of the machine so far, or None where
    /proc/stat has no steal field. A virtual machine whose host gives
    its CPUs to other guests shows it as steal."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None
    return (ticks[7], sum(ticks)) if len(ticks) == 8 else None


def environment(spark, nproc: int, seed: int) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "nproc": nproc,
        "spark": spark.version,
        "java": str(jvm.System.getProperty("java.version")),
        "python": platform.python_version(),
        "seed": seed,
        "loadavg_start": list(os.getloadavg()),
    }


def _setenv() -> None:
    """Keep every file the run writes inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')} pyspark-shell"
    )


def _stop(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# -- metrics ------------------------------------------------------------------


def e2e_metrics(workload: str, res: dict, get_spark_s: float, rss: float) -> tuple[dict, dict]:
    """(contract metrics, report extras) from one untraced run."""
    passes = res["passes"]
    warm = [p for p in passes if p["warm"]]
    if workload == "ingest_serve":
        op_walls = res["read_walls_warm"]
        pass_walls = [p["write_s"] for p in warm]
        thr = sum(p["docs"] for p in warm) / sum(pass_walls)
        cold = passes[0]["write_s"]
    else:
        op_walls = [o["wall_s"] for o in res["ops"] if o["warm"]]
        pass_walls = [p["wall_s"] for p in warm]
        units = "calls" if workload == "interactive" else "docs"
        thr = sum(p[units] for p in warm) / sum(pass_walls)
        cold = passes[0]["wall_s"]
    metrics = {
        "setup_s": get_spark_s + res["setup"]["total_s"],
        "cold_s": cold,
        "op_p50_ms": 1000 * statistics.median(op_walls),
        "throughput_per_s": thr,
        "peak_rss_mb": rss,
    }
    kinds: dict[str, list[float]] = {}
    cold_kinds: dict[str, float] = {}
    for o in res["ops"]:
        if o["warm"]:
            kinds.setdefault(o["kind"], []).append(1000 * o["wall_s"])
        else:
            cold_kinds[o["kind"]] = cold_kinds.get(o["kind"], 0.0) + 1000 * o["wall_s"]
    aliases = E2E_ALIASES[workload]
    extras = {
        aliases["op_tail_ms"]: _tail_text(op_walls, 1000, "ms"),
        "per_kind_p50_ms": {k: round(statistics.median(v), 1) for k, v in sorted(kinds.items())},
        "cold_per_kind_total_ms": {k: round(v, 1) for k, v in sorted(cold_kinds.items())},
        "op_samples": len(op_walls),
        "warm_passes": len(warm),
        "measured_s": sum(p["wall_s"] for p in warm),
    }
    if workload == "ingest_serve":
        batches = [o["wall_s"] for o in res["ops"] if o["warm"] and o["kind"] == "ingest_batch"]
        extras["ingest_batch_p50_s"] = statistics.median(batches)
        extras["ingest_batch_tail_s"] = _tail_text(batches, 1, "s")
    return metrics, extras


def _tail_text(samples: list[float], scale: float, unit: str) -> str:
    t = tail(samples)
    if t is None:
        return f"unavailable ({len(samples)} samples, 20 needed)"
    return f"{scale * t[0]:.6g} {unit} (p{t[1]:.1f} of {t[2]} samples)"


def layer_metrics(res: dict, ops: list[dict], nproc: int, get_spark_s: float,
                  inputs: dict, module) -> tuple[dict, list[str]]:
    """Per-layer metrics from the traced passes; (metrics, missing names)."""
    from spans import layer_table

    traced_ops = [o for o in ops if o["warm"] and o["phases"] and "jobs" in next(iter(o["phases"].values()))]
    table = layer_table(traced_ops, nproc)
    units = per_layer_units()
    values: dict[str, float | None] = {name: 0.0 for name in units}
    for name in units:
        layer, _, field = name.rpartition(".")
        if layer in table and field in table[layer]:
            values[name] = table[layer][field]
    values["session.get_spark_s"] = get_spark_s
    values.update({k: v for k, v in res["setup"].items() if k != "total_s"})
    tops = [o for o in traced_ops if o["layer"] == "table"]
    if tops:
        inp = [sum(p.get("input_records") or 0 for p in o["phases"].values()) for o in tops]
        out = sum(o["rows_out"] or 0 for o in tops)
        values["table.rows_examined_per_row_returned"] = sum(inp) / max(out, 1)
        values["table.zero_job_call_share"] = sum(
            1 for o in tops if sum(p["jobs"] or 0 for p in o["phases"].values()) == 0) / len(tops)
    values["spark.failed_tasks"] = float(sum(
        p.get("failed_tasks") or 0 for o in traced_ops for p in o["phases"].values()))
    warm = [p for p in res["passes"] if p["warm"]]
    on = [p["wall_s"] for p in warm if p["traced"]]
    off = [p["wall_s"] for p in warm if not p["traced"]]
    values["tracing.overhead_frac"] = statistics.median(on) / statistics.median(off) - 1 if on and off else None
    values.update(module.layer_extras(inputs, res))
    missing = sorted(n for n, v in values.items() if v is None)
    return {n: v for n, v in values.items() if v is not None}, missing


# -- main ----------------------------------------------------------------------


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", action="store_true",
                    help="self-test: damage one answer before checking (error rate must rise)")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    _setenv()
    try:
        import littletable_spark  # the program under test
        from littletable_spark import get_spark
    except ImportError as exc:
        print(f"perfbench: cannot import littletable_spark from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if not os.path.abspath(littletable_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: littletable_spark resolves outside {ROOT}: {littletable_spark.__file__}",
              file=sys.stderr)
        return 2

    import gen
    import importlib

    from spans import Recorder

    module = importlib.import_module(args.workload)
    nproc = os.cpu_count() or 1
    run_dir = os.path.join(WORK, f"{args.workload}-{args.seed}")
    shutil.rmtree(run_dir, ignore_errors=True)
    t_gen = time.perf_counter()
    inputs = module.generate(gen, args.seed, run_dir)

    steal0 = cpu_steal()
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", cpus=nproc)
    get_spark_s = time.perf_counter() - t0
    try:
        env = environment(spark, nproc, args.seed)
        rec = Recorder(spark, bool(args.trace))
        t_run = time.perf_counter()
        res = module.run(spark, inputs, args.seconds, rec, bool(args.trace))
        t_check = time.perf_counter()
        res["ops"] = rec.ops
        jvm_pid = getattr(getattr(spark.sparkContext._gateway, "proc", None), "pid", None)
        rss = peak_rss_mb(jvm_pid)
        if args.corrupt:
            res = module.corrupt(res)
        attempted, failures = module.check(inputs, res)
        errors = [f"{o['kind']}: {o['error']}" for o in rec.ops if o["error"]]
        env["loadavg_end"] = list(os.getloadavg())
        steal1 = cpu_steal()
        if steal0 and steal1 and steal1[1] > steal0[1]:
            env["cpu_steal_share"] = (steal1[0] - steal0[0]) / (steal1[1] - steal0[1])
        t_stop = time.perf_counter()
    finally:
        _stop(spark)
    env["timeline_s"] = {"generate": t0 - t_gen, "session": t_run - t0, "workload": t_check - t_run,
                         "check": t_stop - t_check, "stop": time.perf_counter() - t_stop}

    attempted += len(rec.ops)
    failed = len(failures) + len(errors)
    report = {"workload": args.workload, "trace": args.trace, "environment": env,
              "inputs": inputs["files"], "failures": failures + errors, "passes": res["passes"],
              "setup": res["setup"]}
    if args.trace:
        metrics, missing = layer_metrics(res, rec.ops, nproc, get_spark_s, inputs, module)
        missing = sorted(set(missing) | rec.missing)
        units = per_layer_units()
        report["missing"] = missing
        print(f"{args.workload} missing {json.dumps(missing)}")
        for name, value in metrics.items():
            print(f"{args.workload} {name} {value:.6g} {units[name]}")
        rec.write_spans(os.path.join(WORK, f"spans-{args.workload}-{args.seed}.jsonl"))
    else:
        metrics, extras = e2e_metrics(args.workload, res, get_spark_s, rss)
        units = E2E
        report["extras"] = extras
        aliases = E2E_ALIASES[args.workload]
        for name, value in metrics.items():
            print(f"{args.workload} {aliases.get(name, name)} {value:.6g} {units[name]}")
        print(f"{args.workload} error_rate {failed / attempted:.6g} ratio ({failed}/{attempted})")
        for k, v in extras.items():
            print(f"{args.workload} {k} {v}")
    for f in report["failures"][:20]:
        print(f"FAILED {f}")
    print("environment " + json.dumps(env))
    print("inputs " + json.dumps(inputs["files"]))
    report["metrics"] = metrics
    with open(os.path.join(WORK, f"result-{args.workload}-{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(report, f, indent=1, default=str)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
