"""Benchmark entry point: runs one workload against the program in this
checkout and prints one JSON result line.

    python3 perfbench/run.py --workload engine|catalog --seed N --seconds S --trace 0|1

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics (and writes the spans to ``.perfbench/trace-<workload>-<seed>.json``).
``--smoke`` runs the same code on the sf0.001 tables with tiny sizes, and
``--corrupt`` tampers with one result before it is checked; the benchmark's
own tests use both.  Human-readable detail goes to stderr; the last stdout
line is the result."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH = os.path.join(ROOT, ".perfbench")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=["engine", "catalog"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--smoke", action="store_true")
    p.add_argument("--corrupt", action="store_true")
    return p.parse_args(argv)


def isolate(run_dir: str) -> None:
    """Fresh temp and Spark local dirs for this run, set before Spark or the
    program is imported: the program caches on-disk layouts under
    ``tempfile.gettempdir()``, and a run must never read one that another
    run (or another commit's code) wrote."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, sub))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # the program's own session settings, whatever the caller's environment
    for var in ("SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_SHUFFLE_PARTITIONS"):
        os.environ.pop(var, None)


def stop(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers) to end."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "memory_opensource_spark", "__init__.py")):
        print("perfbench: the program (memory_opensource_spark/) is not in this checkout",
              file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "workloads.json")) as f:
        cfg = json.load(f)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        per_layer = [(m["name"], m["unit"]) for m in json.load(f)["per_layer"]]
    sys.path[:0] = [ROOT, HERE]
    problem = check_layer_names(per_layer, cfg)
    if problem:
        print(f"perfbench: {problem}", file=sys.stderr)
        return 2
    # a terminated run still stops its JVM and removes its directories
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_dir = os.path.join(SCRATCH, f"run-{os.getpid()}-{time.time_ns()}")
    isolate(run_dir)
    import harness

    os.environ["SPARK_LAUNCHER_OPTS"] = harness.jvm_local_flags()
    app = f"perfbench-{args.workload}"
    spark = None
    try:
        if args.workload == "engine":
            from engine_workload import Engine as Workload
        else:
            from catalog_workload import Catalog as Workload
        wl = Workload(cfg[args.workload], args.smoke)
        t0 = time.perf_counter()
        spark = harness.start_spark(app)
        launch_ms = (time.perf_counter() - t0) * 1000.0
        spark, setup_s, session_ms = harness.timed_setups(spark, app, wl.prepare)
        tracer = None
        if args.trace:
            from tracer import Tracer

            tracer = Tracer(spark)
            tracer.count_py4j()
        try:
            state = wl.run(spark, args.seed, args.seconds, tracer, args.corrupt)
        finally:
            if tracer is not None:
                tracer.close()
        # read before the checks: their DuckDB and NumPy work is not the program's
        memory = harness.held_memory(spark)
        out = wl.check(state, tracer)
        m = out["metrics"]
        if args.trace:
            produced = {"session.start_ms": session_ms, **ops_metrics(tracer), **out["layers"]}
            metrics = layer_values(per_layer, produced, cfg[args.workload]["bypassed_layers"])
            os.makedirs(SCRATCH, exist_ok=True)
            tracer.dump(os.path.join(SCRATCH, f"trace-{args.workload}-{args.seed}.json"),
                        {"detail": out["detail"]})
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "script_s": (m["script_s"], "s"),
                "op_iqm_ms": (m["op_iqm_ms"], "ms"),
                "op_tail_ms": (m["op_tail_ms"], "ms"),
                "mem_mb": (memory["held_mb"], "MB"),
            }
        print(json.dumps({"env": harness.env_stamp(spark), "launch_ms": launch_ms,
                          "memory": memory, "error_rate": out["failed"] / out["attempted"],
                          "detail": out["detail"]}, default=str), file=sys.stderr)
        result = {
            "correct": out["failed"] == 0,
            "attempted": out["attempted"],
            "failed": out["failed"],
            "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        if spark is not None:
            stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


def ops_metrics(tracer) -> dict:
    """Per-operation means of the traced operations' driver and Spark work."""
    ops = tracer.ops
    n = max(1, len(ops))
    fields = ["build_ms", "py4j_calls", "jobs", "stages", "tasks", "exec_ms",
              "executor_run_ms", "executor_cpu_ms", "input_bytes", "shuffle_write_bytes",
              "spill_bytes"]
    return {f"ops.{k}": sum(o.get(k, 0.0) for o in ops) / n for k in fields}


def check_layer_names(per_layer: list[tuple[str, str]], cfg: dict) -> str | None:
    """The per-row names in BENCHMARK.json must be exactly ``traced_rows`` x
    ``ROW_FIELDS``: the row list lives in workloads.json, and a row named in
    one place only would otherwise go unmeasured without an error."""
    from catalog_workload import ROW_FIELDS

    declared = {n for n, _ in per_layer if n.startswith("catalog.")}
    wanted = {f"catalog.{r}.{f}" for r in cfg["catalog"]["traced_rows"] for f in ROW_FIELDS}
    if declared != wanted:
        return ("per-row metrics in BENCHMARK.json do not match workloads.json "
                f"traced_rows: only in BENCHMARK.json {sorted(declared - wanted)}, "
                f"only in workloads.json {sorted(wanted - declared)}")
    return None


def layer_values(per_layer, produced: dict, bypassed: list[str]) -> dict:
    """Every per-layer metric in BENCHMARK.json order.  A metric of a layer
    the workload bypasses (a prefix in its ``bypassed_layers``) reads 0; any
    other metric the run did not produce is an error."""
    out, missing = {}, []
    for name, unit in per_layer:
        if name in produced:
            out[name] = (produced[name], unit)
        elif any(name.startswith(p) for p in bypassed):
            out[name] = (0.0, unit)
        else:
            missing.append(name)
    if missing:
        raise RuntimeError(f"traced run produced no value for {missing}")
    return out


if __name__ == "__main__":
    sys.exit(main())
