"""Benchmark entry point.

    python3 perfbench/run.py --workload text_mixed --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. It builds nothing: the engine is the
``next_plaid_spark`` package beside this directory, run on Spark
``local[4]`` in this process. Every file the run writes (Spark local dirs,
warehouse, temp files, index snapshots) goes under ``.perfbench_work/`` in
the checkout and is removed at exit; a traced run leaves its span file
there.

Output: with ``--trace 0`` the end-to-end metrics of ``BENCHMARK.json``,
with ``--trace 1`` its per-layer metrics. The last line of stdout is the
result object; the line before it is a detail object with per-op-kind
counts (attempted, succeeded, failed) and latencies.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env(work: str) -> None:
    """Process environment for Spark: the checkout on every Python worker's
    path, fixed parallelism, and all scratch space inside ``work``."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join((
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        # the JVM's perf-data file would otherwise go to /tmp, whatever tmpdir
        f"--driver-java-options '-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
        "-XX:-UsePerfData'",
        "--conf spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ))
    sys.path.insert(0, ROOT)


def running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session, shut the JVM down and wait until every process
    started under this one (launcher, JVM, Python workers) has exited."""
    from spans import process_tree

    children = set(process_tree(os.getpid())) - {os.getpid()}
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while children and time.monotonic() < deadline:
        children = {p for p in children if running(p)}
        time.sleep(0.1)
    for pid in children:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def main(argv=None) -> int:
    args = parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if not os.path.isdir(os.path.join(ROOT, "next_plaid_spark")):
        print("next_plaid_spark not found beside perfbench/", file=sys.stderr)
        return 2

    import workloads
    from spans import high_water_mb, instrument

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    configure_env(work)
    try:
        from next_plaid_spark.session import get_spark

        run = None
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        session_s = time.perf_counter() - t0
        try:
            spark.sparkContext.setLogLevel("ERROR")
            run = workloads.Run(spark, seed=args.seed, seconds=args.seconds,
                                traced=bool(args.trace), work_dir=work, cores=CORES)
            if run.traced:
                instrument(run.tracer)
            run.phase_s["session"] = session_s
            workloads.WORKLOADS[args.workload](run)
            high_water = high_water_mb()
        finally:
            t0 = time.perf_counter()
            stop_spark(spark)
            if run is not None:
                run.phase_s["teardown"] = time.perf_counter() - t0
        e2e = run.end_to_end(high_water)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        names = [m["name"] for m in spec["per_layer"]]
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        values = run.per_layer(names)
    else:
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        values = {n: e2e[n][0] for n in units}
    kinds = run.per_kind()
    failed = sum(k["failed"] for k in kinds.values())
    attempted = sum(k["attempted"] for k in kinds.values())
    # the per-kind latencies, reported but not gated (see RECORD.md)
    by_kind = {f"{k}_p50_s": v["p50_s"] for k, v in kinds.items()}
    if "append" in kinds:
        appends = kinds["append"]
        by_kind["append_tail_s"] = appends["tail_s"]
        by_kind["ingest_docs_per_s"] = (workloads.APPEND_DOCS * appends["attempted"]
                                        / sum(appends["walls_s"]))
    by_kind["failed_ops_ratio"] = failed / attempted
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "ops": kinds, "by_kind": by_kind,
        "end_to_end": {n: {"value": v, "unit": u} for n, (v, u) in e2e.items()},
        "index": run.index_shape, "high_water_mb": high_water, "setup_runs_s": run.setup_s, "build_runs_s": run.build_s,
        "cycles_s": run.cycles, "window_s": run.window_s, "phases_s": run.phase_s,
        "errors": [o["error"] for o in run.ops if not o["ok"]][:5],
    }
    if run.traced:
        spans_path = os.path.join(ROOT, ".perfbench_work", f"spans-{args.workload}-{args.seed}.json")
        with open(spans_path, "w") as f:
            json.dump(run.tracer.spans, f)
        detail["spans_file"] = os.path.relpath(spans_path, ROOT)
    print(json.dumps(detail))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {n: {"value": values[n], "unit": units[n]} for n in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
