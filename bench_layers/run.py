#!/usr/bin/env python3
"""Layered benchmark for skar_spark: ingest, full scan, serving and
analytics on seeded inputs, measured end to end and (traced) by layer.

    python3 bench_layers/run.py --workload webtext_zipf --seed 1 \\
        --seconds 15 --trace 0

Run it from the repository root. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones (spans, Spark
event log, lineage columns, part footers and a single-thread codec
micro-run). BENCHMARK.json at the root names the workloads and metrics.

Load shape: one process, one client thread, a closed loop over
``local[<cores>]``. The heap (≈40% of MemTotal) and the core count are
derived here and passed to the session through SKAR_DRIVER_MEM and
SPARK_GRAFT_CPUS. All scratch state (Spark local dir, event log, tables,
inputs) lives under ``.bench_run/`` in the checkout and is removed at
exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

T_PROCESS = time.perf_counter()
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

WORKLOADS = ("webtext_zipf", "numeric_uniform")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def program_present(root: Path) -> bool:
    return (root / "skar_spark" / "session.py").is_file() and \
        (root / "__spark_entry__.py").is_file()


def configure_env(run_dir: Path, trace: bool) -> dict:
    """Host fit and scratch placement, before any Spark import."""
    from bench_layers import hostfit

    total_kb = hostfit.mem_total_kb()
    heap_gb = hostfit.driver_heap_gb(total_kb)
    cores = hostfit.cores()
    local = run_dir / "spark-local"
    tmp = run_dir / "tmp"
    for d in (local, tmp):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["SKAR_DRIVER_MEM"] = f"{heap_gb}g"
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SKAR_LOCAL_DIR"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    # no hsperfdata file in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = \
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + pp if pp else "")
    submit = []
    if trace:
        ev = run_dir / "eventlog"
        ev.mkdir(parents=True, exist_ok=True)
        submit += ["--conf", "spark.eventLog.enabled=true",
                   "--conf", f"spark.eventLog.dir=file://{ev}",
                   "--conf", "spark.eventLog.compress=false",
                   "--conf", "spark.eventLog.rolling.enabled=false"]
    submit += ["--conf", "spark.ui.showConsoleProgress=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])
    return {"heap_gb": heap_gb, "cores": cores,
            "mem_total_gb": round(total_kb / (1 << 20), 2)}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not program_present(ROOT):
        print(f"bench_layers: no skar_spark program under {ROOT}; run "
              "from a full checkout", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("bench_layers: --seconds must be positive", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    run_dir = ROOT / ".bench_run" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    try:
        host = configure_env(run_dir, bool(args.trace))
        from bench_layers.workload import Bench
        bench = Bench(args.workload, args.seed, run_dir, host,
                      trace=bool(args.trace), t_process=T_PROCESS)
        try:
            bench.setup()
            bench.measure(args.seconds)
            bench.verify()
            if args.trace:
                from bench_layers import micro
                micro_out = micro.run(bench.served, str(run_dir))
            else:
                result = bench.e2e_metrics()
        finally:
            bench.close()
        if args.trace:
            from bench_layers import eventlog
            from bench_layers.layers import layer_metrics
            parsed = eventlog.parse(eventlog.log_files(run_dir / "eventlog"))
            result = bench.result(layer_metrics(bench, parsed, micro_out))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            (ROOT / ".bench_run").rmdir()
        except OSError:
            pass
    print(json.dumps({"run": bench.run_info()}), file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, str(ROOT))
    sys.exit(main())

