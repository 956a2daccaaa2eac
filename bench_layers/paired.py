#!/usr/bin/env python3
"""Paired runs: parent vs change under the win rule.

    python3 bench_layers/paired.py --parent HEAD~1 --change HEAD \\
        --pairs 10 --seconds 10 --out pairs.json

Both revisions are exported with ``git archive`` into ``--work-dir``
(default ``.bench_pairs/`` in this checkout) and both get THIS checkout's
``bench_layers/`` and ``BENCHMARK.json``, so the two sides run identical
benchmark code and settings. For each workload, pair i runs both sides
on seed ``--seed0 + i``, the parent first in even pairs and the change
first in odd ones. Every run is reported with the host's CPU steal and
load average around it; the summary has one row per workload and
metric: each side's median and quartiles, the wins, and whether the win
rule (≥ 9/10 wins and a median gap beyond the parent's interquartile
distance) grants a gain. A run that fails or reports incorrect output
is recorded and excluded from the pairs.
"""

from __future__ import annotations

import argparse
import json
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

from bench_layers import hostfit  # noqa: E402
from bench_layers.stats import quartiles, win_rule  # noqa: E402


def export(rev: str, dest: Path) -> None:
    """`git archive` of `rev` into `dest`, plus this checkout's
    benchmark."""
    shutil.rmtree(dest, ignore_errors=True)
    dest.mkdir(parents=True)
    archive = subprocess.run(["git", "-C", str(ROOT), "archive", rev],
                             check=True, capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", str(dest)], input=archive, check=True)
    shutil.rmtree(dest / HERE.name, ignore_errors=True)
    shutil.copytree(HERE, dest / HERE.name,
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy2(ROOT / "BENCHMARK.json", dest / "BENCHMARK.json")


# generous: the first run in a fresh tree also compiles bytecode
RUN_TIMEOUT_S = 900


def run_once(tree: Path, workload: str, seed: int, seconds: int) -> dict:
    st0, load0, t0 = hostfit.cpu_stat(), hostfit.loadavg(), time.time()
    cmd = [sys.executable, f"{HERE.name}/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    try:
        p = subprocess.run(cmd, cwd=tree, capture_output=True, text=True,
                           timeout=RUN_TIMEOUT_S)
        lines = p.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if p.returncode == 0 and lines else None
        err = None if res else (p.stderr[-2000:] or f"exit {p.returncode}")
    except subprocess.TimeoutExpired:
        res, err = None, f"timeout after {RUN_TIMEOUT_S} s"
    return {"workload": workload, "seed": seed, "result": res, "error": err,
            "wall_s": round(time.time() - t0, 3),
            "steal_pct": round(hostfit.steal_pct(st0, hostfit.cpu_stat()), 3),
            "loadavg_before": load0, "loadavg_after": hostfit.loadavg()}


def summarize(runs: list[dict], metrics: list[dict]) -> list[dict]:
    rows = []
    for w in sorted({r["workload"] for r in runs}):
        pairs: dict[int, dict] = {}
        for r in runs:
            if r["workload"] == w:
                pairs.setdefault(r["seed"], {})[r["side"]] = r
        ok = [p for p in pairs.values()
              if all(s in p and p[s]["result"] and p[s]["result"]["correct"]
                     for s in ("parent", "change"))]
        for m in metrics:
            name = m["name"]
            par = [p["parent"]["result"]["metrics"][name]["value"] for p in ok]
            chg = [p["change"]["result"]["metrics"][name]["value"] for p in ok]
            row = {"workload": w, "metric": name, "unit": m["unit"],
                   "better": m["better"], "pairs_ok": len(ok),
                   "pairs_run": len(pairs)}
            if len(ok) >= 2:
                row["parent_q"] = quartiles(par)
                row["change_q"] = quartiles(chg)
                row.update(win_rule(par, chg, m["better"]))
            rows.append(row)
    return rows


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="git revision")
    ap.add_argument("--change", default="HEAD", help="git revision")
    ap.add_argument("--workloads", nargs="*", default=None)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1000)
    ap.add_argument("--seconds", type=int, default=None,
                    help="default: run_seconds from BENCHMARK.json")
    ap.add_argument("--work-dir", default=str(ROOT / ".bench_pairs"))
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    if a.pairs < 1:
        ap.error("--pairs must be at least 1")

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = a.workloads or [w["name"] for w in spec["workloads"]]
    seconds = a.seconds or spec["run_seconds"]
    work = Path(a.work_dir)
    trees = {"parent": work / "parent", "change": work / "change"}
    export(a.parent, trees["parent"])
    export(a.change, trees["change"])

    runs = []
    try:
        for w in workloads:
            for i in range(a.pairs):
                order = ("parent", "change") if i % 2 == 0 else \
                    ("change", "parent")
                for side in order:
                    r = run_once(trees[side], w, a.seed0 + i, seconds)
                    r["side"], r["pair"] = side, i
                    runs.append(r)
                    print(json.dumps({k: r[k] for k in (
                        "workload", "pair", "side", "seed", "wall_s",
                        "steal_pct", "error")}), file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    rows = summarize(runs, spec["end_to_end"])
    Path(a.out).write_text(json.dumps(
        {"parent": a.parent, "change": a.change, "seconds": seconds,
         "summary": rows, "runs": runs}, indent=1))
    print(f"{'workload':18s} {'metric':26s} {'parent med':>12s} "
          f"{'change med':>12s} {'wins':>5s}  gain")
    for r in rows:
        if "parent_median" in r:
            print(f"{r['workload']:18s} {r['metric']:26s} "
                  f"{r['parent_median']:12.5g} {r['change_median']:12.5g} "
                  f"{r['wins']:2d}/{r['pairs']:<2d}  {r['gain_claimed']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
