"""The paired protocol's summary: pairs by seed, drops failed pairs, and
applies the win rule per workload and metric."""

from bench_layers.paired import summarize

METRICS = [{"name": "latency_ms", "unit": "ms", "better": "lower"}]


def _run(side, seed, value, correct=True, workload="w"):
    res = {"correct": correct, "attempted": 1, "failed": 0 if correct else 1,
           "metrics": {"latency_ms": {"value": value, "unit": "ms"}}}
    return {"workload": workload, "side": side, "seed": seed, "result": res}


def test_summary_claims_gain_when_change_wins_nine_of_ten():
    runs = []
    for i in range(10):
        runs.append(_run("parent", i, 10.0 + 0.01 * i))
        runs.append(_run("change", i, 12.0 if i == 0 else 8.0))
    (row,) = summarize(runs, METRICS)
    assert row["pairs_ok"] == 10 and row["wins"] == 9
    assert row["gain_claimed"]


def test_summary_excludes_incorrect_pairs():
    runs = []
    for i in range(10):
        runs.append(_run("parent", i, 10.0))
        runs.append(_run("change", i, 8.0, correct=(i != 3)))
    (row,) = summarize(runs, METRICS)
    assert row["pairs_run"] == 10 and row["pairs_ok"] == 9
    assert row["wins"] == 9


def test_summary_one_row_per_workload():
    runs = [_run(s, i, 1.0, workload=w) for w in ("a", "b")
            for i in range(3) for s in ("parent", "change")]
    rows = summarize(runs, METRICS)
    assert [r["workload"] for r in rows] == ["a", "b"]
    assert all(r["wins"] == 0 and not r["gain_claimed"] for r in rows)
