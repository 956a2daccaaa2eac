"""The event-log parser on a small recorded fixture: one encode job's
shuffle-read stage at encode.py:199 and the encode kernel stage at
encode.py:86 (8 tasks each), trimmed to the fields the parser reads."""

from pathlib import Path

import pytest

from bench_layers import eventlog

FIXTURE = Path(__file__).resolve().parent.parent / "fixtures" / \
    "eventlog_encode.jsonl"


@pytest.fixture(scope="module")
def parsed():
    return eventlog.parse([FIXTURE])


def test_stages_and_tasks_are_aggregated(parsed):
    by_id = {s["id"]: s for s in parsed["stages"]}
    assert sorted(by_id) == [20, 33]
    k = by_id[33]
    assert k["n_tasks"] == 8
    assert k["run_ms"] == 8016
    assert k["cpu_ms"] == pytest.approx(652.98, abs=0.01)
    assert k["shuffle_read_bytes"] == 16_609_790
    assert k["shuffle_write_bytes"] == 0
    assert k["py_run_ms"] == 7764.0
    assert k["complete_ms"] - k["submit_ms"] == 2244


def test_call_site_attributes_module_and_line(parsed):
    by_id = {s["id"]: s for s in parsed["stages"]}
    assert by_id[33]["module"] == "engine.encode"
    assert by_id[33]["line"] == 86
    assert by_id[20]["line"] == 199


def test_jobs_have_windows(parsed):
    jobs = {j["id"]: j for j in parsed["jobs"]}
    assert set(jobs) == {14, 22}
    assert jobs[22]["stage_ids"] == [32, 33]
    assert jobs[22]["end_ms"] - jobs[22]["submit_ms"] == 2247


def test_totals(parsed):
    t = eventlog.totals(parsed["stages"])
    assert t["tasks"] == 16
    assert t["run_s"] == pytest.approx(8.327)
    assert t["shuffle_read_mb"] == pytest.approx(16.673606)
    assert t["spill_mb"] == 0


def test_module_of():
    assert eventlog.module_of("/x/skar_spark/engine/decode.py") == \
        "engine.decode"
    assert eventlog.module_of("/x/skar_spark/sources.py") == "sources"
    assert eventlog.module_of("/x/bench_layers/workload.py") is None
    assert eventlog.module_of("NativeMethodAccessorImpl.java") is None
    assert eventlog.module_of(None) is None


def test_in_window():
    assert eventlog.in_window(1500.0, 1.0, 2.0)
    assert not eventlog.in_window(2500.0, 1.0, 2.0)
    assert not eventlog.in_window(None, 1.0, 2.0)
