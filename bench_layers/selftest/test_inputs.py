"""Seed determinism: the same seed gives the same inputs, the same host
sample and the same query list; another seed gives others."""

import numpy as np
import pyarrow as pa

from bench_layers import checks, inputs


def _hosts():
    counts = {f"h{i:03d}.example": 10 + i for i in range(50)}
    heavy = ["h000.example", "h001.example", "h002.example"]
    return counts, heavy


def test_host_sample_is_seeded_and_mixes_heavy_hosts():
    counts, heavy = _hosts()
    a = inputs.host_sample(counts, heavy, 100, seed=7)
    assert a == inputs.host_sample(counts, heavy, 100, seed=7)
    assert a != inputs.host_sample(counts, heavy, 100, seed=8)
    assert sum(h in heavy for h in a) == 20
    assert set(a) <= set(counts)


def test_query_list_is_seeded():
    counts, _ = _hosts()
    args = (sorted(counts), ["en", "de", "fr"], 0, 10**9, 40)
    a = inputs.query_list(*args, seed=3)
    assert a == inputs.query_list(*args, seed=3)
    assert a != inputs.query_list(*args, seed=4)
    assert all(q["field_selection"] == ["url", "lang"] for q in a)


def test_corpus_and_side_tables_are_seeded():
    for make in (lambda s: inputs.corpus_documents(50, s),
                 lambda s: inputs.events_table(200, 10, s),
                 lambda s: inputs.embeddings_table(40, 8, 3, s)):
        assert make(5).equals(make(5))
        assert not make(5).equals(make(6))
    docs = inputs.corpus_documents(200, 1)
    assert docs.num_rows == 200
    assert min(docs["n_chars"].to_pylist()) > 0


def test_lineitem_documents_hosts_follow_the_seed():
    li = pa.table({
        "l_orderkey": pa.array(np.arange(1, 101, dtype=np.int64)),
        "l_partkey": pa.array(np.arange(100, dtype=np.int64)),
        "l_suppkey": pa.array(np.arange(100, dtype=np.int64) % 17),
        "l_linenumber": pa.array(np.ones(100, dtype=np.int32)),
        "l_quantity": pa.array(np.ones(100)),
        "l_extendedprice": pa.array(np.ones(100)),
        "l_discount": pa.array(np.zeros(100)),
        "l_tax": pa.array(np.zeros(100)),
        "l_returnflag": pa.array(["N"] * 100),
        "l_linestatus": pa.array(["O"] * 100),
        "l_shipdate": pa.array(np.arange(100) * 86_400_000_000,
                               pa.timestamp("us")),
        "l_shipmode": pa.array(["air"] * 100),
    })
    a = inputs.lineitem_documents(li, 1)
    assert a.equals(inputs.lineitem_documents(li, 1))
    assert a["url"] != inputs.lineitem_documents(li, 2)["url"]
    hosts = checks.with_host(a)["host"].to_pylist()
    assert all(h.startswith("supp-") for h in hosts)
    assert len(set(hosts)) <= 17
    assert a["text"].to_pylist()[0] == "NO"


def test_expected_query_rows_applies_selections_and_window():
    t = checks.with_host(pa.table({
        "url": ["https://a.x/1", "https://a.x/2", "https://b.x/1"],
        "lang": ["en", "de", "en"],
        "warc_ts": pa.array([10, 20, 30], pa.timestamp("us")),
    }))
    q = {"selections": [{"hosts": ["a.x"], "langs": ["de"]},
                        {"url_prefix": ["https://b.x/"]}]}
    assert checks.expected_query_rows(t, q) == [
        ("https://a.x/2", "de"), ("https://b.x/1", "en")]
    q["from_ts"], q["to_ts"] = 0, 30
    assert checks.expected_query_rows(t, q) == [("https://a.x/2", "de")]
