"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the seed (and the scale constants
the workload passes in): the same seed gives the same rows, the same host
sample and the same query list. Nothing is read from outside the
checkout; TPC-H tables come from DuckDB's bundled ``dbgen``.
"""

from __future__ import annotations

import os
import threading

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from skar_spark.synth import splitmix64, synth_batch

U64 = np.uint64


def _h(x: np.ndarray, seed: int, salt: int) -> np.ndarray:
    """Seeded 64-bit hash of an integer array (splitmix64)."""
    return splitmix64(x.astype(U64) ^ (U64(seed) * U64(0x9E3779B1))
                      ^ U64(salt))


def _unit(h: np.ndarray) -> np.ndarray:
    return (h >> U64(11)).astype(np.float64) / float(1 << 53)


# --- TPC-H (DuckDB dbgen; the seed only re-keys hosts, see below) ---------

# dbgen keeps process-global state: two concurrent calls crash the process
_DBGEN_LOCK = threading.Lock()


def tpch_tables(sf: float) -> dict[str, pa.Table]:
    """lineitem/orders/customer at scale factor `sf`, projected and typed
    like the repository's testdata (decimals → double, dates → us
    timestamps)."""
    import duckdb

    con = duckdb.connect()
    try:
        with _DBGEN_LOCK:
            con.execute(f"CALL dbgen(sf={sf})")
        li = con.execute(
            "SELECT l_orderkey, l_partkey, l_suppkey, "
            "CAST(l_linenumber AS INTEGER) AS l_linenumber, "
            "CAST(l_quantity AS DOUBLE) AS l_quantity, "
            "CAST(l_extendedprice AS DOUBLE) AS l_extendedprice, "
            "CAST(l_discount AS DOUBLE) AS l_discount, "
            "CAST(l_tax AS DOUBLE) AS l_tax, l_returnflag, l_linestatus, "
            "CAST(l_shipdate AS TIMESTAMP) AS l_shipdate, "
            "lower(l_shipmode) AS l_shipmode "
            "FROM lineitem ORDER BY l_orderkey, l_linenumber").arrow()
        orders = con.execute(
            "SELECT o_orderkey, o_custkey, o_orderstatus, "
            "CAST(o_totalprice AS DOUBLE) AS o_totalprice, "
            "CAST(o_orderdate AS TIMESTAMP) AS o_orderdate, o_orderpriority "
            "FROM orders ORDER BY o_orderkey").arrow()
        customer = con.execute(
            "SELECT c_custkey, c_name, CAST(c_nationkey AS INTEGER) "
            "AS c_nationkey, CAST(c_acctbal AS DOUBLE) AS c_acctbal, "
            "c_mktsegment FROM customer ORDER BY c_custkey").arrow()
    finally:
        con.close()
    return {"lineitem": li, "orders": orders, "customer": customer}


NUMERIC_COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                "l_quantity", "l_extendedprice", "l_discount", "l_tax"]
N_SUPP_HOSTS = 1000


def lineitem_documents(lineitem: pa.Table, seed: int) -> pa.Table:
    """Lift lineitem to the documents schema: a near-uniform host
    ``supp-{hash(l_suppkey, seed) % 1000}``, ``l_shipdate`` as warc_ts,
    the return/status flag pair as text (a dict-codec column), ship mode
    as lang, null html, and the eight numeric columns carried as evolved
    columns."""
    supp = lineitem["l_suppkey"].to_numpy()
    host = _h(supp, seed, 0x5A5A) % U64(N_SUPP_HOSTS)
    ok = lineitem["l_orderkey"].to_numpy()
    ln = lineitem["l_linenumber"].to_numpy()
    urls = [f"https://supp-{h:03d}.example/{o}-{k}"
            for h, o, k in zip(host.tolist(), ok.tolist(), ln.tolist())]
    text = pc.binary_join_element_wise(
        lineitem["l_returnflag"], lineitem["l_linestatus"], "")
    cols = {
        "url": pa.array(urls, pa.string()),
        "warc_ts": lineitem["l_shipdate"].cast(pa.timestamp("us")),
        "html": pa.nulls(lineitem.num_rows, pa.binary()),
        "text": text,
        "lang": lineitem["l_shipmode"],
    }
    for c in NUMERIC_COLS:
        cols[c] = lineitem[c]
    return pa.table(cols)


# --- analytics-only tables -------------------------------------------------

def events_table(n: int, n_users: int, seed: int) -> pa.Table:
    ids = np.arange(n, dtype=np.int64)
    gaps = (_unit(_h(ids, seed, 0xE1)) ** 3 * 7_200e6).astype(np.int64)
    ts = 1_704_067_200_000_000 + np.cumsum(gaps)
    users = (_h(ids, seed, 0xE2) % U64(n_users)).astype(np.int64)
    kinds = np.array(["view", "click", "error", "purchase", "scroll"])
    etype = kinds[(_h(ids, seed, 0xE3) % U64(len(kinds))).astype(np.int64)]
    value = np.round(_unit(_h(ids, seed, 0xE4)) * 200.0, 2)
    k = (_h(ids, seed, 0xE5) % U64(100)).astype(np.int64)
    return pa.table({
        "event_id": pa.array(ids),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(users),
        "event_type": pa.array(etype.tolist(), pa.string()),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {v}}}' for v in k.tolist()],
                          pa.string()),
    })


def embeddings_table(n: int, dim: int, n_labels: int, seed: int) -> pa.Table:
    """Clustered unit-ish vectors: label centre + noise, so ANN probes
    and near-duplicate thresholds see real neighbourhoods."""
    rng = np.random.default_rng(seed)
    centres = rng.normal(size=(n_labels, dim)).astype(np.float32)
    labels = rng.integers(0, n_labels, size=n).astype(np.int32)
    vecs = centres[labels] + 0.35 * rng.normal(size=(n, dim)).astype(
        np.float32)
    dup = rng.random(n) < 0.05          # a few near-exact duplicates
    src = rng.integers(0, n, size=n)
    vecs[dup] = vecs[src[dup]] + 1e-3 * rng.normal(
        size=(int(dup.sum()), dim)).astype(np.float32)
    vecs = np.round(vecs, 4).astype(np.float32)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)), flat),
        "label": pa.array(labels),
    })


def corpus_documents(n: int, seed: int, max_words: int = 60,
                     n_sources: int = 20) -> pa.Table:
    """Short webtext documents for the text analytics (token counts,
    MinHash/LSH, n-gram Jaccard, decontamination, packing): the first
    ``max_words`` words of the synthesizer's seeded prose, with ~10%
    near-duplicates (a copy of an earlier doc with its last word
    changed) so the dedup operators find pairs. Like the repository's
    testdata, the analytics corpus has no empty documents (the ingest
    corpus keeps the synthesizer's 1/256 empty ones)."""
    t = synth_batch(np.arange(n + n // 32 + 8, dtype=np.int64), seed)
    t = t.filter(pc.greater(pc.binary_length(t["text"]), 0)).slice(0, n)
    ids = np.arange(t.num_rows, dtype=np.int64)
    words = pc.split_pattern(t["text"], " ", max_splits=max_words)
    heads = pc.list_slice(words, 0, max_words)
    text = pc.binary_join(heads, " ").to_pylist()
    h = _h(ids, seed, 0xD0)
    near = (h % U64(10)) == 0
    src = (splitmix64(h) % U64(max(n, 1))).astype(np.int64)
    for i in np.flatnonzero(near).tolist():
        j = int(src[i]) % max(i, 1)
        base = text[j].rsplit(" ", 1)[0] if " " in text[j] else text[j]
        text[i] = base + " dup"
    srcs = (h >> U64(8)) % U64(n_sources)
    return pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(text, pa.string()),
        "lang": t["lang"],
        "source": pa.array([f"src{s}" for s in srcs.tolist()], pa.string()),
        "n_chars": pa.array([len(s) for s in text], pa.int64()),
    })


def write_tables(data_dir: str, tables: dict[str, pa.Table]) -> None:
    os.makedirs(data_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(data_dir, f"{name}.parquet"))


# --- serving request mixes -------------------------------------------------

def _blocks(items: list, block: int, rng) -> list:
    """Shuffle within consecutive blocks, so every prefix of whole blocks
    has the same composition."""
    out = []
    for i in range(0, len(items), block):
        b = items[i:i + block]
        rng.shuffle(b)
        out.extend(b)
    return out


def host_sample(host_counts: dict[str, int], heavy: list[str], n: int,
                seed: int, per_heavy: int = 5) -> list[str]:
    """`n` lookup hosts in blocks of `per_heavy`: one drawn from `heavy`
    (the salted hosts), the others from the tail, seeded order within
    each block."""
    rng = np.random.default_rng(seed ^ 0x1001)
    heavy = sorted(heavy)
    tail = sorted(h for h in host_counts if h not in set(heavy))
    out = []
    for i in range(n):
        pool = heavy if (heavy and i % per_heavy == 0) else tail
        out.append(pool[int(rng.integers(0, len(pool)))])
    return _blocks(out, per_heavy, rng)


QUERY_KINDS = 4


def query_list(hosts: list[str], langs: list[str], ts_lo: int, ts_hi: int,
               n: int, seed: int) -> list[dict]:
    """`n` JSON queries for ``POST /query`` in blocks of one of each kind:
    a host selection; a url-prefix OR host selection; host AND lang in a
    timestamp window; and a lang selection in a narrow window with
    ``max_rows`` 1 over two-file pages, which truncates at a page
    boundary and so may need a cursor follow-up."""
    rng = np.random.default_rng(seed ^ 0x2002)
    hosts, langs = sorted(hosts), sorted(langs)
    span = max(ts_hi - ts_lo, 1)
    out = []
    for i in range(n):
        kind = i % QUERY_KINDS
        h = hosts[int(rng.integers(0, len(hosts)))]
        q: dict = {"field_selection": ["url", "lang"]}
        if kind == 0:
            q["selections"] = [{"hosts": [h]}]
        elif kind == 1:
            q["selections"] = [{"url_prefix": [f"https://{h}/"]},
                               {"hosts": [hosts[int(rng.integers(
                                   0, len(hosts)))]]}]
        elif kind == 2:
            lo = ts_lo + int(rng.integers(0, span))
            q["selections"] = [{"hosts": [h],
                                "langs": [langs[int(rng.integers(
                                    0, len(langs)))]]}]
            q["from_ts"], q["to_ts"] = lo, lo + span // 3
        else:
            lo = ts_lo + int(rng.integers(0, span))
            q["selections"] = [{"langs": [langs[int(rng.integers(
                0, len(langs)))]]}]
            q["from_ts"], q["to_ts"] = lo, lo + span // 50
            q["max_rows"] = 1
            q["page_files"] = 2
        out.append(q)
    return _blocks(out, QUERY_KINDS, rng)
