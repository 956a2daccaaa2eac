"""Correctness gates. Each returns True/False so the harness can count a
wrong result against the operations attempted."""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

HOST_RE = r"^[a-z][a-z0-9+.-]*://(?P<host>[^/?#]*)"


def with_host(t: pa.Table) -> pa.Table:
    host = pc.struct_field(pc.extract_regex(t["url"], HOST_RE), [0])
    return t.append_column("host", host)


def host_counts(t: pa.Table) -> dict[str, int]:
    vc = pc.value_counts(t["host"])
    return {v["values"]: v["counts"] for v in vc.to_pylist()}


def expected_query_rows(t: pa.Table, query: dict) -> list[tuple]:
    """The rows ``POST /query`` must return, from the cached input:
    the OR of conjunctive selections, AND the [from_ts, to_ts) window,
    projected to (url, lang) and sorted."""
    n = t.num_rows
    keep = np.zeros(n, bool)
    for s in query.get("selections") or [{}]:
        e = np.ones(n, bool)
        if s.get("hosts"):
            e &= pc.is_in(t["host"], pa.array(s["hosts"])).to_numpy(
                zero_copy_only=False)
        if s.get("langs"):
            e &= pc.is_in(t["lang"], pa.array(s["langs"])).to_numpy(
                zero_copy_only=False)
        if s.get("url_prefix"):
            pre = np.zeros(n, bool)
            for p in s["url_prefix"]:
                pre |= pc.starts_with(t["url"], p).to_numpy(
                    zero_copy_only=False)
            e &= pre
        keep |= e
    if query.get("from_ts") is not None or query.get("to_ts") is not None:
        us = t["warc_ts"].cast(pa.int64()).to_numpy()
        if query.get("from_ts") is not None:
            keep &= us >= int(query["from_ts"])
        if query.get("to_ts") is not None:
            keep &= us < int(query["to_ts"])
    sub = t.filter(pa.array(keep))
    return sorted(zip(sub["url"].to_pylist(), sub["lang"].to_pylist()))


def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6g}"
    if hasattr(v, "isoformat"):
        return (v.replace(tzinfo=None).isoformat()
                if hasattr(v, "tzinfo") else v.isoformat())
    return str(v)


def _multiset(rows, cols) -> dict:
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    out: dict = {}
    for r in rows:
        k = tuple(_norm(r[i]) for i in order)
        out[k] = out.get(k, 0) + 1
    return out


def matches_oracle(spark_cols: list[str], spark_rows: list,
                   duck_cols: list[str], duck_rows: list) -> bool:
    """Same columns (case-insensitive), same row count and the same
    order-insensitive multiset of values (floats to 6 significant
    digits) — the repository's oracle comparison."""
    if sorted(c.lower() for c in spark_cols) != \
            sorted(c.lower() for c in duck_cols):
        return False
    if len(spark_rows) != len(duck_rows):
        return False
    return _multiset([tuple(r) for r in spark_rows], spark_cols) == \
        _multiset(duck_rows, duck_cols)


def oracle_sql(fn, name: str, n_docs: int, n_vecs: int) -> str:
    """DuckDB oracle for query `name`, built for the actual table sizes.

    ``__spark_entry__.oracle_sql()`` sizes the size-dependent oracles
    (MinHash bands, IVF lists, …) from the repository's fixed sf0.01
    testdata; the benchmark's tables are generated, so it calls the
    same SQL builders with the generated row counts instead. `fn` is the
    query function; its module holds ``sql_<name>(n)`` or
    ``SQL_<NAME>``."""
    import importlib

    mod = importlib.import_module(fn.__module__)
    build = getattr(mod, "sql_" + name, None)
    if build is None:
        return getattr(mod, "SQL_" + name.upper())
    n = n_vecs if name in VECTOR_QUERIES else n_docs
    return build(n)


# size-dependent oracles sized by the embeddings table, not documents
VECTOR_QUERIES = {"ann_ivfpq", "embed_dedup"}
