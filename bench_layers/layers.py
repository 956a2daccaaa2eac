"""Per-layer metrics of a traced run, named by module.

Sources: the harness spans (spans.py), the Spark event log
(eventlog.py), the lineage columns the encode kernel writes
(``sort_sec``, ``encode_sec``, ``meta_sec``, ``bytes_in``, ``bytes_out``),
the part footers, and the single-thread micro-run (micro.py). A figure
a workload never exercises reads 0 (for example ALP throughput on a
table with no float column, or an analytics query outside the
workload's mix).
"""

from __future__ import annotations

import statistics

from bench_layers import eventlog, micro
from bench_layers.spans import dur

# every analytics query of both workloads' mixes, with its ops module
ANALYTICS = {
    "tpch_q1": "relational", "tpch_q3": "relational",
    "window_topk": "relational", "sessionize": "relational",
    "token_count": "textops", "quality_score": "textops",
    "minhash": "dedup", "lsh_pairs": "dedup", "ngram_jaccard": "dedup",
    "dedup_near": "dedup", "cosine_topk": "dedup", "ann_ivfpq": "dedup",
    "embed_dedup": "dedup", "decontam": "corpus", "line_dedup": "corpus",
    "seq_pack": "corpus", "sample_stratified": "sampling",
    "dedup_clusters": "dedup",
}
CHOICE_COLS = {"url": ("plain", "fsst", "dict"),
               "html": ("plain", "fsst", "dict"),
               "text": ("plain", "fsst", "dict"),
               "lang": ("plain", "fsst", "dict"),
               "warc_ts": ("plain", "rle", "bitpack", "for_delta"),
               "evolved": ("plain", "rle", "bitpack", "for_delta", "bss",
                           "alp", "alprd")}
BASE_COLS = ("url", "warc_ts", "html", "text", "lang")

LAYER_METRICS: list[tuple[str, str]] = [
    ("session.start_s", "s"),
    ("encode.plan_s", "s"),
    ("encode.salted_hosts", "count"),
    ("encode.salt_chunks", "count"),
    ("encode.part_bytes_max_median", "ratio"),
    ("encode.batch_s", "s"),
    ("encode.lineage_read_s", "s"),
    ("encode.kernel_sort_s", "s"),
    ("encode.kernel_codec_s", "s"),
    ("encode.kernel_meta_s", "s"),
    ("encode.kernel_core_share", "ratio"),
    ("encode.arrow_boundary_s", "s"),
    ("encode.shuffle_write_mb", "MB"),
    ("encode.spill_mb", "MB"),
    ("codecs.fsst.encode_mbps", "MB/s"),
    ("codecs.fsst.decode_mbps", "MB/s"),
    ("codecs.selector.trial_share", "ratio"),
    ("codecs.framing.zstd_share", "ratio"),
    ("codecs.alp.encode_mbps", "MB/s"),
    ("codecs.core.int_encode_mbps", "MB/s"),
    *[(f"codecs.bytes_out.{c}", "bytes") for c in BASE_COLS + ("evolved",)],
    *[(f"codecs.choice.{c}.{k}", "ratio")
      for c, ks in CHOICE_COLS.items() for k in ks],
    ("partfile.write_mbps", "MB/s"),
    ("partfile.read_mbps", "MB/s"),
    ("decode.prune_s", "s"),
    ("decode.prune_local_s", "s"),
    ("decode.prune_selections_s", "s"),
    ("decode.files_kept_ratio", "ratio"),
    ("decode.paged_decode_s", "s"),
    ("decode.scan_task_s", "s"),
    ("decode.scan_core_share", "ratio"),
    ("sources.plan_s", "s"),
    ("sources.read_task_s", "s"),
    ("query.run_query_s", "s"),
    ("server.http_overhead_ms", "ms"),
    ("query.rows_returned", "count"),
    ("query.truncated_share", "ratio"),
    *[(f"ops.{m}.{q}_s", "s") for q, m in ANALYTICS.items()],
    ("spark.jobs", "count"),
    ("spark.tasks", "count"),
    ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.shuffle_read_mb", "MB"),
    ("trace.overhead_pct", "%"),
]


def _med(xs, default: float = 0.0) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else default


def _stages_in(stages, span: dict) -> list[dict]:
    return [s for s in stages
            if eventlog.in_window(s["submit_ms"], span["t0"], span["t1"])]


def _jobs_s(jobs, span: dict) -> float:
    return sum((j["end_ms"] - j["submit_ms"]) / 1e3 for j in jobs
               if j["end_ms"] is not None
               and eventlog.in_window(j["submit_ms"], span["t0"], span["t1"]))


def layer_metrics(b, parsed: dict, micro_out: dict) -> dict:
    """`b` is a finished traced `workload.Bench`."""
    rec = b.rec
    stages, jobs = parsed["stages"], parsed["jobs"]
    traced = rec.named("round")
    m: dict[str, float] = {"session.start_s": b.t_session}

    # --- encode (DEFAULT profile, traced rounds) ----------------------------
    encs = [s for s in rec.named("encode.encode_documents")
            if s.get("profile") == "default"
            and any(r["t0"] <= s["t0"] <= r["t1"] for r in traced)]
    plan, batch, lread, arrow, shw, spill = [], [], [], [], [], []
    for e in encs:
        appends = rec.named("encode.append_lineage_rows", e)
        if appends:
            plan.append(min(a["t0"] for a in appends) - e["t0"])
        batch.append(sum(dur(a) for a in appends))
        lread.append(sum(dur(s) for s in rec.named("encode.read_lineage", e)))
        est = _stages_in(stages, e)
        # the kernel stage: the encode module's shuffle-reading result
        # stage (the mapInArrow encode kernel behind the lineage collect)
        kern = [s for a in appends for s in _stages_in(stages, a)
                if s["module"] == "engine.encode"
                and s["shuffle_read_bytes"] > 0
                and s["shuffle_write_bytes"] == 0]
        lin = e.get("lineage") or {}
        ksum = sum(lin.get(k, 0.0) for k in ("sort_sec", "encode_sec",
                                              "meta_sec"))
        arrow.append(sum(s["run_ms"] for s in kern) / 1e3 - ksum)
        t = eventlog.totals(est)
        shw.append(t["shuffle_write_mb"])
        spill.append(t["spill_mb"])
    lins = [e.get("lineage") or {} for e in encs]
    m["encode.plan_s"] = _med(plan)
    m["encode.salted_hosts"], m["encode.salt_chunks"] = \
        micro.salt_summary(b.served)
    parts = sorted(b.served_part_bytes)
    m["encode.part_bytes_max_median"] = (
        parts[-1] / statistics.median(parts) if parts else 0.0)
    m["encode.batch_s"] = _med(batch)
    m["encode.lineage_read_s"] = _med(lread)
    m["encode.kernel_sort_s"] = _med(x.get("sort_sec", 0.0) for x in lins)
    m["encode.kernel_codec_s"] = _med(x.get("encode_sec", 0.0) for x in lins)
    m["encode.kernel_meta_s"] = _med(x.get("meta_sec", 0.0) for x in lins)
    m["encode.kernel_core_share"] = _med(
        sum(x.get(k, 0.0) for k in ("sort_sec", "encode_sec", "meta_sec"))
        / (dur(e) * b.cores) for x, e in zip(lins, encs))
    m["encode.arrow_boundary_s"] = _med(arrow)
    m["encode.shuffle_write_mb"] = _med(shw)
    m["encode.spill_mb"] = _med(spill)

    # --- codecs and part files (micro-run + footers) ------------------------
    for k in ("codecs.fsst.encode_mbps", "codecs.fsst.decode_mbps",
              "codecs.selector.trial_share", "codecs.framing.zstd_share",
              "codecs.alp.encode_mbps", "codecs.core.int_encode_mbps",
              "partfile.write_mbps", "partfile.read_mbps"):
        m[k] = micro_out[k]
    shares, sizes = micro.codec_choices(micro.footers(b.served))
    evolved = [c for c in sizes if c not in BASE_COLS]
    for c in BASE_COLS:
        m[f"codecs.bytes_out.{c}"] = sizes.get(c, 0)
    m["codecs.bytes_out.evolved"] = sum(sizes[c] for c in evolved)
    ev_share: dict[str, float] = {}
    for c in evolved:
        for k, v in shares[c].items():
            ev_share[k] = ev_share.get(k, 0.0) + v / len(evolved)
    for c, ks in CHOICE_COLS.items():
        src = ev_share if c == "evolved" else shares.get(c, {})
        for k in ks:
            m[f"codecs.choice.{c}.{k}"] = src.get(k, 0.0)

    # --- decode / sources / query / server ----------------------------------
    def in_traced(name):
        return [s for s in rec.named(name)
                if any(r["t0"] <= s["t0"] <= r["t1"] for r in traced)]
    scans = in_traced("scan")
    m["decode.prune_s"] = _med(
        sum(dur(p) for p in rec.named("decode.prune_partitions", s))
        for s in scans)
    m["decode.prune_local_s"] = _med(b.prune_local_s)
    psel = in_traced("decode.prune_selections")
    m["decode.prune_selections_s"] = _med(dur(s) for s in psel)
    m["decode.files_kept_ratio"] = (
        sum(s.get("n_out", 0) for s in psel)
        / (len(psel) * b.served_parts) if psel else 0.0)
    m["decode.paged_decode_s"] = _med(
        dur(s) for s in in_traced("decode.paged_decode_loop"))
    stask = [sum(s["run_ms"] for s in _stages_in(stages, sc)) / 1e3
             for sc in scans]
    m["decode.scan_task_s"] = _med(stask)
    m["decode.scan_core_share"] = _med(
        t / (dur(sc) * min(b.cores, b.served_parts))
        for t, sc in zip(stask, scans))
    looks = in_traced("lookup")
    m["sources.plan_s"] = _med(dur(s) - _jobs_s(jobs, s) for s in looks)
    m["sources.read_task_s"] = _med(
        sum(st["run_ms"] for st in _stages_in(stages, s)) / 1e3
        for s in looks)
    m["query.run_query_s"] = _med(dur(s) for s in in_traced("query.run_query"))
    https = in_traced("http")
    m["server.http_overhead_ms"] = _med(
        (dur(h) - sum(dur(q) for q in rec.named("query.run_query", h))) * 1e3
        for h in https)
    m["query.rows_returned"] = _med(h.get("rows", 0) for h in https)
    m["query.truncated_share"] = (
        sum(1 for h in https if h.get("truncated")) / len(https)
        if https else 0.0)

    # --- ops (the analytics pass) ---------------------------------------------
    for q, mod in ANALYTICS.items():
        m[f"ops.{mod}.{q}_s"] = _med(b.samples.get("analytics." + q, []))

    # --- Spark totals over the measured window --------------------------------
    win = {"t0": b.t_measure0, "t1": b.t_measure1}
    wst = _stages_in(stages, win)
    t = eventlog.totals(wst)
    m["spark.jobs"] = sum(1 for j in jobs if eventlog.in_window(
        j["submit_ms"], win["t0"], win["t1"]))
    m["spark.tasks"] = t["tasks"]
    m["spark.executor_run_s"] = t["run_s"]
    m["spark.executor_cpu_s"] = t["cpu_s"]
    m["spark.gc_s"] = t["gc_s"]
    m["spark.shuffle_read_mb"] = t["shuffle_read_mb"]

    # --- harness overhead: back-to-back DEFAULT encodes, wrappers on/off ----
    probes = rec.named("encode.overhead_probe")
    on = _med(dur(p) for p in probes if p["traced"])
    off = _med(dur(p) for p in probes if not p["traced"])
    m["trace.overhead_pct"] = 100.0 * (on - off) / off if off else 0.0

    units = dict(LAYER_METRICS)
    missing = set(units) - set(m)
    if missing:
        raise RuntimeError(f"layer metrics not computed: {sorted(missing)}")
    return {k: {"value": float(m[k]), "unit": units[k]} for k in units}
