"""One benchmark run: set-up, the timed closed loop, the correctness gates
and the metric report.

Both workloads run the same operations over their own seeded corpus:

- encode — ``encode_documents`` with the DEFAULT profile on the whole
  corpus, and with the ARCHIVE profile on a deterministic quarter;
- scan — a full decode of the served table (written untimed in set-up),
  reduced to a row count and a sum of per-row hashes that must equal
  the input's;
- serve — host lookups through the ``skar`` DataSource, and JSON
  queries over HTTP to ``server.serve`` (with cursor follow-ups);
- analytics — one pass of the workload's query mix from
  ``__spark_entry__.queries()`` over seeded side tables, each result
  collected and checked against its DuckDB oracle.

The first three interleave in a fixed round (``ROUND``), repeated until
``--seconds`` is spent (at least one round); the analytics pass runs
once after them. A traced run installs the span wrappers for its rounds,
repeats the DEFAULT encode with and without them (the difference is
``trace.overhead_pct``) and adds the heavy dedup/ANN queries, whose
oracles are too slow to run on every untraced run.
"""

from __future__ import annotations

import concurrent.futures
import dataclasses
import json
import shutil
import statistics
import time
import urllib.request
from pathlib import Path

from bench_layers import checks, hostfit, inputs
from bench_layers.spans import Recorder
from bench_layers.stats import percentile, samples_needed

MIN_ROUNDS = 1


@dataclasses.dataclass(frozen=True)
class Shape:
    analytics: tuple[str, ...]   # every run, in a seeded order
    heavy: tuple[str, ...]       # traced runs only


# One round, its steps in this order in every run, so an operation
# always follows the same ones. A "lookups" step is one heavy and three
# tail hosts, a "queries" step one query of each inputs.query_list kind.
ROUND = ("lookups", "queries", "scan", "lookups", "encode", "archive",
         "scan")
LOOKUPS_PER_STEP = 4
QUERIES_PER_STEP = 4
N_HEAVY = 10              # the most frequent hosts count as heavy


SHAPES = {
    # Zipf(1.2) hosts over ~1.5 KiB prose + html: FSST, the selector,
    # zstd framing and heavy-host salting with bin-packing are hot.
    "webtext_zipf": Shape(
        analytics=("token_count", "quality_score", "decontam", "line_dedup",
                   "seq_pack", "sample_stratified"),
        heavy=("minhash", "lsh_pairs", "ngram_jaccard", "dedup_near",
               "dedup_clusters")),
    # TPC-H lineitem lifted to the documents schema: near-uniform hosts
    # (no salting), a two-letter text column (dict, not FSST), numeric
    # evolved columns (bitpack/rle/for_delta/alp).
    "numeric_uniform": Shape(
        analytics=("tpch_q1", "tpch_q3", "window_topk", "sessionize",
                   "cosine_topk"),
        heavy=("ann_ivfpq", "embed_dedup")),
}

WEBTEXT_DOCS = 4_000
TPCH_SF = 0.005
# analytics side tables, at the scale of the repository's sf0.01 oracle
# tests or below: the DuckDB oracles of the pair-based dedup queries grow
# quadratically
CORPUS_DOCS = 200
EMBEDDINGS = 200
EVENTS = 10_000
EVENT_USERS = 150


def _now() -> float:
    return time.perf_counter()


class Bench:
    def __init__(self, workload: str, seed: int, run_dir: Path, host: dict,
                 trace: bool, t_process: float):
        self.workload = workload
        self.shape = SHAPES[workload]
        self.seed = seed
        self.run_dir = run_dir
        self.host = host
        self.cores = host["cores"]
        self.trace = trace
        self.t_process = t_process
        self.rec = Recorder()
        self.attempted = 0
        self.failed = 0
        self.wrong = 0
        self.failures: list[str] = []
        self.samples: dict[str, list[float]] = {}
        self.tel: dict = {"steal_pct": [], "loadavg": []}
        self.phases: dict[str, float] = {}
        self.last_lineage: dict[str, dict] = {}
        self.spark = None
        self.server = None

    # --- bookkeeping -------------------------------------------------------

    def _sample(self, key: str, v: float) -> None:
        self.samples.setdefault(key, []).append(v)

    def _op(self, name: str, fn, check=None):
        """Run one counted operation; returns (result, seconds), or
        (None, None) if it raised. `check(result)` False counts as a
        wrong result."""
        self.attempted += 1
        t0 = _now()
        try:
            res = fn()
        except Exception as e:  # counted and reported; the run goes on
            self.failed += 1
            self.failures.append(f"{name}: {type(e).__name__}: {e}"[:300])
            return None, None
        dt = _now() - t0
        if check is not None and not check(res):
            self.wrong += 1
            self.failures.append(f"{name}: wrong result")
        return res, dt

    def _phase(self, name: str, fn, *args):
        t = _now()
        out = fn(*args)
        self.phases[name] = round(_now() - t, 3)
        return out

    # --- set-up ------------------------------------------------------------

    def setup(self) -> None:
        """The inputs are generated in a side thread while the JVM starts.
        Then two chains run side by side. One writes the served table
        with an untimed DEFAULT encode, which also warms the encoder, and
        warms a scan, a lookup and a query of it; the other caches the
        input, takes its digest and writes the golden copy. First use
        (Python workers, code generation, the DataSource planner)
        dominates set-up."""
        t0 = _now()
        with concurrent.futures.ThreadPoolExecutor(1) as pool:
            local = pool.submit(self._local_inputs)
            from skar_spark.session import get_spark
            self.spark = get_spark(cpus=self.cores,
                                   app=f"bench_{self.workload}")
            self.spark.sparkContext.setLogLevel("ERROR")
            self.t_session = _now() - t0
            self.phases["session"] = round(self.t_session, 3)
            from skar_spark.sources import register
            register(self.spark)
            self.stat0 = hostfit.cpu_stat()
            table = self._phase("inputs", local.result)
        self.data_dir = str(self.run_dir / "data")
        self.served = str(self.run_dir / "served")
        self._load(table)
        with concurrent.futures.ThreadPoolExecutor(2) as pool:
            jobs = [pool.submit(self._warm_serving),
                    pool.submit(self._warm_ingest)]
            for j in jobs:
                j.result()
        from skar_spark.server import serve
        self.server = serve(self.spark, self.served)
        self.url = (f"http://127.0.0.1:{self.server.server_address[1]}"
                    "/query")
        self.setup_s = _now() - self.t_process

    def _cfg(self, n_rows: int, archive: bool = False):
        """One planned part per core."""
        from skar_spark.config import ARCHIVE, DEFAULT
        base = ARCHIVE if archive else DEFAULT
        per = max(500, -(-n_rows // self.cores))
        return dataclasses.replace(base, target_partition_rows=per,
                                   salt_threshold_rows=per)

    def _local_inputs(self):
        """The corpus as an Arrow table, and the analytics side tables
        written to the data dir; no Spark needed."""
        side: dict = {}
        if self.workload == "webtext_zipf":
            import numpy as np

            from skar_spark.synth import synth_batch
            docs = synth_batch(np.arange(WEBTEXT_DOCS, dtype=np.int64),
                               self.seed)
            side["documents"] = inputs.corpus_documents(CORPUS_DOCS,
                                                        self.seed)
        else:
            tp = inputs.tpch_tables(TPCH_SF)
            docs = inputs.lineitem_documents(tp["lineitem"], self.seed)
            side["lineitem"] = tp["lineitem"].drop(["l_shipmode"])
            side["orders"] = tp["orders"]
            side["customer"] = tp["customer"]
            side["events"] = inputs.events_table(EVENTS, EVENT_USERS,
                                                 self.seed)
            side["embeddings"] = inputs.embeddings_table(
                EMBEDDINGS, 64, 10, self.seed)
        inputs.write_tables(str(self.run_dir / "data"), side)
        return docs

    def _load(self, table) -> None:
        """The input as a cached DataFrame, and the keys the serving
        checks need, from the local copy."""
        from skar_spark.synth import DOCS_DDL
        schema = DOCS_DDL if self.workload == "webtext_zipf" else None
        self.docs = self.spark.createDataFrame(table, schema=schema) \
            .repartition(2 * self.cores).cache()
        self.cols = list(self.docs.columns)
        self.quarter = self.docs.filter(self._in_quarter()).cache()
        self.n_docs = table.num_rows
        self.keys = checks.with_host(
            table.select(["url", "lang", "warc_ts"]))
        self.host_counts = checks.host_counts(self.keys)
        self.langs = sorted(set(self.keys["lang"].to_pylist()))
        ts = self.keys["warc_ts"].cast("int64").to_numpy()
        self.ts_lo, self.ts_hi = int(ts.min()), int(ts.max()) + 1

    def _golden(self) -> None:
        """Bytes of the same rows as Spark parquet + zstd-9, hash
        partitioned by host into as many files as the engine writes parts
        and sorted (host, warc_ts, url) — the stored-size baseline. The
        whole corpus (g=0) and the ARCHIVE quarter (g=1) are written by
        one job."""
        from pyspark.sql import functions as F

        from skar_spark.engine.encode import with_host

        self.spark.sparkContext._jsc.hadoopConfiguration().set(
            "parquet.compression.codec.zstd.level", "9")
        d = self.run_dir / "golden"
        both = self.docs.withColumn("g", F.lit(0)).unionByName(
            self.quarter.withColumn("g", F.lit(1)))
        (with_host(both).repartition(self.cores, "g", "host")
         .sortWithinPartitions("g", "host", "warc_ts", "url").drop("host")
         .write.partitionBy("g").option("compression", "zstd")
         .parquet(str(d)))
        self.golden, self.golden_archive = (
            sum(f.stat().st_size for f in (d / f"g={g}").glob("*.parquet"))
            for g in (0, 1))
        shutil.rmtree(d, ignore_errors=True)

    def _in_quarter(self):
        from pyspark.sql import functions as F
        return F.pmod(F.xxhash64("url"), F.lit(4)) == 0

    def _expect(self) -> None:
        """One job materializes the input cache and takes the north-rule
        digest of the input."""
        from pyspark.sql import functions as F
        r = self.docs.select(self._row_hash().alias("h"),
                             self._in_quarter().cast("int").alias("q")) \
            .agg(F.count("*"), F.sum("h"), F.sum("q")).collect()[0]
        self.n_quarter = int(r[2])
        self.expect_digest = (int(r[0]), int(r[1]))

    def _warm_serving(self) -> None:
        lin = self._phase("served", self._encode, self.docs, self.served,
                          self.n_docs, False)
        self.served_part_bytes = lin["part_bytes"]
        self.served_parts = len(lin["part_bytes"])
        host = self.keys["host"][0].as_py()
        # the first query of a table also reads its lineage and infers
        # its schema
        query = {"selections": [{"hosts": [host]}],
                 "field_selection": ["url", "lang"]}
        from skar_spark.query import run_query
        with concurrent.futures.ThreadPoolExecutor(3) as pool:
            jobs = [pool.submit(self._phase, "warm_scan", self._scan),
                    pool.submit(self._phase, "warm_lookup", self._lookup,
                                host),
                    pool.submit(self._phase, "warm_query", run_query,
                                self.spark, self.served, query)]
            for j in jobs:
                j.result()

    def _warm_ingest(self) -> None:
        self._phase("expect", self._expect)
        self._phase("golden", self._golden)

    # --- operations --------------------------------------------------------

    def _encode(self, df, out: str, n_rows: int, archive: bool) -> dict:
        """Encode and sum the lineage rows (one metadata collect)."""
        from skar_spark.engine.encode import encode_documents
        lin = encode_documents(self.spark, df, out,
                               self._cfg(n_rows, archive), n_rows=n_rows)
        rows = lin.select("bytes_in", "bytes_out", "sort_sec", "encode_sec",
                          "meta_sec").collect()
        s = {k: sum(r[k] for r in rows) for k in
             ("bytes_in", "bytes_out", "sort_sec", "encode_sec", "meta_sec")}
        s["part_bytes"] = [r["bytes_out"] for r in rows]
        return s

    def _scan(self, table: str | None = None) -> tuple[int, int]:
        """Full decode of every column, reduced to the north-rule digest
        (row count, Σ per-row hash) — which the caller checks."""
        from skar_spark.engine.decode import scan
        return self._digest(scan(self.spark, table or self.served))

    def _lookup(self, host: str, table: str | None = None) -> int:
        from pyspark.sql import functions as F
        return (self.spark.read.format("skar").load(table or self.served)
                .filter(F.col("host") == host).count())

    def _post(self, query: dict) -> dict:
        req = urllib.request.Request(
            self.url, data=json.dumps(query).encode(),
            headers={"Content-Type": "application/json"})
        with urllib.request.urlopen(req, timeout=120) as r:
            return json.loads(r.read())

    def _query_with_cursor(self, query: dict) -> list[tuple]:
        """Send the query, then follow next_cursor. The first request is
        the query's latency sample; follow-up pages, whose number depends
        on the data, are recorded apart. Returns the (url, lang) rows,
        sorted."""
        rows, q = [], dict(query)
        key = "query_ms"
        while True:
            with self.rec.span("http") as sp:
                res = self._post(q)
            self._sample(key, (sp["end"] - sp["start"]) * 1e3)
            key = "query_page_ms"
            sp["rows"], sp["truncated"] = res["num_rows"], res["truncated"]
            rows.extend((r["url"], r["lang"]) for r in res["rows"])
            if res["next_cursor"] is None:
                return sorted(rows)
            q = dict(query, cursor=res["next_cursor"])

    # --- the timed loop ----------------------------------------------------

    def measure(self, seconds: float) -> None:
        # "heavy": the most frequent hosts of the input (on the Zipf corpus
        # these are the ones the encoder salts)
        heavy = sorted(self.host_counts,
                       key=lambda h: (-self.host_counts[h], h))[:N_HEAVY]
        hosts = inputs.host_sample(self.host_counts, heavy,
                                   LOOKUPS_PER_STEP * 64, self.seed,
                                   per_heavy=LOOKUPS_PER_STEP)
        queries = inputs.query_list(
            sorted(self.host_counts), self.langs, self.ts_lo, self.ts_hi,
            QUERIES_PER_STEP * 64, self.seed)
        self._prune_hosts = hosts[:8]
        hosts, queries = iter(hosts), iter(queries)
        rep_dir = str(self.run_dir / "rep")
        self.t_measure0 = time.time()
        t_start = _now()
        t_end = t_start + seconds
        r = 0
        if self.trace:
            self.rec.install()
        while r < MIN_ROUNDS or _now() < t_end:
            with self.rec.span("round", round=r):
                st = hostfit.cpu_stat()
                self._round(rep_dir, hosts, queries)
                self.tel["steal_pct"].append(
                    round(hostfit.steal_pct(st, hostfit.cpu_stat()), 3))
                self.tel["loadavg"].append(hostfit.loadavg())
            r += 1
        self.rounds = r
        self.phases["rounds"] = round(_now() - t_start, 3)
        if self.trace:
            # the harness's own overhead: back-to-back DEFAULT encodes
            # with the span wrappers removed and installed, in ABBA order
            # so a steady drift cancels
            for traced in (False, True, True, False):
                (self.rec.install if traced else self.rec.uninstall)()
                shutil.rmtree(rep_dir, ignore_errors=True)
                with self.rec.span("encode.overhead_probe", traced=traced):
                    self._encode(self.docs, rep_dir, self.n_docs, False)
            self.rec.uninstall()
            shutil.rmtree(rep_dir, ignore_errors=True)
            self._prune_local(self._prune_hosts)
        self._phase("analytics", self._analytics_pass)
        self.t_measure1 = time.time()

    def _round(self, rep_dir, hosts, queries) -> None:
        for step in ROUND:
            if step in ("encode", "archive"):
                self._encode_rep("default" if step == "encode"
                                 else "archive", rep_dir)
            elif step == "scan":
                self._timed_scan()
            elif step == "lookups":
                self._lookups([next(hosts) for _ in range(LOOKUPS_PER_STEP)])
            else:
                self._queries([next(queries)
                               for _ in range(QUERIES_PER_STEP)])

    def _encode_rep(self, profile: str, rep_dir: str) -> None:
        df, n, key = ((self.docs, self.n_docs, "encode_s")
                      if profile == "default" else
                      (self.quarter, self.n_quarter, "encode_archive_s"))
        shutil.rmtree(rep_dir, ignore_errors=True)
        with self.rec.span("encode.encode_documents", profile=profile) as sp:
            lin, dt = self._op(
                "encode_" + profile,
                lambda: self._encode(df, rep_dir, n, profile == "archive"))
        shutil.rmtree(rep_dir, ignore_errors=True)
        if dt is None:
            return
        self._sample(key, dt)
        sp["lineage"] = {k: v for k, v in lin.items() if k != "part_bytes"}
        self.last_lineage[profile] = lin

    def _timed_scan(self) -> None:
        with self.rec.span("scan"):
            _, dt = self._op("scan", self._scan,
                             lambda d: d == self.expect_digest)
        if dt is not None:
            self._sample("scan_s", dt)

    def _lookups(self, hosts: list[str]) -> None:
        for h in hosts:
            with self.rec.span("lookup"):
                _, dt = self._op("lookup", lambda h=h: self._lookup(h),
                                 lambda n, h=h: n == self.host_counts[h])
            if dt is not None:
                self._sample("lookup_ms", dt * 1e3)

    def _queries(self, queries: list[dict]) -> None:
        for q in queries:
            with self.rec.span("query"):
                self._op("query", lambda q=q: self._query_with_cursor(q),
                         lambda rows, q=q: rows ==
                         checks.expected_query_rows(self.keys, q))

    def _prune_local(self, hosts: list[str]) -> None:
        """In-process timing of the DataSource's pruner (which otherwise
        runs inside Spark's Python planning worker)."""
        from skar_spark.engine.decode import prune_partitions_local
        self.prune_local_s = []
        for h in hosts:
            t0 = _now()
            prune_partitions_local(self.served, host_eq=h)
            self.prune_local_s.append(_now() - t0)

    def _row_hash(self):
        from pyspark.sql import functions as F
        return F.xxhash64(*self.cols).cast("decimal(38,0)")

    def _digest(self, df) -> tuple[int, int]:
        """(row count, Σ xxhash64 over every input column): equal for the
        input and the decoded table iff they hold the same rows (url is
        unique, so this is per-url equality)."""
        from pyspark.sql import functions as F
        r = df.select(self._row_hash().alias("h")) \
            .agg(F.count("*"), F.sum("h")).collect()[0]
        return int(r[0]), int(r[1] or 0)

    def _analytics_pass(self) -> None:
        import numpy as np

        import __spark_entry__ as entry
        qs = entry.queries()
        order = list(self.shape.analytics)
        np.random.default_rng(self.seed ^ 0x3003).shuffle(order)
        if self.trace:
            order += list(self.shape.heavy)
        self.analytics_rows: dict[str, tuple] = {}
        total = 0.0
        for name in order:
            with self.rec.span("analytics." + name):
                def run(name=name):
                    df = qs[name](self.spark, self.data_dir)
                    return df.columns, df.collect()
                res, dt = self._op("analytics." + name, run)
            if dt is None:
                continue
            if name in self.shape.analytics:
                total += dt
            self._sample("analytics." + name, dt)
            self.analytics_rows[name] = res
        self.analytics_s = total

    # --- correctness gates (untimed) ----------------------------------------

    def verify(self) -> None:
        """The untimed gates: analytics results against DuckDB. (Every
        timed scan is already checked against the input's digest, every
        lookup against the input's host count and every query against
        the same filter over the input.)"""
        t = _now()
        self._check_analytics()
        self.phases["verify"] = round(_now() - t, 3)

    def _check_analytics(self) -> None:
        import duckdb
        import pyarrow.parquet as pq

        import __spark_entry__ as entry
        qs = entry.queries()

        def rows(t):
            p = Path(self.data_dir) / f"{t}.parquet"
            return pq.ParquetFile(p).metadata.num_rows if p.exists() else 0
        n_docs, n_vecs = rows("documents"), rows("embeddings")
        con = duckdb.connect()
        try:
            for p in sorted(Path(self.data_dir).glob("*.parquet")):
                con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM "
                            f"read_parquet('{p}')")
            for name, (cols, got) in sorted(self.analytics_rows.items()):
                res = con.execute(checks.oracle_sql(qs[name], name,
                                                    n_docs, n_vecs))
                ok = checks.matches_oracle(
                    cols, got, [d[0] for d in res.description],
                    res.fetchall())
                self.attempted += 1
                if not ok:
                    self.wrong += 1
                    self.failures.append(
                        f"analytics.{name}: differs from its DuckDB oracle")
        finally:
            con.close()

    # --- reports -------------------------------------------------------------

    def e2e_metrics(self) -> dict:
        """Call before close(): the worker figure reads live processes."""
        med = statistics.median
        s = self.samples
        d, a = self.last_lineage["default"], self.last_lineage["archive"]
        rss, self.python_workers = hostfit.python_worker_peak_rss_mb()
        m = {
            "setup_s": (self.setup_s, "s"),
            "encode_gbps": (med(d["bytes_in"] / x for x in s["encode_s"])
                            / 1e9, "GB/s"),
            "encode_archive_gbps": (med(a["bytes_in"] / x
                                        for x in s["encode_archive_s"])
                                    / 1e9, "GB/s"),
            "stored_vs_golden": (d["bytes_out"] / self.golden, "ratio"),
            "stored_vs_golden_archive": (a["bytes_out"]
                                         / self.golden_archive, "ratio"),
            "scan_mbps_core": (med(d["bytes_in"] / x for x in s["scan_s"])
                               / 1e6 / min(self.cores, self.served_parts),
                               "MB/s/core"),
            "lookup_p50_ms": (percentile(s["lookup_ms"], 50), "ms"),
            "lookup_p90_ms": (percentile(s["lookup_ms"], 90), "ms"),
            "query_p50_ms": (percentile(s["query_ms"], 50), "ms"),
            "query_p90_ms": (percentile(s["query_ms"], 90), "ms"),
            "analytics_s": (self.analytics_s, "s"),
            "worker_peak_rss_mb": (rss, "MB"),
        }
        return self.result({k: {"value": v, "unit": u}
                            for k, (v, u) in m.items()})

    def result(self, metrics: dict) -> dict:
        return {"correct": self.wrong == 0 and self.failed == 0,
                "attempted": self.attempted,
                "failed": self.failed + self.wrong,
                "metrics": metrics}

    def run_info(self) -> dict:
        return {"workload": self.workload, "seed": self.seed,
                "trace": self.trace, "host": self.host,
                "n_docs": getattr(self, "n_docs", None),
                "rounds": getattr(self, "rounds", None),
                "samples": {k: [round(x, 4) for x in v]
                            for k, v in self.samples.items()},
                # a p90 needs this many samples to leave ten beyond
                # it; one run here takes fewer
                "samples_for_p90": samples_needed(90),
                "python_workers": getattr(self, "python_workers", None),
                "steal_pct_run": round(hostfit.steal_pct(
                    self.stat0, hostfit.cpu_stat()), 3)
                if hasattr(self, "stat0") else None,
                "telemetry": self.tel, "phases": self.phases,
                "failures": self.failures[:20]}

    def close(self) -> None:
        """Stop the HTTP server and Spark (which flushes the event log),
        then end the JVM and wait for it and its Python workers."""
        if self.server is not None:
            self.server.shutdown()
            self.server.server_close()
            self.server = None
        if self.spark is None:
            return
        from pyspark import SparkContext
        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if proc is None:
            return
        gateway.shutdown()
        proc.stdin.close()      # the JVM exits when this pipe closes
        proc.wait(timeout=120)
        hostfit.wait_for_children(timeout=60)
