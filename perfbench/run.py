#!/usr/bin/env python3
"""The repository benchmark: ``ingest`` and ``serve`` on a seeded Zipfian crawl.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Run it from the repository root. Both workloads are closed loops with one
client in one process, on ``local[nproc]`` and the default
``IndexConfig``. The engine receives only the generated pages, documents
and queries (``gen.py``).

ingest  Set-up starts Spark and generates the crawl's pages. The timed
        loop builds a fresh index from them with ``build_index_from_pages``
        (extract, latest-per-url dedup, dense ids, tokenize, salted phases
        1/2 with PFor encode, sinks, corpus_stats) until ``--seconds`` have
        passed, at least once. The first build in a process also pays the
        JVM's and the Python workers' first-use cost, as a fresh batch job
        does.
serve   Set-up builds an index from the crawl's latest-per-url documents
        with ``build_index``, opens a ``SearchSession`` and warms the query
        path. The timed loop runs a fixed number of single queries, then
        1000-query batches until ``--seconds`` have passed (at least three).
        Every query falls in one 2^20-doc range.

End-to-end metrics (``--trace 0``), each defined on both workloads:

  setup_s                    Spark start, generation, any pre-built index
                             and warm-up, up to the timed loop.
  throughput_per_s           ingest: docs built per second (median build);
                             serve: queries per second in 1000-query batches.
  latency_p50_ms             ingest: median build wall;
                             serve: median single-query latency.
  cpu_s_per_kitem            CPU seconds of the driver, the JVM and the
                             Python workers per 1000 docs built (ingest) or
                             per 1000 batched queries (serve).
  index_bytes_per_text_byte  bytes under the built index root per byte of
                             extracted text.
  peak_rss_mb                highest sampled sum of the resident sets of the
                             driver, the JVM and the Python workers, up to
                             the end of the timed loop.

``--trace 1`` prints the per-layer metrics instead, from a run with
Spark's event log on (``evlog.py`` explains the attribution).

* ``ingest`` runs with the event log on from the start. After the timed
  loop it runs the re-crawl path on a small crawl: it builds the crawl's
  base pages as generation 0 and its re-crawl slice as generation 1
  (``prior_docmap``), merges the two with ``merge_indexes`` and reopens the
  merged root until the first query is answered.
* ``serve`` runs the timed loop untraced, stops Spark and its JVM, starts a
  fresh JVM with the event log on, reopens and warms the session and runs
  the timed loop again, so both passes run in a JVM of the same age. The
  per-layer metrics describe the traced pass, and
  ``trace.overhead_ms_per_op`` is its median single-query latency minus
  the untraced pass's. Ingest has no untraced pass to compare with (a
  second one would not fit in a run), so it prints 0 there.

Every run checks its outputs after the timed loop: sampled queries must be
rank-identical to the DuckDB BM25 oracle over the latest-per-url corpus,
and ``n_docs`` and sampled ``df`` values must match the generator's counts
(``checks.py``). The last line of standard output is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``; the lines before it
report the metrics under per-workload names, the host, the run's phase
times and, when traced, the per-function job breakdown. A traced ingest
run also checks the merged root against the oracle over the small
crawl's final latest-per-url state.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import checks
import evlog
import gen
import procs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

# A build on this engine carries ~30 s of fixed cost on a 4-core host, most
# of it the first build's in a process, and a loaded host runs up to twice
# as slowly. Both crawls sit where one run (Spark start, a cold build, the
# timed loop and the checks) stays near a minute, and a traced run, which
# holds a merge and two more builds, well inside three: the whole benchmark
# must fit one time budget.
N_DOCS = {"ingest": 2500, "serve": 2500}
# The small crawl of the traced re-crawl path. Its vocabulary follows
# Heaps' law like every crawl's; only the url count is small, so that one
# merge fits in a run.
N_SMALL = 40
BATCH = 1000
# In a fresh JVM the single-query path keeps getting faster over its first
# ten or so queries, so set-up runs that many before the timed singles.
N_WARM_SINGLES = 10
N_TIMED_SINGLES = 12
MIN_BATCHES = 3
K = 10
N_CHECK_QUERIES = 3
N_CHECK_TERMS = 24
DRIVER_MEM = "2g"


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _host() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {"nproc": len(os.sched_getaffinity(0)), "ram_gib": round(mem_kb / 2**20, 1)}


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(d, f))
            for f in files
            if not f.startswith((".", "_"))
        )
    return total


def _segments(root: str):
    import pyarrow.dataset as ds

    return ds.dataset(
        os.path.join(root, "segments"), format="parquet", partitioning="hive"
    ).to_table(columns=["first_doc", "n_docs", "doc_bytes", "tf_bytes"])


def _rate(fn, units: float, reps: int = 3) -> float:
    """Median units per second of ``fn()`` over ``reps`` calls."""
    walls = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t)
    return units / _median(walls)


@dataclass
class Pass:
    """One timed loop: per-operation latency, throughput and CPU samples."""

    lat: list[float] = field(default_factory=list)  # seconds
    rate: list[float] = field(default_factory=list)  # items per second
    cpu: list[float] = field(default_factory=list)  # CPU seconds per 1000 items


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.host = _host()
        self.spans = None
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.named: dict[str, float] = {}
        self.ops = 0
        self.errors = 0
        self.mismatches: list[str] = []
        self.checks = 0
        self.sess = None
        self.merged_sess = None
        self.url_of = None
        self.batch_rows = None

    # -- Spark --------------------------------------------------------------

    def start_spark(self, traced: bool) -> None:
        from oculus_crawl_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # A heap that starts at its maximum: when G1 grows it on its own,
            # the size it settles at varies run to run, and query latency
            # and peak RSS vary with it.
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM}",
        }
        if traced:
            os.makedirs(os.path.join(self.work, "eventlog"))
            conf.update(evlog.event_log_conf(os.path.join(self.work, "eventlog")))
        t = time.time()
        self.spark = get_spark(
            app_name="perfbench", master=f"local[{self.host['nproc']}]",
            extra_conf=conf,
        )
        self.span("session", t)
        self.layer["session.get_spark_s"] = time.time() - t

    def stop_spark(self) -> None:
        """Stop Spark, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        if getattr(self, "spark", None) is None:
            return
        gateway = SparkContext._gateway
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            gateway.shutdown()
            proc.stdin.close()  # the JVM exits on EOF on its stdin
            proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None

    def span(self, name: str, start: float) -> None:
        if self.spans is not None:
            self.spans.add(name, start, time.time())

    def op(self, span: str, fn, *args):
        """Run one timed operation; return (wall seconds, result or None)."""
        self.ops += 1
        t = time.time()
        out = None
        try:
            out = fn(*args)
        except Exception:
            traceback.print_exc()
            self.errors += 1
        self.span(span, t)
        return time.time() - t, out

    # -- workloads ------------------------------------------------------------

    def generate(self, n_queries: int) -> None:
        self.crawl = gen.generate(self.args.seed, N_DOCS[self.args.workload], n_queries)
        self.text_bytes = sum(len(t.encode()) for t in self.crawl.base_text.values())
        self.input = os.path.join(self.work, "input")

    def recrawl(self) -> None:
        """The re-crawl path on a small crawl (traced ingest runs only):
        build its base pages as generation 0, its re-crawl slice as
        generation 1 with ``prior_docmap``, merge the two, reopen."""
        from oculus_crawl_spark.operators.build import build_index_from_pages

        self.small = gen.generate([self.args.seed, 1], N_SMALL, N_CHECK_QUERIES)
        gens = []
        for epoch, pages in enumerate((self.small.base, self.small.recrawl)):
            path = os.path.join(self.work, f"small_input{epoch}")
            gen.write_pages(pages, path, 2 * self.host["nproc"])
            root = os.path.join(self.work, f"small{epoch}")
            prior = os.path.join(gens[-1], "docmap") if gens else None
            t = time.time()
            build_index_from_pages(self.spark.read.parquet(path), root, epoch=epoch,
                                   prior_docmap=prior)
            self.span(f"recrawl.build{epoch}", t)
            gens.append(root)
        self.small_root, self.recrawl_root = gens
        self.merge_reopen()

    def merge_reopen(self) -> None:
        """Merge generation 1 into generation 0, reopen the merged root and
        answer one query."""
        import pyarrow.dataset as ds

        from oculus_crawl_spark.operators.merge import merge_indexes
        from oculus_crawl_spark.operators.query import SearchSession

        self.merged_root = os.path.join(self.work, "merged")
        t = time.time()
        merge_indexes(self.spark, [self.small_root, self.recrawl_root], self.merged_root)
        self.span("operators.merge", t)
        wall = time.time() - t
        t = time.time()
        self.merged_sess = SearchSession(self.spark, self.merged_root)
        self.merged_sess.search(self.small.queries[:1], k=K).collect()
        self.span("merge.reopen", t)

        # One merge group per (term, range) of the inputs.
        groups = set()
        for root in (self.small_root, self.recrawl_root):
            seg = ds.dataset(os.path.join(root, "segments"), format="parquet",
                             partitioning="hive").to_table(columns=["term", "range_bucket"])
            groups.update(zip(seg.column("term").to_pylist(),
                              seg.column("range_bucket").to_pylist()))
        tomb = ds.dataset(os.path.join(self.merged_root, "tombstones"),
                          format="parquet", partitioning="hive")
        self.layer.update({
            "merge.wall_s": wall,
            "merge.groups": len(groups),
            "merge.ms_per_group": 1000.0 * wall / max(1, len(groups)),
            "merge.tombstones": tomb.count_rows(),
        })

    def ingest_setup(self) -> None:
        self.generate(N_CHECK_QUERIES)
        gen.write_pages(self.crawl.base, self.input, 2 * self.host["nproc"])

    def ingest_loop(self) -> Pass:
        from oculus_crawl_spark.operators.build import build_index_from_pages

        n = N_DOCS["ingest"]
        pages = self.spark.read.parquet(self.input)
        p = Pass()
        t_end = time.time() + self.args.seconds
        while not p.lat or time.time() < t_end:
            root = os.path.join(self.work, f"idx{self.ops}")
            c = self.probe.cpu_s()
            wall, _ = self.op("operators.build", build_index_from_pages, pages, root)
            if os.path.exists(os.path.join(root, "corpus_stats")):
                self.root = root
            p.lat.append(wall)
            p.rate.append(n / wall)
            p.cpu.append((self.probe.cpu_s() - c) / (n / 1000.0))
        return p

    def serve_setup(self) -> None:
        from oculus_crawl_spark.operators.build import build_index

        self.generate(BATCH + N_WARM_SINGLES + N_TIMED_SINGLES)
        self.url_of = gen.write_documents(
            self.crawl.base_text, self.input, 2 * self.host["nproc"])
        self.root = os.path.join(self.work, "idx")
        build_index(self.spark.read.parquet(self.input), self.root)
        self.serve_open()

    def serve_open(self) -> None:
        """Open the session and warm the query path (set-up, not timed)."""
        from oculus_crawl_spark.operators.query import SearchSession

        t = time.time()
        self.sess = SearchSession(self.spark, self.root)
        self.span("operators.query.open", t)
        self.layer["query.open_s"] = time.time() - t
        self.sess.search(self.crawl.queries[:BATCH], k=K).collect()
        for q in self.crawl.queries[BATCH : BATCH + N_WARM_SINGLES]:
            self.sess.search([q], k=K).collect()

    def serve_loop(self) -> Pass:
        batch = self.crawl.queries[:BATCH]
        singles = self.crawl.queries[BATCH + N_WARM_SINGLES :]

        def one(q):
            return self.sess.search([q], k=K).collect()

        def many():
            return self.sess.search(batch, k=K).collect()

        p = Pass()
        t_end = time.time() + self.args.seconds
        for i in range(N_TIMED_SINGLES):
            p.lat.append(self.op("operators.query.single", one, singles[i])[0])
        while len(p.rate) < MIN_BATCHES or time.time() < t_end:
            c = self.probe.cpu_s()
            wall, rows = self.op("operators.query.batch", many)
            self.batch_rows = rows or self.batch_rows
            p.rate.append(BATCH / wall)
            p.cpu.append(self.probe.cpu_s() - c)
        return p

    # -- checks (outside the timed loop) -----------------------------------

    def check(self) -> None:
        from oculus_crawl_spark.operators.query import SearchSession

        c = self.crawl
        sess = self.sess or SearchSession(self.spark, self.root)
        try:
            self.check_index(sess, self.root, self.url_of, c.base_text, c.queries[:BATCH],
                             c.vocab, c.base_df, self.batch_rows)
        finally:
            if sess is not self.sess:
                sess.invalidate()
        if self.merged_sess is not None:
            # The merged root: its doc ids resolve through generation 1's
            # docmap, which carries every url forward.
            s = self.small
            self.check_index(self.merged_sess, self.merged_root, None, s.final_text,
                             s.queries, s.vocab, s.final_df, None,
                             docmap_root=self.recrawl_root, df_gone=s.base_df)

    def check_index(self, sess, root, url_of, texts, queries, vocab, df, batch_rows,
                    docmap_root=None, df_gone=None) -> None:
        """Check sampled queries against the oracle over ``texts``, and
        ``n_docs`` and sampled ``df`` against the generator's counts.
        ``df_gone`` adds terms that ``df`` no longer has (count 0)."""
        from oculus_crawl_spark.sources.tables import read_engine_table
        from pyspark.sql import functions as F

        spark = self.spark
        url_of = url_of or {
            r["doc_id"]: r["url"]
            for r in read_engine_table(spark, f"{docmap_root or root}/docmap").collect()
        }
        oracle = checks.Oracle(texts)
        try:
            for i in self.rng_picks(len(queries), N_CHECK_QUERIES):
                q = queries[i]
                self.checks += 1
                rows = sess.search([q], k=K).collect()
                got = [(url_of.get(r["doc_id"], "?"), r["score"]) for r in rows]
                self.mismatches += checks.rank_mismatch(q, got, oracle.topk(q, K), K)
                if batch_rows is not None:
                    self.checks += 1
                    in_batch = sorted((r["rank"], r["doc_id"]) for r in batch_rows
                                      if r["query_id"] == i)
                    if in_batch != sorted((r["rank"], r["doc_id"]) for r in rows):
                        self.mismatches.append(f"{q!r}: batch result != single result")
        finally:
            oracle.close()

        self.checks += 1
        stats = read_engine_table(spark, f"{root}/corpus_stats").collect()[0]
        terms = self.sample_terms(vocab, df, df_gone)
        rows = (
            read_engine_table(spark, f"{root}/dictionary")
            .filter(F.col("term").isin(list(terms)))
            .select("term", "df")
            .collect()
        )
        self.mismatches += checks.count_mismatches(
            int(stats["n_docs"]), len(texts),
            {r["term"]: int(r["df"]) for r in rows}, terms,
        )

    def rng_picks(self, n: int, k: int) -> list[int]:
        import numpy as np

        rng = np.random.default_rng([self.args.seed, 7])
        return sorted(rng.choice(n, min(k, n), replace=False).tolist())

    def sample_terms(self, vocab, df, df_gone=None) -> dict[str, int]:
        """Most frequent terms plus a seeded sample of the rest, with df.

        With ``df_gone``, terms that had a df there and have none in ``df``
        (a re-crawl dropped them) are sampled too."""
        seen = [i for i in range(len(vocab)) if df[i] > 0]
        picks = seen[:4] + [seen[i] for i in self.rng_picks(len(seen), N_CHECK_TERMS - 4)]
        if df_gone is not None:
            gone = [i for i in range(len(vocab)) if df[i] == 0 and df_gone[i] > 0]
            picks += [gone[i] for i in self.rng_picks(len(gone), N_CHECK_TERMS // 4)]
        return {str(vocab[i]): int(df[i]) for i in picks}

    # -- per-layer (trace) --------------------------------------------------

    def layer_probes(self) -> None:
        """In-process timings of the function layers, and index counts."""
        import numpy as np
        import pandas as pd

        from oculus_crawl_spark.config import DEFAULT
        from oculus_crawl_spark.functions import codec
        from oculus_crawl_spark.functions.analysis import extract_text_udf
        from oculus_crawl_spark.operators.build import derive_n_salts

        html = pd.Series(self.crawl.base.html[:1000], dtype=object)
        mb = sum(len(h) for h in html) / 2**20
        self.layer["analysis.extract_mb_per_s"] = _rate(
            lambda: extract_text_udf.func(html), mb)

        seg = _segments(self.root)
        n_docs = seg.column("n_docs").to_numpy().astype(np.int64)
        first = seg.column("first_doc").to_numpy().astype(np.uint64)
        doc_b = seg.column("doc_bytes").to_pylist()
        tf_b = seg.column("tf_bytes").to_pylist()
        postings = int(n_docs.sum())
        self.layer["build.postings"] = postings
        self.layer["build.blocks"] = len(n_docs)
        self.layer["build.n_salts"] = derive_n_salts(len(self.crawl.base_text), DEFAULT)

        def decode():
            docs, lens = codec.decode_doc_ids_many(first, doc_b, n_docs)
            return docs, lens, codec.pfor_decode_many(tf_b)[0]

        docs, lens, tfs = decode()
        cuts = np.cumsum(lens)[:-1]
        d_blocks, t_blocks = np.split(docs, cuts), np.split(tfs, cuts)

        def encode():
            codec.encode_doc_gaps_many(d_blocks)
            codec.pfor_encode_many(t_blocks)

        self.layer["codec.decode_postings_per_s"] = _rate(decode, postings)
        self.layer["codec.encode_postings_per_s"] = _rate(encode, postings)

        if self.sess is not None:
            rows = self.sess.search(
                self.crawl.queries[:BATCH], k=K, with_metrics=True).collect()
            per_q = {r["query_id"]: r for r in rows}
            total = sum(r["blocks_total"] for r in per_q.values())
            dec = sum(r["blocks_decoded"] for r in per_q.values())
            self.layer["query.blocks_decoded_ratio"] = dec / total if total else 0.0

    def layers_from_log(self, traced: Pass) -> None:
        """Per-layer metrics of the traced pass from the event log."""
        jobs = evlog.read_jobs(os.path.join(self.work, "eventlog"))
        evlog.attribute(jobs, self.spans, evlog.FunctionIndex(
            os.path.join(ROOT, "oculus_crawl_spark")))
        total = sum(j.wall_ms for j in jobs) or 1
        self.layer["trace.unattributed_share"] = sum(
            j.wall_ms for j in jobs if j.layer == "unattributed") / total

        builds = self.spans.named("operators.build")
        if builds:
            b = evlog.jobs_in(jobs, builds)
            per = float(len(builds))
            self.layer.update({
                "build.wall_s": _median(traced.lat),
                "build.executor_run_s": sum(j.run_ms for j in b) / 1e3 / per,
                "build.executor_cpu_s": sum(j.cpu_ns for j in b) / 1e9 / per,
                "build.shuffle_read_bytes": sum(j.shuffle_read for j in b) / per,
                "build.shuffle_write_bytes": sum(j.shuffle_write for j in b) / per,
                "build.jobs": len(b) / per,
                "build.tasks": sum(j.tasks for j in b) / per,
                "tables.write_s": sum(j.write_ms for j in b) / 1e3 / per,
                "tables.bytes_written": sum(j.bytes_written for j in b) / per,
            })

        merges = self.spans.named("operators.merge")
        if merges:
            m = evlog.jobs_in(jobs, merges)
            self.layer.update({
                "merge.executor_run_s": sum(j.run_ms for j in m) / 1e3,
                "merge.shuffle_write_bytes": sum(j.shuffle_write for j in m),
            })

        drv, kern, hand = [], [], []
        for s in self.spans.named("operators.query.single"):
            k = [j for j in evlog.jobs_in(jobs, [s]) if j.layer == "operators.query"]
            if k:
                drv.append(k[0].start_ms - s.start_ms)
                kern.append(sum(j.wall_ms for j in k))
                hand.append(s.end_ms - k[-1].end_ms)
        bj = [j for j in evlog.jobs_in(jobs, self.spans.named("operators.query.batch"))
              if j.layer == "operators.query"]
        if drv:
            self.layer.update({
                "query.driver_ms": _median(drv),
                "query.kernel_job_ms": _median(kern),
                "query.handback_ms": _median(hand),
            })
        if bj:
            self.layer["query.kernel_tasks"] = _median([j.tasks for j in bj])
            self.layer["query.kernel_busy_share"] = sum(j.run_ms for j in bj) / (
                sum(j.wall_ms for j in bj) * self.host["nproc"])
        print("layers " + json.dumps(evlog.by_function(jobs), sort_keys=True))

    # -- run ------------------------------------------------------------------

    def run(self) -> dict:
        w = self.args.workload
        setup, loop = getattr(self, w + "_setup"), getattr(self, w + "_loop")
        self.host["calibration_ms_start"] = procs.calibration_ms()
        t0 = time.time()
        self.probe = procs.TreeProbe()
        phases = {}
        # A traced ingest run is one traced pass followed by the re-crawl
        # path; a traced serve run is an untraced pass, then a traced one in
        # a fresh JVM (see the module docstring).
        one_pass = bool(self.args.trace) and w == "ingest"
        if one_pass:
            self.spans = evlog.Spans()
        try:
            self.start_spark(traced=one_pass)
            setup()
            self.e2e["setup_s"] = phases["setup_s"] = time.time() - t0
            first = loop()
            phases["timed_s"] = time.time() - t0
            self.e2e.update(
                throughput_per_s=_median(first.rate),
                latency_p50_ms=1000.0 * _median(first.lat),
                cpu_s_per_kitem=_median(first.cpu),
                peak_rss_mb=self.probe.peak_rss_mb(),
                index_bytes_per_text_byte=_dir_bytes(self.root) / self.text_bytes,
            )
            self.named_metrics()
            print("samples " + json.dumps({"lat_s": first.lat, "rate": first.rate}))
            traced = first
            if one_pass:
                self.recrawl()
            elif self.args.trace:
                self.stop_spark()
                _forget_jvm_udfs()
                self.spans = evlog.Spans()
                self.start_spark(traced=True)
                self.serve_open()
                traced = loop()
                self.layer["trace.overhead_ms_per_op"] = 1000.0 * (
                    _median(traced.lat) - _median(first.lat))
            if self.args.trace:
                t = time.time()
                self.layer_probes()
                self.span("probes", t)
            t = time.time()
            self.check()
            self.span("checks", t)
            phases["checked_s"] = time.time() - t0
        finally:
            self.stop_spark()
            self.probe.close()
        phases["stopped_s"] = time.time() - t0
        self.host["calibration_ms_end"] = procs.calibration_ms()
        print("phases " + json.dumps(phases))
        if self.args.trace:
            self.layers_from_log(traced)
        return self.result()

    def named_metrics(self) -> None:
        """The end-to-end metrics under per-workload names (build_docs_per_s, ...)."""
        e = self.e2e
        if self.args.workload == "ingest":
            self.named.update(build_docs_per_s=e["throughput_per_s"],
                              build_cpu_s_per_kdoc=e["cpu_s_per_kitem"])
        else:
            self.named.update(query_p50_ms=e["latency_p50_ms"],
                              batch_qps=e["throughput_per_s"])

    def result(self) -> dict:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        attempted = self.ops + self.checks
        failed = self.errors + len(self.mismatches)
        for m in self.mismatches:
            print("MISMATCH " + m)
        self.named.update(
            setup_s=self.e2e["setup_s"],
            failed_ratio=failed / attempted,
            peak_rss_mb=self.e2e["peak_rss_mb"],
            index_bytes_per_text_byte=self.e2e["index_bytes_per_text_byte"],
        )
        print("host " + json.dumps(self.host))
        print("named_metrics " + json.dumps(self.named, sort_keys=True))
        if self.args.trace:
            print("end_to_end " + json.dumps(self.e2e, sort_keys=True))
        names = spec["per_layer"] if self.args.trace else spec["end_to_end"]
        values = self.layer if self.args.trace else self.e2e
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {
                m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                for m in names
            },
        }


def _forget_jvm_udfs() -> None:
    """Drop the JVM handles that the engine's module-level UDFs cached, so
    they bind to the next JVM this process starts (traced runs start two)."""
    for name, mod in list(sys.modules.items()):
        if name.startswith("oculus_crawl_spark"):
            for value in vars(mod).values():
                udf = getattr(value, "_unwrapped", None)
                if hasattr(udf, "_judf_placeholder"):
                    udf._judf_placeholder = None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(N_DOCS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # The engine must be importable before any work starts, so a tree
    # without it fails fast.
    import oculus_crawl_spark.operators.build  # noqa: F401

    # Everything the run writes stays under the checkout: scratch, the
    # Spark local dir, the JVM's temp dir and the generated inputs.
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    import tempfile

    tempfile.tempdir = tmp
    try:
        result = Bench(args, work).run()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
