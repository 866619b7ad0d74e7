"""The two workloads.  Each is a closed loop with one client: the next
operation starts when the previous one has returned, as for a CLI or
batch-API caller waiting on each answer.

``serve``   read-only.  Single ``bm25_wand_search`` requests that pair a
            Zipf head term with topical terms, or use head terms only, and
            ``bm25_wand_search_many`` requests of 16 queries, against an
            index built in set-up.
``update``  the write path with reads beside it.  One cycle builds a fresh
            index with ``build_index``, commits one stream batch through
            ``streaming.incremental`` and ``finalize_index`` (new URLs take
            the append path, re-sent URLs with a newer ``warc_ts`` the shard
            rewrite path), then queries the index it left.

Every layer is timed from outside, by calls into its public functions.
"""

from __future__ import annotations

import concurrent.futures
import contextlib
import functools
import os
import json
import random
import shutil
import statistics
import sys
import time
import traceback

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from document_retrieval_system_spark.operators.index_build import (
    IndexPaths,
    IndexReader,
    add_doc_identity,
    build_index,
    finalize_index,
)
from document_retrieval_system_spark.operators.search import bm25_search
from document_retrieval_system_spark.operators.wand import (
    bm25_wand_search,
    bm25_wand_search_many,
)
from document_retrieval_system_spark.streaming.incremental import _append_batch

from perfbench import checks
from perfbench.inputs import pages_frame, query_pool, read_pages, write_pages
from perfbench.trace import tree_cpu_s

N_SHARDS = 4
K = 20
# the corpora are fixed, so an index built from one is cached across runs;
# the workload seed picks the queries, their order and the stream batch
CORPUS_SEED = 1
LANG = "en"
BATCH = 16
# serve cycles before the loop: the JVM compiles the query path over the
# first three, and each of them costs up to twice the CPU of a later one
SERVE_WARM_CYCLES = 3


class Run:
    """State of one invocation: session, run directory, tracer, seed,
    and the count of operations attempted and failed."""

    def __init__(self, spark, work: str, cache: str, seed: int, tracer,
                 small: bool):
        self.spark = spark
        self.work = work
        self.cache = cache
        self.seed = seed
        self.tracer = tracer
        self.small = small  # tiny inputs, for the self-test smoke runs
        self.attempted = 0
        self.failed = 0
        self.cycles: list[tuple[float, float]] = []  # (wall s, CPU s) each
        self.report: dict[str, tuple[float, str]] = {}

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def cached(self, name: str, make) -> str:
        """Directory ``name`` of the cache, made by ``make(dir)`` on first
        use and read-only after that."""
        path = os.path.join(self.cache, name)
        if not os.path.isdir(path):
            tmp = f"{path}.tmp-{os.getpid()}"
            shutil.rmtree(tmp, ignore_errors=True)
            make(tmp)
            os.rename(tmp, path)
        return path

    @contextlib.contextmanager
    def cycle(self):
        """Time one cycle of the measured loop, in wall and CPU seconds;
        yields its number."""
        t0, u0 = time.perf_counter(), tree_cpu_s()
        yield len(self.cycles)
        self.cycles.append((time.perf_counter() - t0, tree_cpu_s() - u0))

    def op(self, name: str, fn, request: str | None = None):
        """Run one operation under a span; returns (result, seconds).
        An operation that raises counts as failed and returns None."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name, request):
                out = fn()
        except Exception:
            self.failed += 1
            print(f"perfbench: {name} raised", file=sys.stderr)
            traceback.print_exc()
            out = None
        return out, time.perf_counter() - t0

    def check(self, name: str, fn) -> None:
        """A correctness check counts as an operation: it fails when it
        raises or reports a mismatch."""
        self.check_all([(name, fn)])

    def check_all(self, named_checks) -> None:
        """Run independent checks in parallel threads: each one mostly waits
        on its own small Spark jobs."""
        with concurrent.futures.ThreadPoolExecutor(len(named_checks)) as pool:
            futures = [(name, pool.submit(fn)) for name, fn in named_checks]
        for name, fut in futures:
            self.attempted += 1
            try:
                problems = fut.result()
            except Exception:
                print(f"perfbench: {name} raised", file=sys.stderr)
                traceback.print_exc()
                problems = ["raised"]
            if problems:
                self.failed += 1
                for p in problems:
                    print(f"perfbench: {name}: {p}", file=sys.stderr)

    def metric(self, name: str, value: float, unit: str) -> None:
        self.report[name] = (value, unit)


def _wand(reader, q):
    return lambda: bm25_wand_search(reader, q, LANG, K, 0.0).collect()


def exhaustive_many(reader, queries: list[str]) -> dict[str, list]:
    """``bm25_search`` top-k of each query, collected in one action."""
    parts = [bm25_search(reader, q, LANG, K, 0.0).withColumn("_q", F.lit(i))
             for i, q in enumerate(queries)]
    out: dict[str, list] = {q: [] for q in queries}
    for r in functools.reduce(DataFrame.unionByName, parts).collect():
        out[queries[r["_q"]]].append(r)
    return out


class Serve:
    n_pages = 4000
    pool = (1, 1)  # distinct queries: topical, head

    def __init__(self, run: Run):
        self.run = run

    def setup(self) -> None:
        run, spark = self.run, self.run.spark
        self.n_pages = self.n_pages // 16 if run.small else self.n_pages
        self.corpus = corpus(run, self.n_pages)
        self.idx = corpus_index(run, self.corpus, self.n_pages)
        self.reader = IndexReader(spark, self.idx)
        self.queries = query_pool(run.seed, *self.pool)
        rng = random.Random(run.seed)
        self.batch = [rng.choice(self.queries) for _ in range(BATCH)]
        # warm-up, so plans, codegen and Python workers of both request
        # kinds exist and the JVM has compiled them before the loop
        for _ in range(1 if run.small else SERVE_WARM_CYCLES):
            for q in self.queries:
                _wand(self.reader, q)()
            bm25_wand_search_many(self.reader, self.batch, LANG, K, 0.0).collect()

    def measure(self, seconds: float) -> None:
        run = self.run
        rng = random.Random(run.seed + 1)
        self.singles: dict[str, list] = {q: [] for q in self.queries}
        self.batches: list = []
        lat, batch_lat = [], []
        t0 = time.perf_counter()
        while not run.cycles or time.perf_counter() - t0 < seconds:
            with run.cycle() as c:
                for i, q in enumerate(rng.sample(self.queries, len(self.queries))):
                    rows, dt = run.op("serve.query", _wand(self.reader, q), f"c{c}q{i}")
                    lat.append(dt)
                    self.singles[q].append(rows)
                rows, dt = run.op("serve.batch16", lambda: bm25_wand_search_many(
                    self.reader, self.batch, LANG, K, 0.0).collect(), f"c{c}b")
                batch_lat.append(dt)
                self.batches.append(rows)
        run.metric("query_p50_ms", 1000.0 * statistics.median(lat), "ms")
        run.metric("batch16_qps", BATCH / statistics.median(batch_lat), "queries/s")

    def check(self) -> None:
        run = self.run
        want, _ = run.op("check.exhaustive", lambda: exhaustive_many(
            self.reader, self.queries))
        if want is None:
            return
        for q, outs in self.singles.items():
            for rows in outs:
                if rows is not None:
                    run.check("check.single", lambda rows=rows, q=q: checks.same_topk(
                        rows, want[q], f"single {q!r}"))
        for rows in self.batches:
            if rows is not None:
                parts = checks.split_batch(rows, BATCH)
                run.check("check.batch", lambda parts=parts: [
                    p for i, part in enumerate(parts) for p in checks.same_topk(
                        part, want[self.batch[i]], f"batch qid {i}")])

    def layer_inputs(self):
        """(corpus dir, pages in it, index dir, queries, batch) for the
        traced run's layer probes."""
        return self.corpus, self.n_pages, self.idx, self.queries, self.batch


class Update:
    n_base = 500
    n_insert = 60
    n_resend = 30

    def __init__(self, run: Run):
        self.run = run
        self.idx = run.path("update_index")
        self.paths = IndexPaths(self.idx)

    def setup(self) -> None:
        run, spark = self.run, self.run.spark
        scale = 8 if run.small else 1
        self.n_base, n_ins, n_res = (self.n_base // scale, self.n_insert // scale,
                                     self.n_resend // scale)
        self.corpus = corpus(run, self.n_base)
        self.base = os.path.join(self.corpus, "pages")
        # re-sent URLs all fall in one shard, so the other shards keep the
        # pure-append path and only that one is rewritten
        rng = random.Random(run.seed)
        in_shard = ids_in_shard(self.corpus, rng.randrange(N_SHARDS))
        insert = pages_frame(range(self.n_base, self.n_base + n_ins), run.seed)
        resend = pages_frame(sorted(rng.sample(in_shard, n_res)), run.seed, version=1)
        write_pages(spark, pd.concat([insert, resend]), run.path("batch"))
        self.expected_ts = {}
        for pdf in (pages_frame(range(self.n_base), CORPUS_SEED), insert, resend):
            self.expected_ts.update(
                (u, ts.to_pydatetime()) for u, ts in zip(pdf["url"], pdf["warc_ts"]))
        self.queries = query_pool(run.seed, 1, 1)
        # warm-up on the cached index of the same corpus, so the fresh
        # queries of the cycle do not pay the query path's first use
        warm = IndexReader(spark, corpus_index(run, self.corpus, self.n_base))
        for q in self.queries:
            _wand(warm, q)()

    def _query(self, q: str, request: str):
        rows, dt = self.run.op("update.query", _wand(IndexReader(self.run.spark, self.idx), q),
                               request)
        self.lat.append(dt)
        return rows

    def measure(self, seconds: float) -> None:
        run, spark = self.run, self.run.spark
        self.lat: list[float] = []
        self.fresh: list = []
        builds, ingests = [], []

        def commit():
            _append_batch(spark, read_pages(spark, run.path("batch")), 1, self.paths,
                          N_SHARDS)
            finalize_index(spark, self.paths)

        t0 = time.perf_counter()
        while not run.cycles or time.perf_counter() - t0 < seconds:
            with run.cycle() as n:
                c = f"c{n}"
                builds.append(run.op("build_index", lambda: build_index(
                    spark, read_pages(spark, self.base), self.idx,
                    n_shards=N_SHARDS), c)[1])
                ingests.append(run.op("update.batch", commit, c)[1])
                # the first query after a batch plans against new files;
                # three samples keep the median off that one
                qt, qh = self.queries
                self.fresh += [(q, self._query(q, c)) for q in (qt, qh, qt)]
        run.metric("build_docs_per_s", self.n_base / statistics.median(builds), "docs/s")
        run.metric("index_bytes_per_doc", dir_bytes(self.idx) / len(self.expected_ts), "B")
        run.metric("ingest_batch_p50_s", statistics.median(ingests), "s")
        run.metric("fresh_query_p50_ms", 1000.0 * statistics.median(self.lat), "ms")

    def check(self) -> None:
        spark = self.run.spark
        reader = IndexReader(spark, self.idx)

        def wand_vs_exhaustive():
            want = exhaustive_many(reader, self.queries)
            return [p for q, rows in self.fresh if rows is not None
                    for p in checks.same_topk(rows, want[q], f"fresh query {q!r}")]

        # fsck runs in the traced run, after compaction: before it, block 0
        # of each appended segment carries that segment's own df_local,
        # which fsck_index reports as a violation
        self.run.check_all([
            ("check.newest_version", lambda: checks.newest_version_per_url(
                spark.read.parquet(self.paths.docs).select("url", "warc_ts").collect(),
                self.expected_ts)),
            ("check.wand_vs_exhaustive", wand_vs_exhaustive),
        ])

    def layer_inputs(self):
        return (self.corpus, self.n_base, self.idx, list(self.queries),
                [self.queries[i % 2] for i in range(BATCH)])


WORKLOADS = {"serve": Serve, "update": Update}


def corpus(run: Run, n_pages: int) -> str:
    """The cached corpus of ``n_pages`` pages: ``pages`` parquet and
    ``shards.json``, the shard the index puts each page id in."""
    def make(d):
        spark = run.spark
        os.makedirs(d)
        write_pages(spark, pages_frame(range(n_pages), CORPUS_SEED),
                    os.path.join(d, "pages"))
        shard = [0] * n_pages
        for r in add_doc_identity(read_pages(spark, os.path.join(d, "pages")),
                                  N_SHARDS).select("url", "shard").collect():
            shard[page_id(r["url"])] = r["shard"]
        with open(os.path.join(d, "shards.json"), "w") as f:
            json.dump(shard, f)

    return run.cached(f"pages-{n_pages}", make)


def corpus_index(run: Run, corpus_dir: str, n_pages: int) -> str:
    """The cached index of a cached corpus."""
    return run.cached(f"index-{n_pages}", lambda d: build_index(
        run.spark, read_pages(run.spark, os.path.join(corpus_dir, "pages")), d,
        n_shards=N_SHARDS))


def page_id(url: str) -> int:
    """The generator's page number, which ends every URL."""
    return int(url.rsplit("/", 1)[1])


def ids_in_shard(corpus_dir: str, shard: int) -> list[int]:
    with open(os.path.join(corpus_dir, "shards.json")) as f:
        return [i for i, s in enumerate(json.load(f)) if s == shard]


def dir_bytes(path: str) -> int:
    """On-disk bytes of an index directory, without the local file
    system's .crc side files."""
    total = 0
    for base, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f))
                     for f in files if not f.endswith(".crc"))
    return total
