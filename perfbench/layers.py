"""Per-layer probes of the traced run.

After the workload loop, every traced run probes every layer on that
workload's own inputs, so each workload reports the same per-layer metrics.
Each probe calls a layer's public functions directly and times it from
outside:

- in process, without Spark: ``extract_html``, ``process_text`` and
  ``vb_decode``;
- a whole ``build_index`` of the first ``PROBE_PAGES`` pages of the
  workload's corpus, and the build split into its stages (``tokenize_docs``, ``assign_local_no``, ``build_postings``,
  the two table writes, ``finalize_index``), each run to a noop sink on a
  frame the probe materialized;
- a WAND query split into ``IndexReader.corpus()``, the term-stats lookup,
  the term-filtered block scan and ``_shard_kernel`` called directly;
- an insert-only and an update-only ``_append_batch``, then
  ``compact_shards``, on the index that probe built.
"""

from __future__ import annotations

import math
import os
import random
import statistics
import time

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from document_retrieval_system_spark.functions.analyzer import process_text
from document_retrieval_system_spark.operators.analyze import doc_term_rows
from document_retrieval_system_spark.operators.codec import vb_decode
from document_retrieval_system_spark.operators.fsck import fsck_index
from document_retrieval_system_spark.operators.index_build import (
    DOC_TABLE_COLS,
    IndexPaths,
    IndexReader,
    add_doc_identity,
    assign_local_no,
    build_index,
    build_postings,
    finalize_index,
    tokenize_docs,
)
from document_retrieval_system_spark.operators.wand import (
    _shard_kernel,
    bm25_wand_search,
    bm25_wand_search_many,
)
from document_retrieval_system_spark.sources.html_extract import extract_html
from document_retrieval_system_spark.streaming.incremental import (
    _append_batch,
    compact_shards,
)

from perfbench import checks
from perfbench.inputs import pages_frame, read_pages, write_pages
from perfbench.trace import run_and_walk_plan, self_times
from perfbench.workloads import (
    K, LANG, N_SHARDS, corpus, exhaustive_many, ids_in_shard)

SAMPLE_PAGES = 100
# the build and incremental probes run on at most this many pages, which
# keeps a traced serve run well inside the benchmark's time limit
PROBE_PAGES = 1000
PROBE_INSERT = 60
PROBE_RESEND = 30
BLOCK_COLS = ["shard", "term", "first_doc", "last_doc", "max_tf", "min_dl",
              "doc_bytes", "tf_bytes", "dl_bytes"]


def probe_layers(run, wl, workload: str, gc_ms: int, peak_mb: float) -> dict:
    corpus_dir, n_pages, idx, queries, batch = wl.layer_inputs()
    pages_path = os.path.join(corpus_dir, "pages")
    n_probe = min(n_pages, PROBE_PAGES)
    probe_dir = corpus(run, n_probe)
    m: dict[str, tuple[float, str]] = {}
    tr = run.tracer
    with tr.span("probe"):
        m.update(_in_process(pages_path, idx))
        m.update(_build(run, os.path.join(probe_dir, "pages"), idx))
        m.update(_wand(run, idx, queries, batch))
        m.update(_incremental(run, probe_dir, run.path("probe_build"), n_probe,
                              queries))
    m["spark.tasks_failed"] = (sum(s["failed_tasks"] for s in tr.spans), "count")
    m["spark.driver_gc_ms"] = (gc_ms, "ms")
    m["session.peak_rss_mb"] = (peak_mb, "MB")
    # the loop's root span against the operations directly under it
    root = tr.named(workload)[-1]
    ops = sum(s["end"] - s["start"] for s in tr.spans if s["parent"] == root["id"])
    dur = root["end"] - root["start"]
    m["trace.unattributed_share"] = ((dur - ops) / dur, "ratio")
    own = self_times(tr.spans)
    m["trace.overhead_frac"] = (tr.own_s / (sum(own.values()) or 1.0), "ratio")
    return m


def _in_process(pages_path: str, idx: str) -> dict:
    sample = pq.read_table(pages_path, columns=["url", "html", "lang"]).slice(
        0, SAMPLE_PAGES).to_pandas()
    t0 = time.perf_counter()
    texts = [extract_html(h, u)["content"] for h, u in zip(sample["html"], sample["url"])]
    extract_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    n_tokens = sum(len(process_text(t, lang)) for t, lang in zip(texts, sample["lang"]))
    analyze_s = time.perf_counter() - t0
    blocks = pq.read_table(IndexPaths(idx).postings,
                           columns=["doc_bytes", "tf_bytes", "dl_bytes"])
    bufs = [b for col in blocks.columns for b in col.to_pylist()]
    t0 = time.perf_counter()
    n_vals = sum(vb_decode(b).size for b in bufs)
    decode_s = time.perf_counter() - t0
    return {
        "html_extract.pages_per_s": (len(sample) / extract_s, "pages/s"),
        "analyzer.tokens_per_s": (n_tokens / analyze_s, "tokens/s"),
        "codec.decode_mvals_per_s": (n_vals / decode_s / 1e6, "Mvals/s"),
    }


def _timed_span(tr, name: str, fn):
    t0 = time.perf_counter()
    with tr.span(name) as rec:
        out = fn()
        if isinstance(out, dict) and rec is not None:
            rec["plan"] = out
    return time.perf_counter() - t0, out


def _build(run, pages_path: str, idx: str) -> dict:
    """A whole ``build_index`` of ``pages_path`` into ``probe_build``, and
    its stages each timed alone, all on code the workload has already run.
    Sizes and bytes per posting are those of the workload's index ``idx``."""
    spark, tr = run.spark, run.tracer
    pages = read_pages(spark, pages_path)
    build_s, _ = _timed_span(tr, "index_build.build_index", lambda: build_index(
        spark, pages, run.path("probe_build"), n_shards=N_SHARDS))
    build = tr.named("index_build.build_index")[-1]
    base = add_doc_identity(pages, N_SHARDS)
    fused_s, _ = _timed_span(tr, "analyze.tokenize_docs",
                             lambda: run_and_walk_plan(tokenize_docs(base)))
    tok = tokenize_docs(base).repartition(N_SHARDS, "shard").persist()
    tok.count()
    ordinal_s, ord_plan = _timed_span(tr, "index_build.assign_local_no",
                                      lambda: run_and_walk_plan(assign_local_no(tok)))
    docs = assign_local_no(tok).persist()
    docs.count()
    postings_s, post_plan = _timed_span(
        tr, "index_build.build_postings",
        lambda: run_and_walk_plan(build_postings(doc_term_rows(docs))))
    blocks = build_postings(doc_term_rows(docs)).persist()
    blocks.count()
    paths = IndexPaths(run.path("probe_stages"))

    def write():  # the two table writes of build_index, from materialized frames
        (docs.select(*DOC_TABLE_COLS).sortWithinPartitions("local_no")
         .write.partitionBy("shard").mode("overwrite").parquet(paths.docs))
        (blocks.repartition(N_SHARDS, "shard").sortWithinPartitions("term", "block_no")
         .write.partitionBy("shard").mode("overwrite").parquet(paths.postings))

    write_s, _ = _timed_span(tr, "index_build.write", write)
    finalize_s, _ = _timed_span(tr, "index_build.finalize_index",
                                lambda: finalize_index(spark, paths))
    for df in (tok, docs, blocks):
        df.unpersist()
    shuffle = sum(v for plan in (ord_plan, post_plan) for k, v in plan.items()
                  if k.endswith(".shuffleBytesWritten"))
    stages = fused_s + ordinal_s + postings_s + write_s + finalize_s
    # postings and payload bytes of the index as the workload left it
    tab = IndexReader(spark, idx).postings().agg(
        F.sum("n").alias("postings"), F.count("*").alias("blocks"),
        (F.sum(F.length("doc_bytes")) + F.sum(F.length("tf_bytes"))
         + F.sum(F.length("dl_bytes"))).alias("core"),
        F.sum(F.length("pos_bytes")).alias("pos")).collect()[0]
    return {
        "analyze.fused_udf_s": (fused_s, "s"),
        "index_build.build_s": (build_s, "s"),
        "index_build.ordinal_s": (ordinal_s, "s"),
        "index_build.postings_s": (postings_s, "s"),
        "index_build.write_s": (write_s, "s"),
        "index_build.finalize_s": (finalize_s, "s"),
        "index_build.unattributed_s": (build_s - stages, "s"),
        "index_build.term_rows": (tab["postings"], "count"),
        "index_build.blocks": (tab["blocks"], "count"),
        "index_build.shuffle_bytes": (shuffle, "B"),
        "index_build.spark_jobs": (build["jobs"], "count"),
        "index_build.spark_tasks": (build["tasks"], "count"),
        "codec.core_bytes_per_posting": (tab["core"] / tab["postings"], "B"),
        "codec.pos_bytes_per_posting": (tab["pos"] / tab["postings"], "B"),
    }


def _weights(reader, terms: list[str], n: int):
    """BM25 idf per query term, accumulated per occurrence as the engine
    does, from the index's term stats."""
    dfs = {r["term"]: r["df"] for r in
           reader.term_stats().filter(F.col("term").isin(sorted(set(terms)))).collect()}
    w: dict[str, float] = {}
    for t in terms:
        if dfs.get(t, 0) > 0:
            w[t] = w.get(t, 0.0) + math.log((n - dfs[t] + 0.5) / (dfs[t] + 0.5) + 1)
    return w


def _wand(run, idx: str, queries: list[str], batch: list[str]) -> dict:
    spark, tr = run.spark, run.tracer
    reader = IndexReader(spark, idx)
    parts: dict[str, list[float]] = {k: [] for k in
                                     ("corpus", "stats", "scan", "kernel", "query")}
    jobs, total_blocks, decoded_blocks = [], 0, 0
    for q in queries:
        terms = process_text(q, LANG)
        t0 = time.perf_counter()
        corpus = reader.corpus()
        t1 = time.perf_counter()
        w = _weights(reader, terms, corpus["total_docs"])
        t2 = time.perf_counter()
        pdf = reader.postings().filter(F.col("term").isin(list(w))).select(
            *BLOCK_COLS).toPandas()
        t3 = time.perf_counter()
        for _shard, g in pdf.groupby("shard"):
            _shard_kernel(g, w, corpus["avg_doc_length"], K, 0.0)
        t4 = time.perf_counter()
        counters = {"total_blocks": spark.sparkContext.accumulator(0),
                    "decoded_blocks": spark.sparkContext.accumulator(0)}
        q_s, _ = _timed_span(tr, "wand.bm25_wand_search", lambda: bm25_wand_search(
            reader, q, LANG, K, 0.0, counters=counters).collect())
        jobs.append(tr.named("wand.bm25_wand_search")[-1]["jobs"])
        total_blocks += counters["total_blocks"].value
        decoded_blocks += counters["decoded_blocks"].value
        for k, v in zip(parts, (t1 - t0, t2 - t1, t3 - t2, t4 - t3, q_s)):
            parts[k].append(1000.0 * v)
    med = {k: statistics.median(v) for k, v in parts.items()}

    # the batch kernel: every query of the batch over each shard's blocks,
    # sharing decoded blocks across the batch, as bm25_wand_search_many does
    corpus = reader.corpus()
    wq = [w for w in (_weights(reader, process_text(q, LANG), corpus["total_docs"])
                      for q in batch) if w]
    pdf = reader.postings().filter(
        F.col("term").isin(sorted({t for w in wq for t in w}))).select(*BLOCK_COLS).toPandas()
    t0 = time.perf_counter()
    for _shard, g in pdf.groupby("shard"):
        raw_cache: dict = {}
        for w in wq:
            sub = g[g["term"].isin(w)]
            if len(sub):
                _shard_kernel(sub, w, corpus["avg_doc_length"], K, 0.0,
                              raw_cache=raw_cache)
    batch_kernel_ms = 1000.0 * (time.perf_counter() - t0)
    _timed_span(tr, "wand.bm25_wand_search_many", lambda: bm25_wand_search_many(
        reader, batch, LANG, K, 0.0).collect())
    return {
        "wand.corpus_ms": (med["corpus"], "ms"),
        "wand.stats_ms": (med["stats"], "ms"),
        "wand.scan_ms": (med["scan"], "ms"),
        "wand.kernel_ms": (med["kernel"], "ms"),
        "wand.query_ms": (med["query"], "ms"),
        "wand.unattributed_ms": (
            med["query"] - med["corpus"] - med["stats"] - med["scan"] - med["kernel"], "ms"),
        "wand.spark_jobs_per_query": (statistics.median(jobs), "count"),
        "wand.decoded_block_frac": (decoded_blocks / max(total_blocks, 1), "ratio"),
        "wand.blocks_per_query": (total_blocks / len(queries), "count"),
        "wand.batch_kernel_ms": (batch_kernel_ms, "ms"),
        "wand.batch_spark_jobs": (
            tr.named("wand.bm25_wand_search_many")[-1]["jobs"], "count"),
    }


def _blocks_per_term(spark, paths: IndexPaths) -> float:
    """Postings rows per (shard, term): 1.0 for a compacted small index,
    more when delta segments add their own blocks."""
    return spark.read.parquet(paths.postings).groupBy("shard", "term").count().agg(
        F.avg("count")).collect()[0][0]


def _incremental(run, corpus_dir: str, idx: str, n_pages: int,
                 queries: list[str]) -> dict:
    """Insert-only and update-only stream batches and a compaction on the
    index ``idx`` of the corpus in ``corpus_dir``, changed in place.  After
    compaction WAND must equal exhaustive search bit for bit, exhaustive
    search must give the top-k it gave before compaction, and
    ``fsck_index`` must be clean.  Compaction re-orders the postings, and
    with them the order in which a doc's term scores are summed, so a
    score may move by an ulp: before and after compare with
    ``checks.close_topk``."""
    spark, tr = run.spark, run.tracer
    paths = IndexPaths(idx)
    reader = IndexReader(spark, idx)
    rng = random.Random(run.seed + 2)
    # re-sends in one shard only: the other shards keep their appended
    # delta segments until compaction
    in_shard = ids_in_shard(corpus_dir, rng.randrange(N_SHARDS))
    resend = rng.sample(in_shard, min(PROBE_RESEND, len(in_shard) // 2))
    new_ids = range(10 * n_pages, 10 * n_pages + min(PROBE_INSERT, n_pages // 4))
    write_pages(spark, pages_frame(new_ids, run.seed), run.path("probe_insert"))
    write_pages(spark, pages_frame(sorted(resend), run.seed, version=2),
                run.path("probe_resend"))
    insert_s, _ = _timed_span(tr, "incremental.insert_batch", lambda: _append_batch(
        spark, read_pages(spark, run.path("probe_insert")), 101, paths, N_SHARDS))
    rewrite_s, _ = _timed_span(tr, "incremental.update_batch", lambda: _append_batch(
        spark, read_pages(spark, run.path("probe_resend")), 102, paths, N_SHARDS))
    jobs = [tr.named(n)[-1]["jobs"]
            for n in ("incremental.insert_batch", "incremental.update_batch")]
    finalize_index(spark, paths)
    pre = _blocks_per_term(spark, paths)
    before = exhaustive_many(reader, queries)
    compact_s, _ = _timed_span(tr, "incremental.compact_shards", lambda: (
        compact_shards(spark, paths), finalize_index(spark, paths)))
    post = _blocks_per_term(spark, paths)

    def after_compaction():
        after = exhaustive_many(reader, queries)
        return [p for q in queries for p in (
            checks.same_topk(bm25_wand_search(reader, q, LANG, K, 0.0).collect(),
                             after[q], f"{q!r} WAND vs exhaustive after compaction")
            + checks.close_topk(after[q], before[q],
                                f"{q!r} exhaustive after vs before compaction"))]

    run.check_all([
        ("check.compaction_identity", after_compaction),
        ("check.fsck", lambda: [
            f"fsck: {r['check']} shard {r['shard']} key {r['key']}"
            for r in fsck_index(spark, idx).collect()]),
    ])
    return {
        "incremental.insert_s": (insert_s, "s"),
        "incremental.rewrite_s": (rewrite_s, "s"),
        "incremental.spark_jobs_per_batch": (statistics.mean(jobs), "count"),
        "incremental.blocks_per_term_pre_compact": (pre, "count"),
        "incremental.blocks_per_term_post_compact": (post, "count"),
        "incremental.compact_s": (compact_s, "s"),
    }
