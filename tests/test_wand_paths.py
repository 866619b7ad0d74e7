"""The two WAND request paths.  On a local index whose query postings fit
``wand.DRIVER_POSTINGS`` the driver reads the blocks and runs the shard
kernels itself; otherwise Spark scans the blocks and runs the kernels.
Both must return the same rows, floats as bits, and the rows of
``bm25_search``, on every index shape the writers make."""

from __future__ import annotations

import datetime
import shutil
import tempfile
import uuid

import pytest

from document_retrieval_system_spark.functions.analyzer import process_text
from document_retrieval_system_spark.operators import wand
from document_retrieval_system_spark.operators.index_build import (
    IndexPaths,
    IndexReader,
    build_index,
)
from document_retrieval_system_spark.operators.search import bm25_search
from document_retrieval_system_spark.operators.wand import (
    bm25_wand_search,
    bm25_wand_search_many,
)
from document_retrieval_system_spark.sources.corpus import PAGES_DDL, gen_pages_pandas
from document_retrieval_system_spark.streaming.incremental import (
    _append_batch,
    compact_shards,
)

SHARDS = 3
QUERIES = ["search engine index", "ranking data", "compression wand pruning",
           "zzzzunknowntermzzz", "index index data"]


def _rows(df):
    return [tuple(r) for r in df.collect()]


def _spark_jobs(spark, action) -> int:
    """Spark jobs ``action`` launches, counted in its own job group."""
    sc = spark.sparkContext
    group = f"wand-paths-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _on_both_paths(monkeypatch, request):
    """``request()`` on the driver path, then forced onto the Spark path."""
    driver = request()
    with monkeypatch.context() as m:
        m.setattr(wand, "DRIVER_POSTINGS", -1)
        spark_path = request()
    return driver, spark_path


def _assert_paths_agree(monkeypatch, reader, queries, what, k=10, min_score=0.0):
    """Each single request and the batch give the same rows on both paths,
    and each query's rows are ``bm25_search``'s."""
    for q in queries:
        driver, spark_path = _on_both_paths(
            monkeypatch, lambda: _rows(bm25_wand_search(reader, q, "en", k, min_score)))
        assert driver == spark_path, (what, q)
        assert driver == _rows(bm25_search(reader, q, "en", k, min_score)), (what, q)
    driver, spark_path = _on_both_paths(monkeypatch, lambda: sorted(_rows(
        bm25_wand_search_many(reader, queries, "en", k, min_score))))
    assert driver == spark_path, what
    for qid, q in enumerate(queries):
        got = sorted((r[1:] for r in driver if r[0] == qid), key=lambda r: (-r[2], r[0]))
        assert got == _rows(bm25_search(reader, q, "en", k, min_score)), (what, q)


@pytest.fixture(scope="module")
def index(spark):
    idx = tempfile.mkdtemp(prefix="drs_wand_paths_")
    build_index(spark, spark.createDataFrame(gen_pages_pandas(48), PAGES_DDL), idx,
                n_shards=SHARDS)
    yield idx
    shutil.rmtree(idx, ignore_errors=True)


def test_paths_agree_through_every_writer(spark, monkeypatch, index):
    """A fresh build, appended segments, a rewritten shard and a
    compaction, in that order on one index."""
    paths, reader = IndexPaths(index), IndexReader(spark, index)
    _assert_paths_agree(monkeypatch, reader, QUERIES, "build")
    _append_batch(spark, spark.createDataFrame(gen_pages_pandas(18, start=48), PAGES_DDL),
                  0, paths, SHARDS)
    _assert_paths_agree(monkeypatch, reader, QUERIES, "append")
    old = reader.docs().filter("shard = 0").orderBy("url").limit(3).collect()
    resent = [(r["url"], r["warc_ts"] + datetime.timedelta(days=1), None,
               "search engine ranking data wandpathsresent", "en") for r in old]
    _append_batch(spark, spark.createDataFrame(resent, PAGES_DDL), 1, paths, SHARDS)
    _assert_paths_agree(monkeypatch, reader, QUERIES + ["wandpathsresent"], "rewrite")
    compact_shards(spark, paths)
    _assert_paths_agree(monkeypatch, reader, QUERIES, "compaction")


def test_paths_agree_on_ties_at_k_and_a_min_score(spark, monkeypatch, index):
    """k cut inside a group of equal scores, and a min_score that drops
    part of the hits."""
    reader = IndexReader(spark, index)
    q = "search"
    scores = [r["score"] for r in bm25_search(reader, q, "en", 10**6, 0.0).collect()]
    tie = next(i for i in range(1, len(scores)) if scores[i] == scores[i - 1])
    _assert_paths_agree(monkeypatch, reader, [q, "search engine"], "ties", k=tie)
    median = sorted(scores)[len(scores) // 2]
    _assert_paths_agree(monkeypatch, reader, [q, "index ranking"], "min_score",
                        k=5, min_score=median)


def test_paths_agree_when_k_covers_the_corpus(spark, monkeypatch, index):
    reader = IndexReader(spark, index)
    assert reader.corpus()["total_docs"] < 10**6
    _assert_paths_agree(monkeypatch, reader, QUERIES, "k covers the corpus", k=10**6)


def test_paths_agree_on_terms_absent_from_some_shards(spark, monkeypatch, index):
    reader = IndexReader(spark, index)
    rare = sorted(r["term"] for r in reader.term_stats().filter("df = 1").collect())
    assert rare
    shards = {r["shard"] for r in bm25_search(reader, rare[0], "en", 10, 0.0).collect()}
    assert len(shards) == 1 and SHARDS > 1
    _assert_paths_agree(monkeypatch, reader, [rare[0], f"{rare[0]} index", ""],
                        "rare term")


def test_paths_agree_on_a_batch_with_repeated_queries(spark, monkeypatch, index):
    reader = IndexReader(spark, index)
    _assert_paths_agree(monkeypatch, reader,
                        ["ranking data", "search", "ranking data", "", "search",
                         "zzzzunknowntermzzz", "ranking data"], "repeated")


def test_paths_agree_without_a_postings_directory(spark, monkeypatch, index):
    """The term stats name the query terms but no postings are left (the
    stats were read before a rewrite removed the postings, so they come
    from the untouched index): both paths read the blocks as empty."""
    idx = tempfile.mkdtemp(prefix="drs_wand_paths_nopostings_")
    try:
        shutil.copytree(index, idx, dirs_exist_ok=True)
        shutil.rmtree(IndexPaths(idx).postings)
        reader = IndexReader(spark, idx)
        monkeypatch.setattr(reader, "query_stats", IndexReader(spark, index).query_stats)
        assert reader.query_stats(["search"])[1]
        for k in (10, 10**6):
            driver, spark_path = _on_both_paths(monkeypatch, lambda: _rows(
                bm25_wand_search_many(reader, QUERIES, "en", k, 0.0)))
            assert driver == spark_path == []
    finally:
        shutil.rmtree(idx, ignore_errors=True)


def test_counters_agree_on_both_paths(spark, monkeypatch, index):
    reader = IndexReader(spark, index)

    def counted():
        sc = spark.sparkContext
        counters = {"total_blocks": sc.accumulator(0), "decoded_blocks": sc.accumulator(0)}
        for q in QUERIES:
            bm25_wand_search(reader, q, "en", 3, 0.0, counters=counters).collect()
        return counters["total_blocks"].value, counters["decoded_blocks"].value

    driver, spark_path = _on_both_paths(monkeypatch, counted)
    assert driver == spark_path and driver[0] > 0


def test_only_an_index_the_driver_reads_runs_no_job(spark, monkeypatch, index):
    """Under the budget a local request runs no Spark job.  Over it, or
    on a file system the driver does not read, the request runs the block
    scan and the kernel stage, and the rows are the same."""
    reader = IndexReader(spark, index)

    def request():
        return _rows(bm25_wand_search(reader, "search engine index", "en", 10, 0.0))

    want = request()
    assert _spark_jobs(spark, request) == 0
    with monkeypatch.context() as m:
        m.setattr(wand, "driver_reads", lambda spark, uri: False)
        assert 1 <= _spark_jobs(spark, request) <= 2
        assert request() == want
    with monkeypatch.context() as m:
        dfs = reader.query_stats(process_text("search engine index", "en"))[1]
        m.setattr(wand, "DRIVER_POSTINGS", sum(dfs.values()) - 1)
        assert 1 <= _spark_jobs(spark, request) <= 2
        m.setattr(wand, "DRIVER_POSTINGS", sum(dfs.values()))
        assert _spark_jobs(spark, request) == 0
