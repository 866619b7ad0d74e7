"""The driver-side index reads: ``read_table_arrow`` behind the corpus
scalars, the query-term dfs and the WAND display-field lookup.  Each read
must see exactly the rows Spark's read of the same table sees, prune the
row groups it claims to prune, and leave WAND's answers equal to the
exhaustive scorer's, bit for bit, on every index shape the writers make."""

from __future__ import annotations

import datetime
import glob
import os
import shutil
import tempfile
import uuid

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from document_retrieval_system_spark.operators import index_build
from document_retrieval_system_spark.operators.index_build import (
    IndexPaths,
    IndexReader,
    build_index,
    finalize_index,
    read_table_arrow,
    table_fragments,
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

K = 10


def _spark_query_stats(reader, terms):
    """The Spark twin of ``IndexReader.query_stats``: the per-shard
    corpus_stats rows summed, and the term-filtered global
    ``IndexReader.term_stats()`` view, collected."""
    corpus = reader._table("corpus_stats").agg(
        F.sum("total_docs").alias("td"), F.sum("total_tokens").alias("tt")).collect()[0]
    dfs = {r["term"]: r["df"] for r in reader.term_stats().filter(
        F.col("term").isin(sorted(set(terms)))).collect()}
    return index_build._corpus_scalars(corpus["td"], corpus["tt"]), dfs


def _rows(df):
    return [tuple(r) for r in df.collect()]


def _assert_wand_is_exhaustive(reader, queries, lang, what, k=K, exhaustive=None):
    """WAND single and batch rows equal ``bm25_search``'s (on the reader
    ``exhaustive``, by default ``reader``), floats as bits: same doc_id,
    url, score, shard and local_no, the single in the same order."""
    exhaustive = exhaustive or reader
    want = [_rows(bm25_search(exhaustive, q, lang, k, 0.0)) for q in queries]
    assert any(want), what
    for q, w in zip(queries, want):
        assert _rows(bm25_wand_search(reader, q, lang, k, 0.0)) == w, (what, q)
    batch = bm25_wand_search_many(reader, queries, lang, k, 0.0).collect()
    for qid, w in enumerate(want):
        got = [tuple(r)[1:] for r in batch if r["qid"] == qid]
        assert sorted(got, key=lambda r: (-r[2], r[0])) == w, (what, queries[qid])


@pytest.mark.parametrize("terms", [
    ["数据", "算法"],
    ["zzzzunknowntermzzz"],
    ["数据", "数据", "系统"],
    ["数据", "zzzzunknowntermzzz", "数据", "qqqq"],
    [],
], ids=["present", "absent", "duplicate", "mixed", "none"])
def test_query_stats_equal_the_spark_collect(reader, terms):
    assert reader.query_stats(terms) == _spark_query_stats(reader, terms)


def test_wand_equals_exhaustive_on_absent_and_duplicate_terms(reader):
    queries = ["zzzzunknowntermzzz", "数据 数据 系统", "数据 zzzzunknowntermzzz 数据",
               "算法 qqqq 算法 算法", ""]
    _assert_wand_is_exhaustive(reader, queries, "zh", "edge terms")


def test_term_stats_lookup_reads_only_covering_row_groups(spark, monkeypatch):
    """A commit writes each shard's postings file sorted by term in
    bounded row groups; the driver's df lookup opens only the row groups
    whose term min/max covers a query term and whose block_no range
    holds block 0, and returns what Spark's filtered read returns."""
    monkeypatch.setattr(index_build, "TERM_ROW_GROUP_BYTES", 1)
    idx = tempfile.mkdtemp(prefix="drs_term_rg_")
    try:
        build_index(spark, spark.createDataFrame(gen_pages_pandas(60), PAGES_DDL),
                    idx, n_shards=2)
        paths = IndexPaths(idx)
        files = sorted(glob.glob(os.path.join(paths.postings, "shard=*", "*.parquet")))
        ranges = {}
        for f in files:
            pf = pq.ParquetFile(f)
            terms = pf.read(columns=["term"]).column("term").to_pylist()
            assert terms == sorted(terms), f
            names = pf.schema_arrow.names
            for i in range(pf.num_row_groups):
                rg = pf.metadata.row_group(i)
                term, block = (rg.column(names.index(c)).statistics
                               for c in ("term", "block_no"))
                ranges[(f, i)] = (term.min, term.max, block.min)
        assert max(i for _f, i in ranges) >= 2, ranges  # several row groups

        vocab = sorted(r["term"] for r in IndexReader(spark, idx).term_stats().collect())
        query = [vocab[1], vocab[len(vocab) // 2], "zzzzunknowntermzzz"]
        read = {(frag.path, rg.id) for frag in table_fragments(
                    paths, "postings", {"term": query, "block_no": [0]})
                for rg in frag.row_groups}
        covering = {key for key, (lo, hi, first_block) in ranges.items()
                    if first_block == 0 and any(lo <= t <= hi for t in query)}
        assert read == covering
        assert len(read) < len(ranges)
        reader = IndexReader(spark, idx)
        assert reader.query_stats(query) == _spark_query_stats(reader, query)
    finally:
        shutil.rmtree(idx, ignore_errors=True)


def test_wand_doc_lookup_follows_every_segment_change(spark):
    """The display-field lookup reads the live docs files across appended
    delta segments, a stream rewrite of re-sent URLs and a compaction:
    after each step WAND single and batch equal bm25_search, bit for bit."""
    idx = tempfile.mkdtemp(prefix="drs_wand_segments_")
    queries = ["search engine index", "ranking data", "compression wand pruning"]
    try:
        build_index(spark, spark.createDataFrame(gen_pages_pandas(40), PAGES_DDL),
                    idx, n_shards=2)
        paths = IndexPaths(idx)
        reader = IndexReader(spark, idx)
        _assert_wand_is_exhaustive(reader, queries, "en", "build")

        _append_batch(spark, spark.createDataFrame(
            gen_pages_pandas(16, start=40), PAGES_DDL), 0, paths, 2)
        finalize_index(spark, paths)
        for s in (0, 1):
            assert len(glob.glob(os.path.join(paths.docs, f"shard={s}", "*.parquet"))) > 1
        _assert_wand_is_exhaustive(reader, queries, "en", "append")

        old = spark.read.parquet(paths.docs).filter("shard = 0").orderBy("url")
        resent = [(r["url"], r["warc_ts"] + datetime.timedelta(days=1), None,
                   "search engine ranking data zyxwresent", "en")
                  for r in old.limit(4).collect()]
        _append_batch(spark, spark.createDataFrame(resent, PAGES_DDL), 1, paths, 2)
        finalize_index(spark, paths)
        _assert_wand_is_exhaustive(reader, queries, "en", "rewrite")
        urls = {r["url"] for r in bm25_wand_search(
            reader, "zyxwresent", "en", 100, 0.0).collect()}
        assert urls == {r[0] for r in resent}

        compact_shards(spark, paths)
        finalize_index(spark, paths)
        _assert_wand_is_exhaustive(reader, queries, "en", "compaction")
    finally:
        shutil.rmtree(idx, ignore_errors=True)


def test_wand_equals_exhaustive_when_k_covers_the_corpus(reader):
    """With k above the corpus size no query has rows to cut: still
    bm25_search's rows (a request the driver scores finishes in the
    driver; a Spark-scored one keeps a lazy docs join,
    tests/test_wand_paths.py)."""
    assert reader.corpus()["total_docs"] < 10**6
    _assert_wand_is_exhaustive(reader, ["数据 算法", "系统 网络 数据"], "zh",
                               "k covers the corpus", k=10**6)


def test_wand_fills_k_past_a_hit_without_a_docs_row(spark, index_dir):
    """A delete or compaction rewrites docs before postings, so a reader
    can meet a kernel hit whose docs row is gone.  The finish joins
    inner, like bm25_search, and the next hit below the cut takes the
    dropped one's place: WAND still equals bm25_search, with k rows."""
    idx = tempfile.mkdtemp(prefix="drs_wand_orphan_")
    try:
        shutil.copytree(index_dir, idx, dirs_exist_ok=True)
        reader = IndexReader(spark, idx)
        queries = ["数据 算法", "系统 网络"]
        tops = [bm25_search(reader, q, "zh", K, 0.0).collect() for q in queries]
        assert all(len(t) == K for t in tops)
        for top in tops:  # the docs side of a delete of each query's best hit
            shard_dir = os.path.join(IndexPaths(idx).docs, f"shard={top[0]['shard']}")
            files = glob.glob(os.path.join(shard_dir, "*.parquet"))
            kept = pq.read_table(files)
            kept = kept.filter(pc.not_equal(kept["local_no"], top[0]["local_no"]))
            for f in glob.glob(os.path.join(shard_dir, "*")) + glob.glob(
                    os.path.join(shard_dir, ".*.crc")):
                os.remove(f)
            pq.write_table(kept, os.path.join(shard_dir, "part-00000-rewritten.parquet"))
        for q, top in zip(queries, tops):
            got = bm25_search(reader, q, "zh", K, 0.0).collect()
            assert len(got) == K and top[0]["doc_id"] not in {r["doc_id"] for r in got}
        _assert_wand_is_exhaustive(reader, queries, "zh", "docs row deleted")
    finally:
        shutil.rmtree(idx, ignore_errors=True)


def test_driver_reads_open_a_file_uri_in_the_driver(spark, reader, index_dir):
    """A ``file://`` index is the local file system: pyarrow reads it."""
    uri_reader = IndexReader(spark, "file://" + index_dir)
    assert index_build.driver_reads(spark, uri_reader.paths.postings)
    terms = ["数据", "算法", "zzzzunknowntermzzz"]
    assert uri_reader.query_stats(terms) == reader.query_stats(terms)
    _assert_wand_is_exhaustive(uri_reader, ["数据 算法", "系统"], "zh", "file uri",
                               exhaustive=reader)


def test_driver_reads_leave_other_file_systems_to_spark(spark, reader, index_dir):
    """An index on a file system pyarrow does not share with Spark (here
    a ``viewfs://`` mount of the local index, which pyarrow cannot open)
    is read by Spark under its Hadoop configuration: every table reads
    the same rows, and the query paths answer as on the local index."""
    mount = f"drs{uuid.uuid4().hex[:8]}"
    spark.sparkContext._jsc.hadoopConfiguration().set(
        f"fs.viewfs.mounttable.{mount}.link./idx", "file://" + index_dir)
    remote = IndexReader(spark, f"viewfs://{mount}/idx")
    assert not index_build.driver_reads(spark, remote.paths.docs)
    for table, cols, filt in [("corpus_stats", None, None),
                              ("postings", ["term", "df_local"],
                               {"term": ["数据", "qqqq"], "block_no": [0]}),
                              ("docs", ["shard", "local_no", "doc_id", "url"],
                               {"shard": [0, 3], "local_no": [0, 1, 5]})]:
        local = read_table_arrow(spark, reader.paths, table, cols, filt)
        by_spark = read_table_arrow(spark, remote.paths, table, cols, filt)
        assert by_spark.schema == local.schema, table
        assert sorted(by_spark.to_pylist(), key=repr) == sorted(local.to_pylist(), key=repr)
    terms = ["数据", "算法", "zzzzunknowntermzzz"]
    assert remote.query_stats(terms) == reader.query_stats(terms)
    _assert_wand_is_exhaustive(remote, ["数据 算法", "系统"], "zh", "viewfs",
                               exhaustive=reader)


def test_commits_on_other_file_systems_write_through_spark(spark, assert_stats_current):
    """On a file system pyarrow does not share with Spark, a commit's
    manifest and corpus rows are Spark writes: a build and a stream batch
    through a ``viewfs://`` mount keep the stats the same commits keep on
    the local file system."""
    local = tempfile.mkdtemp(prefix="drs_local_commits_")
    target = tempfile.mkdtemp(prefix="drs_viewfs_commits_")
    mount = f"drs{uuid.uuid4().hex[:8]}"
    spark.sparkContext._jsc.hadoopConfiguration().set(
        f"fs.viewfs.mounttable.{mount}.link./data", "file://" + target)
    remote = f"viewfs://{mount}/data/idx"
    try:
        assert not index_build.driver_reads(spark, remote)
        pages = spark.createDataFrame(gen_pages_pandas(30), PAGES_DDL)
        batch = spark.createDataFrame(gen_pages_pandas(8, start=30), PAGES_DDL)
        for d in (local, remote):
            build_index(spark, pages, d, n_shards=2)
            _append_batch(spark, batch, 0, IndexPaths(d), 2)
        terms = ["search", "engine", "zzzzunknowntermzzz"]
        assert (IndexReader(spark, remote).query_stats(terms)
                == IndexReader(spark, local).query_stats(terms))
        assert_stats_current(os.path.join(target, "idx"), "viewfs commits")
    finally:
        shutil.rmtree(local, ignore_errors=True)
        shutil.rmtree(target, ignore_errors=True)
