"""The on-disk layout contract every index writer keeps: build, stream
append, stream rewrite, compaction, delete and merge all land their
files through one shard writer and commit through one manifest builder."""

from __future__ import annotations

import datetime
import glob
import os
import shutil
import tempfile

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from document_retrieval_system_spark.operators.fsck import fsck_index
from document_retrieval_system_spark.operators.index_build import (
    DOC_TABLE_COLS,
    TABLE_SCHEMAS,
    IndexPaths,
    IndexReader,
    build_index,
    finalize_index,
    manifest_stats,
    read_table,
    read_table_arrow,
)
from document_retrieval_system_spark.operators.merge import merge_indexes
from document_retrieval_system_spark.operators.search import RESULT_SCHEMA, bm25_search
from document_retrieval_system_spark.operators.wand import (
    bm25_wand_search,
    bm25_wand_search_many,
)
from document_retrieval_system_spark.sources.corpus import PAGES_DDL, gen_pages_pandas
from document_retrieval_system_spark.sources.tables import delete_documents
from document_retrieval_system_spark.streaming.incremental import (
    _append_batch,
    compact_shards,
)


def _files(table_dir):
    return sorted(glob.glob(os.path.join(table_dir, "shard=*", "*.parquet")))


def _non_decreasing(keys):
    return all(a <= b for a, b in zip(keys, keys[1:]))


def _plain(v):
    """A cell as a comparable Python value: timestamps as naive UTC (how
    the UTC session returns them), binary as bytes."""
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        return v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return bytes(v) if isinstance(v, bytearray) else v


def _check_layout(spark, index_dir, step):
    paths = IndexPaths(index_dir)
    # every table's declared schema is what its writers put on disk:
    # names, types and column order (the partition column last, as the
    # inferring read places it); and the driver's pyarrow read of a table
    # holds exactly the rows Spark's read holds (same live files)
    for table in TABLE_SCHEMAS:
        inferred = spark.read.parquet(getattr(paths, table)).schema
        declared = read_table(spark, paths, table)
        assert inferred == declared.schema, (step, table, inferred, declared.schema)
        cols = declared.columns
        by_spark = sorted((tuple(_plain(v) for v in r) for r in declared.collect()),
                          key=repr)
        by_arrow = sorted((tuple(_plain(r[c]) for c in cols)
                           for r in read_table_arrow(spark, paths, table).to_pylist()),
                          key=repr)
        assert by_arrow == by_spark, (step, table)
    doc_cols = [c for c in DOC_TABLE_COLS if c != "shard"]  # partition column
    for f in _files(paths.docs):
        t = pq.read_table(f)
        assert t.column_names == doc_cols, (step, f, t.column_names)
        assert _non_decreasing(t.column("local_no").to_pylist()), (step, f)
    post_files = _files(paths.postings)
    assert post_files, step
    for f in post_files:
        t = pq.read_table(f, columns=["term", "block_no"])
        keys = list(zip(t.column("term").to_pylist(), t.column("block_no").to_pylist()))
        assert _non_decreasing(keys), (step, f)

    reader = IndexReader(spark, index_dir)
    stats = manifest_stats(reader.manifest())
    truth = reader.postings().agg(
        F.sum("n").alias("postings"),
        F.count("*").alias("blocks"),
        (F.sum(F.length("doc_bytes")) + F.sum(F.length("tf_bytes"))
         + F.sum(F.length("dl_bytes")) + F.sum(F.length("pos_bytes"))
         ).alias("compressed_bytes"),
    ).collect()[0].asDict()
    assert {k: stats[k] for k in truth} == truth, (step, stats, truth)


def test_every_writer_keeps_the_layout_contract(spark):
    idx = tempfile.mkdtemp(prefix="drs_layout_idx_")
    merged = tempfile.mkdtemp(prefix="drs_layout_merged_")
    try:
        build_index(spark, spark.createDataFrame(gen_pages_pandas(30), PAGES_DDL),
                    idx, n_shards=2)
        paths = IndexPaths(idx)
        _check_layout(spark, idx, "build")

        _append_batch(spark, spark.createDataFrame(
            gen_pages_pandas(12, start=30), PAGES_DDL), 0, paths, 2)
        finalize_index(spark, paths)
        _check_layout(spark, idx, "stream append")

        old = spark.read.parquet(paths.docs).filter("shard = 0").orderBy("url")
        resent = [(r["url"], r["warc_ts"] + datetime.timedelta(days=1), None,
                   "re-sent layout page", "en") for r in old.limit(3).collect()]
        _append_batch(spark, spark.createDataFrame(resent, PAGES_DDL), 1, paths, 2)
        finalize_index(spark, paths)
        _check_layout(spark, idx, "stream rewrite")

        compact_shards(spark, paths)
        finalize_index(spark, paths)
        _check_layout(spark, idx, "compaction")

        victims = [r["url"] for r in
                   spark.read.parquet(paths.docs).orderBy("url").limit(4).collect()]
        delete_documents(spark, idx, victims)
        _check_layout(spark, idx, "delete")

        merge_indexes(spark, [idx], merged, n_shards=3)
        _check_layout(spark, merged, "merge")
    finally:
        shutil.rmtree(idx, ignore_errors=True)
        shutil.rmtree(merged, ignore_errors=True)


def test_all_empty_corpus_builds_serves_audits_and_merges(spark):
    """Pages that all tokenize to nothing leave postings/ holding only
    ``_SUCCESS``: the declared-schema reads see an empty table, so build,
    search, audit and merge all work and queries return no rows."""
    pages = spark.createDataFrame(
        [(f"https://empty.example/{i}", datetime.datetime(2024, 1, 1),
          b"<html><body></body></html>", None, "en") for i in range(3)],
        PAGES_DDL,
    )
    idx = tempfile.mkdtemp(prefix="drs_empty_idx_")
    merged = tempfile.mkdtemp(prefix="drs_empty_merged_")
    try:
        build_index(spark, pages, idx, n_shards=2)
        assert not _files(IndexPaths(idx).postings)
        reader = IndexReader(spark, idx)
        assert reader.corpus()["total_docs"] == 0
        assert reader.docs().count() == 3
        assert bm25_search(reader, "anything at all", "en").collect() == []
        single = bm25_wand_search(reader, "anything at all", "en")
        batch = bm25_wand_search_many(reader, ["anything", "at all"], "en")
        assert single.collect() == [] and batch.collect() == []
        assert single.schema == spark.createDataFrame([], RESULT_SCHEMA).schema
        assert batch.schema == spark.createDataFrame([], "qid int, " + RESULT_SCHEMA).schema
        assert fsck_index(spark, idx).collect() == []
        merge_indexes(spark, [idx], merged, n_shards=2)
        assert IndexReader(spark, merged).docs().count() == 3
        assert fsck_index(spark, merged).collect() == []
    finally:
        shutil.rmtree(idx, ignore_errors=True)
        shutil.rmtree(merged, ignore_errors=True)
