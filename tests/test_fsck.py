"""Index fsck (operators/fsck.py): a freshly built (and a merged)
index audits clean; each seeded corruption class is detected by its
named check and nothing else fires."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from document_retrieval_system_spark.operators.fsck import fsck_index
from document_retrieval_system_spark.operators.index_build import (
    IndexPaths,
    build_index,
)
from document_retrieval_system_spark.sources.corpus import (
    PAGES_DDL,
    gen_pages_pandas,
    pages_df,
)

N = 100


@pytest.fixture(scope="module")
def built(spark):
    d = tempfile.mkdtemp(prefix="drs_fsck_")
    build_index(spark, pages_df(spark, N), d, n_shards=4)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _copy(src):
    d = tempfile.mkdtemp(prefix="drs_fsck_mut_")
    shutil.rmtree(d)
    shutil.copytree(src, d)
    return d


def _checks(spark, d):
    return {r["check"] for r in fsck_index(spark, d).collect()}


def test_clean_index_audits_clean(spark, built):
    assert fsck_index(spark, built).count() == 0


def test_missing_doc_row_detected(spark, built):
    d = _copy(built)
    try:
        paths = IndexPaths(d)
        docs = spark.read.parquet(paths.docs)
        victim = docs.filter("shard = 1").orderBy("local_no").limit(1).collect()[0]
        kept = docs.filter(
            ~((F.col("shard") == 1) & (F.col("local_no") == victim["local_no"]))
        ).localCheckpoint(eager=True)
        shutil.rmtree(paths.docs)
        kept.write.partitionBy("shard").parquet(paths.docs)
        got = _checks(spark, d)
        assert "orphan_posting" in got
        # ordinal GAPS are deliberately not violations (stable-ordinal
        # maintenance leaves holes); the missing doc shows up as orphaned
        # postings + a stale corpus sidecar instead
        assert "ordinal_dup" not in got
        assert "corpus_stats" in got
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_duplicate_doc_id_detected(spark, built):
    d = _copy(built)
    try:
        paths = IndexPaths(d)
        docs = spark.read.parquet(paths.docs)
        n1 = docs.filter("shard = 1").count()
        clone = (
            docs.filter("shard = 1").orderBy("local_no").limit(1)
            .withColumn("local_no", F.lit(n1).cast("long"))
        )
        all_docs = docs.unionByName(clone).localCheckpoint(eager=True)
        shutil.rmtree(paths.docs)
        all_docs.write.partitionBy("shard").parquet(paths.docs)
        got = _checks(spark, d)
        assert "doc_id_dup" in got
        assert "orphan_posting" not in got  # postings untouched
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_tampered_block_max_tf_detected(spark, built):
    d = _copy(built)
    try:
        paths = IndexPaths(d)
        blocks = spark.read.parquet(paths.postings)
        t = blocks.orderBy("shard", "term").limit(1).collect()[0]["term"]
        mut = blocks.withColumn(
            "max_tf",
            F.when((F.col("term") == t) & (F.col("block_no") == 0),
                   F.col("max_tf") + 100).otherwise(F.col("max_tf")),
        ).localCheckpoint(eager=True)
        shutil.rmtree(paths.postings)
        mut.write.partitionBy("shard").parquet(paths.postings)
        rows = fsck_index(spark, d).collect()
        got = {r["check"] for r in rows}
        assert got == {"block_meta"}
        assert any(r["key"] == t for r in rows)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_tampered_term_stats_detected(spark, built):
    """One shard's block-0 df_local or cf_local of one term is off — the
    df or cf every reader sums: the per-shard audit names that shard and
    term, and nothing else fires."""
    import glob

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    for column in ("df_local", "cf_local"):
        d = _copy(built)
        try:
            (f,) = glob.glob(os.path.join(IndexPaths(d).postings, "shard=1", "*.parquet"))
            t = pq.read_table(f)
            term = t["term"][0].as_py()
            hit = pc.and_(pc.equal(t["term"], term), pc.equal(t["block_no"], 0))
            t = t.set_column(t.schema.get_field_index(column), column, pc.if_else(
                hit, pc.add(t[column], pa.scalar(7, t[column].type)), t[column]))
            os.remove(f)
            os.remove(os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc"))
            pq.write_table(t, f)
            got = fsck_index(spark, d).collect()
            assert {(r["check"], r["shard"], r["key"]) for r in got} == {
                ("df_local", 1, term)}, column
        finally:
            shutil.rmtree(d, ignore_errors=True)


def test_merged_index_audits_clean(spark, built):
    from document_retrieval_system_spark.operators.merge import merge_indexes

    pages = pages_df(spark, N)
    half = F.pmod(F.xxhash64(F.md5("url")), F.lit(2))
    a, b, m = (tempfile.mkdtemp(prefix=f"drs_fsck_{x}_") for x in "abm")
    try:
        build_index(spark, pages.filter(half == 0), a, n_shards=2)
        build_index(spark, pages.filter(half == 1), b, n_shards=2)
        merge_indexes(spark, [a, b], m, n_shards=3)
        assert fsck_index(spark, m).count() == 0
    finally:
        for x in (a, b, m):
            shutil.rmtree(x, ignore_errors=True)


def test_maintained_index_with_ordinal_holes_audits_clean(spark, built):
    """Stable-ordinal maintenance (delete/upsert) leaves holes in the
    per-shard ordinal axis; fsck must NOT flag a consistent maintained
    index (the r5s5 review catch)."""
    from document_retrieval_system_spark.operators.index_build import (
        finalize_index,
        rebuild_shard_postings,
    )

    d = _copy(built)
    try:
        paths = IndexPaths(d)
        docs = spark.read.parquet(paths.docs)
        victim = docs.filter("shard = 2").orderBy("local_no").limit(1).collect()[0]
        kept = docs.filter(
            ~((F.col("shard") == 2) & (F.col("local_no") == victim["local_no"]))
        ).localCheckpoint(eager=True)
        shutil.rmtree(paths.docs)
        kept.write.partitionBy("shard").parquet(paths.docs)
        # the delete path's postings rewrite + stats refresh
        rebuild_shard_postings(spark, paths, [2], status="delete")
        finalize_index(spark, paths)
        assert fsck_index(spark, d).count() == 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streamed_index_with_delta_segments_audits_clean(spark):
    """Every appended stream segment carries its own block 0, and
    finalize_index sums their df_local; fsck must sum them too.  Re-sent
    urls come from one shard only, so the other shard keeps its appended
    delta segment through the batch."""
    import datetime

    from document_retrieval_system_spark.operators.index_build import (
        add_doc_identity,
        finalize_index,
    )
    from document_retrieval_system_spark.streaming.incremental import (
        _append_batch,
    )

    d = tempfile.mkdtemp(prefix="drs_fsck_stream_")
    try:
        build_index(spark, spark.createDataFrame(gen_pages_pandas(30), PAGES_DDL),
                    d, n_shards=2)
        paths = IndexPaths(d)
        old = spark.read.parquet(paths.docs).filter("shard = 0").orderBy("url")
        resent = [(r["url"], r["warc_ts"] + datetime.timedelta(days=1), None,
                   "re-sent page fsckterm", "en")
                  for r in old.limit(3).collect()]
        new = spark.createDataFrame(gen_pages_pandas(10, start=30), PAGES_DDL)
        assert {r["shard"] for r in add_doc_identity(new, 2).collect()} == {0, 1}
        batch = new.unionByName(spark.createDataFrame(resent, PAGES_DDL))
        _append_batch(spark, batch, 0, paths, 2)
        finalize_index(spark, paths)
        # shard 1 holds two segments: the build's and the batch's
        assert (spark.read.parquet(paths.postings).filter("shard = 1")
                .groupBy("term", "block_no").count()
                .filter("count > 1").count() > 0)
        assert fsck_index(spark, d).collect() == []
    finally:
        shutil.rmtree(d, ignore_errors=True)
