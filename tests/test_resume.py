"""Checkpoint/resume (SURVEY.md §5.6): a build interrupted between waves
resumes from the manifest and yields an index identical to a one-shot
build, without recomputing completed shards."""

import shutil
import tempfile

from pyspark.sql import functions as F

from document_retrieval_system_spark.operators.index_build import (
    IndexReader,
    build_index,
)
from document_retrieval_system_spark.operators.search import bm25_search, flat_postings
from document_retrieval_system_spark.sources.corpus import pages_df

N = 120
SHARDS = 6


def _flat_set(reader):
    rows = flat_postings(reader.postings(), with_positions=True).collect()
    return {
        (r["shard"], r["term"], r["local_no"], r["tf"], tuple(r["positions"]))
        for r in rows
    }


def test_partial_build_then_resume_matches_oneshot(spark):
    pages = pages_df(spark, N)
    one = tempfile.mkdtemp(prefix="drs_one_")
    two = tempfile.mkdtemp(prefix="drs_two_")
    try:
        build_index(spark, pages, one, n_shards=SHARDS)

        # interrupted build: first wave only (2 of 6 shards)
        build_index(
            spark, pages.filter(F.pmod(F.xxhash64(F.md5("url")), F.lit(SHARDS)) < 2),
            two, n_shards=SHARDS, wave_size=2,
        )
        partial = IndexReader(spark, two)
        done_before = {r["shard"] for r in partial.manifest().select("shard").collect()}
        assert 0 < len(done_before) < SHARDS

        # resume: completed shards are skipped (their manifest rows survive
        # unchanged), remaining shards are appended with their stats.
        build_index(spark, pages, two, n_shards=SHARDS, wave_size=2, resume=True)
        resumed = IndexReader(spark, two)
        assert {r["shard"] for r in resumed.manifest().select("shard").collect()} == set(
            range(SHARDS)
        )
        # resumed manifest keeps exactly one row per shard — completed
        # shards were NOT rebuilt
        assert resumed.manifest().groupBy("shard").count().filter("count > 1").count() == 0

        assert _flat_set(IndexReader(spark, one)) == _flat_set(resumed)

        # and the resumed index answers queries identically
        a = [(r["doc_id"], r["score"]) for r in
             bm25_search(IndexReader(spark, one), "数据 算法", "zh", 10, 0.0).collect()]
        b = [(r["doc_id"], r["score"]) for r in
             bm25_search(resumed, "数据 算法", "zh", 10, 0.0).collect()]
        assert a == b
    finally:
        shutil.rmtree(one, ignore_errors=True)
        shutil.rmtree(two, ignore_errors=True)


def test_resume_repairs_crash_between_data_and_manifest(spark):
    """Crash window: docs partitions appended but the manifest row never
    committed.  resume must DELETE the orphaned partitions before
    reprocessing — a naive re-append would duplicate (shard, local_no)."""
    import os

    from document_retrieval_system_spark.operators.index_build import (
        IndexPaths,
        add_doc_identity,
        assign_local_no,
        tokenize_docs,
    )

    pages = pages_df(spark, N)
    one = tempfile.mkdtemp(prefix="drs_crash_one_")
    two = tempfile.mkdtemp(prefix="drs_crash_two_")
    try:
        build_index(spark, pages, one, n_shards=SHARDS)

        # wave 1 committed cleanly (shards 0-1)
        build_index(
            spark, pages.filter(F.pmod(F.xxhash64(F.md5("url")), F.lit(SHARDS)) < 2),
            two, n_shards=SHARDS, wave_size=2,
        )
        # simulate the crash: shard 2's docs land WITHOUT a manifest row
        paths = IndexPaths(two)
        orphan = assign_local_no(
            tokenize_docs(
                add_doc_identity(pages, SHARDS).filter(F.col("shard") == 2)
            )
        )
        orphan.select(
            "shard", "local_no", "doc_id", "url", "warc_ts", "lang",
            "title", "text", "doc_len",
        ).write.partitionBy("shard").mode("append").parquet(paths.docs)
        assert os.path.exists(os.path.join(paths.docs, "shard=2"))

        build_index(spark, pages, two, n_shards=SHARDS, wave_size=2, resume=True)
        resumed = IndexReader(spark, two)
        # the orphaned partition must not have produced duplicates
        assert (
            resumed.docs().groupBy("shard", "local_no").count()
            .filter("count > 1").count() == 0
        )
        assert resumed.docs().count() == N
        assert _flat_set(IndexReader(spark, one)) == _flat_set(resumed)
    finally:
        shutil.rmtree(one, ignore_errors=True)
        shutil.rmtree(two, ignore_errors=True)


def test_auto_n_shards_sizing(spark):
    """n_shards=None derives shard count from corpus size; per-shard row
    counts stay bounded by TARGET_DOCS_PER_SHARD at any scale."""
    from document_retrieval_system_spark.operators.index_build import (
        TARGET_DOCS_PER_SHARD,
        auto_n_shards,
    )

    assert auto_n_shards(240) == 8
    assert auto_n_shards(10**6) == 8
    assert auto_n_shards(10**9) == 4096
    assert auto_n_shards(10**12) == 1 << 22
    for n in (10**9, 10**12):
        assert n / auto_n_shards(n) <= TARGET_DOCS_PER_SHARD

    idx = tempfile.mkdtemp(prefix="drs_auto_")
    try:
        build_index(spark, pages_df(spark, 48), idx, n_shards=None)
        r = IndexReader(spark, idx)
        assert r.docs().select("shard").distinct().count() <= 8
        assert r.docs().count() == 48
    finally:
        shutil.rmtree(idx, ignore_errors=True)
