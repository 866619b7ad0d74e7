"""Commits keep the global stats current (``commit_manifest``): after every
writer — resumed build waves, stream append, stream rewrite, delete,
compaction, merge — the per-shard term and corpus stats equal a recount
from the live postings and docs, bit for bit, ``finalize_index`` has
nothing left to do, and the scorers answer as on a fresh build of the same
live pages.  The TF-IDF doc norms are derived per snapshot on demand."""

from __future__ import annotations

import datetime
import glob
import os
import shutil
import tempfile
import uuid

import pandas as pd
import pytest
from pyspark.sql import functions as F

from document_retrieval_system_spark.operators.fsck import fsck_index
from document_retrieval_system_spark.operators.index_build import (
    IndexPaths,
    IndexReader,
    build_index,
    finalize_index,
    snapshot_id,
)
from document_retrieval_system_spark.operators.merge import merge_indexes
from document_retrieval_system_spark.operators.search import bm25_search, tfidf_search
from document_retrieval_system_spark.operators.wand import bm25_wand_search
from document_retrieval_system_spark.sources.corpus import PAGES_DDL, gen_pages_pandas
from document_retrieval_system_spark.sources.tables import delete_documents
from document_retrieval_system_spark.streaming.incremental import (
    _append_batch,
    compact_shards,
)

SHARDS = 3
K = 20
QUERIES = ["search engine index", "ranking data compression"]


def _jobs(spark, action) -> int:
    sc = spark.sparkContext
    group = f"commit-stats-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _top(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def _same_top(got, want, what):
    """Same doc_ids in the same order; scores equal up to summation order
    (a maintained index sums a doc's terms over other segments)."""
    assert [d for d, _ in got] == [d for d, _ in want], what
    for (_, a), (_, b) in zip(got, want):
        assert a == pytest.approx(b, rel=1e-12), what


def _assert_answers_as_fresh(spark, index_dir, live: pd.DataFrame, n_shards, step):
    fresh = tempfile.mkdtemp(prefix="drs_commit_fresh_")
    try:
        build_index(spark, spark.createDataFrame(live, PAGES_DDL), fresh,
                    n_shards=n_shards)
        got, want = IndexReader(spark, index_dir), IndexReader(spark, fresh)
        for q in QUERIES:
            for scorer in (bm25_search, bm25_wand_search, tfidf_search):
                _same_top(_top(scorer(got, q, "en", K, 0.0)),
                          _top(scorer(want, q, "en", K, 0.0)),
                          (step, scorer.__name__, q))
    finally:
        shutil.rmtree(fresh, ignore_errors=True)


def _live_after(live: pd.DataFrame, batch: pd.DataFrame) -> pd.DataFrame:
    """The live pages after a batch: per url the newest ``warc_ts`` wins."""
    both = pd.concat([live, batch], ignore_index=True)
    newest = both.groupby("url")["warc_ts"].transform("max")
    return both[both["warc_ts"] == newest].drop_duplicates("url").reset_index(drop=True)


def _resend(spark, paths, shard, n, text, days):
    old = spark.read.parquet(paths.docs).filter(F.col("shard") == shard).orderBy("url")
    return pd.DataFrame(
        [(r["url"], r["warc_ts"] + datetime.timedelta(days=days), None, text, "en")
         for r in old.limit(n).collect()],
        columns=["url", "warc_ts", "html", "text", "lang"])


def test_every_commit_keeps_the_stats_of_a_full_recount(spark, assert_stats_current):
    idx = tempfile.mkdtemp(prefix="drs_commit_stats_")
    merged = tempfile.mkdtemp(prefix="drs_commit_merged_")
    paths = IndexPaths(idx)

    def current(index_dir, step):
        assert _jobs(spark, lambda: finalize_index(spark, IndexPaths(index_dir))) == 0, step
        assert_stats_current(index_dir, step)

    try:
        live = gen_pages_pandas(60)
        pages = spark.createDataFrame(live, PAGES_DDL)
        in_first = F.pmod(F.xxhash64(F.md5("url")), F.lit(SHARDS)) == 0
        build_index(spark, pages.filter(in_first), idx, n_shards=SHARDS, wave_size=1)
        current(idx, "first wave")
        build_index(spark, pages, idx, n_shards=SHARDS, wave_size=1, resume=True)
        current(idx, "resumed waves")

        batch = gen_pages_pandas(12, start=60)
        _append_batch(spark, spark.createDataFrame(batch, PAGES_DDL), 0, paths, SHARDS)
        live = _live_after(live, batch)
        current(idx, "stream append")

        # one batch: re-sent urls rewrite shard 0, new urls append elsewhere
        batch = pd.concat([gen_pages_pandas(9, start=72),
                           _resend(spark, paths, 0, 4, "search engine ranking resent", 1)],
                          ignore_index=True)
        _append_batch(spark, spark.createDataFrame(batch, PAGES_DDL), 1, paths, SHARDS)
        live = _live_after(live, batch)
        current(idx, "stream append + rewrite")
        _assert_answers_as_fresh(spark, idx, live, SHARDS, "stream append + rewrite")

        victims = sorted(live["url"])[:5]
        delete_documents(spark, idx, victims)
        live = live[~live["url"].isin(victims)].reset_index(drop=True)
        current(idx, "delete")

        compact_shards(spark, paths)
        current(idx, "compaction")
        assert fsck_index(spark, idx).collect() == []

        merge_indexes(spark, [idx], merged, n_shards=2)
        current(merged, "merge")
        _assert_answers_as_fresh(spark, merged, live, 2, "merge")
    finally:
        shutil.rmtree(idx, ignore_errors=True)
        shutil.rmtree(merged, ignore_errors=True)


def _state(index_dir):
    """Every data file of the index with its bytes, hidden files aside."""
    out = {}
    for table in ("docs", "postings", "manifest", "corpus_stats"):
        for f in glob.glob(os.path.join(index_dir, table, "**", "*.parquet"),
                           recursive=True):
            with open(f, "rb") as fh:
                out[os.path.relpath(f, index_dir)] = fh.read()
    return out


def test_batches_with_nothing_newer_change_nothing(spark, assert_stats_current):
    """An empty batch, and a batch whose every url is re-sent with an
    OLDER warc_ts, leave docs, postings, manifest and stats as they were."""
    idx = tempfile.mkdtemp(prefix="drs_commit_noop_")
    try:
        build_index(spark, spark.createDataFrame(gen_pages_pandas(30), PAGES_DDL),
                    idx, n_shards=2)
        paths = IndexPaths(idx)
        before = _state(idx)
        _append_batch(spark, spark.createDataFrame([], PAGES_DDL), 0, paths, 2)
        assert _state(idx) == before
        older = pd.concat([_resend(spark, paths, s, 3, "older copy", -1) for s in (0, 1)],
                          ignore_index=True)
        _append_batch(spark, spark.createDataFrame(older, PAGES_DDL), 1, paths, 2)
        assert _state(idx) == before
        assert_stats_current(idx, "no-op batches")
    finally:
        shutil.rmtree(idx, ignore_errors=True)


def test_stats_behind_the_manifest_are_reported_and_recounted(spark, monkeypatch,
                                                               assert_stats_current):
    """A crash between a commit's manifest row and its stats leaves the
    shard's stamp behind its manifest head: fsck reports ``stats_stamp``,
    the next append leaves the shard stale instead of adding to stale
    stats, and ``finalize_index`` recounts exactly that shard."""
    from document_retrieval_system_spark.operators import index_build as ib

    idx = tempfile.mkdtemp(prefix="drs_commit_crash_")
    try:
        build_index(spark, spark.createDataFrame(gen_pages_pandas(30), PAGES_DDL),
                    idx, n_shards=2)
        paths = IndexPaths(idx)
        real = ib.write_rows

        def no_corpus_rows(spark_, paths_, table, rows):
            if table != "corpus_stats":
                real(spark_, paths_, table, rows)

        monkeypatch.setattr(ib, "write_rows", no_corpus_rows)
        _append_batch(spark, spark.createDataFrame(
            gen_pages_pandas(8, start=30), PAGES_DDL), 0, paths, 2)
        monkeypatch.setattr(ib, "write_rows", real)
        assert {r["check"] for r in fsck_index(spark, idx).collect()} >= {"stats_stamp"}

        # the next batch must not build on the stale rows
        _append_batch(spark, spark.createDataFrame(
            gen_pages_pandas(8, start=38), PAGES_DDL), 1, paths, 2)
        assert _jobs(spark, lambda: finalize_index(spark, paths)) > 0
        assert_stats_current(idx, "recounted")
        assert fsck_index(spark, idx).collect() == []
    finally:
        shutil.rmtree(idx, ignore_errors=True)


def test_doc_norms_are_derived_once_per_snapshot(spark):
    """The first ``tfidf_search`` of a snapshot publishes its doc norms
    under the snapshot's name; later calls read them; a commit moves the
    snapshot, and the next call replaces the old table."""
    idx = tempfile.mkdtemp(prefix="drs_commit_norms_")
    try:
        build_index(spark, spark.createDataFrame(gen_pages_pandas(30), PAGES_DDL),
                    idx, n_shards=2)
        paths = IndexPaths(idx)
        reader = IndexReader(spark, idx)
        norms_dirs = lambda: sorted(os.listdir(paths.doc_norms))  # noqa: E731
        first = _top(tfidf_search(reader, QUERIES[0], "en", K, 0.0))
        snap = snapshot_id(spark, paths)
        assert norms_dirs() == [snap]
        files = sorted(glob.glob(os.path.join(paths.doc_norms, snap, "*")))
        warm = _jobs(spark, lambda: tfidf_search(reader, QUERIES[0], "en", K, 0.0).collect())
        assert _top(tfidf_search(reader, QUERIES[0], "en", K, 0.0)) == first
        assert sorted(glob.glob(os.path.join(paths.doc_norms, snap, "*"))) == files
        assert reader.doc_norms().count() == reader.docs().filter("doc_len > 0").count()

        _append_batch(spark, spark.createDataFrame(
            gen_pages_pandas(6, start=30), PAGES_DDL), 0, paths, 2)
        assert snapshot_id(spark, paths) != snap
        after_commit = _jobs(spark, lambda: tfidf_search(
            reader, QUERIES[0], "en", K, 0.0).collect())
        assert after_commit > warm  # the new snapshot's norms were computed
        assert norms_dirs() == [snapshot_id(spark, paths)]
    finally:
        shutil.rmtree(idx, ignore_errors=True)


def test_a_leftover_term_stats_table_is_ignored(spark):
    """An index written by earlier code keeps a ``term_stats/`` table of
    per-segment (df, cf) rows.  A term's df and cf are read from the
    postings' block-0 rows, so such a table, left stale by a later batch,
    changes no answer: query_stats, term_stats(), WAND and bm25_search
    equal those of the same index without it, and fsck finds it clean."""
    from document_retrieval_system_spark.operators.wand import bm25_wand_search_many

    idx = tempfile.mkdtemp(prefix="drs_commit_leftover_")
    bare = tempfile.mkdtemp(prefix="drs_commit_bare_")
    try:
        build_index(spark, spark.createDataFrame(gen_pages_pandas(30), PAGES_DDL),
                    idx, n_shards=2)
        paths = IndexPaths(idx)
        reader = IndexReader(spark, idx)
        (reader.postings().filter("block_no = 0")
         .select("shard", "term", F.col("df_local").cast("long").alias("df"),
                 F.col("cf_local").alias("cf"))
         .write.partitionBy("shard").parquet(os.path.join(idx, "term_stats")))
        batch = pd.concat([gen_pages_pandas(8, start=30),
                           _resend(spark, paths, 0, 3, "leftover re-sent page", 1)])
        _append_batch(spark, spark.createDataFrame(batch, PAGES_DDL), 0, paths, 2)
        finalize_index(spark, paths)
        shutil.copytree(idx, bare, dirs_exist_ok=True)
        shutil.rmtree(os.path.join(bare, "term_stats"))
        without = IndexReader(spark, bare)

        stats = sorted(tuple(r) for r in reader.term_stats().collect())
        assert stats == sorted(tuple(r) for r in without.term_stats().collect())
        terms = [t for t, _, _ in stats][::5] + ["leftover", "zzzzunknowntermzzz"]
        assert reader.query_stats(terms) == without.query_stats(terms)
        for q in QUERIES + ["leftover re-sent"]:
            want = [tuple(r) for r in bm25_search(without, q, "en", K, 0.0).collect()]
            assert want
            for r in (reader, without):
                assert [tuple(x) for x in bm25_search(r, q, "en", K, 0.0).collect()] == want
                assert [tuple(x) for x in bm25_wand_search(r, q, "en", K, 0.0).collect()] == want
        many = [sorted(tuple(x) for x in bm25_wand_search_many(
            r, QUERIES, "en", K, 0.0).collect()) for r in (reader, without)]
        assert many[0] == many[1] and many[0]
        assert fsck_index(spark, idx).collect() == []
    finally:
        shutil.rmtree(idx, ignore_errors=True)
        shutil.rmtree(bare, ignore_errors=True)
