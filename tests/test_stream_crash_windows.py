"""Crash windows of a stream batch's write order.  A batch that appends to
one shard and rewrites another creates its intent marker, then writes, in
order: the docs of every touched shard, their postings, then per event its
manifest rows, term stats and corpus rows, and last deletes its intent
marker.  A fault injected through the package's mutation seam before each
of those mutations, followed by Structured Streaming's replay of the same
batch, must leave stats equal to a full recount and answers equal to a
fresh build of the live pages."""

from __future__ import annotations

import datetime
import re
import shutil
import tempfile

import pandas as pd
import pytest

from document_retrieval_system_spark.operators.index_build import (
    IndexPaths,
    IndexReader,
    add_doc_identity,
    build_index,
    finalize_index,
    fs_exists,
)
from document_retrieval_system_spark.operators.search import bm25_search
from document_retrieval_system_spark.operators.wand import bm25_wand_search
from document_retrieval_system_spark.sources.corpus import PAGES_DDL, gen_pages_pandas
from document_retrieval_system_spark.streaming import incremental as inc

SHARDS = 2
BATCH_ID = 5
QUERIES = ["search engine index", "crashwindowterm ranking"]

# the mutations of a batch that appends to shard 1 and rewrites shard 0
WRITE_ORDER = [
    "intent touch",
    "docs append", "docs overwrite", "postings append", "postings overwrite",
    "manifest rows", "term_stats append", "corpus_stats rows",
    "manifest rows", "term_stats overwrite", "corpus_stats rows",
    "intent delete",
]


@pytest.fixture(scope="module")
def scenario(spark):
    """(base index dir, batch pages, fresh-build answers per query)."""
    base_dir = tempfile.mkdtemp(prefix="drs_window_base_")
    fresh_dir = tempfile.mkdtemp(prefix="drs_window_fresh_")
    try:
        base = gen_pages_pandas(30)
        build_index(spark, spark.createDataFrame(base, PAGES_DDL), base_dir, n_shards=SHARDS)
        docs = IndexReader(spark, base_dir).docs()
        resent = pd.DataFrame(
            [(r["url"], r["warc_ts"] + datetime.timedelta(days=1), None,
              "crashwindowterm re-sent page about ranking", "en")
             for r in docs.filter("shard = 0").orderBy("url").limit(3).collect()],
            columns=["url", "warc_ts", "html", "text", "lang"])
        new = gen_pages_pandas(8, start=30)
        shard_of = {r["url"]: r["shard"] for r in add_doc_identity(
            spark.createDataFrame(new, PAGES_DDL), SHARDS).select("url", "shard").collect()}
        # inserts into both shards: shard 1 is appended to, and shard 0 is
        # rewritten with its inserts
        assert set(shard_of.values()) == {0, 1}, shard_of
        batch = pd.concat([new, resent], ignore_index=True)
        live = pd.concat([base[~base["url"].isin(resent["url"])], batch], ignore_index=True)
        build_index(spark, spark.createDataFrame(live, PAGES_DDL), fresh_dir, n_shards=SHARDS)
        yield base_dir, batch, _answers(spark, fresh_dir)
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)
        shutil.rmtree(fresh_dir, ignore_errors=True)


def _answers(spark, index_dir):
    reader = IndexReader(spark, index_dir)
    return {(scorer.__name__, q): [(r["doc_id"], r["score"]) for r in
                                   scorer(reader, q, "en", 20, 0.0).collect()]
            for q in QUERIES for scorer in (bm25_search, bm25_wand_search)}


def _copy(base_dir):
    idx = tempfile.mkdtemp(prefix="drs_window_idx_")
    shutil.rmtree(idx)
    shutil.copytree(base_dir, idx)
    return idx


def _labels(log):
    """The seam's names with the batch's intent marker called ``intent``."""
    return [name.replace(f"stream_intents/batch-{BATCH_ID}", "intent") for name in log]


def test_replay_after_a_crash_before_each_mutation(spark, scenario, crash_seam,
                                                   assert_stats_current):
    base_dir, batch, want = scenario
    frame = spark.createDataFrame(batch, PAGES_DDL)
    idx = _copy(base_dir)
    try:
        order = crash_seam(idx)
        inc._append_batch(spark, frame, BATCH_ID, IndexPaths(idx), SHARDS)
        assert _labels(order) == WRITE_ORDER
    finally:
        shutil.rmtree(idx, ignore_errors=True)

    for crash_at, mutation in enumerate(WRITE_ORDER):
        step = f"replay after a crash before mutation {crash_at} ({mutation})"
        idx = _copy(base_dir)
        paths = IndexPaths(idx)
        try:
            log = crash_seam(idx, crash_at)
            with pytest.raises(RuntimeError, match=(
                    f"injected crash before {re.escape(order[crash_at])}$")):
                inc._append_batch(spark, frame, BATCH_ID, paths, SHARDS)
            crash_seam()
            assert _labels(log) == WRITE_ORDER[:crash_at], step
            # the marker exists from the first mutation on
            assert fs_exists(spark, inc._intent_marker(paths, BATCH_ID)) == (
                crash_at > 0), step

            inc._append_batch(spark, frame, BATCH_ID, paths, SHARDS)  # the replay
            assert not fs_exists(spark, inc._intent_marker(paths, BATCH_ID)), step
            finalize_index(spark, paths)
            assert_stats_current(idx, step)
            docs = IndexReader(spark, idx).docs()
            assert docs.count() == 38, step
            assert docs.groupBy("shard", "local_no").count().filter(
                "count > 1").count() == 0, step
            got = _answers(spark, idx)
            for key, rows in want.items():
                assert [d for d, _ in got[key]] == [d for d, _ in rows], (step, key)
                for (_, a), (_, b) in zip(got[key], rows):
                    assert a == pytest.approx(b, rel=1e-12), (step, key)
        finally:
            shutil.rmtree(idx, ignore_errors=True)
