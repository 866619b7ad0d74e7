"""Shared fixtures: one SparkSession, one small corpus, one built index."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from document_retrieval_system_spark.oracle import OracleEngine, doc_id_of
from document_retrieval_system_spark.sources.corpus import gen_page
from document_retrieval_system_spark.sources.html_extract import extract_html

N_PAGES = 240
N_SHARDS = 8


@pytest.fixture(scope="session")
def spark():
    from document_retrieval_system_spark.session import get_spark

    spark = get_spark("drs-tests", master="local[4]", shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def corpus_pages():
    """[(url, warc_ts, html bytes, lang)] for the test corpus."""
    return [gen_page(i) for i in range(N_PAGES)]


@pytest.fixture(scope="session")
def oracle_engine(corpus_pages) -> OracleEngine:
    docs = []
    for url, _ts, html, lang in corpus_pages:
        text = extract_html(html, url)["content"]
        docs.append((doc_id_of(url), text, lang))
    return OracleEngine(docs)


@pytest.fixture(scope="session")
def index_dir(spark, corpus_pages):
    from document_retrieval_system_spark.operators.index_build import build_index
    from document_retrieval_system_spark.sources.corpus import pages_df

    tmp = tempfile.mkdtemp(prefix="drs_index_")
    pages = pages_df(spark, N_PAGES)
    build_index(spark, pages, tmp, n_shards=N_SHARDS)
    yield tmp
    shutil.rmtree(tmp, ignore_errors=True)


@pytest.fixture(scope="session")
def reader(spark, index_dir):
    from document_retrieval_system_spark.operators.index_build import IndexReader

    return IndexReader(spark, index_dir)


@pytest.fixture(scope="session")
def assert_stats_current(spark):
    """``check(index_dir, step)``: the stats the commits keep equal a recount
    from the live postings and docs, as a full-corpus pass computes them —
    every term's df and cf, total_docs, total_tokens and the bits of
    avg_doc_length (Spark's avg over the docs with tokens) — and every
    shard's stats stamp is its manifest head."""
    import struct

    from pyspark.sql import functions as F

    from document_retrieval_system_spark.operators.index_build import (
        IndexPaths,
        IndexReader,
        read_table,
        stats_state,
    )

    def check(index_dir, step=""):
        paths = IndexPaths(index_dir)
        reader = IndexReader(spark, index_dir)
        want = read_table(spark, paths, "docs").filter(F.col("doc_len") > 0).agg(
            F.count("*").alias("total_docs"),
            F.avg("doc_len").alias("avg_doc_length"),
            F.sum("doc_len").alias("total_tokens"),
        ).collect()[0]
        got = reader.corpus()
        assert got["total_docs"] == want["total_docs"], step
        assert got["total_tokens"] == (want["total_tokens"] or 0), step
        assert (struct.pack(">d", got["avg_doc_length"])
                == struct.pack(">d", want["avg_doc_length"] or 0.0)), step
        want_ts = {
            r["term"]: (r["df"], r["cf"])
            for r in reader.postings().filter(F.col("block_no") == 0)
            .groupBy("term").agg(F.sum("df_local").alias("df"),
                                 F.sum("cf_local").alias("cf")).collect()
        }
        got_ts = {r["term"]: (r["df"], r["cf"]) for r in reader.term_stats().collect()}
        assert got_ts == want_ts, step
        terms = sorted(want_ts)[::7] + ["zzzzunknowntermzzz"]
        assert reader.query_stats(terms)[1] == {t: want_ts[t][0] for t in terms
                                                if t in want_ts}, step
        heads, stats = stats_state(spark, paths)
        assert {s: stats.get(s, (0, 0, None))[2] for s in heads} == heads, step

    return check


class InjectedCrash(RuntimeError):
    """The fault a test raises through the package's mutation seam."""


@pytest.fixture
def crash_seam(monkeypatch):
    """``install(root="", crash_at=None, crash_before=None)`` patches the
    one crash seam of every index and ANN writer (``index_build._mutation``)
    and returns the list it logs each mutation's name to, paths under
    ``root`` made relative to it.  It raises ``InjectedCrash`` before
    mutation number ``crash_at`` (0-based), or before the first one whose
    name starts with ``crash_before``.  ``install()`` disarms it."""
    from document_retrieval_system_spark.operators import index_build as ib

    def install(root="", crash_at=None, crash_before=None):
        log = []

        def mutation(name):
            obj, verb = name.rsplit(" ", 1)
            if root and (obj == root or obj.startswith(root + os.sep)):
                name = f"{os.path.relpath(obj, root)} {verb}"
            if len(log) == crash_at or (crash_before and name.startswith(crash_before)):
                raise InjectedCrash(f"injected crash before {name}")
            log.append(name)

        monkeypatch.setattr(ib, "_mutation", mutation)
        return log

    return install
