"""Segment merge (operators/merge.py): merging independently-built
indexes must be indistinguishable from one fresh build over the union
corpus — byte-identical posting blocks, identical docs/stats — with
newest-segment-wins supersede on doc_id and optional re-sharding."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from document_retrieval_system_spark.operators.index_build import (
    IndexReader,
    build_index,
)
from document_retrieval_system_spark.operators.merge import merge_indexes
from document_retrieval_system_spark.operators.search import bm25_search
from document_retrieval_system_spark.sources.corpus import pages_df

N = 120


@pytest.fixture
def dirs():
    made = []

    def mk(prefix):
        d = tempfile.mkdtemp(prefix=f"drs_{prefix}_")
        made.append(d)
        return d

    yield mk
    for d in made:
        shutil.rmtree(d, ignore_errors=True)


def _blocks_key(reader):
    rows = reader.postings().collect()
    return sorted(
        (
            r["shard"], r["term"], r["block_no"], r["n"], r["first_doc"],
            r["last_doc"], r["df_local"], r["cf_local"], r["max_tf"],
            r["min_dl"], bytes(r["doc_bytes"]), bytes(r["tf_bytes"]),
            bytes(r["dl_bytes"]), bytes(r["pos_bytes"]),
        )
        for r in rows
    )


def _docs_key(reader):
    rows = reader.docs().select(
        "shard", "local_no", "doc_id", "url", "doc_len"
    ).collect()
    return sorted((r["shard"], r["local_no"], r["doc_id"], r["url"], r["doc_len"])
                  for r in rows)


def test_merge_equals_fresh_build(spark, dirs):
    """Two overlapping halves, built separately then merged, reproduce
    the fresh full build bit-for-bit (same shard count): identical docs
    table, BYTE-identical posting blocks, identical term stats."""
    pages = pages_df(spark, N)
    parity = F.pmod(F.xxhash64(F.md5("url")), F.lit(2))
    overlap = F.pmod(F.xxhash64(F.md5("url")), F.lit(5)) == 0
    half_a = pages.filter((parity == 0) | overlap)
    half_b = pages.filter((parity == 1) | overlap)

    full_dir, a_dir, b_dir, m_dir = dirs("full"), dirs("a"), dirs("b"), dirs("m")
    build_index(spark, pages, full_dir, n_shards=6)
    build_index(spark, half_a, a_dir, n_shards=3)
    build_index(spark, half_b, b_dir, n_shards=3)
    merge_indexes(spark, [a_dir, b_dir], m_dir, n_shards=6)

    full, merged = IndexReader(spark, full_dir), IndexReader(spark, m_dir)
    assert _docs_key(merged) == _docs_key(full)
    assert _blocks_key(merged) == _blocks_key(full)
    ts = lambda rd: sorted(  # noqa: E731
        (r["term"], r["df"], r["cf"]) for r in rd.term_stats().collect()
    )
    assert ts(merged) == ts(full)
    assert merged.corpus() == full.corpus()
    kinds = {r["kind"] for r in merged.manifest().select("kind").collect()}
    assert kinds == {"merge"}


def test_merge_supersede_newest_wins(spark, dirs):
    """A url present in two segments keeps ONLY the newest segment's
    content: the old copy's postings do not survive the merge."""
    rows_old = [("http://x.test/dup", "alpha beta alpha"),
                ("http://x.test/only-old", "gamma delta")]
    rows_new = [("http://x.test/dup", "epsilon zeta"),
                ("http://x.test/only-new", "eta theta")]

    def seg(rows):
        return spark.createDataFrame(
            [(u, None, None, t, "en") for u, t in rows],
            "url string, warc_ts timestamp, html binary, text string, lang string",
        )

    old_dir, new_dir, m_dir = dirs("old"), dirs("new"), dirs("m2")
    build_index(spark, seg(rows_old), old_dir, n_shards=2)
    build_index(spark, seg(rows_new), new_dir, n_shards=2)
    merge_indexes(spark, [old_dir, new_dir], m_dir, n_shards=2)

    merged = IndexReader(spark, m_dir)
    urls = sorted(r["url"] for r in merged.docs().select("url").collect())
    assert urls == sorted(
        ["http://x.test/dup", "http://x.test/only-new", "http://x.test/only-old"]
    )
    hit = lambda q: {  # noqa: E731
        r["url"] for r in bm25_search(merged, q, "en", 10, 0.0).collect()
    }
    assert hit("epsilon") == {"http://x.test/dup"}
    assert hit("alpha") == set()          # superseded postings are gone
    assert hit("gamma") == {"http://x.test/only-old"}


def test_merge_reshards_and_searches(spark, dirs):
    """Merging into a DIFFERENT shard count (3+3 -> 5) yields the same
    search results as the fresh build — merge is the re-shard primitive."""
    pages = pages_df(spark, N)
    parity = F.pmod(F.xxhash64(F.md5("url")), F.lit(2))
    a_dir, b_dir, m_dir, full_dir = dirs("ra"), dirs("rb"), dirs("rm"), dirs("rf")
    build_index(spark, pages.filter(parity == 0), a_dir, n_shards=3)
    build_index(spark, pages.filter(parity == 1), b_dir, n_shards=3)
    merge_indexes(spark, [a_dir, b_dir], m_dir, n_shards=5)
    build_index(spark, pages, full_dir, n_shards=5)

    merged, full = IndexReader(spark, m_dir), IndexReader(spark, full_dir)
    res = lambda rd: [  # noqa: E731
        (r["url"], round(r["score"], 9))
        for r in bm25_search(rd, "data system", "en", 25, 0.0).collect()
    ]
    assert sorted(res(merged)) == sorted(res(full))
    assert {r["shard"] for r in merged.docs().select("shard").collect()} <= set(range(5))


def test_plan_merges_tiered_policy():
    from document_retrieval_system_spark.operators.merge import plan_merges

    sizes = {
        "s_a": 5, "s_b": 7, "s_c": 9,          # tier 0 (< 10)
        "s_d": 120, "s_e": 800,                # tier 2
        "s_f": 15_000,                         # tier 4 — alone, not merged
        "s_g": 0, "s_h": 0,                    # empty tier, merges first
    }
    plans = plan_merges(sizes, factor=10, min_merge=2, max_merge=10)
    assert plans[0] == ["s_g", "s_h"]                  # empties first
    assert ["s_a", "s_b", "s_c"] in plans              # ascending size
    assert ["s_d", "s_e"] in plans
    assert all("s_f" not in g for g in plans)          # singleton tier stays

    # max_merge splits an overfull tier; trailing undersized group drops
    many = {f"t{i:02d}": 3 for i in range(7)}
    got = plan_merges(many, factor=10, min_merge=3, max_merge=3)
    assert got == [["t00", "t01", "t02"], ["t03", "t04", "t05"]]

    import pytest as _pytest
    with _pytest.raises(ValueError):
        plan_merges({"x": -1})
    with _pytest.raises(ValueError):
        plan_merges({"x": 1}, factor=1)


def test_merge_retry_after_partial_output_is_idempotent(spark, dirs):
    """A merge that died mid-write leaves a partial out_dir; re-running
    the same merge converges to the correct index (merge starts by
    clearing its target, so retry == first run)."""
    import os

    pages = pages_df(spark, 60)
    parity = F.pmod(F.xxhash64(F.md5("url")), F.lit(2))
    a_dir, b_dir, m_dir = dirs("pa"), dirs("pb"), dirs("pm")
    build_index(spark, pages.filter(parity == 0), a_dir, n_shards=2)
    build_index(spark, pages.filter(parity == 1), b_dir, n_shards=2)

    merge_indexes(spark, [a_dir, b_dir], m_dir, n_shards=2)
    want_docs = _docs_key(IndexReader(spark, m_dir))
    want_blocks = _blocks_key(IndexReader(spark, m_dir))

    # simulate a crash window: manifest + one sidecar missing, postings
    # partially present — retry must not double-append or trust leftovers
    shutil.rmtree(os.path.join(m_dir, "manifest"))
    shutil.rmtree(os.path.join(m_dir, "corpus_stats"))
    merge_indexes(spark, [a_dir, b_dir], m_dir, n_shards=2)
    after = IndexReader(spark, m_dir)
    assert _docs_key(after) == want_docs
    assert _blocks_key(after) == want_blocks
    from document_retrieval_system_spark.operators.fsck import fsck_index
    assert fsck_index(spark, m_dir).count() == 0


def test_merge_refuses_overlapping_target(spark, dirs):
    import os

    import pytest as _pytest

    a = dirs("ovl")
    build_index(spark, pages_df(spark, 10), a, n_shards=2)
    for bad in (a, os.path.join(a, "sub"), os.path.dirname(a)):
        with _pytest.raises(ValueError, match="overlaps"):
            merge_indexes(spark, [a], bad, n_shards=2)
    assert IndexReader(spark, a).docs().count() == 10  # source untouched


def test_plan_merges_exact_power_boundaries():
    from document_retrieval_system_spark.operators.merge import plan_merges

    # floats put floor(log10(1000)) at 2; the integer tiering must not
    sizes = {"k1": 1000, "k2": 4000, "small": 999}
    plans = plan_merges(sizes, factor=10, min_merge=2)
    assert ["k1", "k2"] in plans
    assert all("small" not in g for g in plans)
