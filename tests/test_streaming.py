"""Structured-Streaming incremental index maintenance: new page batches
appended as delta segments must be query-visible and upsert-guarded."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from document_retrieval_system_spark.operators.index_build import (
    IndexReader,
    build_index,
)
from document_retrieval_system_spark.operators.search import bm25_search
from document_retrieval_system_spark.sources.corpus import PAGES_DDL, gen_pages_pandas
from document_retrieval_system_spark.streaming.incremental import run_incremental

SHARDS = 4


@pytest.fixture(scope="module")
def dirs():
    d = {k: tempfile.mkdtemp(prefix=f"drs_stream_{k}_") for k in
         ("index", "incoming", "ckpt")}
    yield d
    for p in d.values():
        shutil.rmtree(p, ignore_errors=True)


def test_incremental_update_replaces_old_version(spark):
    """A url re-sent with NEWER warc_ts must supersede the old version
    everywhere: one doc row, no stale postings, stats not double-counted
    (reference remove_document-then-add, indexer.py:405-411)."""
    import datetime

    d = {k: tempfile.mkdtemp(prefix=f"drs_upd_{k}_") for k in
         ("index", "incoming", "ckpt")}
    try:
        base_pd = gen_pages_pandas(30)
        build_index(spark, spark.createDataFrame(base_pd, PAGES_DDL),
                    d["index"], n_shards=SHARDS)
        r = IndexReader(spark, d["index"])
        targets = r.docs().select("url", "warc_ts").orderBy("url").limit(5).collect()
        t_urls = {t["url"] for t in targets}
        upd = [
            (t["url"], t["warc_ts"] + datetime.timedelta(days=1), None,
             "updated streaming content markertermxyz", "en")
            for t in targets
        ]
        new = gen_pages_pandas(3, start=30)
        spark.createDataFrame(upd, PAGES_DDL).write.mode("overwrite").parquet(
            d["incoming"] + "/b1"
        )
        spark.createDataFrame(new, PAGES_DDL).write.mode("append").parquet(
            d["incoming"] + "/b1"
        )
        run_incremental(spark, d["incoming"] + "/b1", d["index"], d["ckpt"],
                        n_shards=SHARDS)

        r2 = IndexReader(spark, d["index"])
        # exactly one version per url; no double-counted stats
        assert r2.docs().count() == 33
        assert r2.docs().groupBy("doc_id").count().filter("count > 1").count() == 0
        assert (
            r2.docs().groupBy("shard", "local_no").count()
            .filter("count > 1").count() == 0
        )
        assert r2.corpus()["total_docs"] == 33
        # new content searchable, attributed to exactly the updated urls
        hits = bm25_search(r2, "markertermxyz", "en", 100, 0.0).collect()
        assert {h["url"] for h in hits} == t_urls
        # old version really gone: updated docs carry only the new text
        for row in r2.docs().filter(F.col("url").isin(list(t_urls))).collect():
            assert row["text"].startswith("updated streaming"), row["url"]

        # stale postings gone: streamed-updated index == batch rebuild of
        # the equivalent corpus, score-identical
        oneshot = tempfile.mkdtemp(prefix="drs_upd_oneshot_")
        try:
            kept = base_pd[~base_pd["url"].isin(t_urls)]
            allpages = spark.createDataFrame(kept, PAGES_DDL).unionByName(
                spark.createDataFrame(upd, PAGES_DDL)
            ).unionByName(spark.createDataFrame(new, PAGES_DDL))
            build_index(spark, allpages, oneshot, n_shards=SHARDS)
            for q, lang in (("数据 算法", "zh"), ("markertermxyz content", "en")):
                a = {(row["doc_id"], round(row["score"], 9))
                     for row in bm25_search(r2, q, lang, 200, 0.0).collect()}
                b = {(row["doc_id"], round(row["score"], 9))
                     for row in bm25_search(IndexReader(spark, oneshot),
                                            q, lang, 200, 0.0).collect()}
                assert a == b, q
        finally:
            shutil.rmtree(oneshot, ignore_errors=True)
    finally:
        for p in d.values():
            shutil.rmtree(p, ignore_errors=True)


def test_incremental_append_and_upsert_guard(spark, dirs):
    # base index: pages 0..79
    base = spark.createDataFrame(gen_pages_pandas(80), PAGES_DDL)
    build_index(spark, base, dirs["index"], n_shards=SHARDS)
    r = IndexReader(spark, dirs["index"])
    n_base = r.docs().count()
    assert n_base == 80

    # stream in: 40 new pages + 10 re-sent old pages (same warc_ts ->
    # must be skipped by the I6 upsert guard)
    new = gen_pages_pandas(40, start=80)
    resent = gen_pages_pandas(10, start=0)
    spark.createDataFrame(new, PAGES_DDL).write.mode("overwrite").parquet(
        dirs["incoming"] + "/b1"
    )
    spark.createDataFrame(resent, PAGES_DDL).write.mode("append").parquet(
        dirs["incoming"] + "/b1"
    )
    run_incremental(spark, dirs["incoming"] + "/b1", dirs["index"],
                    dirs["ckpt"], n_shards=SHARDS)

    r2 = IndexReader(spark, dirs["index"])
    assert r2.docs().count() == 120  # 80 base + 40 new, 10 resends skipped
    # no duplicate doc_ids
    assert r2.docs().groupBy("doc_id").count().filter("count > 1").count() == 0
    # local_no stays unique per shard (delta segment numbering continues)
    assert (
        r2.docs().groupBy("shard", "local_no").count().filter("count > 1").count() == 0
    )

    # streamed docs are searchable with correct global stats
    oneshot_dir = tempfile.mkdtemp(prefix="drs_stream_oneshot_")
    try:
        allpages = spark.createDataFrame(gen_pages_pandas(120), PAGES_DDL)
        build_index(spark, allpages, oneshot_dir, n_shards=SHARDS)
        a = {(row["doc_id"], round(row["score"], 9))
             for row in bm25_search(r2, "数据 算法", "zh", 200, 0.0).collect()}
        b = {(row["doc_id"], round(row["score"], 9))
             for row in bm25_search(IndexReader(spark, oneshot_dir),
                                    "数据 算法", "zh", 200, 0.0).collect()}
        assert {d for d, _ in a} == {d for d, _ in b}
        assert a == b  # identical scores: streaming append == batch rebuild
    finally:
        shutil.rmtree(oneshot_dir, ignore_errors=True)


def _score_set(reader, q, lang="zh"):
    return {(row["doc_id"], round(row["score"], 9))
            for row in bm25_search(reader, q, lang, 200, 0.0).collect()}


def test_update_rewrite_analyzer_bounded_by_batch(spark, monkeypatch):
    """r3 contract: a shard rewrite re-tokenizes ONLY the batch's rows —
    survivor postings come from the codec, never the analyzer (r2 re-ran
    the full analyzer over every surviving doc of an updated shard)."""
    import datetime

    from document_retrieval_system_spark.streaming import incremental as inc

    d = {k: tempfile.mkdtemp(prefix=f"drs_cnt_{k}_") for k in
         ("index", "incoming", "ckpt")}
    try:
        base = gen_pages_pandas(60)
        build_index(spark, spark.createDataFrame(base, PAGES_DDL),
                    d["index"], n_shards=2)  # 2 shards -> ~30 docs/shard
        r = IndexReader(spark, d["index"])
        targets = r.docs().select("url", "warc_ts").orderBy("url").limit(3).collect()
        upd = [
            (t["url"], t["warc_ts"] + datetime.timedelta(days=1), None,
             "rewritten doc countertermabc", "en")
            for t in targets
        ]

        tokenized_rows = []
        real = inc.tokenize_docs

        def counting_tokenize(docs, analyzer=None):
            tokenized_rows.append(docs.count())
            return real(docs, analyzer=analyzer)

        monkeypatch.setattr(inc, "tokenize_docs", counting_tokenize)
        spark.createDataFrame(upd, PAGES_DDL).write.mode("overwrite").parquet(
            d["incoming"] + "/b1"
        )
        run_incremental(spark, d["incoming"] + "/b1", d["index"], d["ckpt"],
                        n_shards=2)
        # analyzer input == batch size (3), NOT the ~30-60 shard survivors
        assert sum(tokenized_rows) == 3, tokenized_rows

        r2 = IndexReader(spark, d["index"])
        assert r2.docs().count() == 60
        hits = bm25_search(r2, "countertermabc", "en", 100, 0.0).collect()
        assert {h["url"] for h in hits} == {t["url"] for t in targets}
        # survivor postings byte-round-tripped: streamed == batch rebuild
        oneshot = tempfile.mkdtemp(prefix="drs_cnt_oneshot_")
        try:
            t_urls = {t["url"] for t in targets}
            kept = base[~base["url"].isin(t_urls)]
            allpages = spark.createDataFrame(kept, PAGES_DDL).unionByName(
                spark.createDataFrame(upd, PAGES_DDL))
            build_index(spark, allpages, oneshot, n_shards=2)
            ro = IndexReader(spark, oneshot)
            for q, lang in (("数据 算法", "zh"), ("countertermabc doc", "en")):
                assert _score_set(r2, q, lang) == _score_set(ro, q, lang), q
        finally:
            shutil.rmtree(oneshot, ignore_errors=True)
    finally:
        for p in d.values():
            shutil.rmtree(p, ignore_errors=True)


def test_crash_replay_between_docs_and_postings_is_idempotent(spark, crash_seam,
                                                              assert_stats_current):
    """The replay crash window (ADVICE r2): docs partitions overwritten,
    crash before the postings overwrite, Structured Streaming re-runs the
    SAME batch whose warc_ts now EQUALS the stored ones.  The intent
    marker + widened (>=) guard must re-run the full shard rewrite; the
    strict guard alone would skip the rows and leave postings pointing at
    the pre-rewrite numbering forever."""
    import datetime

    from document_retrieval_system_spark.operators.index_build import IndexPaths
    from document_retrieval_system_spark.streaming import incremental as inc

    d = {"index": tempfile.mkdtemp(prefix="drs_crash_index_")}
    oneshot = tempfile.mkdtemp(prefix="drs_crash_oneshot_")
    try:
        base = gen_pages_pandas(40)
        build_index(spark, spark.createDataFrame(base, PAGES_DDL),
                    d["index"], n_shards=2)
        r = IndexReader(spark, d["index"])
        targets = r.docs().select("url", "warc_ts").orderBy("url").limit(4).collect()
        upd = [
            (t["url"], t["warc_ts"] + datetime.timedelta(days=1), None,
             "crashy update replaytermqq", "en")
            for t in targets
        ]
        batch = spark.createDataFrame(upd, PAGES_DDL)
        paths = IndexPaths(d["index"])

        # the crash: after the docs overwrite, before any postings write
        log = crash_seam(crash_before="postings ")
        import pytest as _pytest
        with _pytest.raises(RuntimeError, match="injected crash"):
            inc._append_batch(spark, batch, 7, paths, 2)
        assert log[-1] == "docs overwrite"
        # crash state: new docs written, postings stale, marker present
        from document_retrieval_system_spark.operators.index_build import fs_exists
        assert fs_exists(spark, inc._intent_marker(paths, 7))

        crash_seam()
        inc._append_batch(spark, batch, 7, paths, 2)  # foreachBatch replay
        assert not fs_exists(spark, inc._intent_marker(paths, 7))
        from document_retrieval_system_spark.operators.index_build import (
            finalize_index,
        )
        finalize_index(spark, paths)
        assert_stats_current(d["index"], "after the replay")

        r2 = IndexReader(spark, d["index"])
        assert r2.docs().count() == 40
        assert (r2.docs().groupBy("shard", "local_no").count()
                .filter("count > 1").count() == 0)
        t_urls = {t["url"] for t in targets}
        hits = bm25_search(r2, "replaytermqq", "en", 100, 0.0).collect()
        assert {h["url"] for h in hits} == t_urls
        # full equivalence with a batch rebuild (docs/postings numbering
        # coherent — the silent-corruption mode this guards against)
        kept = base[~base["url"].isin(t_urls)]
        allpages = spark.createDataFrame(kept, PAGES_DDL).unionByName(
            spark.createDataFrame(upd, PAGES_DDL))
        build_index(spark, allpages, oneshot, n_shards=2)
        ro = IndexReader(spark, oneshot)
        for q, lang in (("数据 算法", "zh"), ("replaytermqq update", "en")):
            assert _score_set(r2, q, lang) == _score_set(ro, q, lang), q
    finally:
        shutil.rmtree(d["index"], ignore_errors=True)
        shutil.rmtree(oneshot, ignore_errors=True)


def test_compaction_merges_delta_segments(spark):
    """After N append batches, compaction must collapse per-batch posting
    segments: identical query results, strictly fewer block rows, and a
    manifest row recording the compaction wave."""
    from document_retrieval_system_spark.operators.index_build import IndexPaths
    from document_retrieval_system_spark.streaming.incremental import (
        compact_shards,
    )

    d = {k: tempfile.mkdtemp(prefix=f"drs_cpt_{k}_") for k in
         ("index", "incoming", "ckpt")}
    try:
        build_index(spark, spark.createDataFrame(gen_pages_pandas(30), PAGES_DDL),
                    d["index"], n_shards=2)
        # three delta batches of inserts -> up to 4 segments per term
        for i in range(3):
            pages = gen_pages_pandas(10, start=30 + 10 * i)
            spark.createDataFrame(pages, PAGES_DDL).write.mode(
                "overwrite").parquet(d["incoming"] + f"/b{i}")
            run_incremental(spark, d["incoming"] + f"/b{i}", d["index"],
                            d["ckpt"] + f"/c{i}", n_shards=2)
        r = IndexReader(spark, d["index"])
        pre_blocks = r.postings().count()
        pre = {q: _score_set(r, q) for q in ("数据 算法", "系统 人工智能")}
        # multi-segment state must actually exist pre-compaction
        assert (r.postings().groupBy("shard", "term", "block_no").count()
                .filter("count > 1").count() > 0)

        paths = IndexPaths(d["index"])
        compact_shards(spark, paths)

        r2 = IndexReader(spark, d["index"])
        post_blocks = r2.postings().count()
        assert post_blocks < pre_blocks, (pre_blocks, post_blocks)
        # one segment per (shard, term): block_no unique again
        assert (r2.postings().groupBy("shard", "term", "block_no").count()
                .filter("count > 1").count() == 0)
        for q, want in pre.items():
            assert _score_set(r2, q) == want, q
        manifest = r2.manifest()
        assert manifest.filter("status = 'compaction'").count() > 0
    finally:
        for p in d.values():
            shutil.rmtree(p, ignore_errors=True)


def test_crash_replay_with_inserts_into_updated_shard(spark, crash_seam,
                                                      assert_stats_current):
    """The r3 review's corruption repro: a batch carrying BOTH an update
    and brand-new urls that land in the same shard, crashing between the
    docs and postings overwrites.  Under dense renumbering the replay
    joined old-numbered posting blocks against the already-renumbered
    docs table, silently attaching survivor postings to whichever doc
    now occupied the ordinal.  Stable local_no (survivors keep their
    ordinal; fresh rows allocate past the shard max) makes the replay
    rebuild bit-equivalent to a batch rebuild."""
    import datetime

    from document_retrieval_system_spark.operators.index_build import (
        IndexPaths,
        add_doc_identity,
        fs_exists,
    )
    from document_retrieval_system_spark.streaming import incremental as inc

    idx = tempfile.mkdtemp(prefix="drs_crashmix_index_")
    oneshot = tempfile.mkdtemp(prefix="drs_crashmix_oneshot_")
    try:
        base = gen_pages_pandas(40)
        build_index(spark, spark.createDataFrame(base, PAGES_DDL), idx,
                    n_shards=2)
        r = IndexReader(spark, idx)
        targets = r.docs().select("url", "warc_ts").orderBy("url").limit(2).collect()
        upd = [
            (t["url"], t["warc_ts"] + datetime.timedelta(days=1), None,
             "mixed update replaytermzz", "en")
            for t in targets
        ]
        new = [
            (f"https://new.example.org/fresh-{i}", targets[0]["warc_ts"], None,
             f"fresh insert replaytermzz doc {i}", "en")
            for i in range(8)
        ]
        batch = spark.createDataFrame(upd + new, PAGES_DDL)
        # the repro requires >=1 brand-new url in an UPDATED shard
        upd_shards = {
            r2["shard"] for r2 in add_doc_identity(
                spark.createDataFrame(upd, PAGES_DDL), 2).select("shard").collect()
        }
        new_shards = {
            r2["shard"] for r2 in add_doc_identity(
                spark.createDataFrame(new, PAGES_DDL), 2).select("shard").collect()
        }
        assert upd_shards & new_shards, (upd_shards, new_shards)
        paths = IndexPaths(idx)

        # the crash: after the docs overwrite, before any postings write
        log = crash_seam(crash_before="postings ")
        with pytest.raises(RuntimeError, match="injected crash"):
            inc._append_batch(spark, batch, 3, paths, 2)
        assert log[-1] == "docs overwrite"
        assert fs_exists(spark, inc._intent_marker(paths, 3))

        crash_seam()
        inc._append_batch(spark, batch, 3, paths, 2)  # replay
        assert not fs_exists(spark, inc._intent_marker(paths, 3))
        from document_retrieval_system_spark.operators.index_build import (
            finalize_index,
        )
        finalize_index(spark, paths)
        assert_stats_current(idx, "after the replay")

        r2 = IndexReader(spark, idx)
        assert r2.docs().count() == 48
        assert (r2.docs().groupBy("shard", "local_no").count()
                .filter("count > 1").count() == 0)
        # full BM25 equivalence with a one-shot batch rebuild
        t_urls = {t["url"] for t in targets}
        kept = base[~base["url"].isin(t_urls)]
        allpages = spark.createDataFrame(kept, PAGES_DDL).unionByName(
            spark.createDataFrame(upd + new, PAGES_DDL))
        build_index(spark, allpages, oneshot, n_shards=2)
        ro = IndexReader(spark, oneshot)
        for q, lang in (("数据 算法", "zh"), ("replaytermzz fresh", "en")):
            assert _score_set(r2, q, lang) == _score_set(ro, q, lang), q
    finally:
        shutil.rmtree(idx, ignore_errors=True)
        shutil.rmtree(oneshot, ignore_errors=True)


def test_first_batch_crash_before_postings_replays_clean(spark, monkeypatch,
                                                         assert_stats_current):
    """Very first batch of a brand-new index crashing after the docs
    append but before any postings exist: the replay routes every row
    (equal warc_ts + intent marker => >= guard) through the shard
    rewrite, which must read an EMPTY postings frame — not die on
    PATH_NOT_FOUND forever."""
    from document_retrieval_system_spark.operators.index_build import (
        IndexPaths,
        finalize_index,
        fs_exists,
    )
    from document_retrieval_system_spark.streaming import incremental as inc

    idx = tempfile.mkdtemp(prefix="drs_first_index_")
    oneshot = tempfile.mkdtemp(prefix="drs_first_oneshot_")
    try:
        pages = gen_pages_pandas(20)
        batch = spark.createDataFrame(pages, PAGES_DDL)
        paths = IndexPaths(idx)

        def boom(*a, **k):
            raise RuntimeError("injected crash before postings")

        monkeypatch.setattr(inc, "build_postings", boom)
        with pytest.raises(RuntimeError, match="injected crash"):
            inc._append_batch(spark, batch, 0, paths, 2)
        assert fs_exists(spark, paths.docs)
        assert not fs_exists(spark, paths.postings)
        assert fs_exists(spark, inc._intent_marker(paths, 0))

        monkeypatch.undo()
        inc._append_batch(spark, batch, 0, paths, 2)  # replay
        assert not fs_exists(spark, inc._intent_marker(paths, 0))
        finalize_index(spark, paths)
        assert_stats_current(idx, "after the replay")

        build_index(spark, batch, oneshot, n_shards=2)
        r, ro = IndexReader(spark, idx), IndexReader(spark, oneshot)
        assert r.docs().count() == 20
        assert _score_set(r, "数据 算法", "zh") == _score_set(ro, "数据 算法", "zh")
    finally:
        shutil.rmtree(idx, ignore_errors=True)
        shutil.rmtree(oneshot, ignore_errors=True)


def test_manifest_stats_survive_compaction_and_replay(spark, monkeypatch):
    """index_statistics must not double-count after events that re-record
    shard totals: a compaction snapshot row and a replayed (re-appended)
    stream batch both coexist with earlier rows in the append-only
    manifest log."""
    from document_retrieval_system_spark.operators.index_build import IndexPaths
    from document_retrieval_system_spark.sources.tables import index_statistics
    from document_retrieval_system_spark.streaming import incremental as inc
    from document_retrieval_system_spark.streaming.incremental import (
        compact_shards,
    )

    idx = tempfile.mkdtemp(prefix="drs_mstats_index_")
    try:
        build_index(spark, spark.createDataFrame(gen_pages_pandas(30), PAGES_DDL),
                    idx, n_shards=2)
        paths = IndexPaths(idx)
        # one insert batch, then the SAME batch replayed after a fake
        # crash (marker present) -> duplicate stream-batch manifest rows
        batch = spark.createDataFrame(gen_pages_pandas(10, start=30), PAGES_DDL)
        inc._append_batch(spark, batch, 0, paths, 2)
        inc.fs_touch(spark, inc._intent_marker(paths, 0))
        inc._append_batch(spark, batch, 0, paths, 2)  # replay
        compact_shards(spark, paths)
        from document_retrieval_system_spark.operators.index_build import (
            IndexReader,
            finalize_index,
        )
        finalize_index(spark, paths)

        r = IndexReader(spark, idx)
        stats = index_statistics(r)
        truth = r.postings().agg(F.sum("n").alias("n")).collect()[0]["n"]
        assert stats["postings"] == truth, (stats["postings"], truth)
        assert stats["docs_parsed"] == 40, stats["docs_parsed"]
        assert stats["total_docs"] == 40
    finally:
        shutil.rmtree(idx, ignore_errors=True)


def test_manifest_stats_full_lifecycle(spark):
    """index_statistics must track ground truth through the whole
    maintenance lifecycle: batch build -> stream insert -> stream update
    (shard rewrite) -> compaction -> deletion.  After every step the
    manifest-derived posting totals must equal the postings table and
    docs_parsed must count parse EVENTS (never survivors or replays)."""
    import datetime

    from document_retrieval_system_spark.operators.index_build import IndexPaths
    from document_retrieval_system_spark.sources.tables import (
        delete_documents,
        index_statistics,
    )
    from document_retrieval_system_spark.streaming import incremental as inc
    from document_retrieval_system_spark.streaming.incremental import (
        compact_shards,
    )
    from document_retrieval_system_spark.operators.index_build import (
        IndexReader,
        finalize_index,
    )

    idx = tempfile.mkdtemp(prefix="drs_life_idx_")
    try:
        base = gen_pages_pandas(30)
        build_index(spark, spark.createDataFrame(base, PAGES_DDL), idx,
                    n_shards=2)
        paths = IndexPaths(idx)

        def check(expected_parsed, note):
            finalize_index(spark, paths)
            r = IndexReader(spark, idx)
            stats = index_statistics(r)
            truth = r.postings().agg(F.sum("n").alias("n")).collect()[0]["n"] or 0
            truth_blocks = r.postings().count()
            assert stats["postings"] == truth, (note, stats["postings"], truth)
            assert stats["blocks"] == truth_blocks, (note, stats["blocks"])
            assert stats["docs_parsed"] == expected_parsed, (
                note, stats["docs_parsed"])

        check(30, "after build")

        inc._append_batch(
            spark, spark.createDataFrame(gen_pages_pandas(10, start=30),
                                         PAGES_DDL), 0, paths, 2)
        check(40, "after insert batch")

        r = IndexReader(spark, idx)
        targets = r.docs().select("url", "warc_ts").orderBy("url").limit(4).collect()
        upd = [(t["url"], t["warc_ts"] + datetime.timedelta(days=1), None,
                "lifecycle update text", "en") for t in targets]
        inc._append_batch(spark, spark.createDataFrame(upd, PAGES_DDL), 1,
                          paths, 2)
        check(44, "after update rewrite")

        compact_shards(spark, paths)
        check(44, "after compaction")

        victims = [t["url"] for t in targets[:2]]
        delete_documents(spark, idx, victims)
        check(44, "after delete")
    finally:
        shutil.rmtree(idx, ignore_errors=True)

def test_delete_crash_before_postings_rebuild_repairs(spark, monkeypatch,
                                                      assert_stats_current):
    """A delete that dies between the docs overwrite and the postings
    rebuild leaves orphaned postings + a surviving intent marker; the
    next maintenance entry point must repair the shards (orphans dropped,
    snapshot manifest rows written) before doing anything else."""
    from document_retrieval_system_spark.operators import index_build as ib
    from document_retrieval_system_spark.operators.index_build import (
        IndexPaths,
        finalize_index,
        fs_exists,
        maintenance_intent_path,
    )
    from document_retrieval_system_spark.sources.tables import (
        delete_documents,
        index_statistics,
    )

    idx = tempfile.mkdtemp(prefix="drs_delcrash_idx_")
    try:
        base = gen_pages_pandas(40)
        build_index(spark, spark.createDataFrame(base, PAGES_DDL), idx,
                    n_shards=2)
        paths = IndexPaths(idx)
        victims = list(base["url"][:3])

        def boom(*a, **kw):
            raise RuntimeError("injected crash before postings rebuild")

        real = ib.rebuild_shard_postings
        monkeypatch.setattr(ib, "rebuild_shard_postings", boom)
        with pytest.raises(RuntimeError, match="injected"):
            delete_documents(spark, idx, victims)
        monkeypatch.setattr(ib, "rebuild_shard_postings", real)

        # crash window state: marker survives, postings orphaned
        assert fs_exists(spark, maintenance_intent_path(paths))
        r = IndexReader(spark, idx)
        from document_retrieval_system_spark.operators.index_build import (
            flat_postings,
        )

        orphans = (
            flat_postings(r.postings(), with_positions="bytes")
            .join(r.docs().select("shard", "local_no"),
                  ["shard", "local_no"], "left_anti").count()
        )
        assert orphans > 0, "crash window should leave orphaned postings"

        # next maintenance entry repairs first: a retried delete of the
        # SAME urls is the natural caller path
        delete_documents(spark, idx, victims)
        assert not fs_exists(spark, maintenance_intent_path(paths))
        finalize_index(spark, paths)
        assert_stats_current(idx, "after the replay")
        r = IndexReader(spark, idx)
        assert (
            flat_postings(r.postings(), with_positions="bytes")
            .join(r.docs().select("shard", "local_no"),
                  ["shard", "local_no"], "left_anti").count() == 0
        )
        remaining = {x["url"] for x in r.docs().select("url").collect()}
        assert remaining.isdisjoint(set(victims))
        stats = index_statistics(r)
        truth = r.postings().agg(F.sum("n").alias("n")).collect()[0]["n"] or 0
        assert stats["postings"] == truth
    finally:
        shutil.rmtree(idx, ignore_errors=True)


def test_compaction_crash_before_manifest_snapshot_repairs(spark, crash_seam,
                                                           assert_stats_current):
    """A compaction that dies after the postings overwrite but before its
    manifest snapshot leaves counters stale with no record of the
    rewrite; the surviving marker must repair on the next compaction."""
    from document_retrieval_system_spark.operators.index_build import (
        IndexPaths,
        finalize_index,
        fs_exists,
        maintenance_intent_path,
    )
    from document_retrieval_system_spark.sources.tables import index_statistics
    from document_retrieval_system_spark.streaming import incremental as inc
    from document_retrieval_system_spark.streaming.incremental import (
        compact_shards,
    )

    idx = tempfile.mkdtemp(prefix="drs_cmpcrash_idx_")
    try:
        build_index(
            spark,
            spark.createDataFrame(gen_pages_pandas(30), PAGES_DDL),
            idx, n_shards=2,
        )
        paths = IndexPaths(idx)
        # delta segments so compaction has something to merge
        inc._append_batch(
            spark,
            spark.createDataFrame(gen_pages_pandas(10, start=30), PAGES_DDL),
            0, paths, 2,
        )

        # the crash: after the postings overwrite, before the manifest snapshot
        log = crash_seam(crash_before="manifest rows")
        with pytest.raises(RuntimeError, match="injected"):
            compact_shards(spark, paths)
        crash_seam()
        assert log[-1] == "postings overwrite"
        assert fs_exists(spark, maintenance_intent_path(paths))

        compact_shards(spark, paths)  # repairs, then compacts
        assert not fs_exists(spark, maintenance_intent_path(paths))
        finalize_index(spark, paths)
        assert_stats_current(idx, "after the replay")
        r = IndexReader(spark, idx)
        stats = index_statistics(r)
        truth = r.postings().agg(F.sum("n").alias("n")).collect()[0]["n"] or 0
        assert stats["postings"] == truth
        assert stats["blocks"] == r.postings().count()
        assert stats["docs_parsed"] == 40
    finally:
        shutil.rmtree(idx, ignore_errors=True)
