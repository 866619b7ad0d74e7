"""Crash windows of every index and ANN writer, through the package's one
mutation seam (``index_build._mutation``).

Each writer's mutation order is pinned.  Then, for each mutation, a fault
is raised before it, the writer's documented recovery runs, and the result
must equal an uninterrupted run of the writer from the same start:

- an index writer leaves ``fsck_index`` clean, stats equal to a recount,
  and BM25 and WAND answers equal to the uninterrupted run's (doc ids
  exact, scores to rel 1e-12);
- an ANN upsert or full build leaves the ``(id, partition, vector)``
  rows of the uninterrupted run, each id once;
- the doc norms leave the uninterrupted run's rows and ``doc_norms/``
  entries.

Window 0 raises before the first mutation, so the writer's directory must
be left exactly as it was: names, sizes and mtimes.
"""

from __future__ import annotations

import datetime
import os
import re
import shutil
import tempfile
from typing import Callable, NamedTuple

import pandas as pd
import pytest

from document_retrieval_system_spark.operators import similarity
from document_retrieval_system_spark.operators.fsck import fsck_index
from document_retrieval_system_spark.operators.index_build import (
    IndexPaths,
    IndexReader,
    build_index,
    finalize_index,
    repair_maintenance,
    snapshot_id,
)
from document_retrieval_system_spark.operators.merge import merge_indexes
from document_retrieval_system_spark.operators.search import bm25_search
from document_retrieval_system_spark.operators.wand import bm25_wand_search
from document_retrieval_system_spark.sources.corpus import PAGES_DDL, gen_pages_pandas
from document_retrieval_system_spark.sources.tables import delete_documents
from document_retrieval_system_spark.streaming import incremental as inc

SHARDS = 2
BATCH_ID = 1
QUERIES = ["search engine index", "crashwindowterm ranking"]
INTENT = "maintenance_intent.json"

# every mutation of each writer, in order, paths relative to its directory
WRITE_ORDER = {
    "build_wave": [
        ". delete",
        "docs append", "postings append", "manifest rows", "corpus_stats rows",
        "docs append", "postings append", "manifest rows", "corpus_stats rows",
    ],
    "stream_append": [
        f"stream_intents/batch-{BATCH_ID} touch",
        "docs append", "postings append", "manifest rows", "corpus_stats rows",
        f"stream_intents/batch-{BATCH_ID} delete",
    ],
    "stream_rewrite": [
        f"stream_intents/batch-{BATCH_ID} touch",
        "docs overwrite", "postings overwrite", "manifest rows", "corpus_stats rows",
        f"stream_intents/batch-{BATCH_ID} delete",
    ],
    "delete_documents": [
        f"{INTENT} write",
        "docs overwrite", "docs/shard=1 delete",
        "postings overwrite", "postings/shard=1 delete",
        "manifest rows", "corpus_stats rows",
        f"{INTENT} delete",
    ],
    "compact_shards": [
        f"{INTENT} write",
        "postings overwrite", "manifest rows", "corpus_stats rows",
        f"{INTENT} delete",
    ],
    "merge_indexes": [
        ". delete",
        "docs append", "postings append", "manifest rows", "corpus_stats rows",
    ],
    "repair_maintenance": [
        "postings overwrite", "manifest rows", "corpus_stats rows",
        f"{INTENT} delete",
    ],
    "ivf_upsert": ["ivf_cell overwrite", "ivf_cell=b0 delete", "ivf_cell=b1 delete"],
    "lsh_upsert": ["bucket overwrite", "bucket=b0001 delete", "bucket=b1110 delete"],
    "ivfpq_upsert": ["ivf_cell overwrite", "ivf_cell=b0 delete", "ivf_cell=b1 delete"],
    "lsh_build": [". overwrite"],
    "ivf_build": [". overwrite"],
    "pq_build": [". overwrite"],
    "ivfpq_build": [". overwrite"],
    # <snap> is the current snapshot, <old> the one the norms were last
    # derived for, * a hidden table's unique suffix
    "doc_norms": ["doc_norms/_tmp-<snap>-* overwrite", "doc_norms/<snap> rename",
                  "doc_norms/<old> delete"],
}


class Writer(NamedTuple):
    start: str  # the directory each run copies
    run: Callable[[str], object]  # the writer, on a copy
    recover: Callable[[str], object]  # its documented recovery
    outcome: Callable[[str], object]  # what an uninterrupted run must match
    kind: str  # "text" (an index writer), "ann" or "norms"
    names: Callable[[str], str] = str  # a logged mutation name as pinned


def _text_outcome(spark, index_dir):
    reader = IndexReader(spark, index_dir)
    return {(scorer.__name__, q): [(r["doc_id"], r["score"]) for r in
                                   scorer(reader, q, "en", 20, 0.0).collect()]
            for q in QUERIES for scorer in (bm25_search, bm25_wand_search)}


def _ann_outcome(spark, index_dir, *cols):
    return sorted((r["vec_id"], *(str(r[c]) for c in cols))
                  for r in spark.read.parquet(index_dir).collect())


def _listing(d):
    """(relative name, size, mtime) of ``d`` and of everything under it."""
    out = []
    for dirpath, dirnames, filenames in os.walk(d):
        for p in [dirpath] + [os.path.join(dirpath, n) for n in dirnames + filenames]:
            st = os.stat(p)
            out.append((os.path.relpath(p, d), st.st_size, st.st_mtime_ns))
    return sorted(set(out))


class _Writers:
    """Each writer's start, built on first use, with its uninterrupted
    run's mutation log and outcome."""

    def __init__(self, spark, root):
        self.spark, self.root, self.made, self.n = spark, root, {}, 0

    def dir(self, start=None):
        self.n += 1
        d = os.path.join(self.root, f"d{self.n}")
        if start is None:
            os.mkdir(d)
        else:
            shutil.copytree(start, d)
        return d

    def frame(self, pages):
        return self.spark.createDataFrame(pages, PAGES_DDL)

    def get(self, name, crash_seam):
        if name not in self.made:
            self.seam = crash_seam
            w = getattr(self, name)()
            ref = self.dir(w.start)
            order = crash_seam(ref)
            w.run(ref)
            self.made[name] = (w, [w.names(n) for n in order], w.outcome(ref))
        return self.made[name]

    # ---- index writers -------------------------------------------------
    def text(self, start, run, recover):
        return Writer(start, run, recover, lambda d: _text_outcome(self.spark, d), "text")

    def base(self):
        """24 built pages and an 8-page stream batch: two segments a shard."""
        if "base" not in self.made:
            d = self.dir()
            build_index(self.spark, self.frame(gen_pages_pandas(24)), d, n_shards=SHARDS)
            inc._append_batch(self.spark, self.frame(gen_pages_pandas(8, start=24)), 0,
                              IndexPaths(d), SHARDS)
            self.made["base"] = d
        return self.made["base"]

    def victims(self):
        """Every url of shard 1, so the delete empties it, and two of shard 0."""
        docs = IndexReader(self.spark, self.base()).docs()
        return ([r["url"] for r in docs.filter("shard = 1").collect()]
                + [r["url"] for r in docs.filter("shard = 0").orderBy("url").limit(2).collect()])

    def stream(self, batch):
        frame = self.frame(batch)

        def run(d):
            inc._append_batch(self.spark, frame, BATCH_ID, IndexPaths(d), SHARDS)

        def replay(d):
            run(d)
            finalize_index(self.spark, IndexPaths(d))

        return self.text(self.base(), run, replay)

    def build_wave(self):
        pages = self.frame(gen_pages_pandas(24))
        return self.text(
            self.dir(),
            lambda d: build_index(self.spark, pages, d, n_shards=SHARDS, wave_size=1),
            lambda d: build_index(self.spark, pages, d, n_shards=SHARDS, wave_size=1,
                                  resume=True))

    def stream_append(self):
        return self.stream(gen_pages_pandas(8, start=32))

    def stream_rewrite(self):
        docs = IndexReader(self.spark, self.base()).docs()
        resent = [(r["url"], r["warc_ts"] + datetime.timedelta(days=1), None,
                   "crashwindowterm re-sent page about ranking", "en")
                  for s in range(SHARDS)
                  for r in docs.filter(f"shard = {s}").orderBy("url").limit(2).collect()]
        return self.stream(pd.DataFrame(resent, columns=["url", "warc_ts", "html",
                                                          "text", "lang"]))

    def delete_documents(self):
        victims = self.victims()

        def run(d):
            delete_documents(self.spark, d, victims)

        return self.text(self.base(), run, run)

    def compact_shards(self):
        def run(d):
            inc.compact_shards(self.spark, IndexPaths(d))

        return self.text(self.base(), run, run)

    def merge_indexes(self):
        srcs = []
        for start in (0, 10):
            srcs.append(self.dir())
            build_index(self.spark, self.frame(gen_pages_pandas(16, start=start)),
                        srcs[-1], n_shards=SHARDS)

        def run(d):
            merge_indexes(self.spark, srcs, d, n_shards=SHARDS)

        return self.text(self.dir(), run, run)

    def repair_maintenance(self):
        """The start is a delete that crashed after its docs overwrite."""
        start = self.dir(self.base())
        self.seam(crash_before="postings overwrite")
        with pytest.raises(RuntimeError, match="injected crash"):
            delete_documents(self.spark, start, self.victims()[-3:])
        self.seam()

        def run(d):
            repair_maintenance(self.spark, IndexPaths(d))

        return self.text(start, run, run)

    # ---- ANN upserts ---------------------------------------------------
    def vectors(self):
        """Three cells, {1}, {2, 3} and {4, 5}; the batch moves 1, 4 and 5
        into the middle one, emptying the other two, and adds 9 twice."""
        if "vectors" not in self.made:
            def v(i, scale=1.0):
                return [scale if j == i else 0.01 for j in range(8)]

            schema = "vec_id long, embedding array<float>"
            base = self.spark.createDataFrame(
                [(1, v(0)), (2, v(4)), (3, v(4, 0.9)), (4, v(7)), (5, v(7, 0.9))], schema)
            batch = self.spark.createDataFrame(
                [(1, v(4, 1.1)), (4, v(4, 0.8)), (5, v(4, 1.2)), (9, v(4, 0.7)),
                 (9, v(4, 0.7))], schema)
            cents = similarity.ivf_centroids(base, n_clusters=3, iters=5, seed=3)
            books = similarity.ivfpq_residual_books(base, cents, m=4, ksub=2, iters=4,
                                                    seed=5)
            self.made["vectors"] = base, batch, cents, books
        return self.made["vectors"]

    def upsert(self, build, upsert, part_col, value_col):
        start = self.dir()
        build(start)
        return Writer(start, upsert, upsert,
                      lambda d: _ann_outcome(self.spark, d, part_col, value_col), "ann")

    def full_build(self, build, *cols):
        """A full build of the base vectors over an earlier build of the
        batch's in the same directory."""
        base, batch, _, _ = self.vectors()
        start = self.dir()
        build(batch, start)
        return Writer(start, lambda d: build(base, d), lambda d: build(base, d),
                      lambda d: _ann_outcome(self.spark, d, *cols), "ann")

    def lsh_build(self):
        return self.full_build(lambda emb, d: similarity.build_lsh_index(
            emb, d, sig_bits=8, bucket_bits=4, seed=7, dim=8), "bucket", "embedding")

    def ivf_build(self):
        cents = self.vectors()[2]
        return self.full_build(lambda emb, d: similarity.build_ivf_index(emb, d, cents),
                               "ivf_cell", "embedding")

    def pq_build(self):
        books = self.vectors()[3]
        return self.full_build(lambda emb, d: similarity.build_pq_index(emb, d, books),
                               "pq_code")

    def ivfpq_build(self):
        _, _, cents, books = self.vectors()
        return self.full_build(
            lambda emb, d: similarity.build_ivfpq_index(emb, d, cents, books),
            "ivf_cell", "pq_code")

    # ---- doc norms -----------------------------------------------------
    def doc_norms(self):
        """The first call after a commit, on an index whose norms were
        derived for the snapshot before it.  A crash before the rename
        leaks a hidden table of the current snapshot, which may as well
        be a concurrent reader's write in progress: it stays until the
        next snapshot, so the outcome leaves it out."""
        start = self.dir(self.base())
        IndexReader(self.spark, start).doc_norms()
        old = snapshot_id(self.spark, IndexPaths(start))
        inc._append_batch(self.spark, self.frame(gen_pages_pandas(4, start=40)), 2,
                          IndexPaths(start), SHARDS)
        snap = snapshot_id(self.spark, IndexPaths(start))
        assert snap != old

        def names(name):
            name = name.replace(snap, "<snap>").replace(old, "<old>")
            return re.sub(r"(_tmp-<snap>-)[0-9a-f]{32}", r"\1*", name)

        def run(d):
            IndexReader(self.spark, d).doc_norms()

        def outcome(d):
            rows = sorted(((r["shard"], r["local_no"]), r["tfidf_veclen"])
                          for r in IndexReader(self.spark, d).doc_norms().collect())
            entries = sorted(n for n in map(names, os.listdir(IndexPaths(d).doc_norms))
                             if not n.startswith("_tmp-<snap>-"))
            return rows, entries

        return Writer(start, run, run, outcome, "norms", names)

    def ivf_upsert(self):
        base, batch, cents, _ = self.vectors()
        return self.upsert(
            lambda d: similarity.build_ivf_index(base, d, cents),
            lambda d: similarity.ivf_upsert(self.spark, d, batch, cents),
            "ivf_cell", "embedding")

    def lsh_upsert(self):
        base, batch, _, _ = self.vectors()
        kw = dict(sig_bits=8, bucket_bits=4, seed=7, dim=8)
        return self.upsert(
            lambda d: similarity.build_lsh_index(base, d, **kw),
            lambda d: similarity.lsh_upsert(self.spark, d, batch, **kw),
            "bucket", "embedding")

    def ivfpq_upsert(self):
        base, batch, cents, books = self.vectors()
        return self.upsert(
            lambda d: similarity.build_ivfpq_index(base, d, cents, books),
            lambda d: similarity.ivfpq_upsert(self.spark, d, batch, cents, books),
            "ivf_cell", "pq_code")


@pytest.fixture(scope="module")
def writers(spark):
    root = tempfile.mkdtemp(prefix="drs_crash_windows_")
    try:
        yield _Writers(spark, root)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@pytest.mark.parametrize("name", list(WRITE_ORDER))
def test_write_order(writers, crash_seam, name):
    """An uninterrupted run reports exactly the pinned mutations."""
    _, order, _ = writers.get(name, crash_seam)
    assert order == WRITE_ORDER[name], order


@pytest.mark.parametrize("name,window", [
    pytest.param(name, i, id=f"{name}-{i}")
    for name, order in WRITE_ORDER.items() for i in range(len(order))])
def test_crash_window_recovers(spark, writers, crash_seam, assert_stats_current,
                               name, window):
    w, _, want = writers.get(name, crash_seam)
    step = f"{name}: crash before mutation {window} ({WRITE_ORDER[name][window]})"
    d = writers.dir(w.start)
    before = _listing(d)
    log = crash_seam(d, crash_at=window)
    with pytest.raises(RuntimeError, match="^injected crash before ") as crash:
        w.run(d)
    crash_seam()
    assert w.names(str(crash.value).split(" before ", 1)[1]) == WRITE_ORDER[name][window]
    assert [w.names(n) for n in log] == WRITE_ORDER[name][:window], step
    if window == 0:
        assert _listing(d) == before, step

    w.recover(d)
    got = w.outcome(d)
    if w.kind == "norms":
        assert got == want, step
    elif w.kind == "ann":
        assert got == want, step
        assert len({r[0] for r in got}) == len(got), step
    else:
        assert fsck_index(spark, d).collect() == [], step
        assert_stats_current(d, step)
        for key, rows in want.items():
            assert [i for i, _ in got[key]] == [i for i, _ in rows], (step, key)
            for (_, a), (_, b) in zip(got[key], rows):
                assert a == pytest.approx(b, rel=1e-12), (step, key)
    shutil.rmtree(d)


def test_doc_norms_leak_is_deleted_at_the_next_snapshot(spark, writers, crash_seam):
    """A crash before the rename leaks the current snapshot's hidden
    table; the first call after the next commit deletes it."""
    w, _, _ = writers.get("doc_norms", crash_seam)
    d = writers.dir(w.start)
    crash_seam(d, crash_at=1)
    with pytest.raises(RuntimeError, match="injected crash"):
        w.run(d)
    crash_seam()
    paths = IndexPaths(d)
    assert any(n.startswith("_tmp-") for n in os.listdir(paths.doc_norms))
    inc._append_batch(spark, writers.frame(gen_pages_pandas(2, start=60)), 3, paths, SHARDS)
    w.run(d)
    assert os.listdir(paths.doc_norms) == [snapshot_id(spark, paths)]
    shutil.rmtree(d)
