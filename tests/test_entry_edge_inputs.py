"""Entry-query helpers on edge inputs: an empty corpus, a source
rewritten in the same process."""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from document_retrieval_system_spark import entry_queries as eq
from document_retrieval_system_spark.entry_queries import _corpus_n


def test_corpus_n_empty_corpus_is_zero(spark):
    # sum() over no rows is NULL; the former filter().count() gave 0
    assert _corpus_n(spark.createDataFrame([], "text string")) == 0
    docs = spark.createDataFrame([("alpha beta",), ("",)], "text string")
    assert _corpus_n(docs) == 1


def test_spread_replans_a_source_rewritten_in_process(spark, tmp_path, monkeypatch):
    """The scan-split memo must not outlive the file it describes: a path
    rewritten with enough files to fill the session needs no spread."""
    monkeypatch.setattr(eq, "_SPREAD_MIN_BYTES", 0)
    n = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "src.parquet")
    table = pa.table({"x": list(range(100))})
    pq.write_table(table, path)
    one = spark.read.parquet(path)
    assert one.rdd.getNumPartitions() < n
    assert eq._spread(spark, one, path) is not one  # single split: spread

    os.remove(path)
    os.mkdir(path)
    for i in range(2 * n):
        pq.write_table(table, os.path.join(path, f"part-{i:02d}.parquet"))
    many = spark.read.parquet(path)
    assert many.rdd.getNumPartitions() >= n
    assert eq._spread(spark, many, path) is many


def _write_embeddings(sf_dir, n, seed):
    os.makedirs(sf_dir, exist_ok=True)
    vecs = np.random.default_rng(seed).standard_normal((n, 16)).astype(np.float32)
    pq.write_table(pa.table({"vec_id": pa.array(range(n), pa.int64()),
                             "embedding": vecs.tolist()}),
                   os.path.join(sf_dir, "embeddings.parquet"))


def _write_documents(sf_dir, n, seed):
    os.makedirs(sf_dir, exist_ok=True)
    words = ["data", "join", "filter", "scan", "index", "query", "shard", "merge"]
    rng = np.random.default_rng(seed)
    texts = [" ".join(rng.choice(words, size=12)) for _ in range(n)]
    pq.write_table(pa.table({"doc_id": pa.array(range(n), pa.int64()), "text": texts}),
                   os.path.join(sf_dir, "documents.parquet"))


def _same(a, b):
    if isinstance(a, np.ndarray):
        return np.array_equal(a, b)
    return a == b


@pytest.mark.parametrize("fit, write", [
    (eq._ivf_fitted_cents, _write_embeddings),
    (eq._pq_fitted_books, _write_embeddings),
    (eq._ivfpq_fitted_books, _write_embeddings),
    (eq._qm_fitted, _write_documents),
    (eq._lm_fitted, _write_documents),
], ids=["ivf", "pq", "ivfpq", "qm", "lm"])
def test_fit_follows_a_source_rewritten_in_process(tmp_path, fit, write):
    """A data-fitted model must be refitted when its source file is
    rewritten at the same path: the second fit equals a fresh fit."""
    sf, fresh = str(tmp_path / "sf"), str(tmp_path / "fresh")
    write(sf, 40, seed=1)
    first = fit(sf)
    write(sf, 48, seed=2)
    write(fresh, 48, seed=2)
    second, want = fit(sf), fit(fresh)
    assert not _same(first, want)
    assert _same(second, want)


def test_cache_dir_follows_a_same_size_rewrite_within_one_second(spark, tmp_path):
    """Two versions of a source with equal size whose mtimes differ by
    1 us inside one second are different sources to the entry cache."""
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    path = os.path.join(sf, "documents.parquet")
    t0 = 1_700_000_000 * 10**9 + 250_000_000
    built = []
    try:
        for text, mtime in (("alpha beta", t0), ("gamma delt", t0 + 1000)):
            pq.write_table(pa.table({"doc_id": pa.array([1], pa.int64()), "text": [text]}),
                           path, compression="none")
            os.utime(path, ns=(mtime, mtime))
            built.append((os.path.getsize(path), eq._ensure_trigram_index(spark, sf)))
        (size1, dir1), (size2, dir2) = built
        assert size1 == size2
        assert dir1 != dir2
    finally:
        for _size, d in built:
            shutil.rmtree(d, ignore_errors=True)


def test_entry_cache_pieces_have_one_definition():
    """Every on-disk entry cache is published by `_cached_dir`, every fit
    sample is md5-ranked by one function per engine anywhere in the
    package, and `_MEMO` is the only in-process memo of the entry
    family."""
    import ast
    from pathlib import Path

    import document_retrieval_system_spark as pkg

    root = Path(pkg.__file__).parent
    publish, md5_sites = [], []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        tree = ast.parse(path.read_text(encoding="utf-8"))
        for fn in [n for n in tree.body if isinstance(n, ast.FunctionDef)]:
            for node in ast.walk(fn):
                if not isinstance(node, ast.Call):
                    continue
                name = getattr(node.func, "id", None) or getattr(node.func, "attr", None)
                if name == "_publish_cache_dir":
                    publish.append((rel, fn.name))
                keys = [k.value for k in node.keywords if k.arg == "key"]
                if name in ("sorted", "sort") and any(
                    getattr(c.func, "attr", None) == "md5"
                    for k in keys for c in ast.walk(k) if isinstance(c, ast.Call)
                ):
                    md5_sites.append((rel, fn.name))
                if rel == "operators/similarity.py" and name == "md5":
                    md5_sites.append((rel, fn.name))
                # a Spark sort keyed on an md5 column aliased in its own chain
                if name in ("orderBy", "sort") and {
                    getattr(c.args[0], "value", None) for c in ast.walk(node.func)
                    if isinstance(c, ast.Call) and getattr(c.func, "attr", None) == "alias"
                    and getattr(getattr(c.func.value, "func", None), "attr", None) == "md5"
                } & {a.value for k in node.args for a in ast.walk(k)
                     if isinstance(a, ast.Constant)}:
                    md5_sites.append((rel, fn.name))
        if rel == "entry_queries.py":
            memos = [t.id for n in tree.body if isinstance(n, (ast.Assign, ast.AnnAssign))
                     and isinstance(n.value, ast.Dict) and not n.value.keys
                     for t in (n.targets if isinstance(n, ast.Assign) else [n.target])]
            assert memos == ["_MEMO"]
    assert publish == [("entry_queries.py", "_cached_dir")]
    assert sorted(set(md5_sites)) == [("operators/similarity.py", "_md5_ranked_sample"),
                                      ("operators/similarity.py", "md5_ranked_table")]
