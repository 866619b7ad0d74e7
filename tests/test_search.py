"""Rank-identity: Spark scorers == oracle on the reference query set
(SURVEY.md §5.4).  docIDs must match exactly in order; scores to 1e-9."""

import pytest

from document_retrieval_system_spark.operators.search import (
    bm25_search,
    boolean_search,
    near_search,
    phrase_search,
    tfidf_search,
)
from document_retrieval_system_spark.sources.corpus import REFERENCE_QUERIES


def _assert_rank_identical(spark_df, oracle_results):
    got = [(r["doc_id"], r["score"]) for r in spark_df.collect()]
    assert [g[0] for g in got] == [o[0] for o in oracle_results]
    for (gd, gs), (od, os) in zip(got, oracle_results):
        assert gs == pytest.approx(os, rel=1e-9), gd


@pytest.mark.parametrize(
    "q", [q for q in REFERENCE_QUERIES if q["algorithm"] == "bm25"],
    ids=lambda q: f"q{q['query_id']}",
)
def test_bm25_rank_identity(reader, oracle_engine, q):
    lang = "zh" if any("一" <= c <= "鿿" for c in q["query"]) else "en"
    spark_df = bm25_search(reader, q["query"], lang, q["max_results"], q["min_score"])
    oracle = oracle_engine.bm25(q["query"], lang, q["max_results"], q["min_score"])
    _assert_rank_identical(spark_df, oracle)


@pytest.mark.parametrize(
    "q", [q for q in REFERENCE_QUERIES if q["algorithm"] == "tfidf"],
    ids=lambda q: f"q{q['query_id']}",
)
def test_tfidf_rank_identity(reader, oracle_engine, q):
    lang = "zh" if any("一" <= c <= "鿿" for c in q["query"]) else "en"
    spark_df = tfidf_search(reader, q["query"], lang, q["max_results"], q["min_score"])
    oracle = oracle_engine.tfidf(q["query"], lang, q["max_results"], q["min_score"])
    _assert_rank_identical(spark_df, oracle)


@pytest.mark.parametrize(
    "q", [q for q in REFERENCE_QUERIES if q["algorithm"] == "boolean"],
    ids=lambda q: f"q{q['query_id']}",
)
def test_boolean_rank_identity(reader, oracle_engine, q):
    lang = "zh" if any("一" <= c <= "鿿" for c in q["query"]) else "en"
    spark_df = boolean_search(reader, q["query"], lang, q["max_results"], q["min_score"])
    oracle = oracle_engine.boolean(q["query"], lang, q["max_results"], q["min_score"])
    _assert_rank_identical(spark_df, oracle)


def test_empty_query_returns_empty(reader):
    assert bm25_search(reader, "   ", "zh").count() == 0
    assert bm25_search(reader, "的 了", "zh").count() == 0  # all-stopword


def test_oov_query_returns_empty(reader):
    assert bm25_search(reader, "qqqzzzvvv", "en", 10, 0.0).count() == 0


def test_phrase_search_matches_oracle(reader, oracle_engine, spark):
    doc_rows = reader.docs().select("shard", "local_no", "doc_id").collect()
    doc_map = {(r["shard"], r["local_no"]): r["doc_id"] for r in doc_rows}
    for phrase in (["人工智能", "大数据"], ["search", "engin"], ["数据", "算法"]):
        got = {
            doc_map[(r["shard"], r["local_no"])]
            for r in phrase_search(reader, phrase).collect()
        }
        assert got == oracle_engine.phrase(phrase), phrase


def test_near_search_matches_oracle(reader, oracle_engine):
    doc_rows = reader.docs().select("shard", "local_no", "doc_id").collect()
    doc_map = {(r["shard"], r["local_no"]): r["doc_id"] for r in doc_rows}
    for a, b, k in (("数据", "算法", 5), ("search", "index", 3), ("人工智能", "系统", 2)):
        got = {
            doc_map[(r["shard"], r["local_no"])]
            for r in near_search(reader, a, b, k).collect()
        }
        assert got == oracle_engine.near(a, b, k), (a, b, k)


def test_duplicate_content_tie_break(reader, oracle_engine):
    """Cloned pages produce exact score ties; (score desc, doc_id asc) must
    hold on both sides."""
    df = bm25_search(reader, "数据 算法", "zh", 50, 0.0)
    rows = [(r["doc_id"], r["score"]) for r in df.collect()]
    for (d1, s1), (d2, s2) in zip(rows, rows[1:]):
        assert s1 > s2 or (s1 == s2 and d1 < d2)


def test_bm25_saturation_is_written_only_in_bm25_term_score():
    """Outside the oracle and the fielded BM25F fold, the one BM25
    saturation ``tf / (tf + k1 * ...)`` on Spark Columns or numpy arrays
    is `search.bm25_term_score`: an AST scan of the package for
    arithmetic on K1/BM25_K1.  SQL text only interpolates ``{K1}`` into
    the DuckDB twins, which is no arithmetic and so is not matched."""
    import ast
    from pathlib import Path

    import document_retrieval_system_spark as pkg

    root = Path(pkg.__file__).parent
    sites = set()
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel in ("oracle.py", "operators/bm25f.py"):
            continue
        tree = ast.parse(path.read_text(encoding="utf-8"))
        for fn in ast.walk(tree):
            if not isinstance(fn, ast.FunctionDef):
                continue
            for node in ast.walk(fn):
                if isinstance(node, ast.BinOp) and any(
                    getattr(o, "id", getattr(o, "attr", None)) in ("K1", "BM25_K1")
                    for o in (node.left, node.right)
                ):
                    sites.add((rel, fn.name))
    assert sorted(sites) == [("operators/search.py", "bm25_term_score")]
