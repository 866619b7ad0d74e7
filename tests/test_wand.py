"""Block-max WAND metamorphic tests (SURVEY.md §5.5): pruning is a pure
optimization — WAND top-k must equal the exhaustive scorer's top-k and
the oracle, for every query shape."""

import pytest

from document_retrieval_system_spark.operators.search import bm25_search
from document_retrieval_system_spark.operators.wand import bm25_wand_search
from document_retrieval_system_spark.sources.corpus import REFERENCE_QUERIES


def _rows(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


@pytest.mark.parametrize(
    "q", [q for q in REFERENCE_QUERIES if q["algorithm"] == "bm25"],
    ids=lambda q: f"q{q['query_id']}",
)
def test_wand_equals_exhaustive(reader, q):
    lang = "zh" if any("一" <= c <= "鿿" for c in q["query"]) else "en"
    pruned = _rows(bm25_wand_search(reader, q["query"], lang, q["max_results"], q["min_score"]))
    full = _rows(bm25_search(reader, q["query"], lang, q["max_results"], q["min_score"]))
    assert [p[0] for p in pruned] == [f[0] for f in full]
    for (pd_, ps), (fd, fs) in zip(pruned, full):
        assert ps == pytest.approx(fs, rel=1e-12), pd_


def test_wand_matches_oracle(reader, oracle_engine):
    for query, lang, k, ms in (
        ("人工智能 大数据 机器学习", "zh", 20, 0.3),
        ("search engine index ranking", "en", 10, 0.0),
        ("数据", "zh", 5, 0.5),
        ("compression wand pruning", "en", 20, 0.3),
    ):
        got = _rows(bm25_wand_search(reader, query, lang, k, ms))
        want = oracle_engine.bm25(query, lang, k, ms)
        assert [g[0] for g in got] == [w[0] for w in want], query
        for (gd, gs), (_wd, ws) in zip(got, want):
            assert gs == pytest.approx(ws, rel=1e-9), (query, gd)


def test_wand_small_k_with_ties(reader, oracle_engine):
    """k smaller than the tie group (duplicate docs) must keep doc_id order."""
    got = _rows(bm25_wand_search(reader, "数据 算法 系统", "zh", 3, 0.0))
    want = oracle_engine.bm25("数据 算法 系统", "zh", 3, 0.0)
    assert [g[0] for g in got] == [w[0] for w in want]


def test_wand_k_larger_than_candidates(reader, oracle_engine):
    got = _rows(bm25_wand_search(reader, "wand", "en", 10000, 0.0))
    want = oracle_engine.bm25("wand", "en", 10000, 0.0)
    assert [g[0] for g in got] == [w[0] for w in want]


def test_wand_batch_equals_singles(reader):
    """Batched multi-query WAND is a pure throughput optimization: per
    qid the results must be BIT-identical to N independent searches
    (same kernel, same tie-break)."""
    from document_retrieval_system_spark.operators.wand import (
        bm25_wand_search_many,
    )

    queries = [
        ("人工智能 大数据 机器学习", "zh"),
        ("数据 算法", "zh"),
        ("数据 数据 系统", "zh"),  # duplicate term: per-occurrence weight
    ]
    # all same lang per call; use zh batch
    batch = bm25_wand_search_many(
        reader, [q for q, _ in queries], "zh", 10, 0.0
    ).collect()
    by_q: dict = {}
    for r in batch:
        by_q.setdefault(r["qid"], []).append((r["doc_id"], r["score"]))
    for row in by_q.values():
        row.sort(key=lambda t: (-t[1], t[0]))
    for qid, (q, lang) in enumerate(queries):
        single = _rows(bm25_wand_search(reader, q, lang, 10, 0.0))
        assert by_q.get(qid, []) == single, q


def test_wand_batch_empty_and_unknown_queries(reader):
    from document_retrieval_system_spark.operators.wand import (
        bm25_wand_search_many,
    )

    out = bm25_wand_search_many(
        reader, ["", "zzzzunknowntermzzz", "数据"], "zh", 5, 0.0
    ).collect()
    qids = {r["qid"] for r in out}
    assert qids == {2}, qids


def test_block_bounds_cover_every_posting_score(reader):
    """Block-max soundness, checked directly: for every block of every
    term, the bound from the block's (max_tf, min_dl) is at least the
    score of each decoded posting, at the index's avgdl and at others
    (the metadata is avgdl-independent)."""
    from document_retrieval_system_spark.operators.codec import decode_block
    from document_retrieval_system_spark.operators.search import (
        bm25_term_score,
        bm25_weights,
    )

    corpus = reader.corpus()
    dfs = {r["term"]: r["df"] for r in reader.term_stats().collect()}
    weights = bm25_weights(corpus["total_docs"], dfs, list(dfs))
    blocks = reader.postings().select(
        "term", "max_tf", "min_dl", "doc_bytes", "tf_bytes", "dl_bytes"
    ).collect()
    assert blocks
    for avgdl in (corpus["avg_doc_length"], 1.0, 1e4):
        for b in blocks:
            _docs, tfs, dls = decode_block(b["doc_bytes"], b["tf_bytes"], b["dl_bytes"])
            w = weights[b["term"]]
            bound = bm25_term_score(w, float(b["max_tf"]), float(b["min_dl"]), avgdl)
            assert bound >= bm25_term_score(w, tfs, dls, avgdl).max(), b["term"]
