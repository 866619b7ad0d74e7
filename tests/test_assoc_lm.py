"""Operator tests for the r5 association / LM / mixture-guard family:
more-like-this term extraction, co-occurrence PMI, index-backed
autocompletion, bigram-LM scoring, and the per-domain cap."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from document_retrieval_system_spark.operators.cooccur import (
    term_cooccurrence_pmi,
)
from document_retrieval_system_spark.operators.curate import domain_cap_sample
from document_retrieval_system_spark.operators.lm import (
    LM_ALPHA,
    _lm_tokens,
    fit_bigram_lm,
    score_bigram_lm,
)
from document_retrieval_system_spark.operators.mlt import doc_top_terms
from document_retrieval_system_spark.operators.search import bm25_weights


# ---------------------------------------------------------------------------
# more-like-this
# ---------------------------------------------------------------------------

def _mini_tfs(spark):
    # doc 1: alpha x3, beta x1; doc 2: alpha x1; doc 3: beta x2, gamma x1
    rows = [
        (1, "alpha", 3, 4), (1, "beta", 1, 4),
        (2, "alpha", 1, 1),
        (3, "beta", 2, 3), (3, "gamma", 1, 3),
    ]
    return spark.createDataFrame(rows, "doc_id long, term string, tf long, dl long")


def test_doc_top_terms_ranks_by_tf_idf_with_term_tiebreak():
    # doc 1 of `_mini_tfs`
    tf = {"alpha": 3, "beta": 1}
    idf = bm25_weights(3, {"alpha": 2, "beta": 2, "gamma": 1}, list(tf))
    # doc 1 weights: alpha tf=3 df=2, beta tf=1 df=2 -> alpha first
    assert doc_top_terms(tf, idf, m=1) == ["alpha"]
    # m=2 keeps both
    assert set(doc_top_terms(tf, idf, m=2)) == {"alpha", "beta"}


def test_doc_top_terms_exact_tie_broken_by_term_asc():
    # two terms with IDENTICAL tf and df -> identical weight; term asc wins
    tf = {"zed": 2, "ant": 2}
    idf = bm25_weights(2, {"zed": 2, "ant": 2}, list(tf))
    assert doc_top_terms(tf, idf, m=1) == ["ant"]


# ---------------------------------------------------------------------------
# co-occurrence PMI
# ---------------------------------------------------------------------------

def test_cooccur_pmi_hand_computed(spark):
    # 4 docs; (aa,bb) together in 3, (aa,cc) in 1
    rows = []
    for d in (1, 2, 3):
        rows += [(d, "aa", 1), (d, "bb", 1)]
    rows += [(4, "aa", 1), (4, "cc", 1)]
    tfs = spark.createDataFrame(rows, "doc_id long, term string, tf long")
    out = term_cooccurrence_pmi(tfs, top_m=16, min_pairs=2, k=10).collect()
    assert [(r["term_a"], r["term_b"], r["n_ab"]) for r in out] == [("aa", "bb", 3)]
    # pmi = ln(3 * 4 / (4 * 3)) = 0
    assert abs(out[0]["pmi"]) < 1e-12


def test_cooccur_per_doc_cap_limits_pairs(spark):
    # one doc with 5 terms, cap 2 -> only the top-2 (by tf desc, term) pair
    rows = [(1, t, tf) for t, tf in
            [("aa", 5), ("bb", 4), ("cc", 3), ("dd", 2), ("ee", 1)]]
    rows = rows * 1 + [(d, t, tf) for d in (2, 3) for t, tf in
                       [("aa", 5), ("bb", 4)]]
    tfs = spark.createDataFrame(rows, "doc_id long, term string, tf long")
    out = term_cooccurrence_pmi(tfs, top_m=2, min_pairs=2, k=10).collect()
    assert [(r["term_a"], r["term_b"]) for r in out] == [("aa", "bb")]
    assert out[0]["n_ab"] == 3


# ---------------------------------------------------------------------------
# autocompletion over the real index
# ---------------------------------------------------------------------------

def test_prefix_completions_matches_term_stats(reader):
    from document_retrieval_system_spark.operators.search import (
        prefix_completions,
    )

    stats = {r["term"]: (r["df"], r["cf"])
             for r in reader.term_stats().collect()}
    prefix = next(t[:1] for t in sorted(stats)
                  if sum(x.startswith(t[:1]) for x in stats) >= 2)
    got = [(r["term"], r["df"], r["cf"])
           for r in prefix_completions(reader, prefix, k=5).collect()]
    want = sorted(
        ((t, df, cf) for t, (df, cf) in stats.items() if t.startswith(prefix)),
        key=lambda x: (-x[2], x[0]),
    )[:5]
    assert got == want and got
    # the prefix predicate reaches the term-stats parquet scan
    from document_retrieval_system_spark.plans.explain import pushed_filters

    pf = pushed_filters(
        reader.term_stats().filter(F.col("term").startswith(prefix)))
    assert "StringStartsWith" in pf, pf


# ---------------------------------------------------------------------------
# bigram LM
# ---------------------------------------------------------------------------

def test_lm_tokens_match_sql_analyzer():
    assert _lm_tokens("The data, the DATA!") == ["the", "data", "the", "data"]
    # digits split words and length-1 fragments drop, exactly like the
    # SQL-expressible analyzer's [^a-z] -> ' ' + len >= 2 filter
    assert _lm_tokens("a b1c d") == []
    assert _lm_tokens(None) == []


def test_fit_bigram_lm_counts_and_cap():
    uni, bi, v = fit_bigram_lm(["aa bb aa bb", "aa cc"])
    assert uni == {"aa": 3, "bb": 2, "cc": 1} and v == 3
    assert bi == {("aa", "bb"): 2, ("bb", "aa"): 1, ("aa", "cc"): 1}
    # cap keeps the most frequent bigrams, ties by key — deterministic
    _, bi2, _ = fit_bigram_lm(["aa bb aa bb", "aa cc"], max_types=1)
    assert bi2 == {("aa", "bb"): 2}


def test_score_bigram_lm_hand_computed(spark):
    uni, bi, v = fit_bigram_lm(["aa bb aa bb", "aa cc"])
    docs = spark.createDataFrame(
        [(1, "aa bb"), (2, "zz qq"), (3, "aa")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           score_bigram_lm(docs, uni, bi, v).collect()}
    # doc 1: one bigram (aa,bb): p = (2 + a) / (3 + a*3)
    p_seen = (2 + LM_ALPHA) / (3 + LM_ALPHA * 3)
    assert out[1]["n_bigrams"] == 1
    assert abs(out[1]["nll"] - (-math.log(p_seen))) < 1e-12
    # doc 2: unseen history -> uniform 1/V mass
    p_unseen = LM_ALPHA / (LM_ALPHA * 3)
    assert abs(out[2]["nll"] - (-math.log(p_unseen))) < 1e-12
    # doc 3: a single token has no bigram -> excluded
    assert 3 not in out


def test_score_bigram_lm_plan_broadcasts_count_tables(spark):
    """Both fitted count tables must enter as broadcast joins — the LM
    tables never shuffle the corpus side."""
    from document_retrieval_system_spark.plans.explain import formatted_plan

    uni, bi, v = fit_bigram_lm(["aa bb aa bb", "aa cc"])
    docs = spark.createDataFrame([(1, "aa bb cc")], "doc_id long, text string")
    plan = formatted_plan(score_bigram_lm(docs, uni, bi, v))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_cooccur_plan_has_no_nested_loop(spark):
    from document_retrieval_system_spark.plans.explain import formatted_plan

    tfs = _mini_tfs(spark).select("doc_id", "term", "tf")
    plan = formatted_plan(term_cooccurrence_pmi(tfs))
    assert "CartesianProduct" not in plan
    # the only nested-loop join allowed is the 1-row broadcast cross
    # that attaches the n_docs scalar — never the doc-pair join
    import re

    bnlj = re.findall(r"BroadcastNestedLoopJoin \w+", plan)
    assert all("Cross" in b for b in bnlj) and len(bnlj) <= 1, plan


def test_score_bigram_lm_orders_quality(spark):
    # text made of fitted bigrams scores lower NLL than shuffled junk
    fit = ["the data the data the data", "big data big data"]
    uni, bi, v = fit_bigram_lm(fit)
    docs = spark.createDataFrame(
        [(1, "the data the data"), (2, "data the big zz the qq")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["nll"] for r in
           score_bigram_lm(docs, uni, bi, v).collect()}
    assert out[1] < out[2]


# ---------------------------------------------------------------------------
# per-domain cap
# ---------------------------------------------------------------------------

def test_domain_cap_caps_and_is_deterministic(spark):
    rows = [(i, f"host{i % 3}") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = domain_cap_sample(df, 10, domain_col="source")
    got = [(r["doc_id"], r["domain"], r["domain_rank"]) for r in out.collect()]
    per = {}
    for _id, dom, rk in got:
        per.setdefault(dom, []).append(rk)
    # every domain capped at 10, ranks contiguous 1..10
    assert set(per) == {"host0", "host1", "host2"}
    assert all(sorted(v) == list(range(1, 11)) for v in per.values())
    # deterministic across runs
    again = [(r["doc_id"], r["domain"], r["domain_rank"])
             for r in domain_cap_sample(df, 10, domain_col="source").collect()]
    assert sorted(got) == sorted(again)


def test_domain_cap_small_domains_survive_whole(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "doc_id long, source string"
    )
    out = domain_cap_sample(df, 10, domain_col="source").collect()
    assert {r["doc_id"] for r in out} == {1, 2, 3}
