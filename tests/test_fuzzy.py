"""Fuzzy term matching (operators/fuzzy.py): the position-tagged
deletion-variant join is EXACT Levenshtein distance <= 1 — verified
against brute-force edit distance on a dense random vocabulary — and
the query side broadcasts."""

from __future__ import annotations

import random


def _lev(a: str, b: str) -> int:
    dp = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        prev, dp[0] = dp[0], i
        for j, cb in enumerate(b, 1):
            prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
    return dp[len(b)]


def test_fuzzy_matches_bruteforce_levenshtein(spark):
    from document_retrieval_system_spark.operators.fuzzy import fuzzy_term_matches
    from document_retrieval_system_spark.plans.explain import formatted_plan

    # 4-letter alphabet => dense edit neighborhoods: transpositions,
    # same-variant-different-position collisions, every boundary case
    rng = random.Random(7)
    words = sorted({
        "".join(rng.choice("abcd") for _ in range(rng.randint(2, 7)))
        for _ in range(300)
    })
    qs = sorted({
        "".join(rng.choice("abcd") for _ in range(rng.randint(2, 7)))
        for _ in range(40)
    })
    d = spark.createDataFrame([(w,) for w in words], "term string")
    q = spark.createDataFrame([(w,) for w in qs], "query_term string")
    out = fuzzy_term_matches(d, q)
    got = {(r["query_term"], r["term"], r["dist"]) for r in out.collect()}
    want = {(a, b, _lev(a, b)) for a in qs for b in words if _lev(a, b) <= 1}
    assert got == want
    # a transposition is distance 2 and must NOT match
    d2 = spark.createDataFrame([("join",)], "term string")
    q2 = spark.createDataFrame([("jion",)], "query_term string")
    assert fuzzy_term_matches(d2, q2).count() == 0
    # the small query side broadcasts — one BroadcastHashJoin, the
    # dictionary side never shuffles for the join
    assert "BroadcastHashJoin" in formatted_plan(out)


def test_fuzzy_search_expansion_equals_direct_bm25(spark):
    """The fuzzy_search entry's correction step must expand
    tble/merg/windoe/fast to exactly table/merge/window/fast — so the
    ranked result is identical to BM25 over the corrected terms."""
    from pyspark.sql import functions as F

    from document_retrieval_system_spark import entry_queries as eq

    sf = "/root/testdata/sf0.01"
    got = [tuple(r) for r in eq.q_fuzzy_search(spark, sf).collect()]
    direct = ["table", "merge", "window", "fast"]
    want = [
        tuple(r)
        for r in eq._bm25_all(eq._ensure_entry_index(spark, sf), direct)
        .select("doc_id", F.round("score", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(20)
        .collect()
    ]
    assert got == want and len(got) == 20
