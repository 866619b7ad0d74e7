"""Training-data curation operators: duplicate clustering (connected
components), deterministic stratified sampling, token-budget selection."""

from __future__ import annotations

import itertools

from pyspark.sql import functions as F

from document_retrieval_system_spark.operators.curate import (
    connected_components,
    stratified_sample,
    token_budget_select,
)


def _brute_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    nodes = sorted({n for e in edges for n in e})
    label = {n: n for n in nodes}
    changed = True
    while changed:
        changed = False
        for a, b in edges:
            m = min(label[a], label[b])
            if label[a] != m or label[b] != m:
                label[a] = label[b] = m
                changed = True
    return label


def test_connected_components_matches_bruteforce(spark):
    edges = [(1, 2), (2, 3), (10, 11), (4, 5), (5, 6), (6, 1),  # chain into 1-3
             (20, 21), (21, 22), (22, 20),                        # triangle
             (30, 31)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["doc_id"]: r["cluster_id"]
           for r in connected_components(df).collect()}
    assert got == _brute_components(edges)


def test_connected_components_long_chain(spark):
    """A path graph stresses propagation distance; the pointer-jump step
    makes rounds O(log diameter), so a 60-node chain converges far
    inside the default max_iter (and exhaustion raises, never returns
    partial labels)."""
    edges = [(i, i + 1) for i in range(60)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["doc_id"]: r["cluster_id"]
           for r in connected_components(df).collect()}
    assert set(got.values()) == {0} and len(got) == 61
    import pytest as _pytest
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=2)


def test_stratified_sample_deterministic_and_rate(spark):
    rows = [(i, "en" if i % 2 else "zh") for i in range(4000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    rates = {"en": 0.25, "zh": 0.5}
    a = {r["doc_id"] for r in stratified_sample(df, rates).collect()}
    b = {r["doc_id"] for r in stratified_sample(df, rates).collect()}
    assert a == b, "sampling must be deterministic"
    en = [i for i in a if i % 2]
    zh = [i for i in a if not i % 2]
    assert abs(len(en) / 2000 - 0.25) < 0.05
    assert abs(len(zh) / 2000 - 0.5) < 0.05
    # a different salt draws a (near-)independent sample
    c = {r["doc_id"] for r in stratified_sample(df, rates, salt="x").collect()}
    assert c != a


def test_token_budget_select_invariants(spark):
    rows = [(i, "en", " ".join(["w"] * (10 + i % 7))) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    budget = 200
    out = token_budget_select(df, budget).orderBy("cum_tokens").collect()
    assert out, "budget must keep at least one doc"
    # every kept doc STARTS under the budget; at most one doc straddles
    assert all(r["cum_tokens"] - r["n_tokens"] < budget for r in out)
    over = [r for r in out if r["cum_tokens"] > budget]
    assert len(over) <= 1
    # cumulative sums are consistent
    for prev, cur in itertools.pairwise(out):
        assert cur["cum_tokens"] == prev["cum_tokens"] + cur["n_tokens"]


def test_pii_counts_patterns(spark):
    from document_retrieval_system_spark.operators.textstats import pii_counts

    rows = [
        (1, "mail a.b-c_d@foo-bar.co and X@Y.ORG plus http://a.b/c?x=1 "
            "and https://secure.example.com/path#f"),
        (2, "call +1 (555) 123-4567 or 555 010 9999 done"),
        (3, "server at 10.0.0.1 and 192.168.001.255:8080"),
        (4, "no contact surfaces here at all"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_emails"], r["n_urls"], r["n_phones"], r["n_ipv4"])
           for r in pii_counts(df).collect()}
    assert got[1] == (2, 2, 0, 0)
    assert got[2] == (0, 0, 2, 0)
    assert got[3][3] == 2
    assert got[4] == (0, 0, 0, 0)
    assert got[5] == (0, 0, 0, 0)


def test_decontaminate_planted_overlap(spark):
    from document_retrieval_system_spark.operators.curate import decontaminate

    leak = "alpha bravo charlie delta echo foxtrot golf hotel"
    train = spark.createDataFrame(
        [(1, f"prefix words {leak} suffix words here"),
         (2, "totally unrelated content with no overlap at all"),
         (3, f"{leak} twice in one doc {leak} counts once per gram")],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(100, f"the benchmark includes {leak} verbatim")],
        "doc_id long, text string",
    )
    got = {(r["doc_id"], r["eval_id"]): r["n_shared_grams"]
           for r in decontaminate(train, ev, ngram=8).collect()}
    # the 8-token leak yields exactly one shared 8-gram per train doc
    # (distinct grams per doc — repetition does not double-count)
    assert got == {(1, 100): 1, (3, 100): 1}
    # eval side must broadcast (map-side join, no training-gram shuffle)
    plan = decontaminate(train, ev, ngram=8)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan


def test_decontaminate_excludes_self_pairs(spark):
    from document_retrieval_system_spark.operators.curate import decontaminate

    df = spark.createDataFrame(
        [(1, "one two three four five six seven eight")],
        "doc_id long, text string",
    )
    assert decontaminate(df, df, ngram=8).count() == 0


def test_canonical_url_rules(spark):
    from document_retrieval_system_spark.operators.curate import (
        canonical_url,
        url_duplicate_groups,
    )

    cases = [
        # (input, canonical)
        ("HTTPS://WWW.Example.COM:443/path/7/?utm_source=x&q=1#frag",
         "https://www.example.com/path/7?q=1"),
        ("https://www.example.com/path//7/?q=1&utm_campaign=y",
         "https://www.example.com/path/7?q=1"),
        ("http://Host.com:80/", "http://host.com"),
        ("https://a.b/c?utm_x=1", "https://a.b/c"),
        ("https://a.b/c?gclid=123&keep=2", "https://a.b/c?keep=2"),
        ("https://a.b/UPPER/Case?Q=Mixed",  # path/query case preserved
         "https://a.b/UPPER/Case?Q=Mixed"),
        ("https://a.b:8080/x", "https://a.b:8080/x"),  # non-default port kept
        # tracking strip anchors at the param separator: these are
        # legitimately different params, not utm_/fbclid
        ("https://a.b/c?xutm_source=1", "https://a.b/c?xutm_source=1"),
        ("https://a.b/c?myfbclid=2", "https://a.b/c?myfbclid=2"),
        ("https://a.b/c?utm_a=1&utm_b=2", "https://a.b/c"),
        # duplicate-slash collapse is path-only: query values embedding
        # URLs stay distinct
        ("https://a.b/c?next=http://x//y", "https://a.b/c?next=http://x//y"),
        # default-port strip is scheme-aware: these are distinct origins
        ("http://x.com:443/p", "http://x.com:443/p"),
        ("https://x.com:80/p", "https://x.com:80/p"),
        ("http://x.com:80/p", "http://x.com/p"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r["c"] for r in df.select(canonical_url(F.col("url")).alias("c")).collect()]
    assert got == [want for _, want in cases], list(zip(got, cases))

    dup = spark.createDataFrame(
        [(1, cases[0][0]), (2, cases[1][0]), (3, "https://unique.example/z")],
        "doc_id long, url string",
    )
    groups = url_duplicate_groups(dup).collect()
    assert len(groups) == 1
    assert groups[0]["n_variants"] == 2 and groups[0]["keep_id"] == 1


def test_repetition_signals_hand_computed(spark):
    """Gopher repetition signals against hand-derived values: line 'xx
    yy' repeated 3x, 2-gram 'xx yy' heaviest, 3-grams crossing the
    repeat boundary duplicated."""
    from document_retrieval_system_spark.operators.textstats import repetition_signals

    docs = spark.createDataFrame(
        [
            (1, "aa bb aa bb\nxx yy\nxx yy\nxx yy"),
            (2, "unique line one\nsecond distinct line"),
            (3, None),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in repetition_signals(docs).collect()}
    r1 = rows[1]
    # 4 lines, 2 distinct -> 0.5; chars 26 total, 16 distinct -> 10/26
    assert r1["n_lines"] == 4 and r1["dup_line_frac"] == 0.5
    assert r1["dup_line_char_frac"] == round(10 / 26, 4)
    # heaviest 2-gram: 'xx yy' x3, mass 15 over 29 text chars
    assert r1["top2_char_frac"] == round(15 / 29, 4)
    # 3-grams: 'xx yy xx' x2 + 'yy xx yy' x2 duplicated, 8 grams of len 8
    assert r1["dup3_char_frac"] == 0.5
    r2 = rows[2]
    assert r2["dup_line_frac"] == 0.0 and r2["dup_line_char_frac"] == 0.0
    assert r2["dup3_char_frac"] == 0.0 and r2["n_lines"] == 2
    r3 = rows[3]
    assert r3["n_lines"] == 0 and r3["top2_char_frac"] == 0.0
    assert r3["dup_line_frac"] == 0.0


def test_paragraph_duplicate_groups(spark):
    """Exact paragraph dedup: trimmed >=20-char paragraphs shared by >=2
    docs group under md5 with min-doc representative; same-doc repeats
    alone don't qualify; short fragments are dropped."""
    from document_retrieval_system_spark.operators.dedup import (
        paragraph_duplicate_groups,
    )

    shared = "alpha paragraph shared across docs"
    docs = spark.createDataFrame(
        [
            (1, shared + "\nunique paragraph number one here"),
            (2, shared + "\nsomething else entirely different"),
            (3, "short\n" + shared),
            (4, "  " + shared + "  \nxx"),
            (5, "beta beta beta beta beta\nbeta beta beta beta beta"),
        ],
        "doc_id long, text string",
    )
    got = paragraph_duplicate_groups(docs).collect()
    assert len(got) == 1
    g = got[0]
    import hashlib

    assert g["para_hash"] == hashlib.md5(shared.encode()).hexdigest()
    assert g["keep_id"] == 1 and g["n_docs"] == 4 and g["n_occur"] == 4


def test_quality_model_separates_and_is_map_only(spark):
    """Model-based quality filter (fastText/CCNet shape): the fitted
    hashed-ngram linear classifier separates planted junk from natural
    docs perfectly at sf0.01, the scoring plan is map-only (no
    Exchange — one scan, column exprs), and the offline fit is
    bit-deterministic across refits."""
    from document_retrieval_system_spark import entry_queries as eq
    from document_retrieval_system_spark.plans.explain import formatted_plan

    sf = "/root/testdata/sf0.01"
    out = eq.q_ta_quality_model(spark, sf)
    rows = out.collect()
    assert len(rows) == 500
    for r in rows:
        assert r["keep"] == (r["doc_id"] % eq.QM_JUNK_MOD != 3), r
    plan = formatted_plan(out)
    # map-only = no data-keyed exchange; the r6 scan-parallelism guard
    # adds one round-robin repartition of the single-split source, which
    # keys on nothing and moves each row once
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan
    assert "SinglePartition" not in plan

    w1, b1 = eq._qm_fitted(sf)
    eq._MEMO.clear()
    w2, b2 = eq._qm_fitted(sf)
    assert w1 == w2 and b1 == b2
    # quantized ints are genuinely informative, not all-zero
    assert sum(1 for v in w1 if v != 0) > 100


def test_quality_model_edge_docs(spark):
    """Empty/NULL/non-letter docs score exactly the bias (no grams) and
    single-token docs flow through the unigram path."""
    from document_retrieval_system_spark.operators.quality_model import (
        fit_quality_model,
        quantize_weights,
        score_quality_model,
    )

    pos = ["good natural document text here " * 3] * 4
    neg = ["spam junk buy now " * 5] * 4
    w, b = fit_quality_model(pos, neg)
    w_int = quantize_weights(w)
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "12345 !!!"), (4, "natural"), (5, "spam")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in
           score_quality_model(df, w_int, b).collect()}
    assert got[1]["qm_score"] == b == got[2]["qm_score"] == got[3]["qm_score"]
    assert got[4]["qm_score"] > got[5]["qm_score"]


def test_contamination_verdicts(spark):
    """Per-doc contamination verdicts: the copied doc drops, the
    partial-overlap doc keeps with the right fraction, clean docs keep
    with 0.0, and every training doc appears exactly once."""
    from document_retrieval_system_spark.operators.curate import (
        contamination_verdicts,
    )

    eval_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    train = spark.createDataFrame(
        [
            (1, eval_text),                                   # full copy
            (2, "noise one two " + eval_text.split(" eta")[0]),  # partial
            (3, "totally unrelated body of words without overlap"),
            (4, ""),                                          # no grams
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(100, eval_text), (101, "nothing shared here at all truly")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in
           contamination_verdicts(train, ev, ngram=3, threshold=0.75).collect()}
    assert set(got) == {1, 2, 3, 4}
    # doc 1: all 8 trigrams shared -> frac 1.0, drop, worst = 100
    assert got[1]["n_grams"] == 8 and got[1]["max_shared"] == 8
    assert got[1]["overlap_frac"] == 1.0 and got[1]["drop_flag"]
    assert got[1]["worst_eval_id"] == 100
    # doc 2: 9 tokens -> 7 trigrams, 4 lie inside the copied prefix
    assert got[2]["overlap_frac"] == 4 / 7 and not got[2]["drop_flag"]
    assert got[2]["worst_eval_id"] == 100
    # clean + empty docs: zero overlap, sentinel worst id, keep
    for d in (3, 4):
        assert got[d]["max_shared"] == 0 and got[d]["overlap_frac"] == 0.0
        assert got[d]["worst_eval_id"] == -1 and not got[d]["drop_flag"]


def test_c4_gopher_filters_hand_computed(spark):
    """C4/Gopher filter signals against hand-derived values on five
    crafted pages: a clean keeper, a lorem+brace page, a javascript
    line (line dropped, page kept), a bullet list, and an ellipsis
    teaser page."""
    from document_retrieval_system_spark.operators.textstats import c4_gopher_filters

    clean = ("The quick brown fox jumps over the lazy dog today.\n"
             "It is a fine day for all of the animals in town.\n"
             "Every one of them wants to be out in the sun now.\n"
             "short line.")  # <5 words -> dropped, page still has 3 sentences
    lorem = "Lorem ipsum dolor sit amet and then some {braces} here."
    jsdoc = ("A perfectly good first sentence is right here for you.\n"
             "Please enable javascript to view the comments on this page.\n"
             "Another good closing sentence of the page sits here too.\n"
             "And one more full sentence of the usual kind for luck.")
    bullets = "- one\n- two\n- three\n- four\n- five\n- six\n- seven\n- eight\n- nine\n- ten"
    ellipsis = ("The teaser text of the page trails off like this...\n"
                "Nothing here on this line actually ends with one period!")
    docs = spark.createDataFrame(
        [(1, clean), (2, lorem), (3, jsdoc), (4, bullets), (5, ellipsis)],
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in c4_gopher_filters(docs).collect()}

    r1 = rows[1]
    assert (r1["n_lines"], r1["n_kept_lines"]) == (4, 3)
    assert r1["n_sentences"] == 3 and r1["c4_keep"]
    assert not r1["has_lorem"] and not r1["has_brace"]
    assert r1["n_words"] == 36  # 10 + 12 + 12 + 2
    assert not r1["gopher_keep"]  # n_words 36 < 50

    r2 = rows[2]
    assert r2["has_lorem"] and r2["has_brace"] and not r2["c4_keep"]

    r3 = rows[3]
    # javascript line dropped; the 3 other lines each end in '.', >=5 words
    assert (r3["n_lines"], r3["n_kept_lines"]) == (4, 3)
    assert r3["n_sentences"] == 3 and r3["c4_keep"]

    r4 = rows[4]
    assert r4["bullet_line_frac"] == 1.0
    assert r4["n_kept_lines"] == 0 and not r4["c4_keep"] and not r4["gopher_keep"]

    r5 = rows[5]
    assert r5["ellipsis_line_frac"] == 0.5
    # '...' line ends in '.', has >=5 words -> kept and contributes 3 marks
    assert r5["n_sentences"] == 4 and r5["c4_keep"]


def test_c4_filters_entry_nonvacuous(spark):
    """Both keep flags take both values across the planted variants, and
    every variant group behaves as designed."""
    from document_retrieval_system_spark.entry_queries import q_ta_c4_filters

    rows = q_ta_c4_filters(spark, "/root/testdata/sf0.01").collect()
    by_grp = {}
    for r in rows:
        by_grp.setdefault(r["doc_id"] % 7, []).append(r)
    assert all(r["c4_keep"] for r in by_grp[0])          # good block
    assert all(not r["c4_keep"] for r in by_grp[1])      # brace page
    assert all(r["has_lorem"] and not r["c4_keep"] for r in by_grp[2])
    assert all(r["bullet_line_frac"] > 0.9 and not r["gopher_keep"]
               for r in by_grp[3])
    assert all(r["ellipsis_line_frac"] > 0.3 and not r["gopher_keep"]
               for r in by_grp[4])
    assert all(r["n_words"] < 50 and not r["gopher_keep"] for r in by_grp[5])
    assert any(r["gopher_keep"] for r in by_grp[0])


def test_e2e_curation_funnel_consistency(spark):
    """Funnel invariants at sf0.01: survivors pass C4; every duplicate
    names a surviving canonical with a smaller id and identical 64-char
    prefix; each stage is non-vacuous."""
    from document_retrieval_system_spark.entry_queries import (
        _c4_planted_docs,
        q_e2e_curation,
    )

    sf = "/root/testdata/sf0.01"
    rows = q_e2e_curation(spark, sf).collect()
    by_id = {r["doc_id"]: r for r in rows}
    n_c4 = sum(r["c4_keep"] for r in rows)
    n_surv = sum(r["survives"] for r in rows)
    n_dup = sum(r["dup_of"] is not None for r in rows)
    assert 0 < n_surv < n_c4 < len(rows)
    assert n_dup == n_c4 - n_surv
    texts = {r["doc_id"]: r["text"]
             for r in _c4_planted_docs(spark, sf).collect()}
    for r in rows:
        if r["survives"]:
            assert r["c4_keep"] and r["dup_of"] is None
        if r["dup_of"] is not None:
            canon = by_id[r["dup_of"]]
            assert canon["survives"] and r["dup_of"] < r["doc_id"]
            assert texts[r["doc_id"]][:64] == texts[r["dup_of"]][:64]


def test_contamination_verdicts_null_text(spark):
    """NULL training text counts as 0 grams (review finding: F.size of
    a NULL token array is not 0)."""
    from document_retrieval_system_spark.operators.curate import (
        contamination_verdicts,
    )

    train = spark.createDataFrame(
        [(1, None), (2, "one two three four five six seven eight")],
        "doc_id long, text string")
    ev = spark.createDataFrame(
        [(9, "one two three four five six seven eight")],
        "doc_id long, text string")
    got = {r["doc_id"]: (r["n_grams"], r["drop_flag"])
           for r in contamination_verdicts(train, ev, ngram=8).collect()}
    assert got[1] == (0, False)
    assert got[2][0] == 1 and got[2][1]


def test_distinctive_terms_ctfidf(spark):
    import math

    import pytest

    from document_retrieval_system_spark.operators.textstats import (
        distinctive_terms,
    )

    # "common" occurs on both hosts; each host has its own marker term.
    rows = ([("a", "common")] * 3 + [("a", "alpha")] * 2
            + [("b", "common")] * 3 + [("b", "beta")])
    occ = spark.createDataFrame(rows, "host string, term string")
    out = {(r["host"], r["rank"]): (r["term"], r["tf"], r["weight"])
           for r in distinctive_terms(occ, top_n=2).collect()}
    # host a's tf=2 marker beats the shared term; on host b the tf=1
    # marker loses to the tf=3 shared term — the formula genuinely
    # trades tf against cross-host idf rather than always preferring
    # host-unique vocabulary.
    assert out[("a", 1)][0] == "alpha"
    assert out[("a", 2)][0] == "common"
    assert out[("b", 1)][0] == "common"
    assert out[("b", 2)][0] == "beta"
    w_alpha = (1 + math.log(2)) * math.log(1 + 2 / 1)
    assert out[("a", 1)][2] == pytest.approx(w_alpha, rel=1e-12)
    w_beta = (1 + math.log(1)) * math.log(1 + 2 / 1)
    w_common = (1 + math.log(3)) * math.log(1 + 2 / 2)
    assert w_common > w_beta
    assert out[("b", 1)][2] == pytest.approx(w_common, rel=1e-12)


def test_bloom_decontaminate_superset_and_fp_accounting(spark):
    import pytest

    from document_retrieval_system_spark.operators.curate import (
        bloom_decontaminate,
        decontaminate,
    )

    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    mk = lambda seed, n: " ".join(words[(seed + i) % 6] for i in range(n))
    # doc 1 duplicates an eval doc; the rest carry doc-unique grams so
    # the tiny filter can false-positive on them
    letter = lambda n: chr(97 + n % 26) + chr(97 + (n // 26) % 26)
    train = spark.createDataFrame(
        [(1, mk(1, 12))]
        + [(i, " ".join(f"tok{letter(i)}x{letter(j)}" for j in range(12)))
           for i in range(2, 30)],
        "doc_id long, text string")
    ev = spark.createDataFrame(
        [(100, mk(1, 12)), (101, "nu xi omicron pi rho sigma")],
        "doc_id long, text string")

    out = {r["doc_id"]: r for r in
           bloom_decontaminate(train, ev, ngram=3, m_bits=16, k=1)
           .collect()}
    # Bloom NEVER misses: bloom_hits >= exact_hits on every doc
    assert all(r["bloom_hits"] >= r["exact_hits"] for r in out.values())
    # the identical-text pair is also visible to the exact pair operator
    pairs = decontaminate(train, ev, ngram=3).collect()
    assert any(p["doc_id"] == 1 and p["eval_id"] == 100 for p in pairs)
    # doc 1 shares ALL its grams with eval doc 100 (identical text)
    assert out[1]["exact_hits"] == out[1]["n_grams"]
    assert out[1]["bloom_hits"] == out[1]["n_grams"]
    # tiny m=16 filter with 1 hash slot must produce SOME false
    # positives across 29 docs (fp tier genuinely exercised)
    assert any(r["bloom_hits"] > r["exact_hits"] for r in out.values())

    with pytest.raises(ValueError, match="k must be"):
        bloom_decontaminate(train, ev, k=5)


def test_canonical_per_cluster_elects_one_keeper(spark):
    from document_retrieval_system_spark.operators.curate import (
        canonical_per_cluster,
    )

    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7), (9, 7)],
        "doc_id long, cluster_id long",
    )
    quality = spark.createDataFrame(
        # cluster 1: doc 2 wins on quality; cluster 7: tie -> doc 7 wins
        [(1, 0.5), (2, 0.9), (3, 0.7), (7, 0.6), (9, 0.6)],
        "doc_id long, quality double",
    )
    rows = {r.doc_id: (r.cluster_id, r.keep)
            for r in canonical_per_cluster(clusters, quality).collect()}
    assert rows == {1: (1, False), 2: (1, True), 3: (1, False),
                    7: (7, True), 9: (7, False)}


def test_canonical_exactly_one_keep_per_cluster(spark):
    import random

    from document_retrieval_system_spark.operators.curate import (
        canonical_per_cluster,
    )

    rng = random.Random(5)
    clusters = [(i, i % 13) for i in range(80)]
    quality = [(i, round(rng.random(), 4)) for i in range(80)]
    out = canonical_per_cluster(
        spark.createDataFrame(clusters, "doc_id long, cluster_id long"),
        spark.createDataFrame(quality, "doc_id long, quality double"),
    ).collect()
    assert len(out) == 80
    per = {}
    for r in out:
        per.setdefault(r.cluster_id, []).append(r)
    for cid, members in per.items():
        keeps = [r for r in members if r.keep]
        assert len(keeps) == 1
        best = max(members, key=lambda r: (r.quality, -r.doc_id))
        assert keeps[0].doc_id == best.doc_id
