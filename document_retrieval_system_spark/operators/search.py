"""Query operators — SURVEY.md §2.4 (boolean/phrase/NEAR) and §2.5 (ranked).

All scorers reproduce the reference formulas exactly:

- BM25 (search_engine.py:427-482): idf = ln((N-df+0.5)/(df+0.5)+1),
  tf_norm = tf/(tf + k1*(1-b+b*dl/avgdl)), k1=1.2 b=0.75, score = sum over
  query-term OCCURRENCES (duplicate query terms count twice), then
  ``score >= min_score``, sort desc, top-k.
- TF-IDF (search_engine.py:347-410 + indexer.py:254-271): normalized
  query idf vector * L2-normalized doc tf-idf vector.
- Boolean (search_engine.py:229-345): set ops over posting doc sets;
  single-term score tf/doc_len; multi-term score matched_raw_terms/total.

Determinism contract: ordering is (score desc, doc_id asc) — see
oracle.py docstring.

Scale shape: query terms are a handful of rows — term filters push down
to the Parquet/Iceberg scan (partition column ``shard`` + term-sorted row
groups), per-term stats are read in the driver (``IndexReader.query_stats``,
a pyarrow read of a few row groups, no Spark job) and shipped as
literals/broadcasts, and the only shuffle is the final tiny
groupBy(doc)/top-k.  The exhaustive scorers here decode posting blocks
with ``index_build.flat_postings``, the one posting decoder; the pruned
path is operators/wand.py.  Both BM25 paths share the weights preamble
(``bm25_query_weights``) and the term score (``bm25_term_score``).  The
relational core of the exhaustive scorer, ``bm25_posting_sum`` (decoded
postings + ``{term: w}`` + avgdl -> per-doc sum), is also what the
entry queries call when they need per-posting control: per-term
feedback weights (RM3) or statically pruned postings.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from document_retrieval_system_spark.functions.analyzer import process_text
from document_retrieval_system_spark.operators.index_build import flat_postings
from document_retrieval_system_spark.oracle import (
    BM25_B,
    BM25_K1,
    DEFAULT_MAX_RESULTS,
    DEFAULT_MIN_SCORE,
    OracleEngine,
)

def bm25_weights(n: int, dfs: dict, terms: list[str]) -> dict[str, float]:
    """BM25 query weights: idf = ln((N-df+0.5)/(df+0.5)+1) (:456), summed
    per query-term OCCURRENCE (:450 loop — duplicate query terms count
    twice), in first-occurrence order.  Terms with no postings drop out.
    ``dfs`` comes from ``IndexReader.query_stats``, the tiny driver-side
    twin of the reference's get_doc_freq calls."""
    weights: dict[str, float] = {}
    for t in terms:
        df = dfs.get(t, 0)
        if df > 0:
            weights[t] = weights.get(t, 0.0) + math.log((n - df + 0.5) / (df + 0.5) + 1)
    return weights


def bm25_term_score(w, tf, dl, avgdl):
    """A query term's BM25 contribution to one document,
    w * tf / (tf + k1*(1-b+b*dl/avgdl)) (:458-471), on Spark Columns or
    numpy arrays alike.  Every BM25 score of the engine takes this one
    operation order, so the exhaustive scorer, the WAND posting scores
    and the WAND block bounds (``max_tf``, ``min_dl``) agree to the bit."""
    return w * (tf / (tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / avgdl)))


def bm25_query_weights(reader, queries: list[str], lang: str, analyzer):
    """The weights preamble of every BM25 scorer: analyze each query, read
    the corpus scalars and the terms' dfs in the driver, and weigh each
    query's terms.

    Returns ``({query index: {term: w}}, avgdl, {term: df})``.  A query
    with no indexed term is absent from the first dict, which may be
    empty; the last holds the dfs of every indexed query term."""
    per_query = [analyzer(q, lang) for q in queries]
    all_terms = sorted({t for terms in per_query for t in terms})
    if not all_terms:
        return {}, 0.0, {}
    corpus, dfs = reader.query_stats(all_terms)
    weights = {qid: w for qid, terms in enumerate(per_query)
               if (w := bm25_weights(corpus["total_docs"], dfs, terms))}
    return weights, corpus["avg_doc_length"], dfs


def bm25_posting_sum(postings: DataFrame, weights: dict[str, float],
                     avgdl: float, by=("shard", "local_no")) -> DataFrame:
    """The relational BM25 core: decoded posting rows (term, tf,
    doc_len, *by) and per-term weights ``{term: w}`` -> (*by, score),
    the per-doc sum of `bm25_term_score` over the postings of weighted
    terms.  ``w`` is the idf for plain BM25, or idf x a feedback weight
    for an expanded query; the caller may prune the postings first
    (static pruning keeps full-corpus weights and avgdl)."""
    wdf = postings.sparkSession.createDataFrame(
        list(weights.items()), "term string, w double"
    )
    return (
        postings.join(F.broadcast(wdf), "term")
        .withColumn(
            "part", bm25_term_score(F.col("w"), F.col("tf"), F.col("doc_len"), avgdl)
        )
        .groupBy(*by)
        .agg(F.sum("part").alias("score"))
    )


def _attach_doc_id(scored: DataFrame, reader, k: int) -> DataFrame:
    docs = reader.docs().select("shard", "local_no", "doc_id", "url")
    return (
        scored.join(docs, ["shard", "local_no"])
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
        .select("doc_id", "url", "score", "shard", "local_no")
    )


def bm25_search(
    reader,
    query: str,
    lang: str = "zh",
    max_results: int = DEFAULT_MAX_RESULTS,
    min_score: float = DEFAULT_MIN_SCORE,
    analyzer=process_text,
) -> DataFrame:
    """Exhaustive relational BM25 (R3 naive form)."""
    weights, avgdl, _ = bm25_query_weights(reader, [query], lang, analyzer)
    if not weights:
        return _empty_result(reader.spark)
    blocks = reader.postings().filter(F.col("term").isin(list(weights[0])))
    scored = bm25_posting_sum(flat_postings(blocks), weights[0], avgdl).filter(
        F.col("score") >= min_score
    )
    return _attach_doc_id(scored, reader, max_results)


def tfidf_search(
    reader,
    query: str,
    lang: str = "zh",
    max_results: int = DEFAULT_MAX_RESULTS,
    min_score: float = DEFAULT_MIN_SCORE,
) -> DataFrame:
    """R1: normalized query idf vector x L2-normalized doc tf-idf weights."""
    spark = reader.spark
    query_terms = process_text(query, lang)
    if not query_terms:
        return _empty_result(spark)
    corpus, dfs = reader.query_stats(query_terms)
    n = corpus["total_docs"]
    q_w: dict[str, float] = {}
    for t in query_terms:  # :364-373 (first occurrence sets the weight)
        if t not in q_w:
            df = dfs.get(t, 0)
            q_w[t] = math.log(n / df) if df > 0 else 0.0
    vec_len = math.sqrt(sum(w * w for w in q_w.values()))
    if vec_len > 0:
        q_w = {t: w / vec_len for t, w in q_w.items()}
    # accumulation is per query-term OCCURRENCE (:383), skipping w_qt<=0
    mult: dict[str, float] = {}
    for t in query_terms:
        if q_w.get(t, 0.0) > 0 and dfs.get(t, 0) > 0:
            mult[t] = mult.get(t, 0.0) + q_w[t]
    if not mult:
        return _empty_result(spark)

    wdf = spark.createDataFrame(
        [(t, w, float(dfs[t])) for t, w in mult.items()],
        "term string, w_qt double, df double",
    )
    flat = flat_postings(
        reader.postings().filter(F.col("term").isin(list(mult))), False
    )
    norms = reader.doc_norms()
    scored = (
        flat.join(F.broadcast(wdf), "term")
        .withColumn("w_dt_raw", F.col("tf") * F.log(F.lit(float(n)) / F.col("df")))
        .join(norms, ["shard", "local_no"])
        .withColumn(
            "w_dt",
            F.when(F.col("tfidf_veclen") > 0, F.col("w_dt_raw") / F.col("tfidf_veclen"))
            .otherwise(F.col("w_dt_raw")),
        )
        .groupBy("shard", "local_no")
        .agg(F.sum(F.col("w_qt") * F.col("w_dt")).alias("score"))
        .filter(F.col("score") >= min_score)
    )
    return _attach_doc_id(scored, reader, max_results)


def boolean_search(
    reader,
    query: str,
    lang: str = "zh",
    max_results: int = DEFAULT_MAX_RESULTS,
    min_score: float = DEFAULT_MIN_SCORE,
) -> DataFrame:
    """B1+B2: simple boolean query with AND/OR/NOT left-fold set ops."""
    spark = reader.spark
    tokens, operators = OracleEngine.parse_boolean_query(query)
    if not tokens:
        return _empty_result(spark)

    if len(tokens) == 1:  # :248-269 — tf/doc_len scoring
        processed = process_text(tokens[0], lang)
        if not processed:
            return _empty_result(spark)
        term = processed[0]
        flat = flat_postings(reader.postings().filter(F.col("term") == term), False)
        scored = flat.select(
            "shard",
            "local_no",
            (F.col("tf").cast("double") / F.col("doc_len")).alias("score"),
        ).filter(F.col("score") >= min_score)
        return _attach_doc_id(scored, reader, max_results)

    # multi-term (:272-307)
    sets: list[DataFrame] = []
    for raw in tokens:
        processed = process_text(raw, lang)
        if not processed:
            continue
        sets.append(_doc_set(reader, processed[0]))
    if not sets:
        return _empty_result(spark)
    final = sets[0]
    for i, op in enumerate(operators):
        if i + 1 < len(sets):
            if op == "AND":
                final = final.intersect(sets[i + 1])
            elif op == "OR":
                final = final.union(sets[i + 1]).distinct()
            elif op == "NOT":
                final = final.subtract(sets[i + 1])
    # score = matched RAW terms / total raw terms (:299 — raw, unprocessed!)
    raw_unique = list(set(tokens))
    raw_hits = (
        flat_postings(reader.postings().filter(F.col("term").isin(raw_unique)), False)
        .select("shard", "local_no", "term")
    )
    # duplicates in `tokens` each count (:299 iterates tokens, not set(tokens))
    tok_counts: dict[str, int] = {}
    for t in tokens:
        tok_counts[t] = tok_counts.get(t, 0) + 1
    cnt_df = spark.createDataFrame(
        [(t, c) for t, c in tok_counts.items()], "term string, mult int"
    )
    matched = (
        raw_hits.join(F.broadcast(cnt_df), "term")
        .groupBy("shard", "local_no")
        .agg(F.sum("mult").alias("matched"))
    )
    scored = (
        final.join(matched, ["shard", "local_no"], "left")
        .withColumn(
            "score",
            F.coalesce(F.col("matched"), F.lit(0)).cast("double") / F.lit(len(tokens)),
        )
        .filter(F.col("score") >= min_score)
        .select("shard", "local_no", "score")
    )
    return _attach_doc_id(scored, reader, max_results)


def _doc_set(reader, term: str) -> DataFrame:
    """A term's (shard, local_no) doc set — decodes doc_bytes only
    (column pruning keeps pos_bytes out of the scan entirely)."""
    return flat_postings(
        reader.postings().filter(F.col("term") == term), False
    ).select("shard", "local_no")


def _intersect_doc_sets(reader, terms: list[str]) -> DataFrame:
    inter = None
    for t in dict.fromkeys(terms):
        ds = _doc_set(reader, t)
        inter = ds if inter is None else inter.join(ds, ["shard", "local_no"], "left_semi")
    return inter


def _positions_pruned(reader, term: str, inter: DataFrame) -> DataFrame:
    """Positions of `term` restricted to the pre-intersected doc set.

    r2 exploded every position of every query term BEFORE any doc-level
    pruning: for a phrase containing one common term that is
    postings x positions cardinality feeding a join.  r3 order of work:

    1. doc-set intersection (doc-cardinality, positions never touched);
    2. block-level semi-join — posting blocks whose [first_doc,
       last_doc] range holds NO intersection doc are dropped while
       pos_bytes is still one undecoded binary cell, so the decode UDF
       never sees them;
    3. row-level semi-join on (shard, local_no), THEN the position
       explode — position-cardinality work is bounded by the
       intersection, not by the most common term.

    The intersection subtree is re-evaluated per use (Spark recomputes
    shared lineage); it costs doc-set decodes only, which is the cheap
    currency here — at scale the position explode dominates.
    """
    blocks = reader.postings().filter(F.col("term") == term)
    pruned = blocks.alias("b").join(
        inter.alias("i"),
        (F.col("b.shard") == F.col("i.shard"))
        & (F.col("i.local_no") >= F.col("b.first_doc"))
        & (F.col("i.local_no") <= F.col("b.last_doc")),
        "left_semi",
    )
    return (
        flat_postings(pruned, with_positions=True)
        .join(inter, ["shard", "local_no"], "left_semi")
        .select("shard", "local_no", F.explode("positions").alias("p"))
    )


def phrase_search(reader, phrase_terms: list[str]) -> DataFrame:
    """B7 (boolean_model.py:363-419): consecutive positions p, p+1, ..."""
    spark = reader.spark
    if not phrase_terms:
        return spark.createDataFrame([], "shard int, local_no long")
    inter = _intersect_doc_sets(reader, phrase_terms)
    flats = [_positions_pruned(reader, t, inter) for t in phrase_terms]
    base = flats[0].withColumnRenamed("p", "p0")
    for i in range(1, len(phrase_terms)):
        nxt = flats[i].withColumn("p0", F.col("p") - i).select("shard", "local_no", "p0")
        base = base.join(nxt, ["shard", "local_no", "p0"], "left_semi")
    return base.select("shard", "local_no").distinct()


def near_search(reader, term_a: str, term_b: str, distance: int = 5) -> DataFrame:
    """B6 (boolean_model.py:313-354): |pos_a - pos_b| <= distance."""
    inter = _intersect_doc_sets(reader, [term_a, term_b])
    fa = _positions_pruned(reader, term_a, inter).withColumnRenamed("p", "pa")
    fb = _positions_pruned(reader, term_b, inter).withColumnRenamed("p", "pb")
    return (
        fa.join(fb, ["shard", "local_no"])
        .filter(F.abs(F.col("pa") - F.col("pb")) <= distance)
        .select("shard", "local_no")
        .distinct()
    )


# the columns and types of every ranked search result
RESULT_SCHEMA = "doc_id string, url string, score double, shard int, local_no long"


def _empty_result(spark) -> DataFrame:
    return spark.createDataFrame([], RESULT_SCHEMA)


def prefix_search(reader, prefix: str) -> DataFrame:
    """Wildcard term query (``prefix*``): the (shard, local_no) doc set
    containing ANY indexed term starting with `prefix` — the B-family
    operator for truncated queries.

    The predicate pushes into the postings scan as a StringStartsWith
    filter over term-sorted row groups (the columnar twin of a
    dictionary/trie range scan: only row groups whose term min/max
    straddle the prefix are read — plan-test-pinned), matched blocks
    decode doc_bytes only, and the per-doc OR across matched terms is
    one distinct."""
    return (
        flat_postings(
            reader.postings().filter(F.col("term").startswith(prefix)), False
        )
        .select("shard", "local_no")
        .distinct()
    )


def prefix_completions(reader, prefix: str, k: int = 10) -> DataFrame:
    """Query autocompletion over the REAL index: the top-``k`` indexed
    terms starting with ``prefix``, ranked by collection frequency
    (ties by term ascending) — the suggest-as-you-type surface every
    search box needs, served from index metadata alone.

    Reads ONLY the term-stats sidecar (per shard and stats segment, one
    row per term, df + cf — orders of magnitude smaller than postings),
    through the global ``IndexReader.term_stats`` view.  The StartsWith
    predicate pushes below that view's groupBy into its parquet scan:
    each term_stats file is sorted by term in bounded row groups, so per
    file the scan reads only the row groups whose term range meets the
    prefix.  There is one file per shard and stats segment, so every
    file is opened — the block scan's S-shard fan-out.  The matching
    rows are summed per term (one exchange of prefix-matching rows), and
    top-k is a TakeOrderedAndProject — no full sort.  (Same pushdown
    shape as `prefix_search`, which pays the full postings decode this
    operator never touches.)"""
    return (
        reader.term_stats()
        .filter(F.col("term").startswith(prefix))
        .orderBy(F.col("cf").desc(), F.col("term"))
        .limit(k)
        .select("term", F.col("df").cast("long").alias("df"),
                F.col("cf").cast("long").alias("cf"))
    )
