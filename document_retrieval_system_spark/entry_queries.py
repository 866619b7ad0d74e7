"""Driver-contract queries: Spark DataFrame builders + DuckDB oracle SQL.

Each entry implements one operator from SURVEY.md §2 (or a training-data
pipeline operator) over the driver's testdata tables, with an ANSI-SQL
twin that DuckDB runs on the same parquet — the driver compares row
counts, schemas and order-insensitive value hashes at sf=0.01.

Conventions keeping the two engines hash-identical:
- the SQL-expressible "simple analyzer": lower -> [^a-z]->space -> split
  on ' ' -> len>=2 (the full reference analyzer with stemming/CJK
  segmentation is pytest-verified against the oracle instead);
- integer inputs everywhere before division; doubles rounded (6 dp for
  scores, 4 for composites) so 1-ulp libm/summation-order differences
  can't flip the hash;
- every computed column aliased identically on both sides.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from document_retrieval_system_spark.operators import dedup, fuzzy, similarity, textstats
from document_retrieval_system_spark.operators.textstats import (
    simple_process_text,
    simple_tokens,
)

BM25_TERMS = ["data", "join", "filter", "scan"]
K1, B = 1.2, 0.75

# ---------------------------------------------------------------------------
# shared SQL fragments (DuckDB)
# ---------------------------------------------------------------------------

SQL_TOKS = """
toks AS (
  SELECT doc_id, text,
         list_filter(string_split(regexp_replace(lower(text), '[^a-z]', ' ', 'g'), ' '),
                     t -> length(t) >= 2) AS toks
  FROM documents
)"""

SQL_POS = SQL_TOKS + """,
pos AS (
  SELECT doc_id, unnest(toks) AS term, generate_subscripts(toks, 1) AS pos,
         len(toks) AS dl
  FROM toks
)"""

SQL_TFS = SQL_POS + """,
tfs AS (
  SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
  FROM pos GROUP BY doc_id, term
)"""

SQL_BM25_BASE = SQL_TFS + f""",
stats AS (SELECT term, count(*) AS df FROM tfs GROUP BY term),
corpus AS (
  SELECT count(*) AS n, avg(len(toks)) AS avgdl
  FROM toks WHERE len(toks) > 0
),
q AS (SELECT unnest({BM25_TERMS!r}) AS term),
bm25 AS (
  SELECT tfs.doc_id,
         sum( ln((corpus.n - stats.df + 0.5) / (stats.df + 0.5) + 1)
              * tfs.tf / (tfs.tf + {K1} * (1 - {B} + {B} * tfs.dl / corpus.avgdl)) ) AS score
  FROM tfs JOIN q USING (term) JOIN stats USING (term) CROSS JOIN corpus
  GROUP BY tfs.doc_id
)"""


# ---------------------------------------------------------------------------
# Spark-side shared builders
# ---------------------------------------------------------------------------

# Minimum compressed source size for the scan spread to pay for itself:
# the repartition costs a fixed exchange (~0.3-0.5 s of scheduling and a
# serial shuffle write) and a pushdown barrier, so below ~4 MB of
# parquet the single-core map work it would parallelize is cheaper than
# the exchange (measured at sf0.1: the spread REGRESSED 20 light
# queries by 0.3-1.5 s each while saving under 0.5 s).  Env-overridable
# for unusual deployments; on any multi-split production table the
# spread is a no-op regardless.
_SPREAD_MIN_BYTES = int(os.environ.get("SPARK_GRAFT_SPREAD_MIN_BYTES",
                                       str(4 * 1024 * 1024)))

# Bump when analyzer / index-build logic changes so stale cached entry
# artifacts (shared temp dir across driver runs) are never reused.
# v3: gap-aligned posting block boundaries.  v4: tagged ("b"-prefixed)
# ANN bucket partition values.  v5: manifest kind+committed_at.
# v6: URL-ordered local_no assignment (docID locality).
ENTRY_CACHE_VERSION = 6


def _fingerprint(path: str) -> tuple[tuple[str, int, int], ...] | None:
    """The one identity of an entry source: sorted per-file (name, size,
    mtime_ns) of a file or of every file under a directory tree; None
    when os.stat cannot see the path (an object-store URI).

    Everything derived from a source is keyed on it.  An in-process
    result (`_memo`) is recomputed when the fingerprint or its params
    change; an on-disk cache dir (`_cached_dir`) is rebuilt when the
    fingerprint, its params, codec.FORMAT_VERSION or ENTRY_CACHE_VERSION
    change.  The mtime is kept in nanoseconds, so a same-size rewrite
    within one second is new content too; only two writes inside one
    tick of the file system's clock look alike."""
    try:
        if not os.path.isdir(path):
            st = os.stat(path)
            return ((os.path.basename(path), st.st_size, st.st_mtime_ns),)
        files = sorted(os.path.join(r, f) for r, _d, fs in os.walk(path) for f in fs)
        stats = [(os.path.relpath(f, path), os.stat(f)) for f in files]
        return tuple((name, st.st_size, st.st_mtime_ns) for name, st in stats)
    except OSError:
        return None


_MEMO: dict = {}


def _memo(path: str, params: tuple, make):
    """The one in-process memo of values derived from a source: make()
    runs once per (abspath, `_fingerprint`, params)."""
    key = (os.path.abspath(path), _fingerprint(path), params)
    if key not in _MEMO:
        _MEMO[key] = make()
    return _MEMO[key]


def _cached_dir(kind: str, sf_dir: str, src_file: str, params, build) -> str:
    """The one on-disk entry cache: a temp dir keyed on the source's
    `_fingerprint`, ``params``, FORMAT_VERSION and ENTRY_CACHE_VERSION.
    On a miss build(tmp) writes a private staging dir that is then
    renamed into place, so concurrent drivers never see a partial
    build.  An empty src_file keys a fixture on the versions alone."""
    import hashlib
    import tempfile

    from document_retrieval_system_spark.operators.codec import FORMAT_VERSION

    src = os.path.join(sf_dir, src_file)
    tag = hashlib.md5(repr(
        (src, _fingerprint(src), FORMAT_VERSION, ENTRY_CACHE_VERSION, params)
    ).encode()).hexdigest()[:10]
    final = os.path.join(tempfile.gettempdir(), f"drs_entry_{kind}_{tag}")
    if not os.path.exists(final):
        tmp = f"{final}.tmp-{os.getpid()}"
        build(tmp)
        _publish_cache_dir(tmp, final)
    return final


def _publish_cache_dir(tmp: str, final: str) -> None:
    """Atomically promote a staged cache dir; lose the race gracefully."""
    import shutil

    try:
        os.rename(tmp, final)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.exists(final):
            raise


def _spread(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Scan-parallelism guard (guide §2.5 "input skew"): the driver's
    testdata ships ONE parquet row group per table, so the scan — and
    every map stage whole-stage-fused onto it (tokenize, explode,
    digest) — would run on a single core no matter how many the session
    has.  When the source offers fewer splits than the session's
    parallelism, one cheap round-robin exchange of the raw rows buys
    full-width execution for everything downstream; on real multi-split
    inputs (any production table) this is a no-op.  The split count is
    memoized per source and parallelism, so repeated calls don't
    re-plan the scan; a source os.stat cannot see counts as big."""
    n = spark.sparkContext.defaultParallelism
    fp = _fingerprint(path)
    if fp is not None and sum(size for _f, size, _t in fp) < _SPREAD_MIN_BYTES:
        return df
    if _memo(path, ("splits", n), lambda: df.rdd.getNumPartitions()) < n:
        # The always-true non-deterministic guard is a predicate-pushdown
        # BARRIER: without it, any later filter on a text-derived
        # expression (size(tokenize(text)) > 0, sampling keys, ...)
        # slides below this exchange and evaluates its whole expression
        # tree on the single-split scan — serializing exactly the work
        # the repartition exists to parallelize.  monotonically_
        # increasing_id() is non-negative by construction, so the filter
        # keeps every row; it merely cannot be reordered.  The barrier
        # only exists on degenerate single-split sources, so parquet
        # predicate pushdown on real multi-split tables is untouched.
        return df.repartition(n).where(F.monotonically_increasing_id() >= 0)
    return df


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = os.path.join(sf_dir, "documents.parquet")
    return _spread(spark, spark.read.parquet(p), p)


def _docs_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unspread documents scan — for consumers whose per-row map work is
    trivial (md5 of an id, URL regex, id-only graph derivations): there
    the `_spread` exchange + pushdown barrier cost more than the
    parallelism they buy (measured +0.3-4 s each at sf1.0)."""
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = os.path.join(sf_dir, "embeddings.parquet")
    return _spread(spark, spark.read.parquet(p), p)


def _emb_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unspread embeddings scan — the ANN point queries probe one query
    vector and a pruned bucket set; the barrier would block those
    pushed filters and force full decodes (measured ann_lsh 0.7->2.2 s
    under spread)."""
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events scan, unspread by default: event operators shuffle by
    user/session almost immediately and their map stages are cheap
    casts, so the extra exchange was a measured net loss on 9 of 10
    event entries; `q_events_json_props` (heavy per-row JSON parsing)
    opts back in explicitly."""
    return spark.read.parquet(os.path.join(sf_dir, "events.parquet"))


def _events_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = os.path.join(sf_dir, "events.parquet")
    return _spread(spark, spark.read.parquet(p), p)


def _tok_df(docs: DataFrame) -> DataFrame:
    return docs.select("doc_id", "text", simple_tokens(F.col("text")).alias("toks"))


def _pos_df(docs: DataFrame) -> DataFrame:
    t = _tok_df(docs).withColumn("dl", F.size("toks"))
    return t.select(
        "doc_id", "dl", F.posexplode("toks").alias("pos0", "term")
    ).withColumn("pos", F.col("pos0") + 1).drop("pos0")


def _tfs_df(docs: DataFrame) -> DataFrame:
    return (
        _pos_df(docs)
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"), F.max("dl").alias("dl"))
    )


def _corpus_n(docs: DataFrame) -> int:
    """Count of docs with >= 1 token.  ``sum(when)`` needs no filter: a
    deterministic ``filter(size(toks) > 0)`` slides below the `_spread`
    repartition and would run the tokenizer on the source's single scan
    partition."""
    dl = F.size(simple_tokens(F.col("text")))
    return int(
        docs.select(dl.alias("_dl"))
        .agg(F.coalesce(F.sum(F.when(F.col("_dl") > 0, 1).otherwise(0)),
                        F.lit(0)))
        .collect()[0][0]
    )


# ---------------------------------------------------------------------------
# the entry index: documents.parquet as a compressed sharded index
# ---------------------------------------------------------------------------

_PAGE_URL = "doc://"


def _docs_as_pages(docs):
    """documents-table rows -> the synthetic pages schema the index
    builders ingest (url = doc://<id>, text-only, English)."""
    return docs.select(
        F.concat(F.lit(_PAGE_URL), F.col("doc_id").cast("string")).alias("url"),
        F.to_timestamp(F.lit("2025-01-01 00:00:00")).alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.col("text"),
        F.lit("en").alias("lang"),
    )


def _page_doc_id():
    """The bigint doc_id of an index page, decoded from the url that
    `_docs_as_pages` wrote."""
    return F.expr(f"cast(substring(url, {len(_PAGE_URL) + 1}) as bigint)")


def _ensure_entry_index(spark, sf_dir: str):
    """Build (once per documents.parquet content) a compressed sharded
    index using the SQL-expressible analyzer, so every BM25 entry scores
    from it and stays checkable against the DuckDB BM25 oracle."""
    from document_retrieval_system_spark.operators.index_build import (
        IndexReader,
        build_index,
    )

    return IndexReader(spark, _cached_dir(
        "index", sf_dir, "documents.parquet", (),
        lambda tmp: build_index(spark, _docs_as_pages(_docs(spark, sf_dir)), tmp,
                                n_shards=8, analyzer=simple_process_text)))


def _bm25_all(reader, terms: list[str]) -> DataFrame:
    """(doc_id, score): the unrounded BM25 score of every indexed doc
    holding any of the distinct ``terms``, from the index's term stats
    and postings.  Block-max WAND with k above the corpus size never
    fills its heap, so it prunes nothing: this is the exhaustive set."""
    from document_retrieval_system_spark.operators.wand import bm25_wand_search

    res = bm25_wand_search(reader, " ".join(terms), "en", 10**6, 0.0,
                           analyzer=simple_process_text)
    return res.select(_page_doc_id().alias("doc_id"), "score")


def _bm25_weighted(reader, qweights: dict[str, float],
                   prune=None) -> DataFrame:
    """(doc_id, score): BM25 with each term's idf scaled by its query
    weight, summed by the relational core `search.bm25_posting_sum`
    over the terms' decoded postings.  ``prune`` maps those postings
    (term, doc_id, tf, ...) to the ones kept; idf and avgdl stay those
    of the full index, so a kept posting scores as before."""
    from document_retrieval_system_spark.operators.index_build import flat_postings
    from document_retrieval_system_spark.operators.search import (
        bm25_posting_sum,
        bm25_weights,
    )

    corpus, dfs = reader.query_stats(list(qweights))
    idf = bm25_weights(corpus["total_docs"], dfs, list(qweights))
    ids = reader.docs().select("shard", "local_no", _page_doc_id().alias("doc_id"))
    postings = flat_postings(
        reader.postings().filter(F.col("term").isin(sorted(idf)))
    ).join(ids, ["shard", "local_no"])
    return bm25_posting_sum(
        postings if prune is None else prune(postings),
        {t: w * qweights[t] for t, w in idf.items()},
        corpus["avg_doc_length"], by=["doc_id"],
    )


# ---------------------------------------------------------------------------
# the query registry: name -> (builder, oracle_sql | None)
# ---------------------------------------------------------------------------

def q_i1_doc_term_stats(spark, sf_dir):
    """I1 (indexer.py:44-93): per-(doc, term) tf + position extrema."""
    return (
        _pos_df(_docs(spark, sf_dir))
        .groupBy("doc_id", "term")
        .agg(
            F.count("*").alias("tf"),
            F.min("pos").alias("min_pos"),
            F.max("pos").alias("max_pos"),
            F.max("dl").alias("doc_len"),
        )
    )


SQL_I1 = "WITH " + SQL_POS + """
SELECT doc_id, term, count(*) AS tf, min(pos) AS min_pos, max(pos) AS max_pos,
       max(dl) AS doc_len
FROM pos GROUP BY doc_id, term"""


def q_i3_term_stats(spark, sf_dir):
    """I3 (indexer.py:71-73): document frequency + collection frequency."""
    return (
        _tfs_df(_docs(spark, sf_dir))
        .groupBy("term")
        .agg(F.count("*").alias("df"), F.sum("tf").alias("cf"))
    )


SQL_I3 = "WITH " + SQL_TFS + """
SELECT term, count(*) AS df, sum(tf)::BIGINT AS cf FROM tfs GROUP BY term"""


def q_i4_corpus_stats(spark, sf_dir):
    """I4 (indexer.py:85-90): corpus totals (docs with >=1 token only)."""
    return (
        _tok_df(_docs(spark, sf_dir))
        .filter(F.size("toks") > 0)
        .agg(
            F.count("*").alias("total_docs"),
            F.round(F.avg(F.size("toks")), 6).alias("avg_doc_len"),
            F.sum(F.size("toks")).alias("total_tokens"),
        )
    )


SQL_I4 = "WITH " + SQL_TOKS + """
SELECT count(*) AS total_docs, round(avg(len(toks)), 6) AS avg_doc_len,
       sum(len(toks))::BIGINT AS total_tokens
FROM toks WHERE len(toks) > 0"""


def q_r3_bm25_topk(spark, sf_dir):
    """R3 (search_engine.py:427-482): BM25 top-20, k1=1.2 b=0.75."""
    return (
        _bm25_all(_ensure_entry_index(spark, sf_dir), BM25_TERMS)
        .select("doc_id", F.round("score", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(20)
    )


SQL_R3 = "WITH " + SQL_BM25_BASE + """
SELECT doc_id, round(score, 6) AS score FROM bm25
ORDER BY score DESC, doc_id LIMIT 20"""


def q_r1_tfidf_topk(spark, sf_dir):
    """R1 (search_engine.py:347-410 + indexer.py:254-271): cosine of the
    normalized query idf vector with L2-normalized doc tf-idf weights."""
    docs = _docs(spark, sf_dir)
    # full-vocabulary tfs is consumed by stats, the norms leg and the
    # final scorer; materialize it once (r6) instead of re-running the
    # tokenize/explode/aggregate subtree per consumer
    tfs = _tfs_df(docs).localCheckpoint(eager=True)
    stats = tfs.groupBy("term").agg(F.count("*").alias("df"))
    n = _corpus_n(docs)
    w_doc = tfs.join(stats, "term").withColumn(
        "w", F.col("tf") * F.log(F.lit(float(n)) / F.col("df"))
    )
    norms = w_doc.groupBy("doc_id").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("dnorm"))
    qw = (
        stats.filter(F.col("term").isin(BM25_TERMS))
        .withColumn("w_qt", F.log(F.lit(float(n)) / F.col("df")))
    )
    qnorm = qw.agg(F.sqrt(F.sum(F.col("w_qt") * F.col("w_qt"))).alias("qn"))
    w_dt = F.when(F.col("dnorm") > 0, F.col("w") / F.col("dnorm")).otherwise(F.col("w"))
    return (
        w_doc.filter(F.col("term").isin(BM25_TERMS))
        .join(norms, "doc_id")
        .crossJoin(F.broadcast(qnorm))
        .join(qw.select("term", "w_qt"), "term")
        .groupBy("doc_id")
        .agg(
            F.round(F.sum((F.col("w_qt") / F.col("qn")) * w_dt), 6).alias("score")
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(20)
    )


SQL_R1 = "WITH " + SQL_TFS + f""",
stats AS (SELECT term, count(*) AS df FROM tfs GROUP BY term),
corpus AS (SELECT count(*) AS n FROM toks WHERE len(toks) > 0),
w_doc AS (
  SELECT tfs.doc_id, tfs.term, tfs.tf * ln(corpus.n / stats.df) AS w
  FROM tfs JOIN stats USING (term) CROSS JOIN corpus
),
norms AS (SELECT doc_id, sqrt(sum(w * w)) AS dnorm FROM w_doc GROUP BY doc_id),
q AS (SELECT unnest({BM25_TERMS!r}) AS term),
qw AS (
  SELECT stats.term, ln(corpus.n / stats.df) AS w_qt
  FROM stats JOIN q USING (term) CROSS JOIN corpus
),
qnorm AS (SELECT sqrt(sum(w_qt * w_qt)) AS qn FROM qw)
SELECT w_doc.doc_id,
       round(sum((qw.w_qt / qnorm.qn)
                 * (CASE WHEN norms.dnorm > 0 THEN w_doc.w / norms.dnorm
                         ELSE w_doc.w END)), 6) AS score
FROM w_doc JOIN qw USING (term) JOIN norms USING (doc_id) CROSS JOIN qnorm
GROUP BY w_doc.doc_id
ORDER BY score DESC, doc_id LIMIT 20"""


def q_b1_boolean_single(spark, sf_dir):
    """B2 single-term scoring (search_engine.py:248-269): tf/doc_len."""
    return (
        _tfs_df(_docs(spark, sf_dir))
        .filter(F.col("term") == "join")
        .select("doc_id", F.round(F.col("tf").cast("double") / F.col("dl"), 6).alias("score"))
    )


SQL_B1 = "WITH " + SQL_TFS + """
SELECT doc_id, round(tf * 1.0 / dl, 6) AS score FROM tfs WHERE term = 'join'"""


def _bool_sets(docs, a: str, b: str):
    tfs = _tfs_df(docs)
    return (
        tfs.filter(F.col("term") == a).select("doc_id"),
        tfs.filter(F.col("term") == b).select("doc_id"),
        tfs,
    )


def q_b2_boolean_and(spark, sf_dir):
    """B2 AND (:284-293): intersection; score = matched_terms/2 (:299)."""
    sa, sb, tfs = _bool_sets(_docs(spark, sf_dir), "data", "scan")
    final = sa.intersect(sb)
    matched = (
        tfs.filter(F.col("term").isin(["data", "scan"]))
        .groupBy("doc_id").agg(F.count("*").alias("m"))
    )
    return final.join(matched, "doc_id").select(
        "doc_id", F.round(F.col("m") / 2.0, 6).alias("score")
    )


SQL_B2_AND = "WITH " + SQL_TFS + """,
sa AS (SELECT doc_id FROM tfs WHERE term = 'data'),
sb AS (SELECT doc_id FROM tfs WHERE term = 'scan'),
final AS (SELECT doc_id FROM sa INTERSECT SELECT doc_id FROM sb),
matched AS (
  SELECT doc_id, count(*) AS m FROM tfs WHERE term IN ('data','scan') GROUP BY doc_id
)
SELECT doc_id, round(m / 2.0, 6) AS score FROM final JOIN matched USING (doc_id)"""


def q_b2_boolean_or(spark, sf_dir):
    sa, sb, tfs = _bool_sets(_docs(spark, sf_dir), "data", "scan")
    final = sa.union(sb).distinct()
    matched = (
        tfs.filter(F.col("term").isin(["data", "scan"]))
        .groupBy("doc_id").agg(F.count("*").alias("m"))
    )
    return final.join(matched, "doc_id").select(
        "doc_id", F.round(F.col("m") / 2.0, 6).alias("score")
    )


SQL_B2_OR = "WITH " + SQL_TFS + """,
final AS (
  SELECT doc_id FROM tfs WHERE term = 'data'
  UNION SELECT doc_id FROM tfs WHERE term = 'scan'
),
matched AS (
  SELECT doc_id, count(*) AS m FROM tfs WHERE term IN ('data','scan') GROUP BY doc_id
)
SELECT doc_id, round(m / 2.0, 6) AS score FROM final JOIN matched USING (doc_id)"""


def q_b2_boolean_not(spark, sf_dir):
    """B2 NOT (:293): postings(data) minus postings(scan); score=1/2."""
    sa, sb, _ = _bool_sets(_docs(spark, sf_dir), "data", "scan")
    return sa.subtract(sb).select("doc_id", F.lit(0.5).alias("score"))


SQL_B2_NOT = "WITH " + SQL_TFS + """
SELECT doc_id, 0.5::DOUBLE AS score FROM (
  SELECT doc_id FROM tfs WHERE term = 'data'
  EXCEPT SELECT doc_id FROM tfs WHERE term = 'scan'
)"""


def q_b7_phrase(spark, sf_dir):
    """B7 (boolean_model.py:363-419): 'key order' at consecutive positions."""
    pos = _pos_df(_docs(spark, sf_dir))
    p0 = pos.filter(F.col("term") == "key").select("doc_id", F.col("pos").alias("p0"))
    p1 = pos.filter(F.col("term") == "order").select(
        "doc_id", (F.col("pos") - 1).alias("p0")
    )
    return p0.join(p1, ["doc_id", "p0"], "left_semi").select("doc_id").distinct()


SQL_B7 = "WITH " + SQL_POS + """
SELECT DISTINCT a.doc_id
FROM (SELECT doc_id, pos FROM pos WHERE term = 'key') a
JOIN (SELECT doc_id, pos FROM pos WHERE term = 'order') b
  ON a.doc_id = b.doc_id AND b.pos = a.pos + 1"""


def q_b6_near(spark, sf_dir):
    """B6 (boolean_model.py:313-354): 'table' NEAR/3 'scan'."""
    pos = _pos_df(_docs(spark, sf_dir))
    pa = pos.filter(F.col("term") == "table").select("doc_id", F.col("pos").alias("pa"))
    pb = pos.filter(F.col("term") == "scan").select("doc_id", F.col("pos").alias("pb"))
    return (
        pa.join(pb, "doc_id")
        .filter(F.abs(F.col("pa") - F.col("pb")) <= 3)
        .select("doc_id")
        .distinct()
    )


SQL_B6 = "WITH " + SQL_POS + """
SELECT DISTINCT a.doc_id
FROM (SELECT doc_id, pos FROM pos WHERE term = 'table') a
JOIN (SELECT doc_id, pos FROM pos WHERE term = 'scan') b
  ON a.doc_id = b.doc_id AND abs(a.pos - b.pos) <= 3"""


def q_u2_boost_rescore(spark, sf_dir):
    """U2 (rule_engine.py:174-192): per-word boost multipliers on BM25."""
    # raw scan: only the match set's text is read, after the join
    scored = _bm25_all(_ensure_entry_index(spark, sf_dir), BM25_TERMS).join(
        _docs_raw(spark, sf_dir).select("doc_id", "text"), "doc_id")
    content = F.lower(F.coalesce(F.col("text"), F.lit("")))
    boosted = (
        F.col("score")
        * F.when(content.contains("fast"), F.lit(1.5)).otherwise(F.lit(1.0))
        * F.when(content.contains("slow"), F.lit(2.0)).otherwise(F.lit(1.0))
    )
    return (
        scored.select("doc_id", F.round(boosted, 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(20)
    )


SQL_U2 = "WITH " + SQL_BM25_BASE + """
SELECT b.doc_id,
       round(b.score
             * (CASE WHEN contains(lower(coalesce(d.text,'')), 'fast') THEN 1.5 ELSE 1.0 END)
             * (CASE WHEN contains(lower(coalesce(d.text,'')), 'slow') THEN 2.0 ELSE 1.0 END),
             6) AS score
FROM bm25 b JOIN documents d ON b.doc_id = d.doc_id
ORDER BY score DESC, b.doc_id LIMIT 20"""


def q_u5_time_decay(spark, sf_dir):
    """U5 (rule_engine.py:230-262): exp(-0.1*age_months) decay, skipped
    past 24 months; aggregated per user over the events table."""
    ev = _events(spark, sf_dir)
    # microsecond-precision epoch (unix_timestamp truncates sub-seconds,
    # DuckDB's epoch() does not)
    epoch_s = F.expr("unix_micros(cast(ts as timestamp)) / 1000000.0")
    now_s = F.expr(
        "unix_micros(cast(to_timestamp('2024-07-01 00:00:00') as timestamp)) / 1000000.0"
    )
    months = (now_s - epoch_s) / F.lit(30.0 * 24 * 3600)
    factor = F.when(months > 24, F.lit(1.0)).otherwise(F.exp(-0.1 * months))
    return (
        ev.withColumn("decayed", F.col("value") * factor)
        .groupBy("user_id")
        .agg(F.round(F.sum("decayed"), 4).alias("decayed_value"), F.count("*").alias("n_events"))
    )


SQL_U5 = """
SELECT user_id,
       round(sum(value * (CASE
         WHEN (epoch(TIMESTAMP '2024-07-01 00:00:00') - epoch(ts)) / (30.0*24*3600) > 24
           THEN 1.0
         ELSE exp(-0.1 * (epoch(TIMESTAMP '2024-07-01 00:00:00') - epoch(ts)) / (30.0*24*3600))
       END)), 4) AS decayed_value,
       count(*) AS n_events
FROM events GROUP BY user_id"""


def q_u7_content_length(spark, sf_dir):
    """U7 (rule_engine.py:294-324): *0.8 factor when content is short."""
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        F.length(F.coalesce(F.col("text"), F.lit(""))).alias("content_length"),
        F.when(F.length(F.coalesce(F.col("text"), F.lit(""))) < 200, F.lit(0.8))
        .otherwise(F.lit(1.0))
        .alias("factor"),
    )


SQL_U7 = """
SELECT doc_id, length(coalesce(text,'')) AS content_length,
       (CASE WHEN length(coalesce(text,'')) < 200 THEN 0.8 ELSE 1.0 END)::DOUBLE AS factor
FROM documents"""


def q_u8_keyword_density(spark, sf_dir):
    """U8 (rule_engine.py:326-375): substring-count density with
    0.9 / 1.2 adjustment factors."""
    docs = _docs(spark, sf_dir)
    content = F.lower(F.coalesce(F.col("text"), F.lit("")))
    words = F.size(F.filter(F.split(content, r"\s+"), lambda t: F.length(t) > 0))
    cnt = sum(
        ((F.length(content) - F.length(F.replace(content, F.lit(t), F.lit("")))) / F.lit(len(t))).cast("long")
        for t in ["data", "query"]
    )
    density = F.when(words > 0, cnt.cast("double") / words).otherwise(F.lit(None))
    factor = (
        F.when(density.isNull(), F.lit(1.0))
        .when(density < 0.005, F.lit(0.9))
        .when(density > 0.05, F.lit(1.2))
        .otherwise(F.lit(1.0))
    )
    return docs.select(
        "doc_id", F.round(density, 6).alias("density"), factor.alias("factor")
    )


SQL_U8 = """
WITH base AS (
  SELECT doc_id, lower(coalesce(text,'')) AS c FROM documents
),
m AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(c, '\\s+'), t -> length(t) > 0)) AS words,
         cast((length(c) - length(replace(c, 'data', ''))) / 4 AS BIGINT)
         + cast((length(c) - length(replace(c, 'query', ''))) / 5 AS BIGINT) AS cnt
  FROM base
)
SELECT doc_id,
       round(CASE WHEN words > 0 THEN cnt * 1.0 / words END, 6) AS density,
       (CASE WHEN words = 0 THEN 1.0
             WHEN cnt * 1.0 / words < 0.005 THEN 0.9
             WHEN cnt * 1.0 / words > 0.05 THEN 1.2
             ELSE 1.0 END)::DOUBLE AS factor
FROM m"""


DEDUP_PREFIX_LEN = 64


def q_dedup_exact(spark, sf_dir):
    """Exact dedup by content-prefix key (first 64 chars).  The driver
    tables carry no byte-identical full texts at sf0.01 — r2's green was
    vacuous (0 rows on both engines) — but they do share 64-char
    prefixes (22 groups / 45 docs), so the prefix key exercises the
    hash-group-count machinery on non-empty output.  Full-text exact
    dedup is the same operator with text_col='text' and is pytest-covered
    on corpora containing real clones."""
    docs = _docs_raw(spark, sf_dir).withColumn(
        "pfx", F.substring("text", 1, DEDUP_PREFIX_LEN)
    )
    return dedup.exact_duplicate_groups(docs, text_col="pfx")


SQL_DEDUP_EXACT = f"""
SELECT md5(substr(text, 1, {DEDUP_PREFIX_LEN})) AS content_hash,
       count(*) AS n_dups, min(doc_id) AS keep_id
FROM documents GROUP BY 1 HAVING count(*) > 1"""


BUCKET_CAP = 1000  # LSH band-bucket skew cap, Spark and oracle alike


def _sql_grams(ngram: int) -> str:
    """DuckDB expression for distinct word-ngram shingles over `toks`."""
    if ngram == 1:
        return "list_distinct(toks)"
    concat = " || ' ' || ".join(
        f"toks[i+{j}]" if j else "toks[i]" for j in range(ngram)
    )
    return (
        f"list_distinct(CASE WHEN len(toks) >= {ngram} "
        f"THEN list_transform(range(1, len(toks) - {ngram - 2}), i -> {concat}) "
        f"ELSE [] END)"
    )


def _sql_minhash_cand(ngram: int, n_hashes: int, band_size: int, cap: int) -> str:
    """CTE chain toks->grams->shing->mh->bands->cand mirroring
    dedup.minhash_lsh_candidates (md5 hash family, banded equi-join,
    bucket cap) exactly."""
    return SQL_TOKS + f""",
grams AS (SELECT doc_id, {_sql_grams(ngram)} AS grams FROM toks),
shing AS (SELECT doc_id, unnest(grams) AS sh FROM grams WHERE len(grams) > 0),
hs AS (
  SELECT doc_id,
         ('0x' || substr(md5(sh), 1, 12))::BIGINT AS h1,
         ('0x' || substr(md5(sh), 13, 12))::BIGINT AS h2
  FROM shing
),
mh AS (
  SELECT doc_id, j, min(h1 + j * h2) AS mh
  FROM hs CROSS JOIN (SELECT unnest(range({n_hashes})) AS j) seeds
  GROUP BY doc_id, j
),
bands AS (
  SELECT doc_id, j // {band_size} AS band_id,
         string_agg(mh::VARCHAR, '|' ORDER BY j) AS band_key
  FROM mh GROUP BY doc_id, j // {band_size}
  QUALIFY count(*) OVER (PARTITION BY band_id, band_key) <= {cap}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)"""


def q_dedup_minhash_lsh(spark, sf_dir):
    """MinHash (8 md5-family hashes over word-3-gram shingles) + LSH
    (4 bands x 2 rows, band buckets capped) candidate pairs."""
    return dedup.minhash_lsh_candidates(
        _docs(spark, sf_dir), n_hashes=8, band_size=2, ngram=3,
        bucket_cap=BUCKET_CAP,
    )


SQL_DEDUP_MINHASH = (
    "WITH " + _sql_minhash_cand(3, 8, 2, BUCKET_CAP)
    + "\nSELECT id_a, id_b FROM cand"
)


def _sql_lsh_jaccard(ngram: int, threshold: float,
                     n_hashes: int = 16, band_size: int = 2,
                     cap: int = BUCKET_CAP) -> str:
    """Oracle for the candidate-fed exact-Jaccard pipeline."""
    return "WITH " + _sql_minhash_cand(ngram, n_hashes, band_size, cap) + f""",
gs AS (SELECT doc_id, grams FROM grams WHERE len(grams) > 0),
ver AS (
  SELECT c.id_a, c.id_b,
         len(list_intersect(a.grams, b.grams)) AS common,
         len(a.grams) AS n_a, len(b.grams) AS n_b
  FROM cand c JOIN gs a ON c.id_a = a.doc_id JOIN gs b ON c.id_b = b.doc_id
)
SELECT id_a, id_b,
       round(common * 1.0 / (n_a + n_b - common), 6) AS jaccard
FROM ver
WHERE round(common * 1.0 / (n_a + n_b - common), 6) >= {threshold}"""


def q_dedup_jaccard(spark, sf_dir):
    """Scale-safe near-dup pipeline, 2-gram variant: MinHash-LSH
    candidates (16 hashes, 8 bands of 2, bucket cap) -> exact Jaccard
    verify on candidates only.  Replaces r1's raw 1-gram self-join
    (quadratic in the df of the most common token)."""
    return dedup.lsh_jaccard_pairs(
        _docs(spark, sf_dir), ngram=2, threshold=0.4,
        n_hashes=16, band_size=2, bucket_cap=BUCKET_CAP,
    )


SQL_DEDUP_JACCARD = _sql_lsh_jaccard(2, 0.4)


def q_dedup_jaccard3(spark, sf_dir):
    """Scale-safe near-dup pipeline, 3-gram variant at J >= 0.6."""
    return dedup.lsh_jaccard_pairs(
        _docs(spark, sf_dir), ngram=3, threshold=0.6,
        n_hashes=16, band_size=2, bucket_cap=BUCKET_CAP,
    )


SQL_DEDUP_JACCARD3 = _sql_lsh_jaccard(3, 0.6)


def q_dedup_simhash(spark, sf_dir):
    """32-bit SimHash signatures (tf-weighted bit majority over md5 bits)."""
    return dedup.simhash(_docs(spark, sf_dir), bits=32)


def _sql_simhash_sig(bits: int = 32) -> str:
    """Packed-signature oracle, mirroring dedup.simhash's r3 shape: one
    integer hash per (doc, term), `bits` shift-and-mask sum aggregates,
    vote(b) = 2*sum(tf*bit_b) - sum(tf).  Integer arithmetic — identical
    results to the r2 per-bit-explode form (proven: the packed Spark side
    hash-matched this oracle's old explode form before the swap)."""
    n_hex = bits // 4
    sums = ",\n         ".join(
        f"sum(tf * ((hv >> {bits - 1 - b}) & 1)) AS s{b}" for b in range(bits)
    )
    chars = " || ".join(
        f"(CASE WHEN 2*s{b} - tot > 0 THEN '1' ELSE '0' END)" for b in range(bits)
    )
    return SQL_POS + f""",
tf AS (SELECT doc_id, term AS tok, count(*) AS tf FROM pos GROUP BY doc_id, term),
hv AS (
  SELECT doc_id, tf, ('0x' || substr(md5(tok), 1, {n_hex}))::BIGINT AS hv FROM tf
),
agg AS (
  SELECT doc_id, sum(tf) AS tot,
         {sums}
  FROM hv GROUP BY doc_id
),
sig AS (SELECT doc_id, {chars} AS simhash_bits FROM agg)"""


_SQL_SIMHASH_SIG = _sql_simhash_sig(32)

SQL_DEDUP_SIMHASH = (
    "WITH " + _SQL_SIMHASH_SIG + "\nSELECT doc_id, simhash_bits FROM sig"
)


def q_dedup_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs: 4 pigeonhole bands of 8 bits -> banded
    candidates (bucket-capped) -> exact Hamming verify <= 3."""
    return dedup.simhash_neardup_pairs(
        _docs(spark, sf_dir), bits=32, max_hamming=3, n_bands=4,
        bucket_cap=BUCKET_CAP,
    )


SQL_SIMHASH_PAIRS = "WITH " + _SQL_SIMHASH_SIG + f""",
sbands AS (
  SELECT doc_id, 0 AS band_id, substr(simhash_bits, 1, 8) AS band_key FROM sig
  UNION ALL SELECT doc_id, 1, substr(simhash_bits, 9, 8) FROM sig
  UNION ALL SELECT doc_id, 2, substr(simhash_bits, 17, 8) FROM sig
  UNION ALL SELECT doc_id, 3, substr(simhash_bits, 25, 8) FROM sig
),
scap AS (
  SELECT * FROM sbands
  QUALIFY count(*) OVER (PARTITION BY band_id, band_key) <= {BUCKET_CAP}
),
scand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM scap a JOIN scap b
    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
ham AS (
  SELECT c.id_a, c.id_b,
         len(list_filter(range(1, 33),
                         i -> substr(sa.simhash_bits, i, 1) <> substr(sb.simhash_bits, i, 1))) AS hamming
  FROM scand c JOIN sig sa ON c.id_a = sa.doc_id JOIN sig sb ON c.id_b = sb.doc_id
)
SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 3"""


def q_ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-10 against the vec_id=0 embedding."""
    emb = _emb_raw(spark, sf_dir)
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return similarity.cosine_topk(
        emb.filter(F.col("vec_id") > 0), [float(x) for x in qvec], k=10
    )


SQL_ANN_COSINE = """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
qx AS (SELECT generate_subscripts(qv, 1) AS i, unnest(qv)::DOUBLE AS qx FROM q),
ex AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i, unnest(embedding)::DOUBLE AS x
  FROM embeddings WHERE vec_id > 0
),
dots AS (
  SELECT vec_id, sum(x * qx) AS dot, sum(x * x) AS na
  FROM ex JOIN qx USING (i) GROUP BY vec_id
),
qn AS (SELECT sqrt(sum(qx * qx)) AS qnorm FROM qx)
SELECT vec_id, round(dot / (sqrt(na) * qnorm), 6) AS cosine
FROM dots CROSS JOIN qn
ORDER BY cosine DESC, vec_id LIMIT 10"""


EMB_SIG_BITS, EMB_BAND_SIZE, EMB_SEED, EMB_DIM = 64, 8, 7, 64
EMB_PLANT_N, EMB_PLANT_OFFSET = 50, 10_000_000  # offset above any real vec_id at every sf


def _emb_augmented(emb: DataFrame) -> DataFrame:
    """embeddings ∪ planted near-duplicates, derived deterministically
    from the input: vec_id < EMB_PLANT_N re-emitted as vec_id + EMB_PLANT_OFFSET
    with a per-element scale in [1.000, 1.004] (cosine vs the original
    >= 0.99999).  The synthetic embeddings' max pairwise cosine is 0.51,
    so WITHOUT planting, any sane threshold returns the empty set and
    the driver row passes vacuously (r2 defect #1); the planted pairs
    make the LSH-banded pipeline's recall actually bite."""
    base = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    pert = emb.filter(F.col("vec_id") < EMB_PLANT_N).select(
        (F.col("vec_id") + EMB_PLANT_OFFSET).alias("vec_id"),
        F.transform(
            "embedding",
            # 2-arg HOF lambda = (element, 0-based index)
            lambda x, i: x.cast("double")
            * (F.lit(1.0) + F.lit(0.001) * ((i * 7 + F.col("vec_id")) % 5)),
        ).alias("embedding"),
    )
    return base.unionByName(pert)


def q_dedup_clusters(spark, sf_dir):
    """Duplicate CLUSTERS: the LSH-fed 3-gram Jaccard pairs (J >= 0.6)
    collapsed into connected components — cluster_id = min doc_id
    reachable; a curation pipeline keeps one doc per cluster.  Spark
    side is iterative min-label propagation; the oracle is a recursive
    transitive-closure CTE — both converge to the same fixpoint."""
    from document_retrieval_system_spark.operators.curate import (
        duplicate_clusters,
    )

    return duplicate_clusters(
        _docs(spark, sf_dir), ngram=3, threshold=0.6,
        n_hashes=16, band_size=2, bucket_cap=BUCKET_CAP,
    )


SQL_DEDUP_CLUSTERS = (
    "WITH RECURSIVE " + _sql_minhash_cand(3, 16, 2, BUCKET_CAP) + """,
gs AS (SELECT doc_id, grams FROM grams WHERE len(grams) > 0),
ver AS (
  SELECT c.id_a, c.id_b,
         len(list_intersect(a.grams, b.grams)) AS common,
         len(a.grams) AS n_a, len(b.grams) AS n_b
  FROM cand c JOIN gs a ON c.id_a = a.doc_id JOIN gs b ON c.id_b = b.doc_id
),
jpairs AS (
  SELECT id_a, id_b FROM ver
  WHERE round(common * 1.0 / (n_a + n_b - common), 6) >= 0.6
),
cedges AS (
  SELECT id_a AS a, id_b AS b FROM jpairs
  UNION
  SELECT id_b, id_a FROM jpairs
),
reach AS (
  SELECT a AS id, b AS r FROM cedges
  UNION
  SELECT reach.id, e.b FROM reach JOIN cedges e ON reach.r = e.a
)
SELECT id AS doc_id, least(min(r), id)::BIGINT AS cluster_id
FROM reach GROUP BY id"""
)


# per-language sampling rates chosen so rate * 2^24 is exactly integral
# (no float-rounding divergence between engines) and every lang at
# sf0.01 keeps a non-empty, non-total subset
SAMPLE_RATES = {"en": 0.25, "zh": 0.5, "de": 0.5, "fr": 0.75, "es": 0.75}
SAMPLE_SALT = "drs"


def q_corpus_sample(spark, sf_dir):
    """Deterministic stratified sampling: keep a doc iff the first 6 hex
    digits of md5(doc_id || salt) fall under its language's rate — a
    map-only, shuffle-free, reproducible mixture draw."""
    from document_retrieval_system_spark.operators.curate import (
        stratified_sample,
    )

    return stratified_sample(
        _docs_raw(spark, sf_dir), SAMPLE_RATES, salt=SAMPLE_SALT
    ).select("doc_id", "lang", F.col("sample_key").cast("long").alias("sample_key"))


SQL_CORPUS_SAMPLE = f"""
SELECT doc_id, lang, sample_key FROM (
  SELECT doc_id, lang,
         ('0x' || substr(md5(doc_id::VARCHAR || '{SAMPLE_SALT}'), 1, 6))::BIGINT
           AS sample_key,
         CASE {' '.join(f"WHEN lang = '{lg}' THEN {r}" for lg, r in sorted(SAMPLE_RATES.items()))}
              ELSE 0.0 END AS rate
  FROM documents
)
WHERE sample_key < CAST(floor(rate * 16777216) AS BIGINT)"""


def q_emb_neardup(spark, sf_dir):
    """Embedding-cosine near-dup pairs (cosine >= 0.9), LSH-banded:
    64-bit hyperplane signature -> 8 bands of 8 -> banded candidates
    (bucket-capped) -> exact cosine verify on candidates only.
    Replaces r1's O(n^2) brute-force pair join.  8-bit bands keep the
    random-pair candidate rate ~3% (measured 90% with 2-bit bands)
    while missing a true cosine-0.9 pair with prob (1-0.857^8)^8 ≈ 1e-2.
    Runs over the planted-pair augmentation (see _emb_augmented) so the
    result is non-empty at sf0.01."""
    return dedup.embedding_neardup_pairs(
        _emb_augmented(_emb(spark, sf_dir)), threshold=0.9,
        sig_bits=EMB_SIG_BITS, band_size=EMB_BAND_SIZE, seed=EMB_SEED,
        bucket_cap=BUCKET_CAP,
    )


# DuckDB twin of _emb_augmented: DOUBLE[] both branches; (i-1) because
# DuckDB list indices are 1-based where Spark's HOF index is 0-based.
_SQL_EMB_AUG = f"""
aug AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS embedding
  FROM embeddings
  UNION ALL
  SELECT vec_id + {EMB_PLANT_OFFSET},
         list_transform(range(1, {EMB_DIM + 1}),
                        i -> embedding[i]::DOUBLE
                             * (1.0 + 0.001 * (((i - 1) * 7 + vec_id) % 5)))
  FROM embeddings WHERE vec_id < {EMB_PLANT_N}
)"""


def _sql_emb_neardup(threshold: float = 0.9) -> str:
    """Oracle twin of the LSH-banded embedding near-dup: the numpy-seeded
    hyperplanes ship as literal DOUBLE[] rows so DuckDB computes the
    exact same signatures (ordered list_sum folds match Spark's ordered
    aggregate fold bit-for-bit)."""
    planes = similarity.hyperplanes(EMB_DIM, EMB_SIG_BITS, EMB_SEED)
    rows = ",\n    ".join(
        "(" + str(j) + ", [" + ", ".join(repr(float(x)) for x in planes[j]) + "]::DOUBLE[])"
        for j in range(EMB_SIG_BITS)
    )
    n_bands = EMB_SIG_BITS // EMB_BAND_SIZE
    return f"""
WITH planes(bit, w) AS (VALUES
    {rows}),
{_SQL_EMB_AUG},
sig AS (
  SELECT e.vec_id,
         string_agg(
           CASE WHEN list_sum(list_transform(range(1, {EMB_DIM + 1}),
                                             i -> e.embedding[i] * p.w[i])) >= 0
                THEN '1' ELSE '0' END, '' ORDER BY p.bit) AS sig
  FROM aug e CROSS JOIN planes p
  GROUP BY e.vec_id
),
ebands AS (
  SELECT vec_id, b AS band_id,
         substr(sig, b * {EMB_BAND_SIZE} + 1, {EMB_BAND_SIZE}) AS band_key
  FROM sig CROSS JOIN (SELECT unnest(range({n_bands})) AS b)
  QUALIFY count(*) OVER (PARTITION BY band_id, band_key) <= {BUCKET_CAP}
),
ecand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM ebands a JOIN ebands b
    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.vec_id < b.vec_id
),
ver AS (
  SELECT c.id_a, c.id_b,
         list_sum(list_transform(range(1, {EMB_DIM + 1}),
                                 i -> ea.embedding[i] * eb.embedding[i])) AS dot,
         sqrt(list_sum(list_transform(ea.embedding, x -> x * x))) AS na,
         sqrt(list_sum(list_transform(eb.embedding, x -> x * x))) AS nb
  FROM ecand c
  JOIN aug ea ON c.id_a = ea.vec_id
  JOIN aug eb ON c.id_b = eb.vec_id
)
SELECT id_a, id_b, round(dot / (na * nb), 6) AS cosine
FROM ver WHERE round(dot / (na * nb), 6) >= {threshold}"""


SQL_EMB_NEARDUP = _sql_emb_neardup(0.9)


ANN_SIG_BITS, ANN_BUCKET_BITS, ANN_PROBE, ANN_SEED = 12, 6, 4, 7


def _sql_ann_lsh(k: int = 10) -> str:
    """Oracle for the bucketed ANN path (q_ann_lsh_topk).  The bucket
    (signature-prefix) pruning is lossless w.r.t. the full-signature
    Hamming refine — prefix distance <= full distance <= probe — so the
    oracle needs only the full-Hamming filter: sig(v) within Hamming
    {probe} of sig(query), vec_id > 0, exact-cosine rerank, top-k.
    Hyperplanes ship as literal DOUBLE[] rows (same numpy PCG64 seed as
    the index build), and the query signature is DuckDB's own sig of
    vec 0 — matching Spark's stored fold bit-for-bit."""
    planes = similarity.hyperplanes(EMB_DIM, ANN_SIG_BITS, ANN_SEED)
    rows = ",\n    ".join(
        "(" + str(j) + ", [" + ", ".join(repr(float(x)) for x in planes[j]) + "]::DOUBLE[])"
        for j in range(ANN_SIG_BITS)
    )
    return f"""
WITH planes(bit, w) AS (VALUES
    {rows}),
sig AS (
  SELECT e.vec_id,
         string_agg(
           CASE WHEN list_sum(list_transform(range(1, {EMB_DIM + 1}),
                                             i -> e.embedding[i]::DOUBLE * p.w[i])) >= 0
                THEN '1' ELSE '0' END, '' ORDER BY p.bit) AS sig
  FROM embeddings e CROSS JOIN planes p
  GROUP BY e.vec_id
),
qs AS (SELECT sig AS qsig FROM sig WHERE vec_id = 0),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
cand AS (
  SELECT s.vec_id
  FROM sig s CROSS JOIN qs
  WHERE s.vec_id > 0
    AND len(list_filter(range(1, {ANN_SIG_BITS + 1}),
                        i -> substr(s.sig, i, 1) <> substr(qs.qsig, i, 1))) <= {ANN_PROBE}
),
ver AS (
  SELECT c.vec_id,
         list_sum(list_transform(range(1, {EMB_DIM + 1}),
                                 i -> e.embedding[i]::DOUBLE * q.qv[i]::DOUBLE)) AS dot,
         sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE))) AS na
  FROM cand c JOIN embeddings e USING (vec_id) CROSS JOIN q
),
qn AS (SELECT sqrt(list_sum(list_transform(qv, x -> x::DOUBLE * x::DOUBLE))) AS qnorm FROM q)
SELECT vec_id, round(dot / (na * qnorm), 6) AS cosine
FROM ver CROSS JOIN qn
ORDER BY cosine DESC, vec_id LIMIT {k}"""


SQL_ANN_LSH = _sql_ann_lsh(10)


IVF_K, IVF_NPROBE, IVF_SEED = 16, 4, 11


_IVF_SAMPLE = 100_000
_IVF_ITERS = 10


def _emb_sample(sf_dir: str, salt: int, n: int) -> np.ndarray:
    """The md5-ranked embeddings fit sample as a float64 matrix."""
    t = similarity.md5_ranked_table(os.path.join(sf_dir, "embeddings.parquet"),
                                    "vec_id", ["embedding"], salt, n)
    return np.asarray(t.column("embedding").to_pylist(), dtype=np.float64)


def _ivf_fitted_cents(sf_dir: str):
    """DATA-FITTED IVF centroids for the driver entry: deterministic Lloyd
    k-means over the sf_dir's embeddings table.

    The fit runs driver-side on pyarrow + numpy (no SparkSession) so the
    SAME function serves both the Spark query builder and ``oracle_sql``
    — the oracle embeds these fitted values as SQL literals built at
    call time, not import time, which is what lets the driver hash-check
    a data-adapted index (r3 shipped seeded centroids for exactly this
    reason; the oracle string was static then).  Determinism mirrors
    similarity.ivf_centroids: the sample ranks rows by
    md5(vec_id || seed) (never file order), init draws from a seeded
    PCG64, Lloyd runs a fixed iteration count in float64."""
    return _memo(
        os.path.join(sf_dir, "embeddings.parquet"), ("ivf", IVF_K, IVF_SEED),
        lambda: similarity.fit_centroids(
            _emb_sample(sf_dir, IVF_SEED, _IVF_SAMPLE), IVF_K, _IVF_ITERS,
            np.random.default_rng(IVF_SEED)))


def _ensure_ivf_index(spark, sf_dir: str) -> str:
    cents = _ivf_fitted_cents(sf_dir)
    return _cached_dir(
        "ivf", sf_dir, "embeddings.parquet", ("ivf", IVF_K, cents.tobytes()),
        lambda tmp: similarity.build_ivf_index(_emb(spark, sf_dir), tmp, cents))


def q_ann_ivf_topk(spark, sf_dir):
    """IVF ANN scale path: embeddings persisted partitioned by nearest-
    centroid cell (centroids FITTED on this sf_dir's data); the query
    scans only its nprobe nearest cells (partition pruning) and
    exact-cosine-reranks inside them."""
    emb = _emb_raw(spark, sf_dir)
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    idx = _ensure_ivf_index(spark, sf_dir)
    return similarity.ivf_topk(
        spark, idx, [float(x) for x in qvec], _ivf_fitted_cents(sf_dir), k=10,
        nprobe=IVF_NPROBE, pre_filter=F.col("vec_id") > 0,
    ).select("vec_id", "cosine")


def _oracle_sf_dir() -> str:
    """The sf_dir the DRIVER runs oracle SQL against (its correctness
    gate executes both engines at sf0.01).  Oracle SQL builders that
    embed DATA-FITTED literals (the IVF centroids) read this path; the
    env var lets the /verify skill target another sf."""
    return os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


def _sql_ann_ivf(k: int = 10) -> str:
    """Oracle twin of the IVF path: FITTED-centroid literals (computed at
    call time on the oracle sf_dir's data — see _ivf_fitted_cents) ->
    per-vector argmin assignment (ordered-fold distances, ties to the
    lower centroid id, exactly ivf_assign_col's array_sort tiebreak) ->
    the query's nprobe nearest cells -> exact-cosine rerank of members,
    vec_id > 0."""
    cents = _ivf_fitted_cents(_oracle_sf_dir())
    rows = ",\n    ".join(
        "(" + str(i) + ", [" + ", ".join(repr(float(x)) for x in cents[i]) + "]::DOUBLE[])"
        for i in range(IVF_K)
    )
    return f"""
WITH cents(cid, c) AS (VALUES
    {rows}),
d AS (
  SELECT e.vec_id, ct.cid,
         list_sum(list_transform(range(1, {EMB_DIM + 1}),
                  i -> (e.embedding[i]::DOUBLE - ct.c[i])
                       * (e.embedding[i]::DOUBLE - ct.c[i]))) AS d
  FROM embeddings e CROSS JOIN cents ct
),
assign AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
    FROM d
  ) WHERE rn = 1
),
qcells AS (
  SELECT cid FROM (
    SELECT cid, row_number() OVER (ORDER BY d, cid) AS rn FROM d WHERE vec_id = 0
  ) WHERE rn <= {IVF_NPROBE}
),
cand AS (
  SELECT a.vec_id FROM assign a JOIN qcells USING (cid) WHERE a.vec_id > 0
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
ver AS (
  SELECT c.vec_id,
         list_sum(list_transform(range(1, {EMB_DIM + 1}),
                                 i -> e.embedding[i]::DOUBLE * q.qv[i]::DOUBLE)) AS dot,
         sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE))) AS na
  FROM cand c JOIN embeddings e USING (vec_id) CROSS JOIN q
),
qn AS (SELECT sqrt(list_sum(list_transform(qv, x -> x::DOUBLE * x::DOUBLE))) AS qnorm FROM q)
SELECT vec_id, round(dot / (na * qnorm), 6) AS cosine
FROM ver CROSS JOIN qn
ORDER BY cosine DESC, vec_id LIMIT {k}"""


# NOT a static string: the oracle embeds centroids fitted on the oracle
# sf_dir's data, so the SQL text is built when oracle_sql() is called.
SQL_ANN_IVF = _sql_ann_ivf


PQ_M, PQ_KSUB, PQ_SEED, PQ_RERANK = 8, 16, 13, 50
_PQ_ITERS, _PQ_SAMPLE = 10, 100_000


def _pq_fitted_books(sf_dir: str):
    """DATA-FITTED PQ codebooks, driver-side pyarrow+numpy twin of
    similarity.pq_codebooks (same md5-ranked sample, same single seeded
    PCG64 stream drawn per subspace in order, same fixed-iteration Lloyd
    in float64) — shared by the Spark entry and the call-time oracle SQL
    builder exactly like _ivf_fitted_cents."""
    return _memo(
        os.path.join(sf_dir, "embeddings.parquet"), ("pq", PQ_M, PQ_KSUB, PQ_SEED),
        lambda: similarity.fit_subspace_books(
            _emb_sample(sf_dir, PQ_SEED, _PQ_SAMPLE), PQ_M, PQ_KSUB, _PQ_ITERS,
            np.random.default_rng(PQ_SEED)))


def _ensure_pq_index(spark, sf_dir: str) -> str:
    books = _pq_fitted_books(sf_dir)
    return _cached_dir(
        "pq", sf_dir, "embeddings.parquet", ("pq", PQ_M, PQ_KSUB, books.tobytes()),
        lambda tmp: similarity.build_pq_index(_emb(spark, sf_dir), tmp, books))


def q_ann_pq_topk(spark, sf_dir):
    """Product-quantization ANN: the embeddings table is stored as 4-bit
    x 8-subspace packed codes (BIGINT, ~4 B/vector — 64x smaller than
    the raw float32 vectors), scanned with asymmetric-distance lookups
    against the query's literal distance tables, then the top-RERANK
    approximate matches are exact-cosine reranked.  Codebooks are
    FITTED on this sf_dir's data (deterministic sampled Lloyd)."""
    emb = _emb_raw(spark, sf_dir)
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    books = _pq_fitted_books(sf_dir)
    idx = _ensure_pq_index(spark, sf_dir)
    return similarity.pq_topk(
        spark, idx, emb, [float(x) for x in qvec], books, k=10,
        rerank=PQ_RERANK, pre_filter=F.col("vec_id") > 0,
    ).select("vec_id", "cosine")


def _sql_ann_pq(k: int = 10) -> str:
    """Oracle twin of the PQ path: fitted-codebook literals -> per
    (vector, subspace) argmin code (ordered-fold distances, ties to the
    lower centroid id) -> ADC via the query's distance-table literals
    (list_sum over subspaces in order, matching the Spark unrolled
    0.0 + ... fold) -> top-RERANK by (adc, vec_id) -> exact-cosine
    rerank."""
    books = _pq_fitted_books(_oracle_sf_dir())
    m, ksub, dsub = books.shape

    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(_oracle_sf_dir(), "embeddings.parquet"),
                      columns=["vec_id", "embedding"])
    qrow = {i: v for i, v in zip(t.column("vec_id").to_pylist(),
                                 t.column("embedding").to_pylist()) if i == 0}
    dt = similarity.pq_distance_tables([float(x) for x in qrow[0]], books)

    book_rows = ",\n    ".join(
        f"({j}, {c}, [" + ", ".join(repr(float(x)) for x in books[j][c]) + "]::DOUBLE[])"
        for j in range(m) for c in range(ksub)
    )
    dt_lit = "[" + ", ".join(
        "[" + ", ".join(repr(float(x)) for x in dt[j]) + "]" for j in range(m)
    ) + "]::DOUBLE[][]"
    return f"""
WITH books(j, cid, c) AS (VALUES
    {book_rows}),
enc AS (
  SELECT e.vec_id, b.j, b.cid,
         list_sum(list_transform(range(1, {dsub + 1}),
                  i -> (e.embedding[b.j * {dsub} + i]::DOUBLE - b.c[i])
                       * (e.embedding[b.j * {dsub} + i]::DOUBLE - b.c[i]))) AS d
  FROM embeddings e CROSS JOIN books b
),
codes AS (
  SELECT vec_id, list(cid ORDER BY j) AS cs FROM (
    SELECT vec_id, j, cid,
           row_number() OVER (PARTITION BY vec_id, j ORDER BY d, cid) AS rn
    FROM enc
  ) WHERE rn = 1 GROUP BY vec_id
),
adc AS (
  SELECT vec_id,
         list_sum(list_transform(range(1, {m + 1}),
                                 j -> ({dt_lit})[j][cs[j] + 1])) AS adc
  FROM codes WHERE vec_id > 0
),
cand AS (
  SELECT vec_id FROM (
    SELECT vec_id, row_number() OVER (ORDER BY adc, vec_id) AS rn FROM adc
  ) WHERE rn <= {PQ_RERANK}
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
ver AS (
  SELECT c.vec_id,
         list_sum(list_transform(range(1, {EMB_DIM + 1}),
                                 i -> e.embedding[i]::DOUBLE * q.qv[i]::DOUBLE)) AS dot,
         sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE))) AS na
  FROM cand c JOIN embeddings e USING (vec_id) CROSS JOIN q
),
qn AS (SELECT sqrt(list_sum(list_transform(qv, x -> x::DOUBLE * x::DOUBLE))) AS qnorm FROM q)
SELECT vec_id, round(dot / (na * qnorm), 6) AS cosine
FROM ver CROSS JOIN qn
ORDER BY cosine DESC, vec_id LIMIT {k}"""


SQL_ANN_PQ = _sql_ann_pq


def _ivfpq_fitted_books(sf_dir: str):
    """Residual PQ codebooks over the fitted IVF centroids — pyarrow+
    numpy twin of similarity.ivfpq_residual_books (same md5-ranked
    sample, same residual step, one seeded PCG64 stream drawn per
    subspace in order)."""
    return _memo(
        os.path.join(sf_dir, "embeddings.parquet"),
        ("ivfpq", PQ_M, PQ_KSUB, PQ_SEED, IVF_K, IVF_SEED),
        lambda: similarity.fit_subspace_books(
            similarity.ivf_residuals(_emb_sample(sf_dir, PQ_SEED, _PQ_SAMPLE),
                                     _ivf_fitted_cents(sf_dir)),
            PQ_M, PQ_KSUB, _PQ_ITERS, np.random.default_rng(PQ_SEED)))


def _ensure_ivfpq_index(spark, sf_dir: str) -> str:
    cents = _ivf_fitted_cents(sf_dir)
    books = _ivfpq_fitted_books(sf_dir)
    return _cached_dir(
        "ivfpq", sf_dir, "embeddings.parquet",
        ("ivfpq", IVF_K, PQ_M, PQ_KSUB, cents.tobytes() + books.tobytes()),
        lambda tmp: similarity.build_ivfpq_index(_emb(spark, sf_dir), tmp, cents, books))


def q_ann_ivfpq_topk(spark, sf_dir):
    """IVF-PQ composed ANN: the code table is partitioned by IVF cell
    (a query scans nprobe partitions — partition pruning) AND each row
    is a packed 4-bit residual PQ code (~4 B — column pruning keeps the
    scan tiny), ADC-scored against per-cell distance tables, then
    exact-cosine reranked.  Both pruning axes of the 10^12-vector
    design in one layout; centroids and residual codebooks FITTED on
    this sf_dir's data."""
    emb = _emb_raw(spark, sf_dir)
    qvec = [float(x) for x in
            emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]]
    cents = _ivf_fitted_cents(sf_dir)
    books = _ivfpq_fitted_books(sf_dir)
    idx = _ensure_ivfpq_index(spark, sf_dir)
    return similarity.ivfpq_topk(
        spark, idx, emb, qvec, cents, books, k=10, nprobe=IVF_NPROBE,
        rerank=PQ_RERANK, pre_filter=F.col("vec_id") > 0,
    ).select("vec_id", "cosine")


def _sql_ann_ivfpq(k: int = 10) -> str:
    """Oracle twin of the IVF-PQ path.  The probe set/order and the
    per-probed-cell ADC distance tables are computed ONCE driver-side
    (numpy) and embedded as literals in BOTH engines — same contract as
    the flat-PQ oracle — so the only SQL-computed floats are the cell
    assignment and residual-code argmins, which reuse the proven
    ordered-fold shape."""
    import pyarrow.parquet as pq

    sf = _oracle_sf_dir()
    cents = _ivf_fitted_cents(sf)
    books = _ivfpq_fitted_books(sf)
    m, ksub, dsub = books.shape
    t = pq.read_table(os.path.join(sf, "embeddings.parquet"),
                      columns=["vec_id", "embedding"])
    q = None
    for i, v in zip(t.column("vec_id").to_pylist(), t.column("embedding").to_pylist()):
        if i == 0:
            q = np.asarray([float(x) for x in v], dtype=np.float64)
    cells = similarity.query_cells([float(x) for x in q], cents, IVF_NPROBE)
    probed = [int(c[1:]) for c in cells]  # strip the bucket tag
    dt3 = [similarity.pq_distance_tables((q - cents[cid]).tolist(), books)
           for cid in probed]

    cent_rows = ",\n    ".join(
        f"({i}, [" + ", ".join(repr(float(x)) for x in cents[i]) + "]::DOUBLE[])"
        for i in range(len(cents))
    )
    book_rows = ",\n    ".join(
        f"({j}, {c}, [" + ", ".join(repr(float(x)) for x in books[j][c]) + "]::DOUBLE[])"
        for j in range(m) for c in range(ksub)
    )
    probe_rows = ",\n    ".join(
        f"({p + 1}, {cid})" for p, cid in enumerate(probed)
    )
    dt_lit = "[" + ", ".join(
        "[" + ", ".join(
            "[" + ", ".join(repr(float(x)) for x in dt3[p][j]) + "]"
            for j in range(m)
        ) + "]" for p in range(len(probed))
    ) + "]::DOUBLE[][][]"
    return f"""
WITH cents(cid, ct) AS (VALUES
    {cent_rows}),
books(j, bc, b) AS (VALUES
    {book_rows}),
probes(p, cid) AS (VALUES
    {probe_rows}),
celld AS (
  SELECT e.vec_id, c.cid,
         list_sum(list_transform(range(1, {EMB_DIM + 1}),
                  i -> (e.embedding[i]::DOUBLE - c.ct[i])
                       * (e.embedding[i]::DOUBLE - c.ct[i]))) AS d
  FROM embeddings e CROSS JOIN cents c
),
assign AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
    FROM celld
  ) WHERE rn = 1
),
enc AS (
  SELECT e.vec_id, bk.j, bk.bc,
         list_sum(list_transform(range(1, {dsub + 1}),
                  i -> (e.embedding[bk.j * {dsub} + i]::DOUBLE
                        - c.ct[bk.j * {dsub} + i] - bk.b[i])
                       * (e.embedding[bk.j * {dsub} + i]::DOUBLE
                          - c.ct[bk.j * {dsub} + i] - bk.b[i]))) AS d
  FROM embeddings e
  JOIN assign a USING (vec_id)
  JOIN probes pr ON pr.cid = a.cid
  JOIN cents c ON c.cid = a.cid
  CROSS JOIN books bk
),
codes AS (
  SELECT vec_id, list(bc ORDER BY j) AS cs FROM (
    SELECT vec_id, j, bc,
           row_number() OVER (PARTITION BY vec_id, j ORDER BY d, bc) AS rn
    FROM enc
  ) WHERE rn = 1 GROUP BY vec_id
),
adc AS (
  SELECT cd.vec_id,
         list_sum(list_transform(range(1, {m + 1}),
                                 j -> ({dt_lit})[pr.p][j][cd.cs[j] + 1])) AS adc
  FROM codes cd
  JOIN assign a ON a.vec_id = cd.vec_id
  JOIN probes pr ON pr.cid = a.cid
  WHERE cd.vec_id > 0
),
cand AS (
  SELECT vec_id FROM (
    SELECT vec_id, row_number() OVER (ORDER BY adc, vec_id) AS rn FROM adc
  ) WHERE rn <= {PQ_RERANK}
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
ver AS (
  SELECT c.vec_id,
         list_sum(list_transform(range(1, {EMB_DIM + 1}),
                                 i -> e.embedding[i]::DOUBLE * q.qv[i]::DOUBLE)) AS dot,
         sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE))) AS na
  FROM cand c JOIN embeddings e USING (vec_id) CROSS JOIN q
),
qn AS (SELECT sqrt(list_sum(list_transform(qv, x -> x::DOUBLE * x::DOUBLE))) AS qnorm FROM q)
SELECT vec_id, round(dot / (na * qnorm), 6) AS cosine
FROM ver CROSS JOIN qn
ORDER BY cosine DESC, vec_id LIMIT {k}"""


SQL_ANN_IVFPQ = _sql_ann_ivfpq


# misspellings of the corpus vocabulary: deletions (tble), insertions
# (scann), substitutions (haxh), an exact term (fast), and a
# TRANSPOSITION (jion ~ join, Levenshtein 2) that must match nothing —
# pinning that the matcher is exact distance <= 1, not SymSpell's loose
# distance-2 superset
FUZZY_QUERY_TERMS = [
    "tble", "scann", "merg", "windoe", "sprk", "jion", "haxh", "fast",
    "kay", "par", "bit", "vale", "grou",
]


# epoch micros of a TIMESTAMP_NTZ, independent of the driver session's
# timezone (unix_micros(cast(ts as timestamp)) shifts by the session tz
# offset — the external driver's session is not guaranteed UTC)
def _ntz_micros(col_name: str):
    return F.expr(
        f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {col_name})"
    )


def q_events_asof(spark, sf_dir):
    """As-of join on the events stream: every click annotated with the
    user's latest view at-or-before it (event-time join per user).  The
    Spark side is the union-and-carry window implementation
    (operators/asof.py); the oracle is DuckDB's NATIVE ASOF LEFT JOIN —
    two independent algorithms, one hash.  The view side is deduped on
    (user_id, ts) first: native ASOF breaks such ties by physical row
    order, so ties must not exist for a cross-engine hash (the fixture
    has none; the dedup makes that a guarantee, not an observation)."""
    from pyspark.sql import Window

    from document_retrieval_system_spark.operators.asof import asof_join

    ev = _events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    w = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    views = (
        ev.filter(F.col("event_type") == "view")
        .select("user_id", "ts", "event_id", "value")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    out = asof_join(clicks, views, key="user_id",
                    right_cols=["event_id", "value"])
    return out.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id"),
        _ntz_micros("ts").alias("click_us"),
        F.col("event_id_r").alias("view_id"),
        F.col("value_r").alias("view_value"),
    )


SQL_EVENTS_ASOF = """
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
),
views AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'view'
  QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1
)
SELECT c.event_id AS click_id, c.user_id,
       epoch_us(c.ts) AS click_us,
       v.event_id AS view_id, v.value AS view_value
FROM clicks c ASOF LEFT JOIN views v
  ON c.user_id = v.user_id AND v.ts <= c.ts"""


def q_b8_prefix_search(spark, sf_dir):
    """Wildcard term query ('co*') over the REAL compressed index: the
    StartsWith predicate pushes into the term-sorted postings scan
    (plan-test-pinned dictionary-range twin), matched blocks decode
    doc_bytes only, and the per-doc OR is one distinct.  On this corpus
    'co' matches {customer, column}."""
    from document_retrieval_system_spark.operators.search import prefix_search

    reader = _ensure_entry_index(spark, sf_dir)
    matched = prefix_search(reader, "co")
    docs = reader.docs().select("shard", "local_no", "url")
    return matched.join(docs, ["shard", "local_no"]).select(
        _page_doc_id().alias("doc_id")
    )


SQL_B8_PREFIX = "WITH " + SQL_TOKS + """
SELECT DISTINCT doc_id FROM (
  SELECT doc_id, unnest(toks) AS t FROM toks
) WHERE t LIKE 'co%'"""


FUZZY_SEARCH_QUERY = ["tble", "merg", "windoe", "fast"]


def q_fuzzy_search(spark, sf_dir):
    """Typo-tolerant search end-to-end: each misspelled query term is
    expanded to its best dictionary match (min edit distance, then
    lexicographic — deterministic) via the deletion-variant join, and
    the corrected term set feeds the standard BM25 ranking.  The
    dictionary is the entry index's term stats; the few corrected terms
    are collected and scored from the same index."""
    from pyspark.sql import Window

    reader = _ensure_entry_index(spark, sf_dir)
    # the index vocabulary is the corpus's distinct token set
    dictionary = reader.term_stats().select("term")
    queries = spark.createDataFrame(
        [(t,) for t in FUZZY_SEARCH_QUERY], "query_term string"
    )
    matches = fuzzy.fuzzy_term_matches(dictionary, queries)
    w = Window.partitionBy("query_term").orderBy(
        F.col("dist").asc(), F.col("term").asc()
    )
    best = (
        matches.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("term")
        .distinct()
    )
    return (
        _bm25_all(reader, sorted(r["term"] for r in best.collect()))
        .select("doc_id", F.round("score", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(20)
    )


_FSQ_VALUES = ", ".join(f"('{t}')" for t in FUZZY_SEARCH_QUERY)

SQL_FUZZY_SEARCH = "WITH " + SQL_TFS + f""",
stats AS (SELECT term, count(*) AS df FROM tfs GROUP BY term),
corpus AS (
  SELECT count(*) AS n, avg(len(toks)) AS avgdl
  FROM toks WHERE len(toks) > 0
),
dict AS (SELECT DISTINCT term AS t FROM tfs),
dels AS (SELECT t, unnest(range(0, length(t))) AS i FROM dict),
dv AS (
  SELECT t, t AS v, -1 AS pos FROM dict
  UNION ALL
  SELECT t, substr(t, 1, i::INT) || substr(t, (i + 2)::INT, length(t)), i::INT
  FROM dels
),
fq(q) AS (VALUES {_FSQ_VALUES}),
qdels AS (SELECT q, unnest(range(0, length(q))) AS i FROM fq),
qv AS (
  SELECT q, q AS v, -1 AS pos FROM fq
  UNION ALL
  SELECT q, substr(q, 1, i::INT) || substr(q, (i + 2)::INT, length(q)), i::INT
  FROM qdels
),
fmatches AS (
  SELECT DISTINCT qv.q, dv.t,
         CASE WHEN qv.q = dv.t THEN 0 ELSE 1 END AS dist
  FROM dv JOIN qv ON dv.v = qv.v
   AND (dv.pos = -1 OR qv.pos = -1 OR dv.pos = qv.pos)
),
best AS (
  SELECT DISTINCT t AS term FROM (
    SELECT q, t, row_number() OVER (PARTITION BY q ORDER BY dist, t) AS rn
    FROM fmatches
  ) WHERE rn = 1
),
bm25 AS (
  SELECT tfs.doc_id,
         sum( ln((corpus.n - stats.df + 0.5) / (stats.df + 0.5) + 1)
              * tfs.tf / (tfs.tf + {K1} * (1 - {B} + {B} * tfs.dl / corpus.avgdl)) ) AS score
  FROM tfs JOIN best USING (term) JOIN stats USING (term) CROSS JOIN corpus
  GROUP BY tfs.doc_id
)
SELECT doc_id, round(score, 6) AS score FROM bm25
ORDER BY score DESC, doc_id LIMIT 20"""


_RANGE_WIN_US = 12 * 3600 * 1_000_000  # 12 h in epoch micros


def q_events_range(spark, sf_dir):
    """Range join on the events stream: every (error window, click)
    pair where the user's click lands inside the 12 h window after an
    error — via the binned interval-point join (operators/rangejoin.py)
    that replaces Spark's BroadcastNestedLoopJoin fallback with one
    equi-shuffle; the oracle is DuckDB's plain inequality join."""
    from document_retrieval_system_spark.operators.rangejoin import (
        interval_point_join,
    )

    ev = _events(spark, sf_dir)
    us = _ntz_micros("ts")
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), "user_id",
        us.alias("win_start"), (us + F.lit(_RANGE_WIN_US)).alias("win_end"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", us.alias("click_us"),
    )
    out = interval_point_join(
        errors, clicks, "win_start", "win_end", "click_us",
        key="user_id", bucket_width=_RANGE_WIN_US,
    )
    return out.select("error_id", "user_id", "click_id")


SQL_EVENTS_RANGE = f"""
WITH errors AS (
  SELECT event_id AS error_id, user_id, epoch_us(ts) AS s
  FROM events WHERE event_type = 'error'
),
clicks AS (
  SELECT event_id AS click_id, user_id, epoch_us(ts) AS v
  FROM events WHERE event_type = 'click'
)
SELECT e.error_id, e.user_id, c.click_id
FROM errors e JOIN clicks c
  ON c.user_id = e.user_id
 AND c.v >= e.s AND c.v < e.s + {_RANGE_WIN_US}"""


_SESSION_GAP_US = 4 * 3600 * 1_000_000  # 4 h — binding: 6940 sessions / 10k events at sf0.01


def q_events_sessionize(spark, sf_dir):
    """Gap-based sessionization of the event log (operators/
    sessions.py): a user's events split into sessions at >4 h gaps;
    one row per session with exact LONG micros bounds.  One user-keyed
    exchange serves both the numbering windows and the session
    aggregate (plan-pinned in tests)."""
    from document_retrieval_system_spark.operators.sessions import sessionize

    ev = _events(spark, sf_dir).select(
        "user_id", "event_id", _ntz_micros("ts").alias("us"))
    return sessionize(ev, gap_us=_SESSION_GAP_US)


SQL_EVENTS_SESSIONS = f"""
WITH ev AS (
  SELECT user_id, event_id, epoch_us(ts) AS us FROM events
),
flagged AS (
  SELECT user_id, event_id, us,
    CASE WHEN lag(us) OVER w IS NULL
              OR us - lag(us) OVER w > {_SESSION_GAP_US}
         THEN 1 ELSE 0 END AS new_s
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
),
sess AS (
  SELECT user_id, us,
    sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                     ROWS UNBOUNDED PRECEDING) AS session_no
  FROM flagged
)
SELECT user_id, session_no::BIGINT AS session_no,
       count(*)::BIGINT AS n_events,
       min(us)::BIGINT AS start_us, max(us)::BIGINT AS end_us,
       (max(us) - min(us))::BIGINT AS duration_us
FROM sess GROUP BY user_id, session_no"""


def q_events_rollup(spark, sf_dir):
    """Multi-granularity rollup of the event log (operators/
    sessions.py): (event_type, day) / (event_type,) / grand-total
    counts, exact distinct users, and exact integer-cents value sums,
    all from ONE grouping-sets pass (a single Expand + hash aggregate
    — one shuffle for all three granularities)."""
    from document_retrieval_system_spark.operators.sessions import event_rollup

    return event_rollup(_events(spark, sf_dir))


SQL_EVENTS_ROLLUP = """
WITH base AS (
  SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day, user_id,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
)
SELECT event_type, day, GROUPING(event_type, day)::BIGINT AS gid,
       count(*)::BIGINT AS n_events,
       count(DISTINCT user_id)::BIGINT AS n_users,
       sum(cents)::BIGINT AS sum_cents
FROM base GROUP BY ROLLUP (event_type, day)"""


_RESAMPLE_US = 3600 * 1_000_000  # hourly buckets


def q_events_resample(spark, sf_dir):
    """Hourly resample of the event log with gap filling (operators/
    sessions.py::resample_counts): per (event_type, epoch-hour) counts
    including explicit zero rows for empty hours — the dense axis a
    rate monitor needs.  Exact LONG bucket arithmetic end-to-end."""
    from document_retrieval_system_spark.operators.sessions import (
        resample_counts,
    )

    ev = _events(spark, sf_dir).select(
        "event_type", _ntz_micros("ts").alias("us"))
    return resample_counts(ev, bucket_us=_RESAMPLE_US)


SQL_EVENTS_RESAMPLE = f"""
WITH c AS (
  SELECT event_type, epoch_us(ts) // {_RESAMPLE_US} AS bucket,
         count(*)::BIGINT AS n
  FROM events GROUP BY event_type, bucket
),
bounds AS (
  SELECT event_type, min(bucket) AS mn, max(bucket) AS mx
  FROM c GROUP BY event_type
),
axis AS (
  SELECT event_type, unnest(generate_series(mn, mx)) AS bucket FROM bounds
)
SELECT a.event_type, a.bucket::BIGINT AS bucket,
       coalesce(c.n, 0)::BIGINT AS n_events
FROM axis a LEFT JOIN c ON a.event_type = c.event_type AND a.bucket = c.bucket"""


_ANOMALY_Z = 2.5


def q_events_anomaly(spark, sf_dir):
    """Traffic-anomaly hours (operators/sessions.py::anomaly_buckets):
    per event type, gap-filled hourly counts whose z-score vs that
    type's own hourly distribution is >= 2.5 sigma — moments are exact
    LONG sums, z is one IEEE double expression, so the verdicts are
    engine- and parallelism-exact.  Binding at sf0.01: 66 of 3600
    type-hours flagged, all 5 types represented."""
    from document_retrieval_system_spark.operators.sessions import (
        anomaly_buckets,
    )

    ev = _events(spark, sf_dir).select(
        "event_type", _ntz_micros("ts").alias("us"))
    return anomaly_buckets(ev, bucket_us=_RESAMPLE_US,
                           z_threshold=_ANOMALY_Z)


SQL_EVENTS_ANOMALY = f"""
WITH c AS (
  SELECT event_type, epoch_us(ts) // {_RESAMPLE_US} AS bucket,
         count(*)::BIGINT AS n
  FROM events GROUP BY event_type, bucket
),
bounds AS (
  SELECT event_type, min(bucket) AS mn, max(bucket) AS mx
  FROM c GROUP BY event_type
),
dense AS (
  SELECT a.event_type, a.bucket::BIGINT AS bucket,
         coalesce(c.n, 0)::BIGINT AS n_events
  FROM (SELECT event_type, unnest(generate_series(mn, mx)) AS bucket
        FROM bounds) a
  LEFT JOIN c ON a.event_type = c.event_type AND a.bucket = c.bucket
),
s AS (
  SELECT event_type, count(*)::BIGINT AS nb, sum(n_events)::BIGINT AS sx,
         sum(n_events * n_events)::BIGINT AS sxx
  FROM dense GROUP BY event_type
),
z AS (
  SELECT d.event_type, d.bucket, d.n_events,
         (d.n_events::DOUBLE - sx::DOUBLE / nb::DOUBLE)
           / sqrt((sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE / nb::DOUBLE)
                  / (nb::DOUBLE - 1)) AS zv
  FROM dense d JOIN s USING (event_type)
  WHERE nb > 1 AND sxx * nb > sx * sx
)
SELECT event_type, bucket, n_events, round(zv, 6) AS z
FROM z WHERE abs(zv) >= {_ANOMALY_Z}"""


def q_ta_zipf(spark, sf_dir):
    """Zipf rank-frequency fit (operators/textstats.py::zipf_fit) over
    the corpus vocabulary: ln(cf) vs ln(rank) least squares — the
    one-number corpus-quality / posting-skew diagnostic (natural text
    ~ -1; this synthetic token soup is flatter, which is exactly what
    the diagnostic is for)."""
    from document_retrieval_system_spark.operators.textstats import zipf_fit

    docs = _docs(spark, sf_dir)
    cf = (
        docs.select(
            F.explode(
                textstats.simple_tokens(F.coalesce(F.col("text"), F.lit("")))
            ).alias("term")
        )
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("cf"))
    )
    return zipf_fit(cf)


SQL_TA_ZIPF = "WITH " + SQL_TOKS + """,
cf AS (
  SELECT term, count(*)::BIGINT AS cf
  FROM (SELECT unnest(toks) AS term FROM toks) GROUP BY term
),
xy AS (
  SELECT ln((row_number() OVER (ORDER BY cf DESC, term))::DOUBLE) AS x,
         ln(cf::DOUBLE) AS y
  FROM cf
),
s AS (
  SELECT count(*)::DOUBLE AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
  FROM xy
)
SELECT n::BIGINT AS n_terms,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
       round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
         AS intercept,
       round((n * sxy - sx * sy) * (n * sxy - sx * sy)
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
FROM s"""


def q_ta_heaps(spark, sf_dir):
    """Heaps'-law vocabulary-growth fit (operators/textstats.py::
    heaps_fit): ln V(n) vs ln n least squares over power-of-two
    checkpoints, V(n) = distinct terms in the first n docs (id order).
    beta forecasts dictionary / term-stats size at 100x the corpus —
    the companion to ta_zipf's posting-skew forecast.  The checkpoint
    evaluation is one first-seen min-agg + a <=40-element array filter
    per term (map-side) + a tiny groupBy: no per-doc cumsum window at
    any scale."""
    from document_retrieval_system_spark.operators.textstats import heaps_fit

    docs = _docs(spark, sf_dir)
    pairs = docs.select(
        "doc_id",
        F.explode(
            textstats.simple_tokens(F.coalesce(F.col("text"), F.lit("")))
        ).alias("term"),
    ).distinct()
    return heaps_fit(pairs)


_HEAPS_CKS = ", ".join(str(2 ** k) for k in range(40))

SQL_TA_HEAPS = "WITH " + SQL_TOKS + f""",
pairs AS (
  SELECT DISTINCT doc_id, unnest(toks) AS term FROM toks
),
ords AS (
  SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS n
  FROM (SELECT DISTINCT doc_id FROM pairs)
),
firstn AS (
  SELECT term, min(n) AS fn
  FROM pairs JOIN ords USING (doc_id) GROUP BY term
),
nd AS (SELECT max(n) AS nd, count(*) AS n_docs FROM ords),
growth AS (
  SELECT ck, count(*)::DOUBLE AS v
  FROM (SELECT unnest([{_HEAPS_CKS}]) AS ck), firstn, nd
  WHERE ck <= nd.nd AND firstn.fn <= ck
  GROUP BY ck
),
xy AS (SELECT ln(ck::DOUBLE) AS x, ln(v) AS y FROM growth),
s AS (
  SELECT count(*)::DOUBLE AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
  FROM xy
)
SELECT (SELECT n_docs FROM nd)::BIGINT AS n_docs,
       (SELECT count(*) FROM firstn)::BIGINT AS vocab,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS beta,
       round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
         AS ln_k,
       round((n * sxy - sx * sy) * (n * sxy - sx * sy)
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
FROM s"""


_FUNNEL_GAP_US = 24 * 3600 * 1_000_000
_FUNNEL_STEPS = ["view", "click", "purchase"]


def q_events_funnel(spark, sf_dir):
    """Strict sequential funnel (operators/sessions.py::funnel_counts):
    of the 24 h-gap sessions, how many contain a view, a click after
    that view, and a purchase after that click — evaluated as chained
    per-session min-aggregations on one user-keyed clustering (no
    events x events self-join).  Binding at sf0.01: 816 -> 498 -> 288
    of 1214 sessions."""
    from document_retrieval_system_spark.operators.sessions import (
        funnel_counts,
    )

    ev = _events(spark, sf_dir).select(
        "user_id", "event_id", "event_type", _ntz_micros("ts").alias("us"))
    return funnel_counts(ev, _FUNNEL_STEPS, gap_us=_FUNNEL_GAP_US)


SQL_EVENTS_FUNNEL = f"""
WITH ev AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
),
flagged AS (
  SELECT *, CASE WHEN lag(us) OVER w IS NULL
                      OR us - lag(us) OVER w > {_FUNNEL_GAP_US}
            THEN 1 ELSE 0 END AS new_s
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
),
lab AS (
  SELECT user_id, event_type, us,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                          ROWS UNBOUNDED PRECEDING) AS session_no
  FROM flagged
),
s0 AS (
  SELECT user_id, session_no, min(us) AS t0 FROM lab
  WHERE event_type = '{_FUNNEL_STEPS[0]}' GROUP BY user_id, session_no
),
s1 AS (
  SELECT l.user_id, l.session_no, min(l.us) AS t1
  FROM lab l JOIN s0 USING (user_id, session_no)
  WHERE l.event_type = '{_FUNNEL_STEPS[1]}' AND l.us > s0.t0
  GROUP BY l.user_id, l.session_no
),
s2 AS (
  SELECT l.user_id, l.session_no, min(l.us) AS t2
  FROM lab l JOIN s1 USING (user_id, session_no)
  WHERE l.event_type = '{_FUNNEL_STEPS[2]}' AND l.us > s1.t1
  GROUP BY l.user_id, l.session_no
),
c AS (
  SELECT 1::BIGINT AS step, '{_FUNNEL_STEPS[0]}' AS event_type,
         count(*)::BIGINT AS n_sessions FROM s0
  UNION ALL
  SELECT 2::BIGINT, '{_FUNNEL_STEPS[1]}', count(*)::BIGINT FROM s1
  UNION ALL
  SELECT 3::BIGINT, '{_FUNNEL_STEPS[2]}', count(*)::BIGINT FROM s2
)
SELECT step, event_type, n_sessions,
       round(n_sessions::DOUBLE
             / (SELECT n_sessions FROM c WHERE step = 1), 6) AS frac
FROM c"""


_QUANTILE_QS = (0.5, 0.9, 0.95, 0.99)


def q_events_quantiles(spark, sf_dir):
    """Exact per-type value quantiles (operators/sessions.py::
    group_quantiles) by the nearest-rank definition — a data member,
    no interpolation, so the doubles hash engine-exact (what
    percentile_approx can never give you)."""
    from document_retrieval_system_spark.operators.sessions import (
        group_quantiles,
    )

    ev = _events(spark, sf_dir).select("event_type", "value")
    return group_quantiles(ev, "event_type", "value", qs=_QUANTILE_QS)


SQL_EVENTS_QUANTILES = f"""
WITH ranked AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events
),
q(q) AS (VALUES {", ".join(f"({x}::DOUBLE)" for x in _QUANTILE_QS)})
SELECT event_type, q, value FROM ranked CROSS JOIN q
WHERE rn = ceil(q * n)"""


def q_events_json_props(spark, sf_dir):
    """Semi-structured property extraction: the events table's ``props``
    JSON column parsed with the TYPED path (``from_json`` with an
    explicit schema — Catalyst-native, codegen'd, null-safe on
    malformed rows; never a Python UDF) and rolled up per extracted
    item key: events, exact distinct users/types, value in integer
    cents (order-independent sums — the engine's exactness idiom for
    money).  At 100 TB the parse is map-only and the single aggregate
    has map-side combine; a hot item key arrives pre-summed."""
    ev = _events_spread(spark, sf_dir)
    item = F.from_json("props", "k INT").getField("k")
    return (
        ev.select(
            item.alias("item"), "event_type", "user_id",
            F.round(F.col("value") * 100).cast("long").alias("_cents"),
        )
        .groupBy("item")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.countDistinct("event_type").cast("long").alias("n_types"),
            F.sum("_cents").cast("long").alias("value_cents"),
        )
    )


SQL_EVENTS_JSON = """
SELECT try_cast(json_extract_string(props, '$.k') AS INTEGER) AS item,
       count(*)::BIGINT AS n_events,
       count(DISTINCT user_id)::BIGINT AS n_users,
       count(DISTINCT event_type)::BIGINT AS n_types,
       sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS value_cents
FROM events GROUP BY item"""


_PR_DAMPING = 0.85
_PR_ITERS = 8


def _link_edges(docs, n: int):
    """Deterministic synthetic link graph over doc_ids 0..n-1: doc d
    emits d%5 out-links (so 20% of docs are DANGLING — exercising mass
    redistribution) to ((d*17 + j*j + 7) mod n), self-loops removed.
    Pure arithmetic on doc_id — both engines derive the identical edge
    set from the documents table alone."""
    return (
        docs.select(F.col("node").alias("src"),
                    F.explode(F.expr("array(1, 2, 3, 4)")).alias("j"))
        .filter(F.col("src") % 5 >= F.col("j"))
        .select(
            "src",
            ((F.col("src") * 17 + F.col("j") * F.col("j") + 7) % n)
            .alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def q_graph_pagerank(spark, sf_dir):
    """PageRank (operators/linkgraph.py) over the deterministic link
    graph: 8 damped power iterations with dangling-mass redistribution;
    the oracle is the same recurrence unrolled into 8 chained DuckDB
    CTEs — constants bit-matched via repr round-trip, final vector
    rounded to 6."""
    from document_retrieval_system_spark.operators.linkgraph import pagerank

    docs = _docs_raw(spark, sf_dir).select(F.col("doc_id").alias("node"))
    n = docs.count()
    pr = pagerank(_link_edges(docs, n), docs,
                  damping=_PR_DAMPING, iters=_PR_ITERS)
    return pr.select(F.col("node").alias("doc_id"),
                     F.round("pr", 6).alias("pr"))


def _tri_edges(docs, n: int):
    """Deterministic DENSER synthetic graph for the triangle census:
    doc d emits d%8 out-links to (d + j*j) mod n — square offsets give
    short-range chords, so triangles actually occur (305 at sf0.01 vs 4
    on the sparse PageRank graph).  Pure doc_id arithmetic, both
    engines derive the identical edge set."""
    return (
        docs.select(
            F.col("node").alias("src"),
            F.explode(F.expr("sequence(1, 7)")).alias("j"),
        )
        .filter(F.col("src") % 8 >= F.col("j"))
        .select(
            "src",
            ((F.col("src") + F.col("j") * F.col("j")) % n).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
    )


def q_graph_triangles(spark, sf_dir):
    """Triangle census + global clustering coefficient (operators/
    linkgraph.py::triangle_stats) over the deterministic dense link
    graph: ordered-wedge self-join closed by a semi-join, wedge count
    from the degree table in exact LONGs.  Binding at sf0.01: 1742
    undirected edges, 12784 wedges, 305 triangles."""
    from document_retrieval_system_spark.operators.linkgraph import (
        triangle_stats,
    )

    docs = _docs_raw(spark, sf_dir).select(F.col("doc_id").alias("node"))
    n = docs.count()
    return triangle_stats(_tri_edges(docs, n))


SQL_GRAPH_TRIANGLES = """
WITH nn AS (SELECT count(*) AS c FROM documents),
e AS (
  SELECT doc_id AS src, (doc_id + j * j) % nn.c AS dst
  FROM documents CROSS JOIN (SELECT unnest([1, 2, 3, 4, 5, 6, 7]) AS j)
  CROSS JOIN nn
  WHERE doc_id % 8 >= j AND (doc_id + j * j) % nn.c != doc_id
),
und AS (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v FROM e
),
deg AS (
  SELECT node, count(*)::BIGINT AS d
  FROM (SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und)
  GROUP BY node
),
w AS (
  SELECT sum(d * (d - 1) // 2)::BIGINT AS n_wedges,
         count(*)::BIGINT AS n_nodes
  FROM deg
),
t AS (
  SELECT count(*)::BIGINT AS n_triangles
  FROM und e1 JOIN und e2 ON e1.v = e2.u
       JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v
),
ne AS (SELECT count(*)::BIGINT AS n_edges FROM und)
SELECT n_nodes, n_edges, n_wedges, n_triangles,
       round(3.0 * n_triangles::DOUBLE / n_wedges::DOUBLE, 6)
         AS global_clustering
FROM ne CROSS JOIN w CROSS JOIN t"""


def _sql_pagerank_ctes() -> str:
    """The unrolled-power-iteration CTE chain WITHOUT a leading WITH or
    final SELECT, so both the standalone pagerank oracle and the
    static-rank blend can splice it."""
    import pyarrow.parquet as pq

    n = pq.ParquetFile(
        os.path.join(_oracle_sf_dir(), "documents.parquet")
    ).metadata.num_rows
    tele = repr((1.0 - _PR_DAMPING) / n)
    init = repr(1.0 / n)
    damp = repr(_PR_DAMPING)
    parts = [f"""nodes AS (SELECT doc_id AS node FROM documents),
edges AS (
  SELECT DISTINCT src, (src * 17 + j * j + 7) % {n} AS dst FROM (
    SELECT doc_id AS src, unnest([1, 2, 3, 4]) AS j FROM documents
  ) WHERE src % 5 >= j AND src <> (src * 17 + j * j + 7) % {n}
),
outdeg AS (SELECT src, count(*)::DOUBLE AS deg FROM edges GROUP BY src),
r0 AS (SELECT node, {init}::DOUBLE AS pr FROM nodes)"""]
    for t in range(_PR_ITERS):
        parts.append(f""",
dm{t} AS (
  SELECT coalesce(sum(r.pr), 0::DOUBLE) AS m
  FROM r{t} r LEFT JOIN outdeg o ON r.node = o.src WHERE o.src IS NULL
),
c{t} AS (
  SELECT e.dst AS node, sum(r.pr / o.deg) AS s
  FROM edges e JOIN r{t} r ON e.src = r.node
  JOIN outdeg o ON e.src = o.src
  GROUP BY e.dst
),
r{t + 1} AS (
  SELECT nd.node,
         ({tele}::DOUBLE + {damp}::DOUBLE
          * (coalesce(c.s, 0::DOUBLE) + dm.m / {n})) AS pr
  FROM nodes nd CROSS JOIN dm{t} dm
  LEFT JOIN c{t} c ON nd.node = c.node
)""")
    return "".join(parts)


def _sql_graph_pagerank() -> str:
    return ("WITH " + _sql_pagerank_ctes()
            + f"\nSELECT node AS doc_id, round(pr, 6) AS pr"
              f" FROM r{_PR_ITERS}")


EVAL_QUERY_TERMS = [
    ["data", "join"],
    ["table", "scan", "fast"],
    ["hash", "merge"],
    ["window", "sort", "line"],
    ["spark", "value", "batch"],
    ["key", "part"],
    ["slow", "filter", "row"],
    ["query", "stream", "vector"],
]
EVAL_K = 10


def q_search_eval(spark, sf_dir):
    """Ranking-quality evaluation (operators/evaluate.py): nDCG@10 /
    MRR / precision / recall of the engine's batched WAND BM25 over 8
    queries, judged by graded synthetic qrels (rel = number of distinct
    query terms with tf >= 4 in the document — frequency-graded so the
    judgments DISAGREE with pure BM25 order and the metrics land
    strictly inside (0, 1); computable identically in both engines, so
    the metric values themselves hash).  Ranks use the 6-rounded score
    with doc_id tie-break: stable to last-ulp float drift between
    engines."""
    from document_retrieval_system_spark.operators.evaluate import (
        ranking_metrics,
    )
    from document_retrieval_system_spark.operators.wand import (
        bm25_wand_search_many,
    )

    reader = _ensure_entry_index(spark, sf_dir)
    ranked = bm25_wand_search_many(
        reader, [" ".join(t) for t in EVAL_QUERY_TERMS], "en", 10**6, 0.0,
        analyzer=simple_process_text,
    ).select(
        "qid",
        _page_doc_id().alias("doc_id"),
        F.round("score", 6).alias("score"),
    )
    q = spark.createDataFrame(
        [(qid, t) for qid, terms in enumerate(EVAL_QUERY_TERMS)
         for t in terms],
        "qid long, term string",
    )
    tf = (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            F.explode(
                textstats.simple_tokens(F.coalesce(F.col("text"), F.lit("")))
            ).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    qrels = (
        tf.filter(F.col("tf") >= 4)
        .join(q, "term")
        .groupBy("qid", "doc_id")
        .agg(F.countDistinct("term").cast("long").alias("rel"))
    )
    return ranking_metrics(ranked, qrels, k=EVAL_K)


_EVAL_Q_UNION = " UNION ALL ".join(
    f"SELECT {qid} AS qid, unnest({terms!r}) AS term"
    for qid, terms in enumerate(EVAL_QUERY_TERMS)
)

SQL_SEARCH_EVAL = "WITH " + SQL_TFS + f""",
stats AS (SELECT term, count(*) AS df FROM tfs GROUP BY term),
corpus AS (
  SELECT count(*) AS n, avg(len(toks)) AS avgdl
  FROM toks WHERE len(toks) > 0
),
q AS ({_EVAL_Q_UNION}),
scores AS (
  SELECT q.qid, tfs.doc_id,
         round(sum( ln((corpus.n - stats.df + 0.5) / (stats.df + 0.5) + 1)
               * tfs.tf / (tfs.tf + {K1} * (1 - {B} + {B} * tfs.dl / corpus.avgdl)) ), 6)
           AS score
  FROM tfs JOIN q USING (term) JOIN stats USING (term) CROSS JOIN corpus
  GROUP BY q.qid, tfs.doc_id
),
ranked AS (
  SELECT qid, doc_id, score,
         row_number() OVER (PARTITION BY qid
                            ORDER BY score DESC, doc_id) AS rnk
  FROM scores QUALIFY rnk <= {EVAL_K}
),
qrels AS (
  SELECT q.qid, tfs.doc_id, count(DISTINCT tfs.term)::BIGINT AS rel
  FROM tfs JOIN q USING (term)
  WHERE tfs.tf >= 4
  GROUP BY q.qid, tfs.doc_id
),
judged AS (
  SELECT r.qid, r.rnk, coalesce(qr.rel, 0) AS rel
  FROM ranked r LEFT JOIN qrels qr
    ON r.qid = qr.qid AND r.doc_id = qr.doc_id
),
got AS (
  SELECT qid,
         sum((pow(2, rel) - 1) / log2(rnk + 1)) AS dcg,
         sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS hits,
         max(CASE WHEN rel > 0 THEN 1::DOUBLE / rnk END) AS mrr
  FROM judged GROUP BY qid
),
ideal AS (
  SELECT qid, rel,
         row_number() OVER (PARTITION BY qid
                            ORDER BY rel DESC, doc_id) AS ir
  FROM qrels WHERE rel > 0
),
istats AS (
  SELECT qid,
         sum(CASE WHEN ir <= {EVAL_K}
                  THEN (pow(2, rel) - 1) / log2(ir + 1) END) AS idcg,
         count(*)::BIGINT AS n_rel
  FROM ideal GROUP BY qid
)
SELECT g.qid, round(g.dcg / i.idcg, 6) AS ndcg,
       round(coalesce(g.mrr, 0::DOUBLE), 6) AS mrr,
       round(g.hits::DOUBLE / {EVAL_K}, 6) AS precision,
       round(g.hits::DOUBLE / i.n_rel, 6) AS recall
FROM got g JOIN istats i ON g.qid = i.qid"""


_KMV_K = 48


_CMS_DEPTH, _CMS_WIDTH = 3, 16


def q_sketch_heavy_hitters(spark, sf_dir):
    """Count-min sketch (operators/sketch.py::cms_counters): term
    frequencies estimated from a 3x16 deterministic-md5 sketch and
    compared to truth per vocabulary term — overcount >= 0 always
    (one-sided CMS error), > 0 where buckets collide (binding: 30 terms
    into 16 buckets collide by construction).  Counters are exact LONG
    cellwise-mergeable sums, so the whole output oracle-hashes."""
    from document_retrieval_system_spark.operators.sketch import (
        cms_counters,
        cms_point_estimates,
    )

    occ = _tok_df(_docs(spark, sf_dir)).select(
        F.explode("toks").alias("term"))
    truth = occ.groupBy("term").agg(F.count("*").cast("long").alias("true_cf"))
    counters = cms_counters(occ, depth=_CMS_DEPTH, width=_CMS_WIDTH)
    est = cms_point_estimates(counters, truth.select("term"),
                              depth=_CMS_DEPTH, width=_CMS_WIDTH)
    return truth.join(est, "term").select(
        "term", "true_cf", "cms_cf",
        (F.col("cms_cf") - F.col("true_cf")).alias("overcount"),
    )


SQL_SKETCH_CMS = "WITH " + SQL_TOKS + f""",
occ AS (SELECT unnest(toks) AS term FROM toks),
truth AS (SELECT term, count(*)::BIGINT AS true_cf FROM occ GROUP BY term),
rows(r) AS (VALUES {", ".join(f"({i})" for i in range(_CMS_DEPTH))}),
cells AS (
  SELECT r,
         ('0x' || substr(md5(r::VARCHAR || ':' || term), 1, 12))::BIGINT
           % {_CMS_WIDTH} AS bucket,
         count(*)::BIGINT AS c
  FROM occ CROSS JOIN rows GROUP BY 1, 2
),
probes AS (
  SELECT term, r,
         ('0x' || substr(md5(r::VARCHAR || ':' || term), 1, 12))::BIGINT
           % {_CMS_WIDTH} AS bucket
  FROM truth CROSS JOIN rows
),
est AS (
  SELECT term, min(coalesce(c, 0))::BIGINT AS cms_cf
  FROM probes LEFT JOIN cells USING (r, bucket) GROUP BY term
)
SELECT term, true_cf, cms_cf, (cms_cf - true_cf)::BIGINT AS overcount
FROM truth JOIN est USING (term)"""


def q_sketch_distinct(spark, sf_dir):
    """KMV distinct-count sketch (operators/sketch.py) next to the
    exact answer it replaces: distinct users per (event_type, day) via
    the bottom-48 md5 order statistic.  Both paths bind at sf0.01
    (some days hold < 48 distinct users — exact by construction — and
    some ≥ 64 — the estimator).  The whole pipeline is exact LONG
    arithmetic, so even the *estimate* hashes across engines."""
    from document_retrieval_system_spark.operators.sketch import kmv_distinct

    ev = _events(spark, sf_dir).select(
        "event_type", F.to_date("ts").cast("string").alias("day"), "user_id")
    sk = kmv_distinct(ev, ["event_type", "day"], "user_id", k=_KMV_K)
    exact = ev.groupBy("event_type", "day").agg(
        F.countDistinct("user_id").cast("long").alias("n_exact"))
    return exact.join(sk, ["event_type", "day"]).select(
        "event_type", "day", "n_exact", "n_kept", "kmv_distinct")


SQL_SKETCH_DISTINCT = f"""
WITH base AS (
  SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day, user_id,
         ('0x' || substr(md5(user_id::VARCHAR), 1, 12))::BIGINT AS h
  FROM events
),
hs AS (SELECT DISTINCT event_type, day, h FROM base),
rk AS (
  SELECT event_type, day, h,
         row_number() OVER (PARTITION BY event_type, day ORDER BY h) AS rn
  FROM hs
),
sk AS (
  SELECT event_type, day, count(*)::BIGINT AS n_kept, max(h) AS hk
  FROM rk WHERE rn <= {_KMV_K} GROUP BY event_type, day
),
ex AS (
  SELECT event_type, day, count(DISTINCT user_id)::BIGINT AS n_exact
  FROM base GROUP BY event_type, day
)
SELECT s.event_type, s.day, e.n_exact, s.n_kept,
       (CASE WHEN s.n_kept < {_KMV_K} THEN s.n_kept
             ELSE ({_KMV_K - 1}::BIGINT * {1 << 48}::BIGINT) // s.hk
        END)::BIGINT AS kmv_distinct
FROM sk s JOIN ex e ON s.event_type = e.event_type AND s.day = e.day"""


def q_fuzzy_terms(spark, sf_dir):
    """Typo-tolerant term lookup: every distinct corpus term within
    Levenshtein distance 1 of each query term, via the position-tagged
    deletion-variant equi-join (operators/fuzzy.py) — the query side
    broadcasts, the corpus vocabulary never shuffles."""
    docs = _docs(spark, sf_dir)
    dictionary = (
        docs.select(
            F.explode(
                textstats.simple_tokens(F.coalesce(F.col("text"), F.lit("")))
            ).alias("term")
        ).distinct()
    )
    queries = spark.createDataFrame(
        [(t,) for t in FUZZY_QUERY_TERMS], "query_term string"
    )
    return fuzzy.fuzzy_term_matches(dictionary, queries)


_FUZZY_VALUES = ", ".join(f"('{t}')" for t in FUZZY_QUERY_TERMS)

SQL_FUZZY_TERMS = "WITH " + SQL_TOKS + f""",
dict AS (SELECT DISTINCT unnest(toks) AS t FROM toks),
dels AS (SELECT t, unnest(range(0, length(t))) AS i FROM dict),
dv AS (
  SELECT t, t AS v, -1 AS pos FROM dict
  UNION ALL
  SELECT t, substr(t, 1, i::INT) || substr(t, (i + 2)::INT, length(t)), i::INT
  FROM dels
),
q(q) AS (VALUES {_FUZZY_VALUES}),
qdels AS (SELECT q, unnest(range(0, length(q))) AS i FROM q),
qv AS (
  SELECT q, q AS v, -1 AS pos FROM q
  UNION ALL
  SELECT q, substr(q, 1, i::INT) || substr(q, (i + 2)::INT, length(q)), i::INT
  FROM qdels
)
SELECT DISTINCT qv.q AS query_term, dv.t AS term,
       (CASE WHEN qv.q = dv.t THEN 0 ELSE 1 END)::INT AS dist
FROM dv JOIN qv ON dv.v = qv.v
 AND (dv.pos = -1 OR qv.pos = -1 OR dv.pos = qv.pos)"""


def q_ta_langid(spark, sf_dir):
    return textstats.lang_id(_docs(spark, sf_dir))


SQL_TA_LANGID = "WITH " + SQL_TOKS + f"""
SELECT doc_id,
       CASE WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
            WHEN len(list_filter(toks, t -> list_contains({textstats.EN_MARKERS!r}, t))) > 0 THEN 'en'
            ELSE 'other' END AS lang_pred,
       len(list_filter(toks, t -> list_contains({textstats.EN_MARKERS!r}, t))) AS en_marker_hits
FROM toks"""


def q_ta_quality(spark, sf_dir):
    return textstats.quality_score(_docs(spark, sf_dir))


SQL_TA_QUALITY = "WITH " + SQL_TOKS + f""",
m AS (
  SELECT doc_id, text IS NOT NULL AS has_text, len(toks) AS n_tok,
         length(coalesce(text,'')) AS n_chars,
         CASE WHEN length(coalesce(text,'')) > 0
              THEN length(regexp_replace(lower(coalesce(text,'')), '[^a-z]', '', 'g'))
                   * 1.0 / length(coalesce(text,''))
              ELSE 0.0 END AS alpha_ratio,
         CASE WHEN len(toks) > 0
              THEN len(list_filter(toks, t -> list_contains({textstats.EN_MARKERS!r}, t)))
                   * 1.0 / len(toks)
              ELSE 0.0 END AS stop_ratio,
         CASE WHEN len(toks) > 0
              THEN list_sum(list_transform(toks, t -> length(t))) * 1.0 / len(toks)
              ELSE 0.0 END AS mean_wlen
  FROM toks
)
SELECT doc_id, has_text, n_tok AS n_tokens,
       round(0.25 * (CASE WHEN n_chars >= 100 AND n_chars <= 20000 THEN 1.0 ELSE 0.5 END)::DOUBLE
             + 0.35 * alpha_ratio
             + 0.2 * least(stop_ratio * 5, 1.0::DOUBLE)
             + 0.2 * (CASE WHEN mean_wlen >= 3.0 AND mean_wlen <= 10.0 THEN 1.0 ELSE 0.5 END)::DOUBLE,
             4) AS quality
FROM m"""


def q_ta_tokencount(spark, sf_dir):
    return textstats.token_counts(_docs(spark, sf_dir))


SQL_TA_TOKENCOUNT = r"""
SELECT doc_id,
       len(list_filter(string_split_regex(coalesce(text,''), '\s+'),
                       t -> length(t) > 0)) AS n_ws_tokens,
       len(regexp_extract_all(lower(coalesce(text,'')), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_bpe_tokens
FROM documents"""


# the synthetic corpus has no contact surfaces, so the entry plants
# deterministic ones (same expression both engines) on every 7th doc —
# the patterns are then exercised on non-trivial text, not a 0==0 match
def _pii_planted_docs(spark, sf_dir):
    d = _docs(spark, sf_dir)
    plant = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com or http://example.org/p/"),
        F.col("doc_id").cast("string"),
        F.lit(" call +1 (555) 010-"), F.col("doc_id").cast("string"),
        F.lit(" at 10.0.0."), (F.col("doc_id") % 256).cast("string"),
    )
    return d.withColumn(
        "text",
        F.when(F.col("doc_id") % 7 == 0, plant).otherwise(F.col("text")),
    )


def q_ta_pii(spark, sf_dir):
    """PII/contact-surface pattern counts (emails, urls, phone-shaped
    runs, IPv4-shaped quads) — the scrub-signal pass of a webtext
    pipeline; patterns are lookahead-free so Java regex and RE2 agree."""
    return textstats.pii_counts(_pii_planted_docs(spark, sf_dir))


SQL_TA_PII = """WITH pii_docs AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN
           coalesce(text,'') || ' contact user' || doc_id::VARCHAR
           || '@example.com or http://example.org/p/' || doc_id::VARCHAR
           || ' call +1 (555) 010-' || doc_id::VARCHAR
           || ' at 10.0.0.' || (doc_id % 256)::VARCHAR
         ELSE text END AS text
  FROM documents
)
SELECT doc_id, """ + ", ".join(
    f"CAST(len(regexp_extract_all(lower(coalesce(text,'')), '{pat}')) AS BIGINT)"
    f" AS {name}"
    for name, pat in textstats.PII_PATTERNS.items()
) + " FROM pii_docs"


def q_url_dedup(spark, sf_dir):
    """URL canonicalization + url-duplicate grouping over deterministic
    messy variants derived from doc_id (the driver tables carry no url
    column): every third doc emits 2-3 variants — uppercase host,
    default port, tracking params, duplicate/trailing slashes, fragment
    — that must collapse to one canonical key."""
    from document_retrieval_system_spark.operators.curate import (
        url_duplicate_groups,
    )

    d = _docs_raw(spark, sf_dir).select("doc_id")
    v0 = d.select(
        "doc_id",
        F.concat(F.lit("HTTPS://WWW.Example.COM:443/p/"),
                 F.col("doc_id").cast("string"),
                 F.lit("/?utm_source=x&q=1#frag")).alias("url"),
    )
    v1 = d.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.lit("https://www.example.com/p/"),
                 F.col("doc_id").cast("string"),
                 F.lit("?q=1")).alias("url"),
    )
    v2 = d.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.lit("https://www.example.com/p//"),
                 F.col("doc_id").cast("string"),
                 F.lit("/?q=1&utm_campaign=y")).alias("url"),
    )
    return url_duplicate_groups(v0.unionByName(v1).unionByName(v2))


SQL_URL_DEDUP = """
WITH urls AS (
  SELECT doc_id,
         'HTTPS://WWW.Example.COM:443/p/' || doc_id::VARCHAR
           || '/?utm_source=x&q=1#frag' AS url
  FROM documents
  UNION ALL
  SELECT doc_id + 100000,
         'https://www.example.com/p/' || doc_id::VARCHAR || '?q=1'
  FROM documents
  UNION ALL
  SELECT doc_id + 200000,
         'https://www.example.com/p//' || doc_id::VARCHAR
           || '/?q=1&utm_campaign=y'
  FROM documents WHERE doc_id % 3 = 0
),
split AS (
  SELECT doc_id,
    regexp_replace(regexp_replace(lower(
        regexp_extract(regexp_replace(url, '#.*$', ''),
                       '^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*')),
      '^(http://[^:]*):80$', '\\1'), '^(https://[^:]*):443$', '\\1') AS pre,
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        substr(regexp_replace(url, '#.*$', ''),
               length(regexp_extract(regexp_replace(url, '#.*$', ''),
                      '^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*')) + 1),
        '([?&])(utm_[a-z]+|fbclid|gclid)=[^&#]*', '\\1', 'g'),
      '\\?&+', '?', 'g'), '&&+', '&', 'g'), '[?&]+$', '', 'g') AS rest
  FROM urls
),
canon AS (
  SELECT doc_id,
    pre
    || regexp_replace(regexp_replace(
         regexp_extract(rest, '^[^?]*'), '//+', '/', 'g'), '/$', '', 'g')
    || substr(rest, length(regexp_extract(rest, '^[^?]*')) + 1)
    AS canonical_url
  FROM split
)
SELECT canonical_url, CAST(count(*) AS BIGINT) AS n_variants,
       min(doc_id) AS keep_id
FROM canon GROUP BY canonical_url HAVING count(*) > 1"""


DECON_NGRAM = 4  # 24 non-self contaminated pairs at sf0.01 (non-vacuous)
DECON_EVAL_MOD = 31


def q_corpus_decontaminate(spark, sf_dir):
    """Benchmark decontamination: training docs sharing any word 4-gram
    with the eval subset (doc_id % 31 == 0) — the leakage check before
    training.  Eval grams broadcast; training grams stream map-side."""
    from document_retrieval_system_spark.operators.curate import decontaminate

    d = _docs(spark, sf_dir)
    return decontaminate(
        d, d.filter(F.col("doc_id") % DECON_EVAL_MOD == 0),
        ngram=DECON_NGRAM,
    )


SQL_CORPUS_DECON = "WITH " + SQL_TOKS + f""",
dgrams AS (SELECT doc_id, unnest({_sql_grams(DECON_NGRAM)}) AS gram FROM toks),
ev AS (SELECT doc_id AS eval_id, gram FROM dgrams
       WHERE doc_id % {DECON_EVAL_MOD} = 0)
SELECT d.doc_id, ev.eval_id, CAST(count(*) AS BIGINT) AS n_shared_grams
FROM dgrams d JOIN ev USING (gram)
WHERE d.doc_id != ev.eval_id
GROUP BY d.doc_id, ev.eval_id"""


DECON_DROP_TAU = 0.05


def q_corpus_decon_verdicts(spark, sf_dir):
    """Per-doc contamination VERDICTS — the decision layer over the
    pair output: for every training doc (doc_id % 31 != 0), the max
    shared-gram fraction against any eval doc and a keep/drop flag.
    The e2e story becomes "which docs leave the corpus"."""
    from document_retrieval_system_spark.operators.curate import (
        contamination_verdicts,
    )

    d = _docs(spark, sf_dir)
    return contamination_verdicts(
        d.filter(F.col("doc_id") % DECON_EVAL_MOD != 0),
        d.filter(F.col("doc_id") % DECON_EVAL_MOD == 0),
        ngram=DECON_NGRAM, threshold=DECON_DROP_TAU,
    )


SQL_CORPUS_DECON_VERDICTS = "WITH " + SQL_TOKS + f""",
dgrams AS (SELECT doc_id, unnest({_sql_grams(DECON_NGRAM)}) AS gram FROM toks),
ev AS (SELECT doc_id AS eval_id, gram FROM dgrams
       WHERE doc_id % {DECON_EVAL_MOD} = 0),
tr AS (SELECT doc_id, gram FROM dgrams WHERE doc_id % {DECON_EVAL_MOD} != 0),
pairs AS (
  SELECT tr.doc_id, ev.eval_id, CAST(count(*) AS BIGINT) AS n_shared
  FROM tr JOIN ev USING (gram)
  GROUP BY tr.doc_id, ev.eval_id
),
worst AS (
  SELECT doc_id, n_shared AS max_shared, eval_id AS worst_eval_id FROM (
    SELECT doc_id, eval_id, n_shared,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY n_shared DESC, eval_id) AS rn
    FROM pairs) WHERE rn = 1
),
counts AS (
  SELECT doc_id, CAST(len({_sql_grams(DECON_NGRAM)}) AS BIGINT) AS n_grams
  FROM toks WHERE doc_id % {DECON_EVAL_MOD} != 0
)
SELECT *, overlap_frac >= {DECON_DROP_TAU} AS drop_flag FROM (
  SELECT c.doc_id, c.n_grams,
         coalesce(w.max_shared, 0)::BIGINT AS max_shared,
         coalesce(w.worst_eval_id, -1)::BIGINT AS worst_eval_id,
         CASE WHEN w.max_shared IS NULL OR c.n_grams = 0 THEN 0.0::DOUBLE
              ELSE CAST(w.max_shared AS DOUBLE) / CAST(c.n_grams AS DOUBLE)
         END AS overlap_frac
  FROM counts c LEFT JOIN worst w USING (doc_id)
)"""


TOKEN_BUDGET = 2_000


def q_corpus_token_budget(spark, sf_dir):
    """Quality-ranked token budgeting: per language, keep the greedy
    prefix of (quality desc, doc_id)-ordered docs whose cumulative
    whitespace-token count starts under the budget."""
    from document_retrieval_system_spark.operators.curate import (
        token_budget_select,
    )

    out = token_budget_select(_docs(spark, sf_dir), TOKEN_BUDGET)
    return out.select(
        "doc_id", "lang",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("cum_tokens").cast("long").alias("cum_tokens"),
    )


SQL_CORPUS_TOKEN_BUDGET = f"""
SELECT doc_id, lang, n_tokens, cum_tokens FROM (
  SELECT d.doc_id, d.lang, t.n_tokens,
         CAST(sum(t.n_tokens) OVER (
           PARTITION BY d.lang
           ORDER BY q.quality DESC, d.doc_id
           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
  FROM documents d
  JOIN ({SQL_TA_QUALITY}) q ON q.doc_id = d.doc_id
  JOIN (
    SELECT doc_id,
           CAST(len(list_filter(string_split_regex(coalesce(text,''), '\\s+'),
                                x -> length(x) > 0)) AS BIGINT) AS n_tokens
    FROM documents
  ) t ON t.doc_id = d.doc_id
)
WHERE cum_tokens - n_tokens < {TOKEN_BUDGET}"""


def q_t7_keywords(spark, sf_dir):
    """T7 (text_processor.py:230-270): per-doc top-5 keywords — single-doc
    sklearn TF-IDF reduces to (tf desc, term asc) ranking."""
    return textstats.extract_keywords(_docs(spark, sf_dir), top_n=5)


SQL_T7 = "WITH " + SQL_TFS + """
SELECT doc_id, rank, term, tf FROM (
  SELECT doc_id, term, tf,
         row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, term) AS rank
  FROM tfs
) WHERE rank <= 5"""


def q_ta_fingerprint(spark, sf_dir):
    return textstats.fingerprint(_docs(spark, sf_dir), k=8)


# Horner polynomial over codepoints, base 31, k=8 — the exact constants
# of textstats.winnowed_sets' zip_with chain; windows of 16 gram
# positions, clamped at the tail, one truncated window when P < 16.
_FP_POWS = [31 ** (7 - j) for j in range(8)]
_SQL_WINNOW_CTE = f"""c AS (
  SELECT doc_id, lower(coalesce(text, '')) AS t,
         greatest(length(lower(coalesce(text, ''))) - 7, 0) AS p
  FROM documents
),
h AS (
  SELECT doc_id, p,
         list_transform(range(1, p + 1), i ->
           {' + '.join(f"unicode(substr(t, i + {j}, 1))::BIGINT * {w}"
                       for j, w in enumerate(_FP_POWS))}
         ) AS hs
  FROM c
),
w AS (
  SELECT doc_id, hs,
         list_transform(
           range(1, greatest(p - 15, least(p, 1)) + 1),
           q -> list_aggregate(hs[q:q+15], 'min')) AS sel
  FROM h
)"""
SQL_TA_FINGERPRINT = f"""
WITH {_SQL_WINNOW_CTE}
SELECT doc_id,
       list_aggregate(hs, 'min') AS fingerprint,
       CAST(len(list_distinct(sel)) AS BIGINT) AS n_fp
FROM w"""


WINNOW_MIN_SHARED = 10  # 26 pairs at sf0.01 (non-vacuous, selective)
WINNOW_BUCKET_CAP = 64


def q_dedup_winnow(spark, sf_dir):
    """MOSS-style near-dup pairs by shared winnowing fingerprints:
    local-overlap detection the whole-doc MinHash sketch dilutes away.
    Hot fingerprints (boilerplate) capped before the self-join."""
    from document_retrieval_system_spark.operators.dedup import (
        winnow_overlap_pairs,
    )

    return winnow_overlap_pairs(
        _docs(spark, sf_dir), min_shared=WINNOW_MIN_SHARED,
        bucket_cap=WINNOW_BUCKET_CAP,
    )


SQL_DEDUP_WINNOW = f"""
WITH {_SQL_WINNOW_CTE},
fp AS (
  SELECT doc_id AS id, unnest(list_distinct(sel)) AS fp FROM w
),
capped AS (
  SELECT id, fp FROM fp
  QUALIFY count(*) OVER (PARTITION BY fp) <= {WINNOW_BUCKET_CAP}
)
SELECT l.id AS id_a, r.id AS id_b, CAST(count(*) AS BIGINT) AS n_shared
FROM capped l JOIN capped r ON l.fp = r.fp AND l.id < r.id
GROUP BY l.id, r.id
HAVING count(*) >= {WINNOW_MIN_SHARED}"""


SPAN_MIN_LEN = 48   # 25 spans at sf0.01 (max 526 chars) — non-vacuous
# Gram width: the span output is k-INVARIANT for any k <= min_len (a
# shared run >= min_len contains matching k-grams at every offset, and
# runs reconstruct the same maximal span for any k — measured identical
# 254-row output at sf0.1 for k in {16,24,32,40}), so k is purely a
# selectivity knob.  40-char grams cut the accidental-match join volume
# on repetitive text ~2.4x vs 16 (25.1 s -> 10.5 s at sf0.1): longer
# literal keys are rarer, and the extra shuffle bytes per row are far
# cheaper than the extra join output rows.
SPAN_K = 40


def q_dedup_spans(spark, sf_dir):
    """EXACT substring dedup with span output: every maximal exact
    common substring >= SPAN_MIN_LEN chars between two documents, with
    1-based (a_start, b_start, match_len) into the lowercased texts.
    One literal k-gram self-equi-join + diagonal islands (suffix-array
    dedup re-expressed relationally); the oracle runs the same maximal-
    run semantics as a brute-force DuckDB pipeline."""
    from document_retrieval_system_spark.operators.dedup import (
        exact_overlap_spans,
    )

    return exact_overlap_spans(
        _docs(spark, sf_dir), min_len=SPAN_MIN_LEN, k=SPAN_K,
        bucket_cap=None,
    )


SQL_DEDUP_SPANS = f"""
WITH docs AS (SELECT doc_id AS id, lower(coalesce(text, '')) AS t FROM documents),
grams AS (
  SELECT id, pos, substr(t, pos, {SPAN_K}) AS g FROM (
    SELECT id, t,
           unnest(generate_series(1, greatest(length(t) - {SPAN_K - 1}, 0))) AS pos
    FROM docs
  )
),
m AS (
  SELECT a.id AS id_a, b.id AS id_b, a.pos AS pa, b.pos AS pb
  FROM grams a JOIN grams b ON a.g = b.g AND a.id < b.id
),
runs AS (
  SELECT id_a, id_b, pa - pb AS diag, pa,
         pa - row_number() OVER (PARTITION BY id_a, id_b, pa - pb ORDER BY pa) AS run,
         pb
  FROM m
)
SELECT id_a, id_b, CAST(min(pa) AS BIGINT) AS a_start,
       CAST(min(pb) AS BIGINT) AS b_start,
       CAST(max(pa) - min(pa) + {SPAN_K} AS BIGINT) AS match_len
FROM runs GROUP BY id_a, id_b, diag, run
HAVING max(pa) - min(pa) + {SPAN_K} >= {SPAN_MIN_LEN}"""


def q_dedup_span_removal(spark, sf_dir):
    """Span-removal decisions (Lee et al. '22): per document, the merged
    character ranges scheduled for deletion (lower-id doc keeps each
    shared passage) and the resulting keep fraction."""
    from document_retrieval_system_spark.operators.dedup import (
        span_removal_decisions,
    )

    return span_removal_decisions(
        _docs(spark, sf_dir), min_len=SPAN_MIN_LEN, k=SPAN_K,
        bucket_cap=None,
    )


SQL_DEDUP_SPAN_REMOVAL = SQL_DEDUP_SPANS.replace(
    ")\nSELECT id_a, id_b, CAST(min(pa) AS BIGINT) AS a_start,", """),
spans AS (
SELECT id_a, id_b, CAST(min(pa) AS BIGINT) AS a_start,"""
).replace(
    f"HAVING max(pa) - min(pa) + {SPAN_K} >= {SPAN_MIN_LEN}",
    f"HAVING max(pa) - min(pa) + {SPAN_K} >= {SPAN_MIN_LEN})",
) + """,
iv AS (
  SELECT id_b AS doc_id, b_start AS s, b_start + match_len AS e FROM spans
),
isl AS (
  SELECT doc_id, s, e,
         CASE WHEN max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   IS NULL
              OR s > max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_grp
  FROM iv
),
grp AS (
  SELECT doc_id, s, e,
         sum(new_grp) OVER (PARTITION BY doc_id ORDER BY s, e
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
  FROM isl
),
merged AS (
  SELECT doc_id, g, min(s) AS ms, max(e) AS me FROM grp GROUP BY doc_id, g
),
per_doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ranges,
         CAST(sum(me - ms) AS BIGINT) AS removed_chars
  FROM merged GROUP BY doc_id
)
SELECT p.doc_id, p.n_ranges, p.removed_chars,
       CAST(length(lower(coalesce(d.text, ''))) AS BIGINT) AS total_chars,
       CASE WHEN length(lower(coalesce(d.text, ''))) = 0 THEN 0.0::DOUBLE
            ELSE 1.0::DOUBLE - CAST(p.removed_chars AS DOUBLE)
                 / CAST(length(lower(coalesce(d.text, ''))) AS DOUBLE)
       END AS keep_frac
FROM per_doc p JOIN documents d ON p.doc_id = d.doc_id"""


# --- model-based quality filter (CCNet/fastText-shape) ---------------------

QM_JUNK_MOD = 5        # doc_id % 5 == 3 -> planted low-quality doc
QM_JUNK_BASE = "buy now click here free win prize money "
QM_JUNK_VOCAB = ["cheap", "pills", "casino", "winner", "bonus", "deal",
                 "gratis", "lotto", "rich", "offer", "spam"]
QM_FIT_PER_CLASS = 120


def _qm_junk_text(doc_id: int) -> str:
    """Python twin of the planted low-quality text (see the Spark/SQL
    CASE expressions) — used only by the offline fit."""
    return (QM_JUNK_BASE * (3 + doc_id % 7)
            + QM_JUNK_VOCAB[doc_id % len(QM_JUNK_VOCAB)])


def _qm_fitted(sf_dir: str):
    """DATA-FITTED quality-classifier weights: deterministic logistic
    regression (operators/quality_model.fit_quality_model) on an
    md5-ranked sample of the PLANTED corpus — junk docs are the
    negative class, untouched docs the positive.  Runs driver-side on
    pyarrow (no SparkSession) so the same ints serve the Spark builder
    and the call-time oracle SQL (the _ivf_fitted_cents pattern)."""
    from document_retrieval_system_spark.operators.quality_model import (
        fit_quality_model,
        quantize_weights,
    )

    path = os.path.join(sf_dir, "documents.parquet")

    def fit():
        t = similarity.md5_ranked_table(path, "doc_id", ["text"], "qm")
        pos, neg = [], []
        for i, text in zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()):
            if i % QM_JUNK_MOD == 3:
                if len(neg) < QM_FIT_PER_CLASS:
                    neg.append(_qm_junk_text(i))
            elif len(pos) < QM_FIT_PER_CLASS:
                pos.append(text or "")
        w, b = fit_quality_model(pos, neg)
        return quantize_weights(w), float(b)

    return _memo(path, ("qm", QM_FIT_PER_CLASS), fit)


def _qm_planted_docs(spark, sf_dir):
    junk = F.concat(
        F.expr(f"repeat('{QM_JUNK_BASE}', cast(3 + doc_id % 7 as int))"),
        F.element_at(F.array(*[F.lit(wd) for wd in QM_JUNK_VOCAB]),
                     (F.col("doc_id") % len(QM_JUNK_VOCAB) + 1).cast("int")),
    )
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.when(F.col("doc_id") % QM_JUNK_MOD == 3, junk)
        .otherwise(F.col("text")).alias("text"),
    )


def q_ta_quality_model(spark, sf_dir):
    """Model-based quality filter: hashed-bag-of-ngrams linear
    classifier (fastText/CCNet shape), weights FITTED on this sf_dir's
    planted corpus and shipped as one quantized-int literal array;
    scoring is a map-only column plan (no shuffle, no UDF)."""
    from document_retrieval_system_spark.operators.quality_model import (
        score_quality_model,
    )

    w_int, bias = _qm_fitted(sf_dir)
    return score_quality_model(_qm_planted_docs(spark, sf_dir), w_int, bias)


def _sql_ta_quality_model() -> str:
    from document_retrieval_system_spark.operators.quality_model import score_sql

    w_int, bias = _qm_fitted(_oracle_sf_dir())
    vocab = ",".join(f"'{wd}'" for wd in QM_JUNK_VOCAB)
    plant = f"""qm_docs AS (
  SELECT doc_id,
         CASE WHEN doc_id % {QM_JUNK_MOD} = 3 THEN
           repeat('{QM_JUNK_BASE}', (3 + doc_id % 7)::INT)
           || ([{vocab}])[(doc_id % {len(QM_JUNK_VOCAB)} + 1)::INT]
         ELSE text END AS text
  FROM documents
)"""
    return "WITH " + plant + score_sql(w_int, bias, docs_cte="qm_docs")


# ---------------------------------------------------------------------------
# Spark-only entries (no SQL-expressible oracle -> driver rows-only check)
# ---------------------------------------------------------------------------

def _ensure_merged_index(spark, sf_dir: str):
    """Build (once per documents.parquet content) TWO overlapping
    half-corpus indexes and their segment merge — the fixture for the
    ``i9_index_merge`` entry.  The halves overlap on doc_id % 7 == 0, so
    the merge also exercises the newest-segment-wins supersede path."""
    import shutil

    from document_retrieval_system_spark.operators.index_build import (
        IndexReader,
        build_index,
    )
    from document_retrieval_system_spark.operators.merge import merge_indexes

    def build(tmp):
        pages = _docs_as_pages(_docs(spark, sf_dir)).withColumn(
            "_id", _page_doc_id())
        overlap = F.col("_id") % 7 == 0
        segs = [os.path.join(tmp, f"seg{i}") for i in (0, 1)]
        for i, half in enumerate(
            [pages.filter((F.col("_id") % 2 == 0) | overlap),
             pages.filter((F.col("_id") % 2 == 1) | overlap)]
        ):
            build_index(spark, half.drop("_id"), segs[i],
                        n_shards=4, analyzer=simple_process_text)
        merge_indexes(spark, segs, os.path.join(tmp, "merged"), n_shards=8)
        # the merged index is self-contained (stats re-finalized); the
        # segments would triple the cache footprint for nothing
        for seg in segs:
            shutil.rmtree(seg, ignore_errors=True)

    idx = _cached_dir("mergedidx", sf_dir, "documents.parquet", (), build)
    return IndexReader(spark, os.path.join(idx, "merged"))


def q_i10_index_fsck(spark, sf_dir):
    """Index integrity audit (operators/fsck.py): re-derive every
    structural invariant of the entry index — orphan postings, ordinal
    density, doc_id uniqueness, block metadata vs decoded payloads,
    df_local, replicated doc_len, stats sidecars — and report one
    summary row (violations by check, 0 everywhere on a healthy
    index).  Rows-only: the audit's subject is the binary index layout
    itself, which SQL cannot see; per-corruption-class detection is
    pytest-pinned in tests/test_fsck.py."""
    from document_retrieval_system_spark.operators.fsck import fsck_index

    reader = _ensure_entry_index(spark, sf_dir)
    v = fsck_index(spark, reader.paths.root)
    return v.agg(
        F.count("*").cast("long").alias("n_violations"),
        F.countDistinct("check").cast("long").alias("n_failing_checks"),
    )


def q_i9_index_merge(spark, sf_dir):
    """Segment merge (operators/merge.py — the Lucene-merge analog of
    the reference's batch reindex, indexer.py:423ff): two overlapping
    half-corpus indexes merged into one, then WAND-searched.  The oracle
    never sees a merge — it runs plain BM25 over the union corpus — so a
    hash match proves supersede + ordinal remap + re-blocking end-to-end."""
    return _bm25_all(_ensure_merged_index(spark, sf_dir), BM25_TERMS).select(
        "doc_id", F.round("score", 6).alias("score"))


def _ensure_ann_index(spark, sf_dir: str) -> str:
    """Persist (once per embeddings.parquet content) the LSH-bucketed ANN
    index: parquet partitioned by the signature's 6-bit prefix."""
    return _cached_dir(
        "ann", sf_dir, "embeddings.parquet",
        ("lsh", ANN_SIG_BITS, ANN_BUCKET_BITS, ANN_SEED),
        lambda tmp: similarity.build_lsh_index(
            _emb(spark, sf_dir), tmp, sig_bits=ANN_SIG_BITS,
            bucket_bits=ANN_BUCKET_BITS, seed=ANN_SEED, dim=EMB_DIM))


def q_r3_bm25_wand(spark, sf_dir):
    """R3 pruned path: block-max WAND over a real compressed index built
    from the documents table — must hash-match the DuckDB BM25 SQL.
    k is larger than the corpus (`_bm25_all`): no top-k boundary, so
    md5-vs-bigint tiebreak order cannot change the result set."""
    return _bm25_all(_ensure_entry_index(spark, sf_dir), BM25_TERMS).select(
        "doc_id", F.round("score", 6).alias("score"),
    ).orderBy(F.desc("score"), F.asc("doc_id"))


BATCH_QUERY_TERMS = [
    ["data", "join", "filter", "scan"],
    ["table", "sort"],
    ["spark", "hash", "merge", "value"],
]


def q_r3_bm25_batch(spark, sf_dir):
    """Batched multi-query WAND over the real compressed index: three
    queries share one stats lookup, one pushdown block scan, and one
    per-shard kernel job — per-qid results bit-match the single-query
    engine (pytest) and the DuckDB BM25 SQL (this hash)."""
    from document_retrieval_system_spark.operators.wand import (
        bm25_wand_search_many,
    )

    reader = _ensure_entry_index(spark, sf_dir)
    res = bm25_wand_search_many(
        reader, [" ".join(t) for t in BATCH_QUERY_TERMS], "en", 10**6, 0.0,
        analyzer=simple_process_text,
    )
    return res.select(
        "qid",
        _page_doc_id().alias("doc_id"),
        F.round("score", 6).alias("score"),
    ).orderBy("qid", F.desc("score"), F.asc("doc_id"))


SQL_R3_BATCH = "WITH " + SQL_TFS + f""",
stats AS (SELECT term, count(*) AS df FROM tfs GROUP BY term),
corpus AS (
  SELECT count(*) AS n, avg(len(toks)) AS avgdl
  FROM toks WHERE len(toks) > 0
),
q AS (
  {" UNION ALL ".join(f"SELECT {qid} AS qid, unnest({terms!r}) AS term"
                      for qid, terms in enumerate(BATCH_QUERY_TERMS))}
)
SELECT q.qid, tfs.doc_id,
       round(sum( ln((corpus.n - stats.df + 0.5) / (stats.df + 0.5) + 1)
             * tfs.tf / (tfs.tf + {K1} * (1 - {B} + {B} * tfs.dl / corpus.avgdl)) ), 6)
         AS score
FROM tfs JOIN q USING (term) JOIN stats USING (term) CROSS JOIN corpus
GROUP BY q.qid, tfs.doc_id"""


E2E_QUERY = "data join filter scan"
E2E_NOW = 1719792000.0  # 2024-07-01 00:00:00 UTC, pinned for determinism
E2E_RULES = {
    "exclusion_words": [],
    "boost_words": [
        {"words": ["data"], "weight": 1.5},
        {"words": ["scan"], "weight": 2.0},
    ],
    "time_boost": {"enabled": True, "decay_rate": 0.1, "max_age_months": 24},
    "domain_rules": {
        "technical": {"boost_words": ["join", "filter"], "weight": 1.3},
    },
    "document_type_weights": {"src0": 0.8, "src1": 1.1},
}


def q_e2e_search_pipeline(spark, sf_dir):
    """The reference's full search lifecycle (retrieval_core.search, §3.1)
    as ONE hash-checked pipeline: query -> block-max WAND over the real
    compressed index -> U2 boost words -> U3 domain -> U4 doc-type
    (source column) -> U5 time decay (deterministic pseudo-timestamp
    derived from doc_id) -> U6 re-sort -> U7 content length -> U8 keyword
    density -> top-20.  Every stage is the genuine engine operator, not a
    re-expression."""
    from document_retrieval_system_spark.operators.rules import (
        apply_result_rules,
        rule_content_length,
        rule_keyword_density,
    )

    res = _bm25_all(_ensure_entry_index(spark, sf_dir), E2E_QUERY.split())
    # raw scan: the rules run only on the WAND match set after the join,
    # so the spread exchange would move all text for nothing
    docs = _docs_raw(spark, sf_dir).select("doc_id", "text", "source")
    res = res.join(docs, "doc_id").withColumn(
        "warc_ts",
        F.timestamp_seconds(
            F.lit(E2E_NOW) - ((F.col("doc_id") % 365) + 1) * F.lit(86400.0)
        ),
    )
    res = apply_result_rules(
        res, E2E_QUERY, E2E_RULES, doc_type_col="source", now_epoch=E2E_NOW
    )
    res = rule_content_length(res, min_length=100)
    res = rule_keyword_density(res, E2E_QUERY)
    return (
        res.select("doc_id", F.round("score", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(20)
    )


SQL_E2E = "WITH " + SQL_BM25_BASE + r""",
joined AS (
  SELECT b.doc_id, b.score, lower(coalesce(d.text,'')) AS c,
         coalesce(d.text,'') AS rawtext, d.source
  FROM bm25 b JOIN documents d ON b.doc_id = d.doc_id
),
rescored AS (
  SELECT doc_id,
    score
    * (CASE WHEN contains(c, 'data') THEN 1.5 ELSE 1.0 END)
    * (CASE WHEN contains(c, 'scan') THEN 2.0 ELSE 1.0 END)
    * (CASE WHEN contains(c, 'join') OR contains(c, 'filter') THEN 1.3 ELSE 1.0 END)
    * (CASE WHEN source = 'src1' THEN 1.1 WHEN source = 'src0' THEN 0.8 ELSE 1.0 END)
    * (CASE WHEN ((doc_id % 365) + 1) * 86400 / (30.0*24*3600) > 24 THEN 1.0
            ELSE exp(-0.1 * (((doc_id % 365) + 1) * 86400 / (30.0*24*3600))) END)
    * (CASE WHEN length(rawtext) < 100 THEN 0.8 ELSE 1.0 END) AS s1,
    c
  FROM joined
),
dens AS (
  SELECT doc_id, s1,
    (cast((length(c) - length(replace(c,'data','')))/4 AS BIGINT)
     + cast((length(c) - length(replace(c,'join','')))/4 AS BIGINT)
     + cast((length(c) - length(replace(c,'filter','')))/6 AS BIGINT)
     + cast((length(c) - length(replace(c,'scan','')))/4 AS BIGINT)) AS cnt,
    len(string_split_regex(trim(c), '\s+')) AS words
  FROM rescored
)
SELECT doc_id,
  round(CASE WHEN words > 0 AND cnt * 1.0 / words < 0.005 THEN s1 * 0.9
             WHEN words > 0 AND cnt * 1.0 / words > 0.05 THEN s1 * 1.2
             ELSE s1 END, 6) AS score
FROM dens
ORDER BY score DESC, doc_id LIMIT 20"""


def q_e2e_with_highlights(spark, sf_dir):
    """Lifecycle incl. T8: the hash-checked pipeline above, then the
    reference highlight algorithm over the top-10 (rows-only: snippet
    text is not SQL-expressible)."""
    from document_retrieval_system_spark.operators.highlight import with_highlights

    base = q_e2e_search_pipeline(spark, sf_dir).limit(10)
    top = base.join(_docs(spark, sf_dir).select("doc_id", "text"), "doc_id")
    hl = with_highlights(top, E2E_QUERY, "en", "text")
    return hl.select(
        "doc_id", "score", F.size("highlights").alias("n_highlights")
    ).orderBy(F.desc("score"), F.asc("doc_id"))


def q_b5_boolean_rpn(spark, sf_dir):
    """B3-B5: full boolean language '(data OR scan) AND join NOT filter'
    evaluated by the RPN stack machine over the compressed index."""
    from document_retrieval_system_spark.operators.boolean_rpn import (
        boolean_rpn_search,
    )

    reader = _ensure_entry_index(spark, sf_dir)
    hits = boolean_rpn_search(reader, "(data OR scan) AND join NOT filter")
    docs = reader.docs().select("shard", "local_no", "url")
    return (
        hits.join(docs, ["shard", "local_no"])
        .select(_page_doc_id().alias("doc_id"))
        .orderBy("doc_id")
    )


SQL_B5_RPN = "WITH " + SQL_TFS + """,
s_data AS (SELECT doc_id FROM tfs WHERE term = 'data'),
s_scan AS (SELECT doc_id FROM tfs WHERE term = 'scan'),
s_join AS (SELECT doc_id FROM tfs WHERE term = 'join'),
s_filter AS (SELECT doc_id FROM tfs WHERE term = 'filter')
SELECT doc_id FROM (
  SELECT doc_id FROM (
    SELECT doc_id FROM s_data UNION SELECT doc_id FROM s_scan
  ) INTERSECT SELECT doc_id FROM s_join
  EXCEPT SELECT doc_id FROM s_filter
) ORDER BY doc_id"""


def q_ann_lsh_topk(spark, sf_dir):
    """ANN scale path: persisted LSH-bucketed index — the query scans
    only the multi-probe partitions (partition pruning), refines by
    stored-signature string Hamming, then exact-cosine-reranks the
    survivors.  No signature is computed at query time."""
    emb = _emb_raw(spark, sf_dir)
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    idx = _ensure_ann_index(spark, sf_dir)
    return similarity.lsh_index_topk(
        spark, idx, [float(x) for x in qvec], k=10,
        sig_bits=ANN_SIG_BITS, bucket_bits=ANN_BUCKET_BITS,
        hamming_probe=ANN_PROBE, seed=ANN_SEED,
        pre_filter=F.col("vec_id") > 0,
    ).select("vec_id", "cosine")


def q_t8_highlights(spark, sf_dir):
    """T8 snippets over the BM25 top-k (reference highlight algorithm)."""
    from document_retrieval_system_spark.operators.highlight import make_highlights

    top = (
        _bm25_all(_ensure_entry_index(spark, sf_dir), BM25_TERMS)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
        .join(_docs_raw(spark, sf_dir).select("doc_id", "text"), "doc_id")
    )
    import pandas as pd
    from pyspark.sql.types import ArrayType, StringType

    @F.pandas_udf(ArrayType(StringType()))
    def hl(text):
        return pd.Series([make_highlights(t or "", BM25_TERMS) for t in text])

    return top.select(
        "doc_id", F.round("score", 6).alias("score"),
        F.size(hl(F.col("text"))).alias("n_highlights"),
    ).orderBy(F.desc("score"), F.asc("doc_id"))


def q_mm_features(spark, sf_dir):
    """Multimodal plumbing: binary payload -> feature vector (stub decode)."""
    from document_retrieval_system_spark.sources.multimodal import (
        extract_features,
        synthetic_media_df,
    )

    media = synthetic_media_df(spark, 64)
    feats = extract_features(media)
    return feats.select(
        "media_id", "kind", "n_bytes",
        F.round(F.aggregate("feature", F.lit(0.0), lambda a, x: a + x), 4).alias("feature_sum"),
    )


def q_mm_frames(spark, sf_dir):
    """Multimodal frame sampling: video rows fan out to one row per
    sampled timestamp (decode stubbed; the explode-shaped Arrow flow is
    the real contract)."""
    from document_retrieval_system_spark.sources.multimodal import (
        sample_frames,
        synthetic_media_df,
    )

    media = synthetic_media_df(spark, 64)
    frames = sample_frames(media, every_ms=1000)
    return frames.select(
        "media_id", "frame_no", "ts_ms", F.md5("frame").alias("frame_md5")
    ).orderBy("media_id", "frame_no")


def q_s8_assets(spark, sf_dir):
    """S8 (html_parser.py:157-201 / docx_parser.py:103-147 /
    pdf_parser.py:77-120 / xlsx_parser.py:109-148): image/chart asset
    extraction over a deterministic fixture directory of all four
    formats (rows-only: byte payloads and OOXML part walking are not
    SQL-expressible; per-format semantics are pytest goldens)."""
    from document_retrieval_system_spark.sources.asset_extract import (
        assets_from_dir,
    )
    from document_retrieval_system_spark.sources.office_extract import (
        make_simple_docx,
        make_simple_xlsx,
    )
    from document_retrieval_system_spark.sources.pdf_extract import make_simple_pdf

    # deterministic fixture, built once per cache version (a mkdtemp per
    # invocation litters the shared temp dir across bench/driver runs)
    def build(tmp):
        os.makedirs(tmp, exist_ok=True)
        html = "".join(
            f'<p>x</p><img src="https://cdn.example.com/{i}.png" alt="img {i}">'
            for i in range(5)
        )
        with open(os.path.join(tmp, "a.html"), "w", encoding="utf-8") as f:
            f.write(f"<html><body>{html}</body></html>")
        with open(os.path.join(tmp, "b.docx"), "wb") as f:
            f.write(make_simple_docx(["doc"], images=[b"IMGA" * 8, b"IMGB" * 4]))
        with open(os.path.join(tmp, "c.pdf"), "wb") as f:
            f.write(make_simple_pdf([["page"]], images=[bytes(range(32))]))
        with open(os.path.join(tmp, "e.xlsx"), "wb") as f:
            f.write(make_simple_xlsx(
                {"S1": [["v", 1]]},
                charts={"S1": [("barChart", "B"), ("pieChart", "P")]},
            ))

    d = _cached_dir("s8", "", "", (), build)
    return (
        assets_from_dir(spark, d)
        .select(
            F.element_at(F.split("url", "/"), -1).alias("file"),
            "kind", "asset_no", "name", "alt", "title", "ext", "n_bytes",
            F.md5(F.coalesce(F.col("payload"), F.lit(b""))).alias("payload_md5"),
        )
        .orderBy("file", "kind", "asset_no")
    )


def q_s4_extract_pages(spark, sf_dir):
    """S4 byte-identity extractor over 200 synthetic pages (rows-only in
    the driver; byte-identity itself is pytest-asserted vs the oracle)."""
    from document_retrieval_system_spark.sources.corpus import pages_df
    from document_retrieval_system_spark.sources.html_extract import with_extracted_text

    pages = with_extracted_text(pages_df(spark, 200))
    return pages.select(
        "url", "lang", F.length("text").alias("text_len"),
        F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("text_md5"),
    )


# the synthetic corpus text is single-line, so the line-level repetition
# signals need planted line structure (same expression both engines):
# every 5th doc gets its own 40-char prefix repeated twice plus a shared
# copyright footer; every 5th+1 doc gets the footer alone.  The gram
# signals (top2/dup3) run on the raw token stream, which repeats
# naturally — no planting there.
_REP_FOOTER = "Copyright 2024 Example Corp All rights reserved"


def _repetition_planted_docs(spark, sf_dir):
    d = _docs(spark, sf_dir)
    t = F.coalesce(F.col("text"), F.lit(""))
    prefix = F.substring(t, 1, 40)
    with_dups = F.concat(t, F.lit("\n"), prefix, F.lit("\n"), prefix,
                         F.lit("\n" + _REP_FOOTER))
    with_footer = F.concat(t, F.lit("\n" + _REP_FOOTER))
    return d.withColumn(
        "text",
        F.when(F.col("doc_id") % 5 == 0, with_dups)
        .when(F.col("doc_id") % 5 == 1, with_footer)
        .otherwise(t),
    )


def q_ta_repetition(spark, sf_dir):
    """Gopher-style repetition signals (dup-line fraction and char mass,
    heaviest-2-gram char fraction, duplicated-3-gram char fraction) —
    the repetition leg of the reference-era quality filters, upgraded to
    the Rae et al. 2021 signal set a webtext pipeline actually uses."""
    return textstats.repetition_signals(_repetition_planted_docs(spark, sf_dir))


_SQL_REP_PLANT = f"""
planted AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN
                coalesce(text,'') || chr(10) || substr(coalesce(text,''), 1, 40)
                || chr(10) || substr(coalesce(text,''), 1, 40)
                || chr(10) || '{_REP_FOOTER}'
              WHEN doc_id % 5 = 1 THEN
                coalesce(text,'') || chr(10) || '{_REP_FOOTER}'
              ELSE coalesce(text,'') END AS text
  FROM documents
)"""

SQL_TA_REPETITION = "WITH " + _SQL_REP_PLANT + r""",
toks AS (
  SELECT doc_id, text,
         list_filter(string_split(regexp_replace(lower(text), '[^a-z]', ' ', 'g'), ' '),
                     t -> length(t) >= 2) AS toks
  FROM planted
),
lines AS (
  SELECT doc_id, length(text) AS tlen,
         list_filter(string_split(text, chr(10)), x -> length(x) > 0) AS ls
  FROM planted
),
lstat AS (
  SELECT doc_id, tlen, len(ls) AS n_lines,
         len(list_distinct(ls)) AS ndl,
         coalesce(list_sum(list_transform(ls, x -> length(x)))::BIGINT, 0) AS lchars,
         coalesce(list_sum(list_transform(list_distinct(ls), x -> length(x)))::BIGINT, 0) AS dchars
  FROM lines
),
c2 AS (
  SELECT doc_id, g, count(*) AS c FROM (
    SELECT doc_id, unnest(CASE WHEN len(toks) >= 2
      THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
      ELSE [] END) AS g
    FROM toks) GROUP BY doc_id, g
),
t2 AS (SELECT doc_id, max(c * length(g))::BIGINT AS m2 FROM c2 GROUP BY doc_id),
c3 AS (
  SELECT doc_id, g, count(*) AS c FROM (
    SELECT doc_id, unnest(CASE WHEN len(toks) >= 3
      THEN list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      ELSE [] END) AS g
    FROM toks) GROUP BY doc_id, g
),
t3 AS (
  SELECT doc_id,
         sum(CASE WHEN c >= 2 THEN c * length(g) ELSE 0 END)::BIGINT AS dm3,
         sum(c * length(g))::BIGINT AS tm3
  FROM c3 GROUP BY doc_id
)
SELECT s.doc_id, s.n_lines,
       round(CASE WHEN s.n_lines > 0 THEN (s.n_lines - s.ndl) * 1.0 / s.n_lines ELSE 0.0 END, 4) AS dup_line_frac,
       round(CASE WHEN s.lchars > 0 THEN (s.lchars - s.dchars) * 1.0 / s.lchars ELSE 0.0 END, 4) AS dup_line_char_frac,
       round(CASE WHEN s.tlen > 0 THEN coalesce(t2.m2, 0) * 1.0 / s.tlen ELSE 0.0 END, 4) AS top2_char_frac,
       round(CASE WHEN coalesce(t3.tm3, 0) > 0 THEN coalesce(t3.dm3, 0) * 1.0 / t3.tm3 ELSE 0.0 END, 4) AS dup3_char_frac
FROM lstat s LEFT JOIN t2 ON s.doc_id = t2.doc_id LEFT JOIN t3 ON s.doc_id = t3.doc_id"""


# --- C4/Gopher heuristic filters -------------------------------------------
# The raw synthetic corpus is one-line token soup (no newlines, no
# terminal punctuation), so every line-level rule is exercised through
# deterministic plants keyed on doc_id % 7; identical string ops on both
# engines (concat / substr only).

_C4_GOOD_LINES = [
    "The opening sentence of this page is a clean and useful one.",
    "It continues with a second sentence that is made of simple words.",
    "The third sentence closes out the introduction in a tidy way.",
]
_C4_JS_LINE = "Please enable javascript to view the comments on this page."
_C4_BRACE_LINE = "function f() { return 1; }"
_C4_LOREM_LINE = "Lorem ipsum dolor sit amet, consectetur adipiscing elit sed."
_C4_BULLET_LINES = ["- bullet item number %d" % i for i in range(1, 11)]
_C4_ELLIPSIS_LINES = [
    "The teaser text trails off here...",
    "Another teaser line keeps trailing...",
    "Still more suspense continues...",
]


def _c4_planted_docs(spark, sf_dir):
    d = _docs(spark, sf_dir)
    t = F.coalesce(F.col("text"), F.lit(""))
    nl = "\n"
    planted = (
        F.when(F.col("doc_id") % 7 == 0,
               F.concat(F.lit(nl.join(_C4_GOOD_LINES) + nl), t))
        .when(F.col("doc_id") % 7 == 1,
              F.concat(t, F.lit(nl + _C4_JS_LINE + nl + _C4_BRACE_LINE)))
        .when(F.col("doc_id") % 7 == 2,
              F.concat(F.lit(_C4_LOREM_LINE + nl), t))
        .when(F.col("doc_id") % 7 == 3,
              F.concat(t, F.lit(nl + nl.join(_C4_BULLET_LINES))))
        .when(F.col("doc_id") % 7 == 4,
              F.concat(t, F.lit(nl + nl.join(_C4_ELLIPSIS_LINES))))
        .when(F.col("doc_id") % 7 == 5, F.substring(t, 1, 29))
        .otherwise(t)
    )
    return d.withColumn("text", planted)


def q_ta_c4_filters(spark, sf_dir):
    """C4 line-keep rules + Gopher document rules (Raffel et al. 2020;
    Rae et al. 2021) over planted page variants — the heuristic
    keep/drop layer a webtext pipeline runs before dedup."""
    return textstats.c4_gopher_filters(_c4_planted_docs(spark, sf_dir))


def _sqlq(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _sql_lines(lines: list[str]) -> str:
    return " || chr(10) || ".join(_sqlq(x) for x in lines)


_SQL_C4_PLANT = f"""
planted AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN
                {_sql_lines(_C4_GOOD_LINES)} || chr(10) || coalesce(text,'')
              WHEN doc_id % 7 = 1 THEN
                coalesce(text,'') || chr(10) || {_sqlq(_C4_JS_LINE)}
                || chr(10) || {_sqlq(_C4_BRACE_LINE)}
              WHEN doc_id % 7 = 2 THEN
                {_sqlq(_C4_LOREM_LINE)} || chr(10) || coalesce(text,'')
              WHEN doc_id % 7 = 3 THEN
                coalesce(text,'') || chr(10) || {_sql_lines(_C4_BULLET_LINES)}
              WHEN doc_id % 7 = 4 THEN
                coalesce(text,'') || chr(10) || {_sql_lines(_C4_ELLIPSIS_LINES)}
              WHEN doc_id % 7 = 5 THEN substr(coalesce(text,''), 1, 29)
              ELSE coalesce(text,'') END AS text
  FROM documents
)"""

_SQL_EN_MARKER_LIST = "[" + ", ".join(_sqlq(m) for m in
                                      textstats.EN_MARKERS) + "]"

_SQL_C4_CTES = _SQL_C4_PLANT + r""",
norm AS (
  SELECT doc_id, regexp_replace(text, '\r\n?', chr(10), 'g') AS text
  FROM planted
),
arrs AS (
  SELECT doc_id,
         lower(text) AS lt, text,
         list_filter(string_split(text, chr(10)), x -> length(x) > 0) AS ls,
         list_filter(regexp_split_to_array(text, '\s+'),
                     w -> length(w) > 0) AS ws,
         list_filter(string_split(regexp_replace(lower(text), '[^a-z]', ' ', 'g'), ' '),
                     t -> length(t) >= 2) AS toks
  FROM norm
),
kl AS (
  SELECT doc_id, lt, text, ls, ws, toks,
         list_filter(ls, x ->
           right(rtrim(x), 1) IN ('.', '!', '?', '"')
           AND len(list_filter(regexp_split_to_array(x, '\s+'),
                               w -> length(w) > 0)) >= 5
           AND NOT contains(lower(x), 'javascript')) AS kept
  FROM arrs
),
m AS (
  SELECT doc_id,
         len(ls)::BIGINT AS n_lines,
         len(kept)::BIGINT AS n_kept_lines,
         coalesce(list_sum(list_transform(ls, x -> length(x)))::BIGINT, 0) AS lchars,
         coalesce(list_sum(list_transform(kept, x -> length(x)))::BIGINT, 0) AS kchars,
         coalesce(list_sum(list_transform(kept,
           x -> len(regexp_extract_all(x, '[.!?]'))))::BIGINT, 0) AS n_sentences,
         contains(lt, 'lorem ipsum') AS has_lorem,
         contains(text, '{') AS has_brace,
         len(list_filter(ls, x -> starts_with(ltrim(x), '- ')
             OR starts_with(ltrim(x), '* ')
             OR starts_with(ltrim(x), '• ')))::BIGINT AS nbullet,
         len(list_filter(ls, x -> ends_with(rtrim(x), '...')
             OR ends_with(rtrim(x), '…')))::BIGINT AS nellip,
         len(ws)::BIGINT AS n_words,
         coalesce(list_sum(list_transform(ws, w -> length(w)))::BIGINT, 0) AS wchars,
         len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]')))::BIGINT AS nalpha,
         len(list_intersect(list_distinct(toks), """ + _SQL_EN_MARKER_LIST + r"""))::BIGINT AS stop_distinct
  FROM kl
),
r AS (
  SELECT doc_id, n_lines, n_kept_lines,
         round(CASE WHEN lchars > 0 THEN kchars * 1.0 / lchars ELSE 0.0 END, 4) AS kept_char_frac,
         n_sentences, has_lorem, has_brace,
         round(CASE WHEN n_lines > 0 THEN nbullet * 1.0 / n_lines ELSE 0.0 END, 4) AS bullet_line_frac,
         round(CASE WHEN n_lines > 0 THEN nellip * 1.0 / n_lines ELSE 0.0 END, 4) AS ellipsis_line_frac,
         n_words,
         round(CASE WHEN n_words > 0 THEN wchars * 1.0 / n_words ELSE 0.0 END, 4) AS mean_word_len,
         round(CASE WHEN n_words > 0 THEN nalpha * 1.0 / n_words ELSE 0.0 END, 4) AS alpha_word_frac,
         stop_distinct
  FROM m
)"""

_SQL_C4_FINAL = r"""
SELECT doc_id, n_lines, n_kept_lines, kept_char_frac, n_sentences,
       has_lorem, has_brace, bullet_line_frac, ellipsis_line_frac,
       n_words, mean_word_len, alpha_word_frac, stop_distinct,
       (NOT has_lorem AND NOT has_brace AND n_sentences >= 3) AS c4_keep,
       (n_words >= 50 AND n_words <= 100000
        AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        AND alpha_word_frac > 0.8
        AND ellipsis_line_frac <= 0.3
        AND bullet_line_frac <= 0.9
        AND stop_distinct >= 2) AS gopher_keep
FROM r"""

SQL_TA_C4_FILTERS = "WITH " + _SQL_C4_CTES + _SQL_C4_FINAL


def q_ta_bpe_tokens(spark, sf_dir):
    """Exact BPE token counts per document (Sennrich '16): merges fitted
    deterministically on the md5-ranked sample of THIS corpus (memoized
    per source), encoding via the Arrow-batched greedy-merge UDF with a
    per-executor word cache.  rows-only: a greedy iterative tokenizer is
    not SQL-expressible; the pure-Python twin is pytest-pinned
    (`tests/test_bpe.py` proves Spark counts == reference encoder)."""
    from document_retrieval_system_spark.functions.bpe import (
        bpe_token_counts,
        train_bpe,
    )

    path = os.path.join(sf_dir, "documents.parquet")
    merges = _memo(path, ("bpe", 200, 256), lambda: train_bpe(
        similarity.md5_ranked_table(path, "doc_id", ["text"], "", 256)
        .column("text").to_pylist(), n_merges=200))
    return bpe_token_counts(_docs(spark, sf_dir), merges)


def q_e2e_curation(spark, sf_dir):
    """The composed curation funnel as ONE lazy plan — the "which pages
    enter the training corpus" query: C4/Gopher filter signals over the
    planted page variants, exact dedup (64-char content-prefix key,
    min-id canonical) over the C4 survivors, and a per-doc verdict with
    attribution (``dup_of`` names the canonical that shadowed a
    duplicate).  Every stage is the already-verified operator composed
    into one lazy plan; the canonical-pick is a self-aggregation, so
    the corpus subtree evaluates twice — at 100 TB the filter-signal
    stage would be checkpointed before the dedup join."""
    docs = _c4_planted_docs(spark, sf_dir)
    sig = textstats.c4_gopher_filters(docs).select(
        "doc_id", "c4_keep", "gopher_keep")
    d = docs.select("doc_id", "lang", "text").join(sig, "doc_id").withColumn(
        "k",
        F.md5(F.substring(F.coalesce(F.col("text"), F.lit("")), 1,
                          DEDUP_PREFIX_LEN)),
    )
    canon = (
        d.filter("c4_keep").groupBy("k").agg(F.min("doc_id").alias("canon_id"))
    )
    return d.join(canon, "k", "left").select(
        "doc_id", "lang", "c4_keep", "gopher_keep",
        F.when(
            F.col("c4_keep") & (F.col("doc_id") != F.col("canon_id")),
            F.col("canon_id"),
        ).alias("dup_of"),
        (F.col("c4_keep") & (F.col("doc_id") == F.col("canon_id")))
        .alias("survives"),
    )


SQL_E2E_CURATION = (
    "WITH " + _SQL_C4_CTES + ",\nsig AS (" + _SQL_C4_FINAL + f"""),
d AS (
  SELECT s.doc_id, d0.lang, s.c4_keep, s.gopher_keep,
         md5(substr(coalesce(p.text,''), 1, {DEDUP_PREFIX_LEN})) AS k
  FROM sig s JOIN planted p ON s.doc_id = p.doc_id
  JOIN documents d0 ON s.doc_id = d0.doc_id
),
canon AS (SELECT k, min(doc_id) AS canon_id FROM d WHERE c4_keep GROUP BY k)
SELECT d.doc_id, d.lang, d.c4_keep, d.gopher_keep,
       CASE WHEN d.c4_keep AND d.doc_id <> c.canon_id
            THEN c.canon_id END AS dup_of,
       (d.c4_keep AND d.doc_id = c.canon_id) AS survives
FROM d LEFT JOIN canon c ON d.k = c.k"""
)


# paragraph dedup: plant shared boilerplate paragraphs (nav/footer text
# recurring across many docs) on every 9th doc, in 4 rotating variants
_PARA_BOILER = "shared boilerplate navigation menu home about contact page footer variant "


def _para_planted_docs(spark, sf_dir):
    d = _docs_raw(spark, sf_dir)
    t = F.coalesce(F.col("text"), F.lit(""))
    plant = F.concat(t, F.lit("\n" + _PARA_BOILER),
                     (F.col("doc_id") % 4).cast("string"))
    return d.withColumn(
        "text", F.when(F.col("doc_id") % 9 == 0, plant).otherwise(t)
    )


def q_dedup_paragraph(spark, sf_dir):
    """Paragraph-level exact dedup: identical >=20-char paragraphs
    appearing in >= 2 distinct documents, grouped by md5 with min-doc
    representative — the boilerplate-removal pass of a webtext
    pipeline (one explode + one hash groupBy; shuffle keys are 32-byte
    hashes regardless of paragraph length)."""
    return dedup.paragraph_duplicate_groups(_para_planted_docs(spark, sf_dir))


SQL_DEDUP_PARAGRAPH = f"""
WITH planted AS (
  SELECT doc_id,
         CASE WHEN doc_id % 9 = 0 THEN
           coalesce(text,'') || chr(10) || '{_PARA_BOILER}' || (doc_id % 4)::VARCHAR
         ELSE coalesce(text,'') END AS text
  FROM documents
),
paras AS (
  SELECT doc_id, trim(p) AS para FROM (
    SELECT doc_id, unnest(string_split(text, chr(10))) AS p FROM planted)
  WHERE length(trim(p)) >= 20
)
SELECT md5(para) AS para_hash,
       min(doc_id) AS keep_id,
       count(DISTINCT doc_id)::BIGINT AS n_docs,
       count(*)::BIGINT AS n_occur
FROM paras
GROUP BY md5(para)
HAVING count(DISTINCT doc_id) >= 2"""


# ---------------------------------------------------------------------------
# r5 session-3 operators: MLT / co-occurrence / completion / bigram LM /
# domain cap
# ---------------------------------------------------------------------------

MLT_DOC, MLT_M, MLT_K = 7, 8, 20
COOCCUR_M, COOCCUR_MIN, COOCCUR_K = 16, 3, 50
COMPLETION_PREFIX, COMPLETION_K = "s", 10
LM_FIT_N = 16
DOMAIN_CAP_N, DOMAIN_CAP_SALT = 20, "drs-domain"


PRF_K_DOCS, PRF_M_TERMS, PRF_BETA = 10, 8, 0.5


def q_search_prf(spark, sf_dir):
    """RM3 pseudo-relevance feedback (operators/prf.py): first-pass
    BM25 top-10 is the feedback set, its characteristic terms (tf/|d|
    weighted by the doc's rounded score) expand the query at
    beta-scaled weights, and the weighted expanded query re-scores the
    corpus.  Completes the feedback family: MLT = doc->query, fuzzy =
    spelling repair, PRF = vocabulary repair."""
    from document_retrieval_system_spark.operators.prf import (
        rm3_expansion_terms,
    )

    docs = _docs(spark, sf_dir)
    reader = _ensure_entry_index(spark, sf_dir)
    # the k-row feedback list is materialized once: it feeds both the
    # harvest semi-join and rm3's weight join, and each reference would
    # otherwise re-run the whole first-pass scoring
    feedback = (
        _bm25_all(reader, BM25_TERMS)
        .select("doc_id", F.round("score", 6).alias("w"))
        .orderBy(F.desc("w"), F.asc("doc_id"))
        .limit(PRF_K_DOCS)
    ).localCheckpoint(eager=True)
    # harvest only the feedback docs' postings (guide §2.3): the term
    # rows of k docs, not the corpus-wide tfs, enter the aggregation —
    # rm3's inner join on doc_id never read the other rows anyway
    tfs_fb = (
        _pos_df(docs)
        .join(F.broadcast(feedback.select("doc_id")), "doc_id", "left_semi")
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"), F.max("dl").alias("dl"))
    )
    terms = rm3_expansion_terms(
        tfs_fb, feedback, BM25_TERMS,
        m_terms=PRF_M_TERMS, beta=PRF_BETA,
    )
    qweights = {r["term"]: r["weight"] for r in terms.collect()}
    return (
        _bm25_weighted(reader, qweights)
        .select("doc_id", F.round("score", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(20)
    )


SQL_SEARCH_PRF = "WITH " + SQL_BM25_BASE + f""",
top AS (
  SELECT doc_id, round(score, 6) AS w FROM bm25
  ORDER BY w DESC, doc_id LIMIT {PRF_K_DOCS}
),
exp AS (
  SELECT term, round(sum(tfs.tf * top.w / tfs.dl), 6) AS ew
  FROM tfs JOIN top USING (doc_id)
  WHERE term NOT IN (SELECT term FROM q)
  GROUP BY term ORDER BY ew DESC, term LIMIT {PRF_M_TERMS}
),
qw AS (
  SELECT term, 1.0::DOUBLE AS weight FROM q
  UNION ALL
  SELECT term, round({PRF_BETA} * ew / (SELECT max(ew) FROM exp), 6) FROM exp
),
final AS (
  SELECT tfs.doc_id,
         sum( ln((corpus.n - stats.df + 0.5) / (stats.df + 0.5) + 1)
              * tfs.tf
              / (tfs.tf + {K1} * (1 - {B} + {B} * tfs.dl / corpus.avgdl))
              * qw.weight ) AS score
  FROM tfs JOIN qw USING (term) JOIN stats USING (term) CROSS JOIN corpus
  GROUP BY tfs.doc_id
)
SELECT doc_id, round(score, 6) AS score FROM final
ORDER BY score DESC, doc_id LIMIT 20"""


def q_mlt_search(spark, sf_dir):
    """More-like-this: document MLT_DOC's top-8 tf x idf terms become
    the BM25 query (operators/mlt.py); retrieval is the ordinary scorer
    with the source doc excluded.  Only the source doc is tokenized,
    driver-side; df and n come from one index stats lookup, and
    `mlt.doc_top_terms` ranks its terms (tf x idf desc, term asc)."""
    from collections import Counter

    import pyarrow.parquet as pq

    from document_retrieval_system_spark.operators.mlt import doc_top_terms
    from document_retrieval_system_spark.operators.search import bm25_weights

    reader = _ensure_entry_index(spark, sf_dir)
    src = pq.read_table(os.path.join(sf_dir, "documents.parquet"), columns=["text"],
                        filters=[("doc_id", "=", MLT_DOC)])
    tf = Counter(t for x in src.column("text").to_pylist() for t in simple_process_text(x))
    corpus, dfs = reader.query_stats(list(tf))
    idf = bm25_weights(corpus["total_docs"], dfs, list(tf))
    terms = doc_top_terms(tf, idf, MLT_M)
    return (
        _bm25_all(reader, terms)
        .filter(F.col("doc_id") != MLT_DOC)
        .select("doc_id", F.round("score", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(MLT_K)
    )


SQL_MLT = "WITH " + SQL_TFS + f""",
stats AS (SELECT term, count(*) AS df FROM tfs GROUP BY term),
corpus AS (
  SELECT count(*) AS n, avg(len(toks)) AS avgdl
  FROM toks WHERE len(toks) > 0
),
src AS (
  SELECT term FROM (
    SELECT tfs.term,
           row_number() OVER (
             ORDER BY tfs.tf * ln((corpus.n - stats.df + 0.5)
                                  / (stats.df + 0.5) + 1) DESC,
                      tfs.term
           ) AS rk
    FROM tfs JOIN stats USING (term) CROSS JOIN corpus
    WHERE tfs.doc_id = {MLT_DOC}
  ) WHERE rk <= {MLT_M}
),
bm25 AS (
  SELECT tfs.doc_id,
         sum( ln((corpus.n - stats.df + 0.5) / (stats.df + 0.5) + 1)
              * tfs.tf / (tfs.tf + {K1} * (1 - {B} + {B} * tfs.dl / corpus.avgdl)) ) AS score
  FROM tfs JOIN src USING (term) JOIN stats USING (term) CROSS JOIN corpus
  GROUP BY tfs.doc_id
)
SELECT doc_id, round(score, 6) AS score FROM bm25
WHERE doc_id != {MLT_DOC}
ORDER BY score DESC, doc_id LIMIT {MLT_K}"""


def q_ta_cooccur(spark, sf_dir):
    """Term-association mining: top-50 capped-document-PMI pairs
    (operators/cooccur.py) — per-doc top-16-term cap keeps pair volume
    linear in corpus size."""
    from document_retrieval_system_spark.operators.cooccur import (
        term_cooccurrence_pmi,
    )

    return term_cooccurrence_pmi(
        _tfs_df(_docs(spark, sf_dir)).select("doc_id", "term", "tf"),
        top_m=COOCCUR_M, min_pairs=COOCCUR_MIN, k=COOCCUR_K,
    )


SQL_TA_COOCCUR = "WITH " + SQL_TFS + f""",
capped AS (
  SELECT doc_id, term FROM (
    SELECT doc_id, term,
           row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, term) AS rk
    FROM tfs
  ) WHERE rk <= {COOCCUR_M}
),
nd AS (SELECT count(DISTINCT doc_id)::DOUBLE AS n_docs FROM capped),
marg AS (SELECT term, count(*) AS c FROM capped GROUP BY term),
prs AS (
  SELECT a.term AS term_a, b.term AS term_b, count(*)::BIGINT AS n_ab
  FROM capped a JOIN capped b
    ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= {COOCCUR_MIN}
)
SELECT term_a, term_b, n_ab,
       round(ln(n_ab * nd.n_docs / (ma.c * mb.c)), 6) AS pmi
FROM prs
JOIN marg ma ON ma.term = prs.term_a
JOIN marg mb ON mb.term = prs.term_b
CROSS JOIN nd
ORDER BY pmi DESC, term_a, term_b LIMIT {COOCCUR_K}"""


def q_b8_completions(spark, sf_dir):
    """Autocomplete over the REAL index's term-stats sidecar: top-10
    completions of the entry prefix by collection frequency
    (operators/search.prefix_completions) — index metadata only, no
    postings decode."""
    from document_retrieval_system_spark.operators.search import (
        prefix_completions,
    )

    reader = _ensure_entry_index(spark, sf_dir)
    return prefix_completions(reader, COMPLETION_PREFIX, COMPLETION_K)


SQL_B8_COMPLETIONS = "WITH " + SQL_TFS + f"""
SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS cf
FROM tfs WHERE term LIKE '{COMPLETION_PREFIX}%'
GROUP BY term
ORDER BY cf DESC, term LIMIT {COMPLETION_K}"""


def _lm_fitted(sf_dir: str):
    """DATA-FITTED bigram LM (operators/lm.py): counts from an
    md5-ranked LM_FIT_N-doc sample, memoized per source so the Spark
    builder and the call-time oracle SQL ship identical tables."""
    from document_retrieval_system_spark.operators.lm import fit_bigram_lm

    path = os.path.join(sf_dir, "documents.parquet")
    return _memo(path, ("lm", LM_FIT_N), lambda: fit_bigram_lm(
        [x or "" for x in similarity.md5_ranked_table(
            path, "doc_id", ["text"], "lm", LM_FIT_N).column("text").to_pylist()]))


def q_ta_lm_perplexity(spark, sf_dir):
    """CCNet-style LM quality leg: per-doc bigram NLL under a model
    fitted on a deterministic sample and shipped as two broadcast count
    tables — two broadcast joins + one per-doc agg, nothing else."""
    from document_retrieval_system_spark.operators.lm import score_bigram_lm

    uni, bi, v = _lm_fitted(sf_dir)
    out = score_bigram_lm(_docs(spark, sf_dir), uni, bi, v)
    return out.select("doc_id", "n_bigrams", F.round("nll", 6).alias("nll"))


def _sql_ta_lm_perplexity() -> str:
    from document_retrieval_system_spark.operators.lm import score_sql

    uni, bi, v = _lm_fitted(_oracle_sf_dir())
    inner = "WITH " + SQL_POS + score_sql(uni, bi, v)
    return (f"SELECT doc_id, n_bigrams, round(nll, 6) AS nll FROM ({inner})")


def q_corpus_domain_cap(spark, sf_dir):
    """Per-domain document cap (operators/curate.domain_cap_sample):
    at most 20 docs per source domain, md5-ranked — the anti-SEO-farm
    mixture guard; one window per domain partition."""
    from document_retrieval_system_spark.operators.curate import (
        domain_cap_sample,
    )

    return domain_cap_sample(
        _docs_raw(spark, sf_dir), DOMAIN_CAP_N, domain_col="source",
        salt=DOMAIN_CAP_SALT,
    )


SQL_CORPUS_DOMAIN_CAP = f"""
SELECT doc_id, domain, domain_rank FROM (
  SELECT doc_id, source AS domain,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5(doc_id::VARCHAR || '{DOMAIN_CAP_SALT}'), doc_id
         )::BIGINT AS domain_rank
  FROM documents
) WHERE domain_rank <= {DOMAIN_CAP_N}"""


PROX_W = 0.5


def q_r3_bm25_proximity(spark, sf_dir):
    """Proximity-boosted BM25 (operators/proximity.py): bare BM25 plus
    w/(1 + min distinct-query-term gap) — the sequential-dependence-
    style ranking leg; position work touches only the query terms'
    postings."""
    from document_retrieval_system_spark.operators.proximity import (
        min_pair_gap,
        proximity_boosted,
    )

    base = _bm25_all(_ensure_entry_index(spark, sf_dir), BM25_TERMS)
    gaps = min_pair_gap(_pos_df(_docs(spark, sf_dir)), BM25_TERMS)
    out = proximity_boosted(base, gaps, PROX_W)
    return (
        out.select("doc_id", F.round("score", 6).alias("score"), "min_gap")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(20)
    )


SQL_R3_PROXIMITY = "WITH " + SQL_BM25_BASE + f""",
qpos AS (SELECT doc_id, term, pos FROM pos JOIN q USING (term)),
gaps AS (
  SELECT a.doc_id, min(abs(a.pos - b.pos))::BIGINT AS min_gap
  FROM qpos a JOIN qpos b
    ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.doc_id
)
SELECT bm25.doc_id,
       round(bm25.score
             + CASE WHEN gaps.min_gap IS NOT NULL
                    THEN {PROX_W} / (1 + gaps.min_gap) ELSE 0 END,
             6) AS score,
       gaps.min_gap
FROM bm25 LEFT JOIN gaps USING (doc_id)
ORDER BY score DESC, doc_id LIMIT 20"""


def q_search_facets(spark, sf_dir):
    """Faceted result counts: the BM25 match set rolled up per
    (lang, source) facet — the result-page sidebar every search UI
    ships; one groupBy over the match set joined to doc metadata."""
    base = _bm25_all(_ensure_entry_index(spark, sf_dir), BM25_TERMS)
    meta = _docs_raw(spark, sf_dir).select("doc_id", "lang", "source")
    return (
        base.join(meta, "doc_id")
        .groupBy("lang", "source")
        .agg(F.count("*").cast("long").alias("n_docs"),
             F.round(F.avg("score"), 6).alias("avg_score"))
    )


SQL_SEARCH_FACETS = "WITH " + SQL_BM25_BASE + """
SELECT d.lang, d.source, count(*)::BIGINT AS n_docs,
       round(avg(bm25.score), 6) AS avg_score
FROM bm25 JOIN documents d USING (doc_id)
GROUP BY d.lang, d.source"""


# stored alerting queries for the percolation entry: conjunctions with
# negations over the corpus vocabulary — a mix of broad, selective
# (the rare term 'dup'), and negation-heavy forms
PERCOLATE_QUERIES = [
    {"query_id": 1, "terms": ["data", "join", "filter"]},
    {"query_id": 2, "terms": ["dup"]},
    {"query_id": 3, "terms": ["spark", "hash", "merge"], "neg_terms": ["slow"]},
    {"query_id": 4, "terms": ["window", "sort"], "neg_terms": ["batch", "small"]},
    {"query_id": 5, "terms": ["customer", "table", "query", "column"]},
    {"query_id": 6, "terms": ["vector", "fast"], "neg_terms": ["the"]},
    {"query_id": 7, "terms": ["key"], "neg_terms": ["scan", "agg"]},
    {"query_id": 8, "terms": ["stream", "group", "order"], "neg_terms": ["dup"]},
]


def q_percolate(spark, sf_dir):
    """Percolation / reverse search (operators/percolate.py): every
    document evaluated against 8 stored conjunctive-with-negation
    alerting queries in one relational pass — vocabulary-pruned scan,
    broadcast query store, distinct-hit-count verify, anti-join for
    negations.  The forward engine inverted: 'which standing alerts
    does this page trigger'."""
    from document_retrieval_system_spark.operators.percolate import (
        percolate,
        stored_queries_df,
    )

    docs = _docs(spark, sf_dir)
    doc_terms = _tok_df(docs).select(
        "doc_id", F.explode("toks").alias("term"))
    pos_df, neg_df = stored_queries_df(spark, PERCOLATE_QUERIES)
    return percolate(doc_terms, pos_df, neg_df)


def _sql_percolate() -> str:
    pos_vals, neg_vals = [], []
    for q in PERCOLATE_QUERIES:
        pos = sorted(set(q["terms"]))
        for t in pos:
            pos_vals.append(f"({q['query_id']}::BIGINT, '{t}', {len(pos)})")
        for t in sorted(set(q.get("neg_terms", []))):
            neg_vals.append(f"({q['query_id']}::BIGINT, '{t}')")
    return ("WITH " + SQL_TOKS + f""",
dt AS (
  SELECT DISTINCT doc_id, unnest(toks) AS term FROM toks
),
posq(query_id, term, n_terms) AS (VALUES {", ".join(pos_vals)}),
negq(query_id, term) AS (VALUES {", ".join(neg_vals)}),
cand AS (
  SELECT doc_id, query_id
  FROM dt JOIN posq USING (term)
  GROUP BY doc_id, query_id
  HAVING count(*) = max(n_terms)
)
SELECT query_id, doc_id FROM cand c
WHERE NOT EXISTS (
  SELECT 1 FROM dt JOIN negq USING (term)
  WHERE dt.doc_id = c.doc_id AND negq.query_id = c.query_id
)""")


DIVERSIFY_PER_GROUP, DIVERSIFY_K = 2, 10


def q_search_diversified(spark, sf_dir):
    """Source-diversified top-k (operators/fusion.py::diversify_topk):
    at most 2 results per source in the BM25 top-10 — the serving-side
    guard against one site monopolizing the page.  Binding at sf0.01:
    the undiversified top-10 carries 3 src13 hits; the third is
    displaced and src18 enters."""
    from document_retrieval_system_spark.operators.fusion import (
        diversify_topk,
    )

    scored = (
        _bm25_all(_ensure_entry_index(spark, sf_dir), BM25_TERMS)
        .select("doc_id", F.round("score", 6).alias("score"))
        .join(_docs_raw(spark, sf_dir).select("doc_id", "source"), "doc_id")
    )
    return diversify_topk(
        scored, "source", DIVERSIFY_PER_GROUP, DIVERSIFY_K
    ).select("doc_id", "source", "score", "grp_rank")


SQL_SEARCH_DIVERSIFIED = "WITH " + SQL_BM25_BASE + f""",
j AS (
  SELECT bm25.doc_id, d.source, round(bm25.score, 6) AS score
  FROM bm25 JOIN documents d USING (doc_id)
),
g AS (
  SELECT *, row_number() OVER (PARTITION BY source
                               ORDER BY score DESC, doc_id) AS grp_rank
  FROM j
)
SELECT doc_id, source, score, grp_rank FROM g
WHERE grp_rank <= {DIVERSIFY_PER_GROUP}
ORDER BY score DESC, doc_id LIMIT {DIVERSIFY_K}"""


RRF_K = 60
PAGE_CURSOR_RANK, PAGE_SIZE = 10, 10


def q_rrf_fusion(spark, sf_dir):
    """Hybrid-ranking fusion (operators/fusion.py): reciprocal-rank
    fusion of the BM25 and TF-IDF-cosine top-20 lists — rank-only
    combination, no score calibration; every join is over k-row
    lists."""
    from document_retrieval_system_spark.operators.fusion import (
        ranked,
        rrf_fuse,
    )

    ra = ranked(q_r3_bm25_topk(spark, sf_dir))
    rb = ranked(q_r1_tfidf_topk(spark, sf_dir))
    out = rrf_fuse([ra, rb], k_rrf=RRF_K)
    return out.select("doc_id", F.round("rrf_score", 6).alias("rrf_score"),
                      "n_lists")


SQL_RRF = f"""
WITH ra AS (
  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank
  FROM ({SQL_R3})
),
rb AS (
  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank
  FROM ({SQL_R1})
),
parts AS (
  SELECT doc_id, 1.0::DOUBLE / ({RRF_K} + rank) AS part FROM ra
  UNION ALL
  SELECT doc_id, 1.0::DOUBLE / ({RRF_K} + rank) AS part FROM rb
)
SELECT doc_id, round(sum(part), 6) AS rrf_score,
       count(*)::BIGINT AS n_lists
FROM parts GROUP BY doc_id"""


def q_search_page2(spark, sf_dir):
    """Keyset (search-after) pagination: the BM25 page after the
    rank-PAGE_CURSOR_RANK cursor — the predicate form whose score
    ceiling a WAND scan can use as its entry threshold, unlike OFFSET
    (operators/fusion.search_after)."""
    from document_retrieval_system_spark.operators.fusion import search_after

    base = _bm25_all(_ensure_entry_index(spark, sf_dir), BM25_TERMS).select(
        "doc_id", F.round("score", 6).alias("score")
    )
    # cursor = the rank-PAGE_CURSOR_RANK row = the LAST row of the
    # top-PAGE_CURSOR_RANK list in (score desc, doc_id asc) order.
    # TakeOrderedAndProject + a 10-row agg — NOT a global row_number
    # window, which would funnel the whole match set through one
    # partition just to pick one row.
    top = base.orderBy(F.desc("score"), F.asc("doc_id")).limit(PAGE_CURSOR_RANK)
    cursor = top.agg(
        F.min(F.struct(F.col("score"), (-F.col("doc_id")).alias("negid")))
        .alias("c")
    ).select(F.col("c.score").alias("c_score"),
             (-F.col("c.negid")).alias("c_id"))
    with_cur = base.crossJoin(F.broadcast(cursor))
    return search_after(
        with_cur, F.col("c_score"), F.col("c_id"), PAGE_SIZE
    ).select("doc_id", "score")


SQL_SEARCH_PAGE2 = "WITH " + SQL_BM25_BASE + f""",
scored AS (SELECT doc_id, round(score, 6) AS score FROM bm25),
cur AS (
  SELECT score AS c_score, doc_id AS c_id FROM (
    SELECT doc_id, score,
           row_number() OVER (ORDER BY score DESC, doc_id) AS rn
    FROM scored
  ) WHERE rn = {PAGE_CURSOR_RANK}
)
SELECT doc_id, score FROM scored CROSS JOIN cur
WHERE score < c_score OR (score = c_score AND doc_id > c_id)
ORDER BY score DESC, doc_id LIMIT {PAGE_SIZE}"""


def q_corpus_report(spark, sf_dir):
    """Corpus card: per-language doc counts, token totals, and mean
    heuristic quality — the summary table a curation run publishes
    with its output mixture."""
    from document_retrieval_system_spark.operators.textstats import (
        quality_score,
    )

    docs = _docs(spark, sf_dir)
    q = quality_score(docs)
    return (
        q.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(F.count("*").cast("long").alias("n_docs"),
             F.sum("n_tokens").cast("long").alias("total_tokens"),
             F.round(F.avg("quality"), 6).alias("avg_quality"))
    )


SQL_CORPUS_REPORT = f"""
SELECT d.lang, count(*)::BIGINT AS n_docs,
       sum(q.n_tokens)::BIGINT AS total_tokens,
       round(avg(q.quality), 6) AS avg_quality
FROM ({SQL_TA_QUALITY}) q JOIN documents d USING (doc_id)
GROUP BY d.lang"""


def q_curate_boilerplate(spark, sf_dir):
    """Host-conditioned boilerplate line removal (operators/
    boilerplate.py — the CCNet curation leg): pages are synthesized
    deterministically from the documents table (host = doc_id % 24;
    nav + cookie lines on every page of a host, a copyright footer, a
    'seasonal promo' line on alternating pages — straddling the 0.5
    host-fraction threshold host by host — and a newsletter line that
    is all-or-nothing per host since 24 % 3 == 0).  Lines on >= 3
    pages AND >= 50% of a host's pages are stripped everywhere on that
    host; cleaned text is reassembled in original line order.  At
    sf0.01 the removal histogram is {3: 160, 4: 253, 5: 87} — the
    threshold genuinely diverges across hosts."""
    from document_retrieval_system_spark.operators.boilerplate import (
        strip_boilerplate,
    )

    d = _docs(spark, sf_dir)
    site = F.concat(F.lit("site"), (F.col("doc_id") % 24).cast("string"))
    pages = d.select(
        "doc_id",
        site.alias("host"),
        F.concat_ws(
            "\n",
            F.concat(F.lit("home about products contact "), site),
            F.concat(F.lit("cookie consent required "), site),
            F.when(
                F.expr("(doc_id div 24) % 2 = 0"),
                F.concat(F.lit("seasonal promo "), site),
            ),
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(F.lit("subscribe newsletter "), site),
            ),
            F.concat(F.lit("copyright "), site,
                     F.lit(" all rights reserved")),
        ).alias("text"),
    )
    out = strip_boilerplate(pages, min_pages=3, min_frac=0.5)
    return out.select(
        "doc_id",
        "host",
        F.col("text").alias("clean_text"),
        F.col("n_lines").cast("long").alias("n_lines"),
        F.col("n_removed").alias("n_removed"),
    )


SQL_CURATE_BOILERPLATE = """
WITH pages AS (
  SELECT doc_id, 'site' || (doc_id % 24)::VARCHAR AS host,
         concat_ws(chr(10),
           'home about products contact site' || (doc_id % 24)::VARCHAR,
           'cookie consent required site' || (doc_id % 24)::VARCHAR,
           CASE WHEN (doc_id // 24) % 2 = 0
                THEN 'seasonal promo site' || (doc_id % 24)::VARCHAR END,
           text,
           CASE WHEN doc_id % 3 = 0
                THEN 'subscribe newsletter site' || (doc_id % 24)::VARCHAR END,
           'copyright site' || (doc_id % 24)::VARCHAR || ' all rights reserved'
         ) AS text
  FROM documents
),
lines AS (
  SELECT doc_id, host,
         unnest(string_split(text, chr(10))) AS line,
         generate_subscripts(string_split(text, chr(10)), 1) AS ln_no
  FROM pages
),
host_pages AS (SELECT host, count(*) AS hp FROM pages GROUP BY host),
freq AS (
  SELECT host, line, count(DISTINCT doc_id) AS np
  FROM lines WHERE trim(line) <> '' GROUP BY host, line
),
boiler AS (
  SELECT f.host, f.line FROM freq f JOIN host_pages h USING (host)
  WHERE f.np >= 3 AND f.np >= 0.5 * h.hp
),
kept AS (
  SELECT l.doc_id, l.host, l.line, l.ln_no
  FROM lines l ANTI JOIN boiler b ON l.host = b.host AND l.line = b.line
),
reasm AS (
  SELECT doc_id, host,
         string_agg(line, chr(10) ORDER BY ln_no) AS clean_text,
         count(*) AS kept_n
  FROM kept GROUP BY doc_id, host
)
SELECT p.doc_id, p.host,
       coalesce(r.clean_text, '') AS clean_text,
       len(string_split(p.text, chr(10)))::BIGINT AS n_lines,
       (len(string_split(p.text, chr(10))) - coalesce(r.kept_n, 0))::BIGINT
         AS n_removed
FROM pages p LEFT JOIN reasm r ON p.doc_id = r.doc_id AND p.host = r.host"""


BM25F_WEIGHTS = {"title": 2.5, "body": 1.0}
BM25F_B = {"title": 0.4, "body": 0.8}
BM25F_TITLE_LEN = 6


def q_r3_bm25f(spark, sf_dir):
    """BM25F fielded ranking (operators/bm25f.py): each document is
    split deterministically into a title field (first 6 tokens) and a
    body field (the rest), weighted 2.5/1.0 with per-field length
    normalization b=0.4/0.8; per-field tfs fold into one pseudo-
    frequency before saturation (Robertson et al. 2004), idf as the
    unfielded engine.  Top-20 by (score desc, doc_id)."""
    from document_retrieval_system_spark.operators.bm25f import bm25f_scores

    t = _tok_df(_docs(spark, sf_dir))
    k = BM25F_TITLE_LEN
    fields = (
        t.select(
            "doc_id",
            F.lit("title").alias("field"),
            F.expr(f"slice(toks, 1, {k})").alias("toks"),
        )
        .unionAll(
            t.select(
                "doc_id",
                F.lit("body").alias("field"),
                F.expr(
                    f"slice(toks, {k + 1}, greatest(size(toks) - {k}, 0))"
                ).alias("toks"),
            )
        )
    )
    return (
        bm25f_scores(fields, BM25_TERMS, BM25F_WEIGHTS, BM25F_B, k1=K1)
        .select("doc_id", F.round("score", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(20)
    )


SQL_R3_BM25F = "WITH " + SQL_TOKS + f""",
fields AS (
  SELECT doc_id, 'title' AS field,
         list_slice(toks, 1, {BM25F_TITLE_LEN}) AS ftoks FROM toks
  UNION ALL
  SELECT doc_id, 'body' AS field,
         list_slice(toks, {BM25F_TITLE_LEN + 1}, len(toks)) AS ftoks
  FROM toks
),
params AS (
  SELECT 'title' AS field, {BM25F_WEIGHTS["title"]!r}::DOUBLE AS w,
         {BM25F_B["title"]!r}::DOUBLE AS b
  UNION ALL
  SELECT 'body', {BM25F_WEIGHTS["body"]!r}::DOUBLE,
         {BM25F_B["body"]!r}::DOUBLE
),
fl AS (SELECT doc_id, field, ftoks, len(ftoks) AS flen FROM fields),
avgf AS (SELECT field, avg(flen) AS avgfl FROM fl GROUP BY field),
corpus AS (SELECT count(DISTINCT doc_id) AS n FROM fields),
tf AS (
  SELECT doc_id, field, flen, unnest(ftoks) AS term FROM fl
),
tfc AS (
  SELECT doc_id, field, flen, term, count(*) AS tf
  FROM tf GROUP BY doc_id, field, flen, term
),
tft AS (
  SELECT t.doc_id, t.term,
         sum(p.w * t.tf / (1 - p.b + p.b * t.flen / a.avgfl)) AS tft
  FROM tfc t JOIN params p USING (field) JOIN avgf a USING (field)
  GROUP BY t.doc_id, t.term
),
dfreq AS (SELECT term, count(*) AS df FROM tft GROUP BY term),
q AS (SELECT unnest({BM25_TERMS!r}) AS term),
scored AS (
  SELECT t.doc_id,
         sum( ln((corpus.n - d.df + 0.5) / (d.df + 0.5) + 1)
              * t.tft / (t.tft + {K1}) ) AS score
  FROM tft t JOIN q USING (term) JOIN dfreq d USING (term)
  CROSS JOIN corpus
  GROUP BY t.doc_id
)
SELECT doc_id, round(score, 6) AS score FROM scored
ORDER BY score DESC, doc_id LIMIT 20"""


_STATIC_RANK_W = 0.2


def q_search_static_rank(spark, sf_dir):
    """Static-rank blended retrieval (operators/fusion.py::
    static_rank_blend): BM25 matched-doc scores boosted by the
    query-independent PageRank prior over the deterministic link graph
    — blended = bm25 * (1 + 0.2 * ln(1 + pr * N)), the multiplicative-
    log authority boost of a web ranker.  Oracle splices the unrolled
    8-iteration PageRank CTE chain into the shared BM25 SQL.  Top-20
    by (blended desc, doc_id)."""
    from document_retrieval_system_spark.operators.fusion import (
        static_rank_blend,
    )
    from document_retrieval_system_spark.operators.linkgraph import pagerank

    # the graph legs are id-only: derive them from the raw scan (no
    # spread exchange/barrier — see _docs_raw)
    nodes = _docs_raw(spark, sf_dir).select(F.col("doc_id").alias("node"))
    n = nodes.count()
    pr = pagerank(_link_edges(nodes, n), nodes,
                  damping=_PR_DAMPING, iters=_PR_ITERS)
    prior = pr.select(
        F.col("node").alias("doc_id"),
        (F.col("pr") * F.lit(float(n))).alias("prior"),
    )
    blended = static_rank_blend(
        _bm25_all(_ensure_entry_index(spark, sf_dir), BM25_TERMS), prior,
        weight=_STATIC_RANK_W)
    return (
        blended.select("doc_id", F.round("score", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(20)
    )


def _sql_search_static_rank() -> str:
    import pyarrow.parquet as pq

    n = pq.ParquetFile(
        os.path.join(_oracle_sf_dir(), "documents.parquet")
    ).metadata.num_rows
    return (
        "WITH " + SQL_BM25_BASE + ",\n" + _sql_pagerank_ctes() + f"""
SELECT b.doc_id,
       round(b.score * (1 + {_STATIC_RANK_W!r}
                        * ln(1 + coalesce(r.pr * {float(n)!r}, 0))), 6)
         AS score
FROM bm25 b LEFT JOIN r{_PR_ITERS} r ON b.doc_id = r.node
ORDER BY score DESC, b.doc_id LIMIT 20"""
    )


PRUNE_KEEP_FRAC = 0.3
PRUNE_KEEP_MIN = 2


def q_i11_impact_prune(spark, sf_dir):
    """Static index pruning (operators/prune.py, Carmel et al. 2001):
    per term keep the top ceil(0.3 * df) postings by (tf desc, doc_id)
    — floor 2 — then serve BM25 top-20 from the pruned tier with FULL
    corpus stats, so surviving postings score exactly their unpruned
    values.  The oracle ranks postings with the same window in SQL."""
    from document_retrieval_system_spark.operators.prune import (
        impact_prune_tfs,
    )

    # pruning ranks each term's postings on their own, so pruning only
    # the query terms' postings keeps the same survivors
    return (
        _bm25_weighted(
            _ensure_entry_index(spark, sf_dir), dict.fromkeys(BM25_TERMS, 1.0),
            prune=lambda p: impact_prune_tfs(
                p, keep_frac=PRUNE_KEEP_FRAC, keep_min=PRUNE_KEEP_MIN),
        )
        .select("doc_id", F.round("score", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(20)
    )


SQL_I11_PRUNE = "WITH " + SQL_TFS + f""",
stats AS (SELECT term, count(*) AS df FROM tfs GROUP BY term),
corpus AS (
  SELECT count(*) AS n, avg(len(toks)) AS avgdl
  FROM toks WHERE len(toks) > 0
),
ranked AS (
  SELECT doc_id, term, tf, dl,
         row_number() OVER (PARTITION BY term
                            ORDER BY tf DESC, doc_id) AS rnk
  FROM tfs
),
pruned AS (
  SELECT r.doc_id, r.term, r.tf, r.dl
  FROM ranked r JOIN stats s USING (term)
  WHERE r.rnk <= greatest({PRUNE_KEEP_MIN},
                          ceil({PRUNE_KEEP_FRAC!r} * s.df))
),
q AS (SELECT unnest({BM25_TERMS!r}) AS term),
bm25 AS (
  SELECT p.doc_id,
         sum( ln((corpus.n - stats.df + 0.5) / (stats.df + 0.5) + 1)
              * p.tf / (p.tf + {K1} * (1 - {B} + {B} * p.dl / corpus.avgdl)) )
           AS score
  FROM pruned p JOIN q USING (term) JOIN stats USING (term)
  CROSS JOIN corpus
  GROUP BY p.doc_id
)
SELECT doc_id, round(score, 6) AS score FROM bm25
ORDER BY score DESC, doc_id LIMIT 20"""


def q_ta_host_terms(spark, sf_dir):
    """Per-host distinctive terms (operators/textstats.py::
    distinctive_terms, c-TF-IDF): hosts synthesized as doc_id % 16,
    each host treated as one pseudo-document; weight =
    (1 + ln(tf_host)) * ln(1 + G / hosts_with_term), top-3 per host by
    (weight desc, term asc)."""
    from document_retrieval_system_spark.operators.textstats import (
        distinctive_terms,
    )

    d = _docs(spark, sf_dir)
    occ = d.select(
        F.concat(F.lit("site"), (F.col("doc_id") % 16).cast("string"))
        .alias("host"),
        F.explode(simple_tokens(F.col("text"))).alias("term"),
    )
    out = distinctive_terms(occ, top_n=3)
    return out.select(
        "host", "rank", "term", "tf", F.round("weight", 6).alias("weight"))


SQL_TA_HOST_TERMS = "WITH " + SQL_TOKS + """,
occ AS (
  SELECT 'site' || (doc_id % 16)::VARCHAR AS host, unnest(toks) AS term
  FROM toks
),
grp AS (SELECT host, term, count(*) AS tf FROM occ GROUP BY host, term),
ng AS (SELECT count(DISTINCT host) AS g FROM occ),
gw AS (SELECT term, count(*) AS gw FROM grp GROUP BY term),
weighted AS (
  SELECT grp.host, grp.term, grp.tf,
         (1 + ln(grp.tf)) * ln(1 + ng.g::DOUBLE / gw.gw) AS weight
  FROM grp JOIN gw USING (term) CROSS JOIN ng
),
rnk AS (
  SELECT host, term, tf, weight,
         row_number() OVER (PARTITION BY host
                            ORDER BY weight DESC, term) AS rank
  FROM weighted
)
SELECT host, rank::INTEGER AS rank, term, tf, round(weight, 6) AS weight
FROM rnk WHERE rank <= 3"""


_ANCHOR_W = {"body": 1.0, "anchor": 3.0}
_ANCHOR_B = {"body": 0.75, "anchor": 0.5}
_ANCHOR_LEN = 3


def q_search_anchor_text(spark, sf_dir):
    """Anchor-text retrieval (the classic web-search signal:
    Brin & Page 1998 §2.2): every link src->dst in the deterministic
    graph contributes src's first 3 tokens as anchor text describing
    dst; retrieval is BM25F over (body=own tokens w=1.0 b=0.75,
    anchor=concatenated in-link anchors w=3.0 b=0.5).  Anchor tf is a
    bag (order-insensitive), so the groupBy-flatten needs no ordering.
    Docs with no in-links keep an empty anchor field row — per-field
    average lengths count them.  Web-scale contract note: in-link
    counts are the web's heavy tail (popular pages draw 10^8 anchors);
    the anchor agg is a map-side-combining hash groupBy, and a
    production config additionally caps anchors kept per target (a
    slice after a per-target window), which this deterministic graph
    (<= 4 in-links per doc) does not need."""
    from document_retrieval_system_spark.operators.bm25f import bm25f_scores

    docs = _docs(spark, sf_dir)
    t = _tok_df(docs)
    n = _docs_raw(spark, sf_dir).count()
    edges = _link_edges(
        _docs_raw(spark, sf_dir).select(F.col("doc_id").alias("node")), n)
    anch = (
        edges.join(
            t.select(F.col("doc_id").alias("src"),
                     F.expr(f"slice(toks, 1, {_ANCHOR_LEN})").alias("a")),
            "src",
        )
        .groupBy(F.col("dst").alias("doc_id"))
        .agg(F.flatten(F.collect_list("a")).alias("atoks"))
    )
    fields = (
        t.select("doc_id", F.lit("body").alias("field"), "toks")
        .unionAll(
            t.select("doc_id").join(anch, "doc_id", "left").select(
                "doc_id",
                F.lit("anchor").alias("field"),
                F.coalesce(
                    F.col("atoks"),
                    F.array().cast("array<string>"),
                ).alias("toks"),
            )
        )
    )
    return (
        bm25f_scores(fields, BM25_TERMS, _ANCHOR_W, _ANCHOR_B, k1=K1)
        .select("doc_id", F.round("score", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(20)
    )


def _sql_search_anchor_text() -> str:
    import pyarrow.parquet as pq

    n = pq.ParquetFile(
        os.path.join(_oracle_sf_dir(), "documents.parquet")
    ).metadata.num_rows
    return "WITH " + SQL_TOKS + f""",
edges AS (
  SELECT DISTINCT src, (src * 17 + j * j + 7) % {n} AS dst FROM (
    SELECT doc_id AS src, unnest([1, 2, 3, 4]) AS j FROM documents
  ) WHERE src % 5 >= j AND src <> (src * 17 + j * j + 7) % {n}
),
anch AS (
  SELECT e.dst AS doc_id,
         flatten(list(list_slice(t.toks, 1, {_ANCHOR_LEN}))) AS atoks
  FROM edges e JOIN toks t ON t.doc_id = e.src
  GROUP BY e.dst
),
fields AS (
  SELECT doc_id, 'body' AS field, toks AS ftoks FROM toks
  UNION ALL
  SELECT t.doc_id, 'anchor' AS field,
         coalesce(a.atoks, CAST([] AS VARCHAR[])) AS ftoks
  FROM toks t LEFT JOIN anch a USING (doc_id)
),
params AS (
  SELECT 'body' AS field, {_ANCHOR_W["body"]!r}::DOUBLE AS w,
         {_ANCHOR_B["body"]!r}::DOUBLE AS b
  UNION ALL
  SELECT 'anchor', {_ANCHOR_W["anchor"]!r}::DOUBLE,
         {_ANCHOR_B["anchor"]!r}::DOUBLE
),
fl AS (SELECT doc_id, field, ftoks, len(ftoks) AS flen FROM fields),
avgf AS (SELECT field, avg(flen) AS avgfl FROM fl GROUP BY field),
corpus AS (SELECT count(DISTINCT doc_id) AS n FROM fields),
tf AS (SELECT doc_id, field, flen, unnest(ftoks) AS term FROM fl),
tfc AS (
  SELECT doc_id, field, flen, term, count(*) AS tf
  FROM tf GROUP BY doc_id, field, flen, term
),
tft AS (
  SELECT t.doc_id, t.term,
         sum(p.w * t.tf / (1 - p.b + p.b * t.flen / a.avgfl)) AS tft
  FROM tfc t JOIN params p USING (field) JOIN avgf a USING (field)
  GROUP BY t.doc_id, t.term
),
dfreq AS (SELECT term, count(*) AS df FROM tft GROUP BY term),
q AS (SELECT unnest({BM25_TERMS!r}) AS term),
scored AS (
  SELECT t.doc_id,
         sum( ln((corpus.n - d.df + 0.5) / (d.df + 0.5) + 1)
              * t.tft / (t.tft + {K1}) ) AS score
  FROM tft t JOIN q USING (term) JOIN dfreq d USING (term)
  CROSS JOIN corpus
  GROUP BY t.doc_id
)
SELECT doc_id, round(score, 6) AS score FROM scored
ORDER BY score DESC, doc_id LIMIT 20"""


PASSAGE_WIDTH = 50


def q_search_passage(spark, sf_dir):
    """Passage retrieval (operators/proximity.py::best_passage): the
    best idf-weighted 50-position window per document over BM25_TERMS
    hits, computed with a RANGE-frame window (one sort per doc, no
    pairwise self-join); window scores are 6-rounded BEFORE the
    per-doc argmax so the pick is bit-stable across engines.  Top-10
    docs by (score desc, doc_id)."""
    from document_retrieval_system_spark.operators.proximity import (
        best_passage,
    )

    docs = _docs(spark, sf_dir)
    # df for the query terms comes off the MATCHED postings (row count
    # per term == docs containing it), so the full-vocabulary tfs and
    # its second corpus-wide aggregation are gone (r6, guide §2.3)
    fpos = _pos_df(docs).filter(F.col("term").isin(BM25_TERMS))
    stats = (
        fpos.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
        .groupBy("term").agg(F.count("*").alias("df"))
    )
    n = _corpus_n(docs)
    idf = (
        stats.select(
            "term",
            F.round(
                F.log((F.lit(float(n)) - F.col("df") + 0.5)
                      / (F.col("df") + 0.5) + 1), 6).alias("idf"),
        )
    )
    pos = fpos.select("doc_id", "term", "pos")
    best = best_passage(pos, idf, width=PASSAGE_WIDTH, round_to=6)
    return (
        best.select(
            "doc_id",
            F.col("start").cast("long").alias("start"),
            F.col("end").cast("long").alias("end"),
            F.col("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
    )


SQL_SEARCH_PASSAGE = "WITH " + SQL_TFS + f""",
stats AS (SELECT term, count(*) AS df FROM tfs GROUP BY term),
corpus AS (SELECT count(*) AS n FROM toks WHERE len(toks) > 0),
q AS (SELECT unnest({BM25_TERMS!r}) AS term),
idf AS (
  SELECT term,
         round(ln((corpus.n - stats.df + 0.5) / (stats.df + 0.5) + 1), 6)
           AS idf
  FROM stats JOIN q USING (term) CROSS JOIN corpus
),
hits AS (
  SELECT p.doc_id, p.pos, i.idf FROM pos p JOIN idf i USING (term)
),
win AS (
  SELECT doc_id, pos AS start,
         round(sum(idf) OVER (PARTITION BY doc_id ORDER BY pos
               RANGE BETWEEN CURRENT ROW
               AND {PASSAGE_WIDTH - 1} FOLLOWING), 6) AS score
  FROM hits
),
best AS (
  SELECT doc_id, start, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, start) AS rn
  FROM win
)
SELECT doc_id, start, start + {PASSAGE_WIDTH - 1} AS "end", score
FROM best WHERE rn = 1
ORDER BY score DESC, doc_id LIMIT 10"""


BLOOM_M = 16384
BLOOM_K = 3


def q_corpus_bloom_decon(spark, sf_dir):
    """Bloom-prefiltered decontamination (operators/curate.py::
    bloom_decontaminate): the scale path when eval grams outgrow a raw
    broadcast — k=3 md5-slice bit indices mod 16384, filter built
    relationally as its set-bit-index table.  Per training doc:
    (n_grams, bloom_hits, exact_hits); bloom_hits - exact_hits is the
    measured false-positive count (non-zero at sf0.01 by filter
    sizing, so the FP tier is genuinely exercised)."""
    from document_retrieval_system_spark.operators.curate import (
        bloom_decontaminate,
    )

    d = _docs(spark, sf_dir)
    return bloom_decontaminate(
        d.filter(F.col("doc_id") % DECON_EVAL_MOD != 0),
        d.filter(F.col("doc_id") % DECON_EVAL_MOD == 0),
        ngram=DECON_NGRAM, m_bits=BLOOM_M, k=BLOOM_K,
    )


SQL_CORPUS_BLOOM_DECON = "WITH " + SQL_TOKS + f""",
dgrams AS (SELECT doc_id, unnest({_sql_grams(DECON_NGRAM)}) AS gram
           FROM toks),
ev AS (SELECT DISTINCT gram FROM dgrams
       WHERE doc_id % {DECON_EVAL_MOD} = 0),
slots AS (SELECT unnest({list(range(BLOOM_K))!r}) AS slot),
ev_bits AS (
  SELECT DISTINCT
         ('0x' || substr(md5(gram), slot * 8 + 1, 8))::BIGINT % {BLOOM_M}
           AS idx
  FROM ev CROSS JOIN slots
),
tr_idx AS (
  SELECT doc_id, gram,
         ('0x' || substr(md5(gram), slot * 8 + 1, 8))::BIGINT % {BLOOM_M}
           AS idx
  FROM dgrams CROSS JOIN slots
  WHERE doc_id % {DECON_EVAL_MOD} != 0
),
probes AS (
  SELECT t.doc_id, t.gram,
         min(CASE WHEN b.idx IS NOT NULL THEN 1 ELSE 0 END) AS bloom
  FROM tr_idx t LEFT JOIN ev_bits b USING (idx)
  GROUP BY t.doc_id, t.gram
),
ex AS (SELECT gram, 1 AS exact FROM ev)
SELECT p.doc_id, count(*)::BIGINT AS n_grams,
       sum(p.bloom)::BIGINT AS bloom_hits,
       sum(coalesce(ex.exact, 0))::BIGINT AS exact_hits
FROM probes p LEFT JOIN ex USING (gram)
GROUP BY p.doc_id"""


def q_events_retention(spark, sf_dir):
    """Cohort retention matrix (operators/sessions.py::
    retention_cohorts): users cohorted by ISO week of first event,
    cells count the cohort's users active at each later week offset.
    Offsets are exact integer div of Monday-truncated dates; no
    countDistinct needed (activity rows pre-distinct, one cohort per
    user).  The raw sf log is dense (every user active every week —
    a degenerate full matrix), so the entry keeps event_id % 29 == 0:
    ~5 events/user, yielding a genuine staggered retention triangle
    (5 cohorts, decaying cells) at sf0.01."""
    from document_retrieval_system_spark.operators.sessions import (
        retention_cohorts,
    )

    return retention_cohorts(
        _events(spark, sf_dir).filter(F.col("event_id") % 29 == 0))


SQL_EVENTS_RETENTION = """
WITH act AS (
  SELECT DISTINCT user_id AS u, date_trunc('week', ts) AS wk
  FROM events WHERE event_id % 29 = 0
),
first AS (SELECT u, min(wk) AS cohort FROM act GROUP BY u)
SELECT strftime(cohort, '%Y-%m-%d') AS cohort_week,
       (date_diff('day', cohort::DATE, wk::DATE) // 7)::BIGINT
         AS week_offset,
       count(*)::BIGINT AS n_users
FROM act JOIN first USING (u)
GROUP BY 1, 2"""


def q_dedup_canonical(spark, sf_dir):
    """Canonical-doc election per duplicate cluster (operators/
    curate.py::canonical_per_cluster): the LSH/Jaccard connected
    components joined with the heuristic quality score; highest
    quality (doc_id tie-break) keeps, the rest drop.  This is the
    decision a curation pipeline ships — WHICH doc survives dedup,
    not just which docs are duplicates."""
    from document_retrieval_system_spark.operators.curate import (
        canonical_per_cluster,
        duplicate_clusters,
    )

    docs = _docs(spark, sf_dir)
    clusters = duplicate_clusters(
        docs, ngram=3, threshold=0.6,
        n_hashes=16, band_size=2, bucket_cap=BUCKET_CAP,
    )
    return canonical_per_cluster(
        clusters, textstats.quality_score(docs))


SQL_DEDUP_CANONICAL = f"""\
WITH clusters AS ({SQL_DEDUP_CLUSTERS}),
q AS ({SQL_TA_QUALITY})
SELECT c.doc_id, c.cluster_id, q.quality,
       (row_number() OVER (PARTITION BY c.cluster_id
                           ORDER BY q.quality DESC, c.doc_id) = 1) AS keep
FROM clusters c JOIN q USING (doc_id)"""


_BFS_SEED_MOD = 97
_BFS_MAX_DEPTH = 6


def q_graph_bfs_depth(spark, sf_dir):
    """Crawl-frontier depth labeling (operators/linkgraph.py::
    bfs_depths): minimum hop distance from the seed set (doc_id %
    97 == 0) over the dense deterministic link graph, capped at 6
    hops.  The oracle is a DuckDB recursive CTE with UNION (distinct)
    recursion — (node, depth) pairs are bounded by V x depth, and the
    first arrival at a node is always produced, so min(depth) is
    exact; an independent algorithm (semi-naive datalog vs
    level-synchronous frontier BFS)."""
    from document_retrieval_system_spark.operators.linkgraph import (
        bfs_depths,
    )

    docs = _docs_raw(spark, sf_dir).select(F.col("doc_id").alias("node"))
    n = docs.count()
    seeds = docs.filter(F.col("node") % _BFS_SEED_MOD == 0)
    return bfs_depths(_tri_edges(docs, n), seeds,
                      max_depth=_BFS_MAX_DEPTH).select(
        F.col("node").alias("doc_id"), "depth")


def _sql_graph_bfs() -> str:
    import pyarrow.parquet as pq

    n = pq.ParquetFile(
        os.path.join(_oracle_sf_dir(), "documents.parquet")
    ).metadata.num_rows
    return f"""\
WITH RECURSIVE edges AS (
  SELECT DISTINCT src, (src + j * j) % {n} AS dst FROM (
    SELECT doc_id AS src, unnest([1, 2, 3, 4, 5, 6, 7]) AS j
    FROM documents
  ) WHERE src % 8 >= j AND src <> (src + j * j) % {n}
),
walk(node, depth) AS (
  SELECT doc_id, 0 FROM documents WHERE doc_id % {_BFS_SEED_MOD} = 0
  UNION
  SELECT e.dst, w.depth + 1
  FROM walk w JOIN edges e ON e.src = w.node
  WHERE w.depth < {_BFS_MAX_DEPTH}
)
SELECT node AS doc_id, min(depth)::INT AS depth
FROM walk GROUP BY node"""


SUBSTRING_PATTERN = "data stream"


def _ensure_trigram_index(spark, sf_dir: str) -> str:
    from document_retrieval_system_spark.operators import substring as sub

    return _cached_dir("tgm", sf_dir, "documents.parquet", (),
                       lambda tmp: sub.build_trigram_index(_docs(spark, sf_dir), tmp))


def q_search_substring(spark, sf_dir):
    """Trigram-indexed substring search (operators/substring.py, the
    Code-Search/pg_trgm design): candidates = docs containing EVERY
    character trigram of the pattern, read from a bucket-partitioned
    trigram index (partition pruning + pushed In filter), then an
    exact contains + occurrence count on candidates only.  The oracle
    is the full-scan LIKE the index exists to avoid — identical
    output, opposite cost shape."""
    from document_retrieval_system_spark.operators import substring as sub

    idx = _ensure_trigram_index(spark, sf_dir)
    return sub.substring_search(
        spark, idx, _docs(spark, sf_dir), SUBSTRING_PATTERN)


SQL_SEARCH_SUBSTRING = f"""\
SELECT doc_id,
       ((length(text) - length(replace(text, '{SUBSTRING_PATTERN}', '')))
        // {len(SUBSTRING_PATTERN)})::BIGINT AS n_occ
FROM documents
WHERE contains(text, '{SUBSTRING_PATTERN}')"""


REGEX_PATTERN = "data stream|hash join|slow scan"


def q_search_regex(spark, sf_dir):
    """Literal-alternation regex search through the trigram index
    (operators/substring.py::regex_search — Cox 2012's OR-of-AND
    trigram query algebra): candidates satisfy SOME alternative's AND
    over its own trigrams, read in ONE pruned index scan against a
    broadcast requirements table; exact verify + summed per-alternative
    occurrence counts on candidates only.  The oracle is the full-scan
    OR-of-contains the index exists to avoid."""
    from document_retrieval_system_spark.operators import substring as sub

    idx = _ensure_trigram_index(spark, sf_dir)
    return sub.regex_search(spark, idx, _docs(spark, sf_dir), REGEX_PATTERN)


def _sql_search_regex() -> str:
    lits = REGEX_PATTERN.split("|")
    occ = " + ".join(
        f"((length(text) - length(replace(text, '{p}', ''))) // {len(p)})"
        for p in lits
    )
    anyhit = " OR ".join(f"contains(text, '{p}')" for p in lits)
    return (f"SELECT doc_id, ({occ})::BIGINT AS n_occ\n"
            f"FROM documents\nWHERE {anyhit}")


SQL_SEARCH_REGEX = _sql_search_regex()


QUERIES = {
    "i1_doc_term_stats": (q_i1_doc_term_stats, SQL_I1),
    "i3_term_stats": (q_i3_term_stats, SQL_I3),
    "i4_corpus_stats": (q_i4_corpus_stats, SQL_I4),
    "r3_bm25_topk": (q_r3_bm25_topk, SQL_R3),
    "r3_bm25_wand": (
        q_r3_bm25_wand,
        SQL_R3.replace("ORDER BY score DESC, doc_id LIMIT 20",
                       "ORDER BY score DESC, doc_id"),
    ),
    "r3_bm25_batch": (q_r3_bm25_batch, SQL_R3_BATCH),
    "i9_index_merge": (
        q_i9_index_merge,
        SQL_R3.replace("ORDER BY score DESC, doc_id LIMIT 20",
                       "ORDER BY score DESC, doc_id"),
    ),
    "r1_tfidf_topk": (q_r1_tfidf_topk, SQL_R1),
    "b1_boolean_single": (q_b1_boolean_single, SQL_B1),
    "b2_boolean_and": (q_b2_boolean_and, SQL_B2_AND),
    "b2_boolean_or": (q_b2_boolean_or, SQL_B2_OR),
    "b2_boolean_not": (q_b2_boolean_not, SQL_B2_NOT),
    "b5_boolean_rpn": (q_b5_boolean_rpn, SQL_B5_RPN),
    "b7_phrase": (q_b7_phrase, SQL_B7),
    "b6_near": (q_b6_near, SQL_B6),
    "e2e_search_pipeline": (q_e2e_search_pipeline, SQL_E2E),
    "u2_boost_rescore": (q_u2_boost_rescore, SQL_U2),
    "u5_time_decay": (q_u5_time_decay, SQL_U5),
    "u7_content_length": (q_u7_content_length, SQL_U7),
    "u8_keyword_density": (q_u8_keyword_density, SQL_U8),
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "dedup_minhash_lsh": (q_dedup_minhash_lsh, SQL_DEDUP_MINHASH),
    "dedup_ngram_jaccard": (q_dedup_jaccard, SQL_DEDUP_JACCARD),
    "dedup_ngram_jaccard3": (q_dedup_jaccard3, SQL_DEDUP_JACCARD3),
    "dedup_simhash": (q_dedup_simhash, SQL_DEDUP_SIMHASH),
    "dedup_simhash_pairs": (q_dedup_simhash_pairs, SQL_SIMHASH_PAIRS),
    "dedup_clusters": (q_dedup_clusters, SQL_DEDUP_CLUSTERS),
    "dedup_canonical": (q_dedup_canonical, SQL_DEDUP_CANONICAL),
    "dedup_winnow": (q_dedup_winnow, SQL_DEDUP_WINNOW),
    "dedup_spans": (q_dedup_spans, SQL_DEDUP_SPANS),
    "dedup_span_removal": (q_dedup_span_removal, SQL_DEDUP_SPAN_REMOVAL),
    "ta_quality_model": (q_ta_quality_model, _sql_ta_quality_model),
    "corpus_sample": (q_corpus_sample, SQL_CORPUS_SAMPLE),
    "corpus_token_budget": (q_corpus_token_budget, SQL_CORPUS_TOKEN_BUDGET),
    "corpus_decontaminate": (q_corpus_decontaminate, SQL_CORPUS_DECON),
    "corpus_decon_verdicts": (q_corpus_decon_verdicts, SQL_CORPUS_DECON_VERDICTS),
    "url_dedup": (q_url_dedup, SQL_URL_DEDUP),
    "emb_neardup": (q_emb_neardup, SQL_EMB_NEARDUP),
    "ann_cosine_topk": (q_ann_cosine_topk, SQL_ANN_COSINE),
    "ta_langid": (q_ta_langid, SQL_TA_LANGID),
    "ta_quality": (q_ta_quality, SQL_TA_QUALITY),
    "ta_tokencount": (q_ta_tokencount, SQL_TA_TOKENCOUNT),
    "ta_pii": (q_ta_pii, SQL_TA_PII),
    "ta_repetition": (q_ta_repetition, SQL_TA_REPETITION),
    "ta_c4_filters": (q_ta_c4_filters, SQL_TA_C4_FILTERS),
    "e2e_curation_pipeline": (q_e2e_curation, SQL_E2E_CURATION),
    "dedup_paragraph": (q_dedup_paragraph, SQL_DEDUP_PARAGRAPH),
    "ta_fingerprint": (q_ta_fingerprint, SQL_TA_FINGERPRINT),
    "t7_keywords": (q_t7_keywords, SQL_T7),
    "ann_lsh_topk": (q_ann_lsh_topk, SQL_ANN_LSH),
    "ann_ivf_topk": (q_ann_ivf_topk, SQL_ANN_IVF),
    "ann_pq_topk": (q_ann_pq_topk, SQL_ANN_PQ),
    "ann_ivfpq_topk": (q_ann_ivfpq_topk, SQL_ANN_IVFPQ),
    "fuzzy_terms": (q_fuzzy_terms, SQL_FUZZY_TERMS),
    "events_asof": (q_events_asof, SQL_EVENTS_ASOF),
    "events_range": (q_events_range, SQL_EVENTS_RANGE),
    "events_sessionize": (q_events_sessionize, SQL_EVENTS_SESSIONS),
    "events_rollup": (q_events_rollup, SQL_EVENTS_ROLLUP),
    "sketch_distinct": (q_sketch_distinct, SQL_SKETCH_DISTINCT),
    "sketch_heavy_hitters": (q_sketch_heavy_hitters, SQL_SKETCH_CMS),
    "events_resample": (q_events_resample, SQL_EVENTS_RESAMPLE),
    "events_anomaly": (q_events_anomaly, SQL_EVENTS_ANOMALY),
    "events_json_props": (q_events_json_props, SQL_EVENTS_JSON),
    "search_eval": (q_search_eval, SQL_SEARCH_EVAL),
    "graph_pagerank": (q_graph_pagerank, _sql_graph_pagerank),
    "graph_triangles": (q_graph_triangles, SQL_GRAPH_TRIANGLES),
    "graph_bfs_depth": (q_graph_bfs_depth, _sql_graph_bfs),
    "events_funnel": (q_events_funnel, SQL_EVENTS_FUNNEL),
    "events_quantiles": (q_events_quantiles, SQL_EVENTS_QUANTILES),
    "ta_zipf": (q_ta_zipf, SQL_TA_ZIPF),
    "ta_heaps": (q_ta_heaps, SQL_TA_HEAPS),
    "fuzzy_search": (q_fuzzy_search, SQL_FUZZY_SEARCH),
    "b8_prefix_search": (q_b8_prefix_search, SQL_B8_PREFIX),
    "b8_completions": (q_b8_completions, SQL_B8_COMPLETIONS),
    "search_substring": (q_search_substring, SQL_SEARCH_SUBSTRING),
    "search_regex": (q_search_regex, SQL_SEARCH_REGEX),
    "r3_bm25_proximity": (q_r3_bm25_proximity, SQL_R3_PROXIMITY),
    "search_facets": (q_search_facets, SQL_SEARCH_FACETS),
    "search_diversified": (q_search_diversified, SQL_SEARCH_DIVERSIFIED),
    "percolate_queries": (q_percolate, _sql_percolate),
    "rrf_fusion": (q_rrf_fusion, SQL_RRF),
    "search_page2": (q_search_page2, SQL_SEARCH_PAGE2),
    "corpus_report": (q_corpus_report, SQL_CORPUS_REPORT),
    "mlt_search": (q_mlt_search, SQL_MLT),
    "search_prf_rm3": (q_search_prf, SQL_SEARCH_PRF),
    "ta_cooccur_pmi": (q_ta_cooccur, SQL_TA_COOCCUR),
    "ta_lm_perplexity": (q_ta_lm_perplexity, _sql_ta_lm_perplexity),
    "corpus_domain_cap": (q_corpus_domain_cap, SQL_CORPUS_DOMAIN_CAP),
    "curate_boilerplate": (q_curate_boilerplate, SQL_CURATE_BOILERPLATE),
    "r3_bm25f": (q_r3_bm25f, SQL_R3_BM25F),
    "search_static_rank": (q_search_static_rank, _sql_search_static_rank),
    "i11_impact_prune": (q_i11_impact_prune, SQL_I11_PRUNE),
    "ta_host_terms": (q_ta_host_terms, SQL_TA_HOST_TERMS),
    "search_anchor_text": (q_search_anchor_text, _sql_search_anchor_text),
    "search_passage": (q_search_passage, SQL_SEARCH_PASSAGE),
    "corpus_bloom_decon": (q_corpus_bloom_decon, SQL_CORPUS_BLOOM_DECON),
    "events_retention": (q_events_retention, SQL_EVENTS_RETENTION),
    # Spark-only (rows-only driver check)
    "i10_index_fsck": (q_i10_index_fsck, None),
    "ta_bpe_tokens": (q_ta_bpe_tokens, None),
    "e2e_with_highlights": (q_e2e_with_highlights, None),
    "t8_highlights": (q_t8_highlights, None),
    "mm_features": (q_mm_features, None),
    "mm_frames": (q_mm_frames, None),
    "s8_assets": (q_s8_assets, None),
    "s4_extract_pages": (q_s4_extract_pages, None),
}
