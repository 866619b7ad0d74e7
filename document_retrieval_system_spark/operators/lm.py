"""Bigram language-model perplexity scoring (KenLM-style quality leg).

The CCNet pipeline's strongest quality signal is a language-model
perplexity over each document: text that a small LM fitted on the
corpus finds surprising (high negative log-likelihood per token) is
boilerplate, gibberish, or out-of-domain.  This module is that leg with
the heavy ML replaced by the smallest model that exhibits the full
pipeline shape: an add-alpha-smoothed bigram model.

    p(w2 | w1) = (c(w1, w2) + alpha) / (c(w1) + alpha * V)
    nll(doc)   = -avg over bigrams of ln p(w2 | w1)

Fit/score split mirrors `operators/quality_model` and the IVF centroid
pattern (`similarity.py`): the model is FITTED driver-side on a
deterministic md5-ranked sample (`similarity.md5_ranked_table`: pyarrow,
no SparkSession, O(sample) regardless of corpus size) and shipped to the
cluster as two small broadcast count tables.  Scoring is then two
broadcast hash joins plus one per-doc aggregation — no Python in the hot
path, no shuffle of anything wider than (doc_id, w1, w2), and the count
tables are the only state (a few thousand rows for the sample sizes
used here; a production KenLM would swap the tables, not the plan).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

LM_ALPHA = 0.5


def _lm_tokens(text: str | None) -> list[str]:
    """Python twin of the SQL-expressible analyzer (lower, [^a-z] -> ' ',
    keep tokens of length >= 2) — used only by the offline fit."""
    return [t for t in re.sub(r"[^a-z]", " ", (text or "").lower()).split()
            if len(t) >= 2]


def fit_bigram_lm(texts: list[str], max_types: int = 20000):
    """Count tables from the sample: (unigram counts, bigram counts,
    vocab size V).  ``max_types`` bounds the bigram table (most-frequent
    first, ties by key — deterministic) so the broadcast/literal size is
    capped no matter how diverse the sample is."""
    uni: dict[str, int] = {}
    bi: dict[tuple[str, str], int] = {}
    for t in texts:
        toks = _lm_tokens(t)
        for w in toks:
            uni[w] = uni.get(w, 0) + 1
        for w1, w2 in zip(toks, toks[1:]):
            bi[(w1, w2)] = bi.get((w1, w2), 0) + 1
    if len(bi) > max_types:
        kept = sorted(bi.items(), key=lambda kv: (-kv[1], kv[0]))[:max_types]
        bi = dict(kept)
    return uni, bi, len(uni)


def score_bigram_lm(docs: DataFrame, uni: dict[str, int],
                    bi: dict[tuple[str, str], int], vocab_size: int,
                    id_col: str = "doc_id", text_col: str = "text",
                    alpha: float = LM_ALPHA) -> DataFrame:
    """Per-document NLL under the fitted model: (doc_id, n_bigrams, nll)
    for every document with at least one bigram.  Unseen history words
    fall back to the uniform alpha/(alpha*V) = 1/V mass — every bigram
    gets a finite, engine-portable log-probability."""
    from document_retrieval_system_spark.operators.textstats import (
        simple_tokens,
    )

    spark = docs.sparkSession
    toks = simple_tokens(F.coalesce(F.col(text_col), F.lit("")))
    n = F.size("_toks")
    big = (
        docs.select(F.col(id_col).alias("doc_id"), toks.alias("_toks"))
        .filter(n >= 2)
        .select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.expr("slice(_toks, 1, size(_toks) - 1)").alias("w1"),
                    F.expr("slice(_toks, 2, size(_toks) - 1)").alias("w2"),
                )
            ).alias("bg"),
        )
        .select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    )
    uni_df = spark.createDataFrame(
        [(w, c) for w, c in sorted(uni.items())], "w1 string, uc long"
    )
    bi_df = spark.createDataFrame(
        [(w1, w2, c) for (w1, w2), c in sorted(bi.items())],
        "w1 string, w2 string, bc long",
    )
    lp = F.log(
        (F.coalesce(F.col("bc"), F.lit(0)) + F.lit(alpha))
        / (F.coalesce(F.col("uc"), F.lit(0)) + F.lit(alpha) * vocab_size)
    )
    return (
        big.join(F.broadcast(bi_df), ["w1", "w2"], "left")
        .join(F.broadcast(uni_df), "w1", "left")
        .withColumn("_lp", lp)
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            (-F.avg("_lp")).alias("nll"),
        )
    )


def _q(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def score_sql(uni: dict[str, int], bi: dict[tuple[str, str], int],
              vocab_size: int, alpha: float = LM_ALPHA) -> str:
    """DuckDB twin of `score_bigram_lm`, with the fitted counts inlined
    as VALUES tables (the data-fitted-literals oracle pattern).  Assumes
    a ``pos`` CTE (doc_id, term, pos) is in scope."""
    # a degenerate fit (no tokens / no bigrams in the sample) must yield
    # an empty TYPED table, not a syntax error from `VALUES ()`
    uni_sql = (
        "(VALUES " + ", ".join(f"({_q(w)}, {c})"
                               for w, c in sorted(uni.items())) + ")"
        if uni else "(SELECT ''::VARCHAR AS w1, 0::BIGINT AS uc WHERE FALSE)"
    )
    bi_sql = (
        "(VALUES " + ", ".join(f"({_q(w1)}, {_q(w2)}, {c})"
                               for (w1, w2), c in sorted(bi.items())) + ")"
        if bi else ("(SELECT ''::VARCHAR AS w1, ''::VARCHAR AS w2, "
                    "0::BIGINT AS bc WHERE FALSE)")
    )
    return f""",
big AS (
  SELECT a.doc_id, a.term AS w1, b.term AS w2
  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
),
lm_uni(w1, uc) AS {uni_sql},
lm_bi(w1, w2, bc) AS {bi_sql}
SELECT big.doc_id,
       count(*)::BIGINT AS n_bigrams,
       -avg(ln((coalesce(bc, 0) + {alpha}) / (coalesce(uc, 0) + {alpha} * {vocab_size})))
         AS nll
FROM big
LEFT JOIN lm_bi USING (w1, w2)
LEFT JOIN lm_uni USING (w1)
GROUP BY big.doc_id"""
