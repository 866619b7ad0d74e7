"""Text-analysis operators for large-scale training-data pipelines:
language-ID, quality scoring, token counting, document fingerprinting.

These go beyond the reference (which has no corpus-analytics surface) but
are first-class citizens of a 100 TB webtext engine.  All are pure column
expressions / higher-order functions — JVM-side, whole-stage-codegen'd,
no Python in the hot path.

``simple_tokens`` is the SQL-expressible analyzer used for the
DuckDB-verified driver queries (lower -> non-letters to spaces -> split ->
len>=2); the full reference analyzer (stemming, CJK segmentation) lives
in functions/analyzer.py and is verified against the oracle in pytest.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Mirrored 1:1 by DuckDB SQL in __spark_entry__.oracle_sql().
EN_MARKERS = ["the", "and", "of", "to", "in", "is", "that", "it", "for", "on"]

_SIMPLE_RE = __import__("re").compile("[^a-z]")


def simple_process_text(text: str | None, lang: str | None = None) -> list[str]:
    """Pure-Python twin of ``simple_tokens`` (and of the DuckDB CTE):
    lower -> non-letters to spaces -> split -> len>=2.  Used as the
    injectable analyzer for the DuckDB-verified index/query entries."""
    if not text:
        return []
    return [t for t in _SIMPLE_RE.sub(" ", text.lower()).split(" ") if len(t) >= 2]


def simple_tokens(text_col: Column) -> Column:
    return F.filter(
        F.split(F.regexp_replace(F.lower(text_col), "[^a-z]", " "), " "),
        lambda t: F.length(t) >= 2,
    )


def _sliding_concat(arr: Column, n: int, sep: str) -> Column:
    """n-gram concatenation over an array expression in O(n) array
    passes.  The naive form — ``transform(sequence(...), lambda i:
    element_at(arr, i+j) ...)`` — references `arr` INSIDE the lambda, and
    Catalyst re-evaluates the whole argument expression per element (no
    CSE into the higher-order function), turning shingling into
    O(elements x cost(arr)); measured 5x slower on the dedup suite when
    `arr` is the tokenizer.  zip_with/slice take `arr` as an argument
    and bind it once per row.  Tail positions zip against nulls (concat
    null-propagates) and are sliced away; a 0-length slice yields []
    for inputs shorter than n."""
    sz = F.size(arr)
    grams = arr
    for j in range(1, n):
        nxt = F.slice(arr, j + 1, F.greatest(sz - j, F.lit(0)))
        grams = F.zip_with(grams, nxt, lambda a, b: F.concat(a, F.lit(sep), b))
    return F.slice(grams, 1, F.greatest(sz - (n - 1), F.lit(0)))


def word_ngrams(tokens: Column, n: int = 3) -> Column:
    """Word n-gram shingles; empty array when fewer than n tokens."""
    if n == 1:
        return tokens
    return _sliding_concat(tokens, n, " ")


def lang_id(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """n-gram-heuristic language ID: CJK presence -> zh; English marker
    stopword hits -> en; else other."""
    toks = simple_tokens(F.col(text_col))
    en_hits = F.size(F.filter(toks, lambda t: t.isin(*EN_MARKERS)))
    pred = (
        F.when(F.col(text_col).rlike("[一-鿿]"), F.lit("zh"))
        .when(en_hits > 0, F.lit("en"))
        .otherwise(F.lit("other"))
    )
    return df.select(F.col(id_col), pred.alias("lang_pred"), en_hits.alias("en_marker_hits"))


def quality_score(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Heuristic document quality in [0,1]: length band, alpha ratio,
    marker-stopword ratio, mean word length band."""
    text = F.coalesce(F.col(text_col), F.lit(""))
    n_chars = F.length(text)
    toks = simple_tokens(text)
    n_tok = F.size(toks)
    alpha_ratio = F.when(
        n_chars > 0,
        F.length(F.regexp_replace(F.lower(text), "[^a-z]", "")) / n_chars,
    ).otherwise(F.lit(0.0))
    stop_ratio = F.when(
        n_tok > 0,
        F.size(F.filter(toks, lambda t: t.isin(*EN_MARKERS))) / n_tok,
    ).otherwise(F.lit(0.0))
    mean_wlen = F.when(
        n_tok > 0,
        F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t)) / n_tok,
    ).otherwise(F.lit(0.0))
    length_ok = F.when((n_chars >= 100) & (n_chars <= 20000), 1.0).otherwise(0.5)
    wlen_ok = F.when((mean_wlen >= 3.0) & (mean_wlen <= 10.0), 1.0).otherwise(0.5)
    score = F.round(
        0.25 * length_ok + 0.35 * alpha_ratio
        + 0.2 * F.least(stop_ratio * 5, F.lit(1.0)) + 0.2 * wlen_ok,
        4,
    )
    return df.select(
        F.col(id_col),
        F.col(text_col).isNotNull().alias("has_text"),
        n_tok.alias("n_tokens"),
        score.alias("quality"),
    )


def token_counts(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Whitespace token count + a BPE-ish sub-token count (letter runs,
    digit runs, and isolated symbols — a proxy for tokenizer cost)."""
    text = F.coalesce(F.col(text_col), F.lit(""))
    ws = F.size(F.filter(F.split(text, r"\s+"), lambda t: F.length(t) > 0))
    bpe = F.size(F.regexp_extract_all(F.lower(text), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0))
    return df.select(
        F.col(id_col), ws.alias("n_ws_tokens"), bpe.alias("n_bpe_tokens")
    )


# contact/PII-ish surface patterns — deliberately lookahead-free so the
# same pattern string is valid Java regex (Spark) and RE2 (DuckDB)
PII_PATTERNS = {
    "n_emails": r"[a-z0-9._%+\-]+@[a-z0-9.\-]+\.[a-z][a-z]+",
    "n_urls": r"https?://[^\s<>\"]+",
    "n_phones": r"\+?[0-9][0-9()\-\s]{6,}[0-9]",
    "n_ipv4": r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",
}


def pii_counts(df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """Contact-surface / PII-ish pattern counts per document (emails,
    urls, phone-shaped runs, IPv4-shaped dotted quads) — the scrubbing /
    quality-filter signal of a webtext pipeline.  Pure JVM regex counts,
    map-only."""
    text = F.lower(F.coalesce(F.col(text_col), F.lit("")))
    cols = [
        F.size(F.regexp_extract_all(text, F.lit(pat), 0)).cast("long").alias(name)
        for name, pat in PII_PATTERNS.items()
    ]
    return df.select(F.col(id_col), *cols)


def repetition_signals(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals per document (Rae et al. 2021,
    "Scaling Language Models", table A1's repetition filters):

    - ``n_lines`` / ``dup_line_frac`` / ``dup_line_char_frac``: fraction
      of newline-separated lines (and of their character mass) that are
      repeats of an earlier identical line.  Pure array HOFs — map-only,
      no shuffle.
    - ``top2_char_frac``: character mass of the heaviest word 2-gram
      (count x gram length) over total text length — high values mean
      one phrase dominates the page.
    - ``dup3_char_frac``: character mass sitting in word 3-grams that
      occur >= 2 times, over total 3-gram mass.

    The gram legs are explode -> (doc, gram) count -> per-doc aggregate:
    two shuffles with map-side partial aggregation, linear in corpus
    size — the 100 TB path.  All masses stay integer until one final
    double division so both engines produce bit-identical ratios."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    lines = F.filter(F.split(t, "\n"), lambda x: F.length(x) > 0)
    dlines = F.array_distinct(lines)
    csum = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    base = df.select(
        F.col(id_col),
        F.length(t).alias("_tlen"),
        F.size(lines).alias("n_lines"),
        F.size(dlines).alias("_ndl"),
        csum(lines).alias("_lchars"),
        csum(dlines).alias("_dchars"),
        simple_tokens(t).alias("_toks"),
    )
    # r6: the 2-gram and 3-gram legs share ONE explode / ONE
    # (doc, n, gram) count / ONE per-doc aggregate / ONE join back —
    # previously each leg re-ran the tokenizer and paid its own two
    # shuffles and its own join.  A doc with 3-grams always has
    # 2-grams, and docs with neither produce no row at all, so the
    # left-join + coalesce semantics below are unchanged.
    g23 = base.select(
        id_col,
        F.explode(
            F.concat(
                F.transform(
                    word_ngrams(F.col("_toks"), 2),
                    lambda g: F.struct(F.lit(2).alias("n"), g.alias("g")),
                ),
                F.transform(
                    word_ngrams(F.col("_toks"), 3),
                    lambda g: F.struct(F.lit(3).alias("n"), g.alias("g")),
                ),
            )
        ).alias("ng"),
    ).select(id_col, F.col("ng.n").alias("n"), F.col("ng.g").alias("g"))
    gstats = (
        g23.groupBy(id_col, "n", "g").count()
        .groupBy(id_col)
        .agg(
            F.max(
                F.when(F.col("n") == 2, F.col("count") * F.length("g"))
            ).alias("_m2"),
            F.sum(
                F.when((F.col("n") == 3) & (F.col("count") >= 2),
                       F.col("count") * F.length("g")).otherwise(F.lit(0))
            ).alias("_dm3"),
            F.sum(
                F.when(F.col("n") == 3, F.col("count") * F.length("g"))
                .otherwise(F.lit(0))
            ).alias("_tm3"),
        )
    )
    out = base.join(gstats, id_col, "left")
    frac = lambda num, den: F.round(  # noqa: E731
        F.when(den > 0, num * F.lit(1.0) / den).otherwise(F.lit(0.0)), 4
    )
    return out.select(
        F.col(id_col),
        F.col("n_lines"),
        frac(F.col("n_lines") - F.col("_ndl"), F.col("n_lines")).alias("dup_line_frac"),
        frac(F.col("_lchars") - F.col("_dchars"), F.col("_lchars")).alias("dup_line_char_frac"),
        frac(F.coalesce(F.col("_m2"), F.lit(0)), F.col("_tlen")).alias("top2_char_frac"),
        frac(F.coalesce(F.col("_dm3"), F.lit(0)), F.coalesce(F.col("_tm3"), F.lit(0))).alias("dup3_char_frac"),
    )


FP_BASE = 31  # polynomial base; 8 codepoints * 31^7 stays < 2^58 (no mod)


def winnowed_sets(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", k: int = 8,
                  window: int = 16) -> DataFrame:
    """Winnowing fingerprint sets (Schleimer/Wilkerson/Aiken '03):
    (id, fps array<long>) — the distinct window-minimum selection over
    polynomial char-k-gram hashes.

    - gram hash = Horner polynomial over codepoints (h*31 + c) — pure
      integer ops, no digest, exact in BIGINT (max codepoint 2^21 *
      31^7 * 8 < 2^58).
    - selection = min per sliding window of ``window`` gram positions
      (windows clamped at the text tail; one truncated window when
      fewer than ``window`` grams exist).

    r6 shape: the hash chain + sliding minimum run as ONE vectorized
    Arrow pandas UDF over the JVM-lowercased text (numpy int64 — the
    arithmetic is exact integers, so the values are bit-identical to
    the former zip_with expression chain, which survives as
    ``_winnowed_sets_expr`` and is pinned equal by
    tests/test_dedup_similarity.py::test_winnow_arrow_matches_expr).
    The expression form evaluated ~12 interpreted HOF array passes per
    document; the Arrow form is two orders of magnitude less
    per-element overhead and stays map-only (guide §4.2).  Lowercasing
    stays in the JVM so Python str semantics never enter the value.

    The sketch is density-guaranteed (~2/(window+1) hashes per char) and
    any shared substring of length >= window + k - 1 contributes at
    least one shared fingerprint — the overlap-detection property
    ``dedup.winnow_overlap_pairs`` builds on."""
    assert window & (window - 1) == 0, "window must be a power of two"

    @F.pandas_udf("array<long>")
    def _winnow(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            codes = np.frombuffer(
                (t or "").encode("utf-32-le"), dtype="<u4"
            ).astype(np.int64)
            p = codes.size - (k - 1)
            if p <= 0:
                out.append(np.empty(0, dtype=np.int64))
                continue
            h = codes[:p].copy()
            for j in range(1, k):
                h *= FP_BASE
                h += codes[j:j + p]
            if p <= window - 1:
                sel = h.min(keepdims=True)
            else:
                sel = np.lib.stride_tricks.sliding_window_view(
                    h, window).min(axis=1)
            out.append(pd.unique(sel))
        return pd.Series(out)

    text = F.lower(F.coalesce(F.col(text_col), F.lit("")))
    return df.select(F.col(id_col), _winnow(text).alias("fps"))


def _winnowed_sets_expr(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", k: int = 8,
                        window: int = 16) -> DataFrame:
    """The original JVM zip_with expression chain for winnowed_sets —
    kept as the cross-implementation oracle for the Arrow path."""
    assert window & (window - 1) == 0, "window must be a power of two"
    text = F.lower(F.coalesce(F.col(text_col), F.lit("")))
    codes = F.transform(F.split(text, ""), lambda c: F.ascii(c).cast("long"))
    out = df.select(F.col(id_col), codes.alias("_codes"))
    sz = F.size(F.col("_codes"))
    h = F.col("_codes")
    for j in range(1, k):
        nxt = F.slice(F.col("_codes"), j + 1, F.greatest(sz - j, F.lit(0)))
        h = F.zip_with(h, nxt, lambda a, b: a * FP_BASE + b)
    # gram positions 1..P valid; tail entries are null (zip_with padding)
    out = out.select(
        F.col(id_col), h.alias("_h"),
        F.greatest(sz - (k - 1), F.lit(0)).alias("_p"),
    )
    # sparse-table sliding minimum: level `off` holds min over [i, i+2*off)
    cur = "_h"
    off = 1
    while off < window:
        sz_m = F.size(F.col(cur))
        nxt_name = f"_w{off * 2}"
        out = out.withColumn(
            nxt_name,
            F.zip_with(
                F.col(cur),
                F.slice(F.col(cur), off + 1, F.greatest(sz_m - off, F.lit(0))),
                lambda a, b: F.least(a, b),  # least skips the null padding
            ),
        )
        cur = nxt_name
        off *= 2
    n_windows = F.greatest(
        F.col("_p") - (window - 1), F.least(F.col("_p"), F.lit(1))
    )
    winnowed = F.array_distinct(F.slice(F.col(cur), 1, n_windows))
    return out.select(F.col(id_col), winnowed.alias("fps"))


def fingerprint(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                k: int = 8, window: int = 16) -> DataFrame:
    """Per-doc winnowing scalars: ``fingerprint`` = min hash (the global
    minimum is in every window containing it, so it is always a member
    of the winnowed set) and ``n_fp`` = sketch cardinality.

    r1-r3 computed one md5 PER CHARACTER of corpus text (array_min over
    md5'd shingles) — linear but with a constant that made this the
    suite's most expensive query (8.1 s at sf0.1); the polynomial
    winnowing in ``winnowed_sets`` is ~4x faster and yields a usable
    sketch rather than just a scalar."""
    sets = winnowed_sets(df, id_col=id_col, text_col=text_col, k=k,
                         window=window)
    return sets.select(
        F.col(id_col),
        F.array_min("fps").alias("fingerprint"),
        F.size("fps").cast("long").alias("n_fp"),
    )


def extract_keywords(df: DataFrame, top_n: int = 10, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """T7 (text_processor.py:230-270), distributed: per-doc top-N keywords.

    The reference's English path runs sklearn TfidfVectorizer over ONE
    document at a time (:248-266): with a single doc every idf is
    constant, max_features keeps the top_n most frequent terms (ties
    alphabetical), and the stable score sort preserves that order — so
    the semantics reduce exactly to rank-by (tf desc, term asc).  The
    Chinese path (jieba.analyse TF-IDF over jieba's bundled idf table,
    :243-245) is reproducible only with jieba installed; the gated
    import in zh_segment covers it.

    Shape: explode -> (doc, term) count -> per-doc window top-N.  The
    groupBy key is (doc, term) so heavy docs never serialize through one
    reducer; the window partitions by doc over at most |vocab(doc)| rows.
    """
    from pyspark.sql import Window

    tf = (
        df.select(F.col(id_col), F.explode(simple_tokens(F.col(text_col))).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tf"), F.asc("term"))
    return (
        tf.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_n)
        .select(id_col, "rank", "term", "tf")
    )


def distinctive_terms(occurrences: DataFrame, top_n: int = 3,
                      group_col: str = "host",
                      term_col: str = "term") -> DataFrame:
    """Per-group distinctive terms — class-based TF-IDF (the c-TF-IDF
    of Grootendorst 2022, BERTopic §2.3): treat each group (host,
    cluster, topic) as one concatenated pseudo-document and weight

        w(t, g) = (1 + ln(tf_{t,g})) * ln(1 + G / groups_with(t))

    so terms common to most hosts (nav chrome, function words) sink
    and host-specific vocabulary labels the host.  Corpus-diagnostic
    use: "what is each domain about" over a 10^7-host crawl.

    Input is exploded (group, term) occurrence rows; output the top-N
    per group by (weight desc, term asc) with a dense 1-based rank.

    Shape: one groupBy (group, term) with map-side partial agg, one
    tiny groupBy term over the already-collapsed pairs, one window per
    group over at most |vocab(group)| rows.  G (distinct group count)
    is a driver-side scalar of the group cardinality, not the corpus.
    """
    from pyspark.sql import Window

    grp_tf = (
        occurrences.groupBy(group_col, term_col)
        .agg(F.count("*").alias("tf"))
    )
    n_groups = occurrences.select(group_col).distinct().count()
    groups_with = grp_tf.groupBy(term_col).agg(
        F.count("*").alias("gw"))
    w = Window.partitionBy(group_col).orderBy(
        F.desc("weight"), F.asc(term_col))
    return (
        grp_tf.join(groups_with, term_col)
        .withColumn(
            "weight",
            (1 + F.log("tf"))
            * F.log(1 + F.lit(float(n_groups)) / F.col("gw")),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_n)
        .select(group_col, "rank", term_col, "tf", "weight")
    )


# ---------------------------------------------------------------------------
# C4 / Gopher heuristic filters (Raffel et al. 2020 §2.2; Rae et al. 2021
# table A1) — the line- and document-level webtext keep/drop rules every
# public training-data pipeline applies before dedup.
# ---------------------------------------------------------------------------

TERMINAL_PUNCT = [".", "!", "?", '"']
BULLET_PREFIXES = ["- ", "* ", "• "]


def c4_gopher_filters(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """C4 line filters + Gopher document filters as one map-only pass.

    C4 (Raffel et al. 2020 §2.2): a line is KEPT iff it ends in a
    terminal punctuation mark, has >= 5 whitespace words, and does not
    mention "javascript"; the page is dropped outright when it contains
    "lorem ipsum" or a curly brace, or when the retained lines carry
    fewer than 3 sentences ([.!?] marks).

    Gopher (Rae et al. 2021 table A1 subset): word count in [50, 100k],
    mean word length in [3, 10], >80% of words contain an alphabetic
    character, <=30% of lines end in an ellipsis, <=90% of lines start
    with a bullet, and at least 2 distinct marker stopwords present.

    Everything is a per-row array/regex expression — no shuffle, no
    UDF; line membership checks avoid '$' anchors entirely (Java regex
    '$' matches before a trailing newline, RE2 does not — last-char
    set membership is engine-exact).  Line endings are normalized
    first (CRLF and bare CR both become LF): real webtext — exactly
    what the WARC/WET source feeds this — is frequently CRLF, and an
    unstripped '\\r' tail would fail the terminal-punctuation check
    for every line of such a page."""
    text = F.regexp_replace(
        F.coalesce(F.col(text_col), F.lit("")), "\r\n?", "\n"
    )
    lines = F.filter(F.split(text, "\n"), lambda x: F.length(x) > 0)

    def n_ws_words(col: Column) -> Column:
        return F.size(F.filter(F.split(col, r"\s+"), lambda w: F.length(w) > 0))

    def last_char(col: Column) -> Column:
        return F.rtrim(col).substr(F.length(F.rtrim(col)), F.lit(1))

    kept = F.filter(
        lines,
        lambda x: last_char(x).isin(*TERMINAL_PUNCT)
        & (n_ws_words(x) >= 5)
        & ~F.lower(x).contains("javascript"),
    )
    csum = lambda arr: F.coalesce(  # noqa: E731
        F.aggregate(arr, F.lit(0).cast("long"), lambda a, x: a + F.length(x)),
        F.lit(0).cast("long"),
    )
    is_bullet = lambda x: F.ltrim(x).startswith(  # noqa: E731
        BULLET_PREFIXES[0]
    ) | F.ltrim(x).startswith(BULLET_PREFIXES[1]) | F.ltrim(x).startswith(
        BULLET_PREFIXES[2]
    )
    ends_ellipsis = lambda x: F.rtrim(x).endswith("...") | F.rtrim(  # noqa: E731
        x
    ).endswith("…")

    words = F.filter(F.split(text, r"\s+"), lambda w: F.length(w) > 0)
    toks = simple_tokens(text)

    base = df.select(
        F.col(id_col),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept_lines"),
        csum(lines).alias("_lchars"),
        csum(kept).alias("_kchars"),
        F.aggregate(
            kept, F.lit(0).cast("long"),
            lambda a, x: a + F.size(F.regexp_extract_all(x, F.lit("[.!?]"), 0)),
        ).alias("n_sentences"),
        F.lower(text).contains("lorem ipsum").alias("has_lorem"),
        text.contains("{").alias("has_brace"),
        F.size(F.filter(lines, is_bullet)).cast("long").alias("_nbullet"),
        F.size(F.filter(lines, ends_ellipsis)).cast("long").alias("_nellip"),
        F.size(words).cast("long").alias("n_words"),
        F.aggregate(
            words, F.lit(0).cast("long"), lambda a, w: a + F.length(w)
        ).alias("_wchars"),
        F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
        .cast("long").alias("_nalpha"),
        F.size(
            F.array_intersect(
                F.array_distinct(toks),
                F.array(*[F.lit(m) for m in EN_MARKERS]),
            )
        ).cast("long").alias("stop_distinct"),
    )
    frac = lambda num, den: F.round(  # noqa: E731
        F.when(den > 0, num * F.lit(1.0) / den).otherwise(F.lit(0.0)), 4
    )
    mean_wlen = frac(F.col("_wchars"), F.col("n_words"))
    alpha_frac = frac(F.col("_nalpha"), F.col("n_words"))
    bullet_frac = frac(F.col("_nbullet"), F.col("n_lines"))
    ellip_frac = frac(F.col("_nellip"), F.col("n_lines"))
    return base.select(
        F.col(id_col),
        "n_lines", "n_kept_lines",
        frac(F.col("_kchars"), F.col("_lchars")).alias("kept_char_frac"),
        "n_sentences", "has_lorem", "has_brace",
        bullet_frac.alias("bullet_line_frac"),
        ellip_frac.alias("ellipsis_line_frac"),
        "n_words",
        mean_wlen.alias("mean_word_len"),
        alpha_frac.alias("alpha_word_frac"),
        "stop_distinct",
        (
            ~F.col("has_lorem") & ~F.col("has_brace")
            & (F.col("n_sentences") >= 3)
        ).alias("c4_keep"),
        (
            (F.col("n_words") >= 50) & (F.col("n_words") <= 100000)
            & (mean_wlen >= 3.0) & (mean_wlen <= 10.0)
            & (alpha_frac > 0.8)
            & (ellip_frac <= 0.3)
            & (bullet_frac <= 0.9)
            & (F.col("stop_distinct") >= 2)
        ).alias("gopher_keep"),
    )


def zipf_fit(term_freqs: DataFrame, term_col: str = "term",
             freq_col: str = "cf") -> DataFrame:
    """Zipf rank-frequency diagnostic: least-squares fit of
    ``ln(freq) = intercept + slope * ln(rank)`` over the vocabulary
    ranked by (freq desc, term asc).

    Natural-language corpora fit slope ~ -1 (Zipf's law); spam, boiler-
    plate and template farms flatten or steepen the curve, so the slope
    is a one-number corpus-quality diagnostic — and the fitted line
    predicts vocabulary/posting-skew for index sizing (how heavy the
    heaviest term will be at 100x the corpus).

    Output: one row (n_terms, slope, intercept, r2), rounded to 6.
    Closed-form simple regression from five sum-aggregates — one window
    rank + one aggregate; the vocabulary is Heaps-law sublinear in
    corpus size, so this stays small even at web scale.
    """
    from pyspark.sql import Window

    w = Window.orderBy(F.col(freq_col).desc(), F.col(term_col).asc())
    xy = term_freqs.select(
        F.log(F.row_number().over(w).cast("double")).alias("x"),
        F.log(F.col(freq_col).cast("double")).alias("y"),
    )
    s = xy.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    varx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return s.select(
        F.col("n").cast("long").alias("n_terms"),
        F.round(cov / varx, 6).alias("slope"),
        F.round((F.col("sy") - (cov / varx) * F.col("sx")) / F.col("n"), 6)
        .alias("intercept"),
        F.round(cov * cov / (varx * vary), 6).alias("r2"),
    )


def heaps_fit(doc_terms: DataFrame, id_col: str = "doc_id",
              term_col: str = "term", max_log2: int = 40) -> DataFrame:
    """Heaps'-law vocabulary-growth diagnostic: least-squares fit of
    ``ln V(n) = ln K + beta * ln n`` where V(n) is the number of
    distinct terms seen in the first n documents (id-ordered).

    Natural text fits beta ~ 0.4-0.6 (Heaps' law); template/spam farms
    saturate early (low beta) and OCR noise or id-soup inflate it
    toward 1.  The fitted curve forecasts vocabulary — and therefore
    term-dictionary and term-stats size — at 100x the corpus, the
    companion number to zipf_fit's posting-skew forecast.

    V(n) is evaluated at power-of-two checkpoints only (log-spaced =
    uniform in regression x), so the fit input is <= max_log2 rows at
    ANY corpus size: per term, one first-seen min-aggregate, then each
    term contributes a row to every checkpoint >= its first ordinal via
    an array-literal filter + explode (<= 40 rows/term, map-side), one
    tiny groupBy.  No per-document running cumsum, no corpus-sized
    window.  Doc ordinals here come from a row_number for self-
    containment; at build scale, reuse the index's URL-ordered ordinal
    assignment (operators/index_build.py — the same two-shuffle
    machinery) as the `n` input.

    Output: one row (n_docs, vocab, beta, ln_k, r2), rounded to 6.
    """
    from pyspark.sql import Window

    docs = doc_terms.select(id_col).distinct()
    wd = Window.orderBy(F.col(id_col).asc())
    ords = docs.select(F.col(id_col), F.row_number().over(wd).alias("n"))
    first = (
        doc_terms.join(ords, id_col)
        .groupBy(term_col)
        .agg(F.min("n").alias("fn"))
    )
    cks = F.array(*[F.lit(2 ** k) for k in range(max_log2)])
    growth = (
        first.select(
            F.explode(
                F.filter(cks, lambda c: c >= F.col("fn"))
            ).alias("ck")
        )
        .groupBy("ck")
        .agg(F.count("*").cast("double").alias("v"))
        .join(
            ords.agg(F.max("n").alias("nd"), F.count("*").alias("n_docs")),
            F.col("ck") <= F.col("nd"),
        )
    )
    xy = growth.select(
        "n_docs",
        F.log(F.col("ck").cast("double")).alias("x"),
        F.log(F.col("v")).alias("y"),
    )
    s = xy.agg(
        F.max("n_docs").alias("n_docs"),
        F.count("*").cast("double").alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    vocab = first.agg(F.count("*").alias("vocab"))
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    varx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return s.crossJoin(vocab).select(
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("vocab").cast("long").alias("vocab"),
        F.round(cov / varx, 6).alias("beta"),
        F.round((F.col("sy") - (cov / varx) * F.col("sx")) / F.col("n"), 6)
        .alias("ln_k"),
        F.round(cov * cov / (varx * vary), 6).alias("r2"),
    )
