"""Deduplication operators for web-scale corpora.

The reference has no dedup (its md5-of-path doc_id only dedups identical
paths); a 10^12-doc Common-Crawl pipeline lives or dies on these.  Four
families, all shuffle-conscious:

- exact:        one groupBy on md5(text) — map-side partial aggregation,
                no pre-shuffle.
- MinHash+LSH:  shingle -> K minhashes -> B bands; candidate pairs come
                from a self-join on (band_id, band_key) — only docs
                sharing a band collide, so the join key space is tiny and
                skew-safe (vs the O(n^2) naive pair join).
- SimHash:      64-ish-bit signature via per-bit weighted majority;
                near-dup = small Hamming distance within buckets.
- n-gram Jaccard: exact verification on LSH candidates (or scoped pair
                sets) — the expensive exact check runs on candidates
                only, never all pairs.

MinHash here uses md5-based hash families (min of md5(seed || shingle))
— deterministic, engine-portable (the DuckDB oracle computes the exact
same bytes), and uniformly distributed.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from document_retrieval_system_spark.operators.textstats import (
    simple_tokens,
    word_ngrams,
)


def exact_duplicate_groups(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """Groups of byte-identical texts: (content_hash, n_dups, keep_id)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.count("*").alias("n_dups"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n_dups") > 1)
    )


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep the min-id row per identical text (deterministic survivor)."""
    w = F.row_number().over(
        Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col))
    )
    return df.withColumn("_rn", w).filter(F.col("_rn") == 1).drop("_rn")


def minhash_signatures(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                       n_hashes: int = 8, ngram: int = 3) -> DataFrame:
    """(id, minhash array) over word-ngram shingles.

    Hash family: Kirsch-Mitzenmacher h_j = h1 + j*h2 where h1/h2 are the
    two 48-bit halves of ONE md5 per shingle — r1 computed n_hashes md5s
    per shingle (md5 of the full shingle string each time), which
    dominated the whole dedup suite at sf0.1; this form is one md5 plus
    n_hashes integer ops (48-bit halves keep h1 + 15*h2 < 2^53, exact in
    BIGINT on both engines, no overflow semantics to match).

    Relational form on purpose: explode shingles once, then ONE groupBy
    with n_hashes min-aggregates.  (A nested array expression
    ``array(array_min(transform(...)) x 8)`` re-derives the shingle
    array per element — Catalyst does not CSE across array elements —
    which measured ~60x slower.)  Map-side partial mins make the shuffle
    tiny: n_hashes x 8 bytes per doc.
    """
    sh = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array_distinct(word_ngrams(simple_tokens(F.col(text_col)), ngram))
        ).alias("sh"),
    ).withColumn("_hh", F.md5("sh")).select(
        "id",
        F.conv(F.substring("_hh", 1, 12), 16, 10).cast("long").alias("h1"),
        F.conv(F.substring("_hh", 13, 12), 16, 10).cast("long").alias("h2"),
    )
    aggs = [
        F.min(F.col("h1") + F.lit(j) * F.col("h2")).alias(f"mh{j}")
        for j in range(n_hashes)
    ]
    sig = sh.groupBy("id").agg(F.count("*").alias("n_shingles"), *aggs)
    return sig.select(
        F.col("id").alias(id_col),
        "n_shingles",
        F.array(*[F.col(f"mh{j}") for j in range(n_hashes)]).alias("minhash"),
    )


def _cap_buckets(df: DataFrame, part_cols: list[str],
                 bucket_cap: int | None, observation=None) -> DataFrame:
    """Shared skew guard: drop ``part_cols`` buckets larger than
    ``bucket_cap``.  One degenerate bucket key (boilerplate / empty-ish
    docs, a hot fingerprint or gram) otherwise emits m^2 pairs into a
    single reducer at corpus scale.  Dropped buckets lose candidate
    recall only for keys so common they are boilerplate by definition;
    exact dedup still catches byte-identical members.

    NO SILENT CAPS: pass a ``pyspark.sql.Observation`` and the stage
    reports ``cap_dropped_rows`` / ``cap_total_rows`` via JVM-side
    observe metrics — a run whose cap actually bit is visible, not
    silently under-recalled.  The observed stage is then eagerly
    localCheckpoint'ed: the downstream self-join duplicates this
    subtree, and a duplicated CollectMetrics node reports garbage (0;
    under AQE's empty-relation propagation it crashes outright), so the
    metrics must be collected by exactly one execution.  Consequently
    ``observation.get`` is ready as soon as this function returns, and
    one Observation serves one call.

    An Observation with the cap DISABLED raises: no capped stage would
    ever attach the metrics node and ``observation.get`` would block
    forever waiting for it."""
    if bucket_cap is None:
        if observation is not None:
            raise ValueError(
                "observation requires bucket_cap: with the cap disabled no "
                "metrics node is attached and observation.get never returns"
            )
        return df
    w = Window.partitionBy(*part_cols)
    sized = df.withColumn("_bsz", F.count("*").over(w))
    if observation is not None:
        sized = sized.observe(
            observation,
            F.sum(F.when(F.col("_bsz") > F.lit(bucket_cap), 1).otherwise(0))
            .cast("long").alias("cap_dropped_rows"),
            F.count("*").alias("cap_total_rows"),
        )
    out = sized.filter(F.col("_bsz") <= F.lit(bucket_cap)).drop("_bsz")
    if observation is not None:
        out = out.localCheckpoint(eager=True)
    return out


def _cap_band_buckets(bands: DataFrame, bucket_cap: int | None,
                      observation=None) -> DataFrame:
    """LSH band-bucket skew guard — see `_cap_buckets`."""
    return _cap_buckets(bands, ["band_id", "band_key"], bucket_cap,
                        observation=observation)


def _banded_pairs(bands: DataFrame, bucket_cap: int | None,
                  observation=None) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing >= 1 (band_id, band_key)."""
    bands = _cap_band_buckets(bands, bucket_cap, observation=observation)
    # (r6 note: checkpointing the capped bands before the self-join was
    # tried and reverted — the duplicated l/r signature subtrees run as
    # independent stages of ONE job and overlap across cores, so the
    # materialization barrier cost more wall time than the duplicate
    # compute it removed.)
    left = bands.alias("l")
    right = bands.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )


def minhash_lsh_candidates(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text", n_hashes: int = 8,
                           band_size: int = 2, ngram: int = 3,
                           bucket_cap: int | None = 1000,
                           observation=None) -> DataFrame:
    """Candidate near-dup pairs (a < b) sharing at least one LSH band.

    ``observation``: optional ``pyspark.sql.Observation`` receiving the
    skew-cap's cap_dropped_rows / cap_total_rows (see _cap_band_buckets)."""
    sig = minhash_signatures(df, id_col, text_col, n_hashes, ngram)
    n_bands = n_hashes // band_size
    bands = sig.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.concat_ws(
                            "|",
                            *[F.element_at("minhash", b * band_size + j + 1)
                              for j in range(band_size)],
                        ).alias("band_key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select("id", "band.band_id", "band.band_key")
    return _banded_pairs(bands, bucket_cap, observation=observation)


def jaccard_verify_pairs(df: DataFrame, candidates: DataFrame,
                         id_col: str = "doc_id", text_col: str = "text",
                         ngram: int = 3, threshold: float = 0.6) -> DataFrame:
    """Exact word-ngram Jaccard restricted to candidate (id_a, id_b) pairs.

    Scale shape: per-doc distinct shingle arrays join onto the candidate
    list by id (two linear equi-joins keyed on doc id — broadcastable when
    candidates are few), then ``array_intersect`` computes |A ∩ B| per
    pair in one pass.  Cost is O(|candidates| * doc_len), never O(n^2):
    the expensive exact check runs only on pairs an LSH pass surfaced.
    """
    # (r6 note: a candidate-doc semi-join prefilter before the shingling
    # was tried and reverted — on the bench corpus nearly every doc
    # appears in some candidate pair, so the prefilter's id-set
    # aggregation and per-side semi-join cost more than the tokenize
    # they saved.  The gram sides broadcast either way, so the pair
    # stream never re-shuffles the arrays.)
    grams = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(
            word_ngrams(simple_tokens(F.col(text_col)), ngram)
        ).alias("grams"),
    ).filter(F.size("grams") > 0)
    ga = grams.select(
        F.col("id").alias("id_a"), F.col("grams").alias("ga"),
        F.size("grams").alias("n_a"),
    )
    gb = grams.select(
        F.col("id").alias("id_b"), F.col("grams").alias("gb"),
        F.size("grams").alias("n_b"),
    )
    common = F.size(F.array_intersect("ga", "gb"))
    # Size-only admission bound (r6, lossless): |A∩B| <= min(|A|,|B|)
    # and |A∪B| >= max(|A|,|B|), so jaccard <= min/max.  A candidate
    # pair whose size ratio cannot reach the threshold skips the
    # per-pair set intersection entirely — on mixed-length corpora
    # that is a large fraction of the (quadratic-ish) candidate
    # stream, at the cost of two longs already in hand.  The 1e-6
    # slack keeps any pair whose 6-dp-rounded jaccard could still tie
    # the threshold, so the surviving set is exactly the old one.
    admissible = (
        F.least("n_a", "n_b").cast("double")
        >= (F.lit(float(threshold)) - F.lit(1e-6))
        * F.greatest("n_a", "n_b").cast("double")
    )
    return (
        candidates.join(ga, "id_a").join(gb, "id_b")
        .filter(admissible)
        .withColumn("common", common)
        .withColumn(
            "jaccard",
            F.round(F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def lsh_jaccard_pairs(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                      ngram: int = 3, threshold: float = 0.6,
                      n_hashes: int = 16, band_size: int = 2,
                      bucket_cap: int | None = 1000,
                      observation=None) -> DataFrame:
    """Scale-safe near-dup pipeline: MinHash-LSH candidates -> exact
    Jaccard verify on candidates only.  The only pair source is the
    banded equi-join (skew-capped); no raw shingle self-join appears in
    the plan.  16 hashes / 8 bands of 2 keeps candidate recall at
    J=0.6 above 97% (miss = (1 - 0.6^2)^8 ≈ 2.8e-2 per pair)."""
    cand = minhash_lsh_candidates(
        df, id_col, text_col, n_hashes=n_hashes, band_size=band_size,
        ngram=ngram, bucket_cap=bucket_cap, observation=observation,
    )
    return jaccard_verify_pairs(df, cand, id_col, text_col, ngram, threshold)


def ngram_jaccard_pairs(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                        ngram: int = 3, threshold: float = 0.6,
                        prune_unique_shingles: bool = False) -> DataFrame:
    """Exact all-pairs Jaccard via shingle self-join — O(sum df(sh)^2):
    verification / tiny-corpus tool ONLY.  Production path is
    ``lsh_jaccard_pairs`` (candidates -> verify); this stays as the
    recall oracle for its tests.  ``prune_unique_shingles`` drops df=1
    shingles before the join (they cannot form pairs) — worth its two
    extra shuffles only when the join's output would otherwise explode
    (heavily duplicated corpora); measured slower on mostly-unique
    corpora."""
    shingled = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(word_ngrams(simple_tokens(F.col(text_col)), ngram))).alias("sh"),
    )
    sizes = shingled.groupBy("id").agg(F.count("*").alias("n"))
    pair_src = shingled
    if prune_unique_shingles:
        shared = shingled.groupBy("sh").count().filter(F.col("count") > 1).select("sh")
        pair_src = shingled.join(shared, "sh", "left_semi")
    common = (
        pair_src.alias("a")
        .join(pair_src.alias("b"), (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("common"))
    )
    return (
        common.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n", "n_b"), "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
            bits: int = 32) -> DataFrame:
    """SimHash signature as a bit string (MSB first).

    Per token: take `bits` bits from md5(token); per bit position,
    weighted (by tf) majority vote over tokens.  Pure SQL expressions so
    the DuckDB oracle reproduces it bit-for-bit.  bits<=32 keeps the
    packed hash value within an exact BIGINT.

    Shape (r3): the per-(doc, term) hash packs into ONE integer column
    and the per-bit votes become `bits` integer-shift sum-aggregates —
    vote(b) = 2*sum(tf * bit_b) - sum(tf).  r2 exploded 32 (id, term,
    bit) rows per distinct term through a groupBy: correct and linear,
    but ~32x the shuffle volume of this form (partial aggregation here
    ships `bits`+1 longs per doc, not 32 rows per posting).

    Shape (r6): the intermediate (id, tok) tf groupBy is gone — summing
    tf * bit_b over DISTINCT terms equals summing bit_b over every token
    OCCURRENCE (and sum(tf) == count of occurrences), so the votes come
    from ONE groupBy(id) whose map-side partial aggregation collapses
    each doc to a single row before any shuffle (a doc's exploded
    tokens stay in its partition).  One full (id, tok) exchange removed;
    identical integer output."""
    n_hex = bits // 4
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(simple_tokens(F.col(text_col))).alias("tok"),
    )
    # hv: the first n_hex md5 hex digits as an integer — bit b (MSB
    # first) of the signature input is (hv >> (bits-1-b)) & 1, exactly
    # the r2 per-hex-digit decomposition
    packed = toks.withColumn(
        "hv", F.conv(F.substring(F.md5(F.col("tok")), 1, n_hex), 16, 10).cast("long")
    )
    aggs = [
        F.sum(
            F.shiftright(F.col("hv"), bits - 1 - b).bitwiseAND(F.lit(1))
        ).alias(f"s{b}")
        for b in range(bits)
    ]
    votes = packed.groupBy("id").agg(F.count("*").alias("tot"), *aggs)
    chars = [
        F.when(2 * F.col(f"s{b}") - F.col("tot") > 0, F.lit("1")).otherwise(F.lit("0"))
        for b in range(bits)
    ]
    return votes.select(
        F.col("id").alias(id_col), F.concat(*chars).alias("simhash_bits")
    )


def simhash_neardup_pairs(df: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text", bits: int = 32,
                          max_hamming: int = 3, n_bands: int | None = None,
                          bucket_cap: int | None = 1000,
                          observation=None) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming.

    Pigeonhole banding: the signature splits into n_bands (default
    max_hamming + 1) contiguous substrings; a pair within Hamming
    distance max_hamming differs in at most max_hamming bands, so it
    agrees EXACTLY on >= 1 band — the banded equi-join is lossless for
    the target radius while avoiding the O(n^2) pair join.  Exact
    Hamming verify then runs on candidates only.

    ``bits`` is at most 63: the verify packs a signature into a signed
    long, and a 64-bit signature with its top bit set would overflow to
    NULL and silently drop every pair it belongs to.
    """
    if bits > 63:
        raise ValueError(f"simhash_neardup_pairs: bits={bits} exceeds 63, "
                         "the width of the packed-long Hamming verify")
    if n_bands is None:
        n_bands = max_hamming + 1
    sig = simhash(df, id_col, text_col, bits).withColumnRenamed(id_col, "id")
    base, rem = divmod(bits, n_bands)
    starts, lens, s = [], [], 1
    for b in range(n_bands):
        length = base + (1 if b < rem else 0)
        starts.append(s)
        lens.append(length)
        s += length
    # r6 shape: the packed signature value rides along through the band
    # explode, so the verify needs NO join back onto the signature table
    # (two exchanges removed), and Hamming distance is one codegen'd
    # bit_count(xor) over packed longs instead of an interpreted
    # split/zip_with over 32 one-char strings.  Exact for bits <= 63
    # (enforced above); identical counts to the per-character comparison
    # by construction.
    bands = sig.select(
        "id",
        F.conv("simhash_bits", 2, 10).cast("long").alias("sv"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.substring("simhash_bits", starts[b], lens[b]).alias("band_key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select("id", "sv", "band.band_id", "band.band_key")
    bands = _cap_band_buckets(bands, bucket_cap, observation=observation)
    left = bands.alias("l")
    right = bands.alias("r")
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).cast("long")
    return (
        left.join(
            right,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"),
                F.col("l.sv").alias("sa"), F.col("r.sv").alias("sb"))
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


def embedding_neardup_pairs_exact(emb: DataFrame, id_col: str = "vec_id",
                                  vec_col: str = "embedding",
                                  threshold: float = 0.95) -> DataFrame:
    """Brute-force embedding-cosine pairs (a < b, cosine >= threshold).

    O(n^2) pair join — recall oracle for tests / tiny inputs ONLY; the
    production path is ``embedding_neardup_pairs`` (LSH-banded).
    """
    def norm(c):
        return F.sqrt(F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x))

    a = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x.cast("double") * y),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    cos = dot / (norm(F.col("va")) * norm(F.col("vb")))
    return (
        pairs.withColumn("cosine", F.round(cos, 6))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def embedding_neardup_pairs(emb: DataFrame, id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            threshold: float = 0.95, sig_bits: int = 16,
                            band_size: int = 2, seed: int = 7,
                            bucket_cap: int | None = 1000,
                            observation=None) -> DataFrame:
    """Embedding-cosine near-dup pairs, LSH-banded (the scale path).

    Random-hyperplane signature (deterministic, seeded) -> banded
    equi-join candidates (skew-capped) -> exact cosine verify on the
    candidates only.  With 8 bands of 2 bits, a cosine-0.9 pair
    (angle ≈ 25.8°, per-bit agreement ≈ 0.857) is missed with
    probability (1 - 0.857^2)^8 ≈ 2e-5; everything surfaced is then
    exactly verified, so precision is 1.0.

    The dimension is the length of the first non-null vector.  Rows
    whose vector is null, has another length, or holds a null or NaN
    element have no cosine and take part in no pair: they are dropped
    before the signature.
    """
    from document_retrieval_system_spark.operators.similarity import (
        hyperplanes,
    )

    vec = F.col(vec_col)
    row = emb.select(vec_col).where(vec.isNotNull()).head()
    if row is None:  # no vector: no pairs (and no dim to derive)
        return emb.select(
            F.col(id_col).alias("id_a"), F.col(id_col).alias("id_b"),
            F.lit(0.0).alias("cosine"),
        ).limit(0)
    dim = len(row[0])
    emb = emb.where(vec.isNotNull() & (F.size(vec) == dim)
                    & ~F.exists(vec, lambda x: x.isNull() | F.isnan(x)))
    planes = hyperplanes(dim, sig_bits, seed)

    # (id, vec, sig, nrm) MATERIALIZED before the band explode: the
    # signature used to be a per-plane HOF fold chain — interpreted,
    # measured 31 s of this operator's 41 s at sf1.0 — and evaluating
    # it under a Generate node (or once per downstream consumer) would
    # re-run it per consumer.  r6 computes signature AND L2 norm in one
    # vectorized Arrow UDF (guide §4.2) whose accumulation loop runs in
    # the same element order as the former fold, so every double is
    # bit-identical: products are IEEE-exact elementwise, the j-loop
    # accumulates left-to-right exactly like aggregate(zip_with(...)),
    # and sqrt is correctly rounded on both sides.  Storing the norm
    # also means the verify pays one norm per VECTOR, not two folds per
    # candidate pair (dot/(na*nb) with the same norm value is the same
    # float as the former per-pair norm product).
    pl = np.ascontiguousarray(planes, dtype=np.float64)

    @F.pandas_udf("struct<sig:string, nrm:double>")
    def _sig_nrm(vecs: pd.Series) -> pd.DataFrame:
        if len(vecs) == 0:
            return pd.DataFrame({"sig": [], "nrm": []})
        v = np.vstack([np.asarray(x, dtype=np.float64) for x in vecs])
        acc = np.zeros((v.shape[0], pl.shape[0]))
        nrm2 = np.zeros(v.shape[0])
        for j in range(pl.shape[1]):
            col = v[:, j]
            acc += col[:, None] * pl[:, j][None, :]
            nrm2 += col * col
        bits = np.where(acc >= 0, "1", "0")
        return pd.DataFrame({
            "sig": ["".join(r) for r in bits],
            "nrm": np.sqrt(nrm2),
        })

    base = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        _sig_nrm(F.col(vec_col).cast("array<double>")).alias("_sn"),
    ).select(
        "id", "vec", F.col("_sn.sig").alias("sig"), F.col("_sn.nrm").alias("nrm")
    ).localCheckpoint(eager=True)
    n_bands = sig_bits // band_size
    bands = base.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.substring("sig", b * band_size + 1, band_size).alias("band_key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select("id", "band.band_id", "band.band_key")
    cand = _banded_pairs(bands, bucket_cap, observation=observation)
    va = base.select(F.col("id").alias("id_a"),
                     F.col("vec").cast("array<double>").alias("va"),
                     F.col("nrm").alias("na"))
    vb = base.select(F.col("id").alias("id_b"),
                     F.col("vec").cast("array<double>").alias("vb"),
                     F.col("nrm").alias("nb"))

    # per-pair dot product, vectorized with the same left-to-right
    # accumulation as the former aggregate(zip_with(...)) fold — the
    # doubles are bit-identical, just ~100x less per-element overhead
    # on the millions of candidate pairs
    @F.pandas_udf("double")
    def _pair_dot(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series([], dtype=np.float64)
        va_m = np.vstack([np.asarray(x, dtype=np.float64) for x in a])
        vb_m = np.vstack([np.asarray(x, dtype=np.float64) for x in b])
        acc = np.zeros(va_m.shape[0])
        for j in range(va_m.shape[1]):
            acc += va_m[:, j] * vb_m[:, j]
        return pd.Series(acc)

    cos = _pair_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        cand.join(va, "id_a").join(vb, "id_b")
        .withColumn("cosine", F.round(cos, 6))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def winnow_overlap_pairs(df: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text", k: int = 8,
                         window: int = 16, min_shared: int = 20,
                         bucket_cap: int | None = 64,
                         observation=None) -> DataFrame:
    """MOSS-style near-dup pairs by shared winnowing fingerprints:
    (id_a < id_b, n_shared) for pairs sharing >= ``min_shared`` winnowed
    char-k-gram hashes (textstats.winnowed_sets).

    Winnowing guarantees any shared substring of length >= window+k-1
    contributes at least one shared fingerprint, so this catches LOCAL
    plagiarism/boilerplate overlap that whole-doc MinHash dilutes away —
    the complementary member of the dedup family.

    Scale shape: identical to the LSH-banded ops — fingerprints are a
    sparse sketch (~2/(window+1) per char), the self-join key is one
    fingerprint value, and hot fingerprints (site-wide boilerplate) are
    CAPPED at ``bucket_cap`` docs before the join so one degenerate hash
    can never emit m^2 pairs into a reducer; the pair aggregation is a
    single map-side-combined groupBy."""
    from document_retrieval_system_spark.operators.textstats import (
        winnowed_sets,
    )

    # EAGER materialization before the explode is load-bearing: the
    # winnow chain is a stack of higher-order-function projections, and
    # evaluating it under the Generate node runs it interpreted /
    # re-evaluated per emitted fingerprint — measured 270 s vs 1.4 s for
    # the whole operator at sf0.1 (a repartition() exchange does NOT
    # break the pathology; only materializing the sketch does).  The
    # sketch is ~2/(window+1) longs per char, so storing it is cheap at
    # any scale; swap for checkpoint()/a parquet stage on a cluster.
    sets = winnowed_sets(df, id_col=id_col, text_col=text_col, k=k,
                         window=window).localCheckpoint(eager=True)
    fps = sets.select(F.col(id_col).alias("id"), F.explode("fps").alias("fp"))
    fps = _cap_buckets(fps, ["fp"], bucket_cap, observation=observation)
    left = fps.alias("l")
    right = fps.alias("r")
    return (
        left.join(right, (F.col("l.fp") == F.col("r.fp"))
                  & (F.col("l.id") < F.col("r.id")))
        .groupBy(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= F.lit(min_shared))
    )


def exact_overlap_spans(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", min_len: int = 48,
                        k: int = 16, bucket_cap: int | None = None,
                        observation=None) -> DataFrame:
    """EXACT substring dedup with span output: every maximal exact
    common substring of length >= ``min_len`` between two documents,
    as (id_a < id_b, a_start, b_start, match_len) with 1-based char
    offsets into the lowercased texts.

    Suffix-array-style dedup (Lee et al. '22) re-expressed relationally
    — no per-pair UDF, no pairwise pre-enumeration:

    1. Each doc emits its char-k-grams keyed by the LITERAL k-char
       substring (no hash, no collisions).
    2. A single self-equi-join on the gram string (id_a < id_b) yields
       all matched gram positions; cost is sum(d_g^2) over gram
       buckets — bounded, because k-char grams are far more selective
       than the words/shingles other dedup ops bucket on (hottest
       16-gram at sf0.1: 314 occurrences; join output 12.8M rows).
       A pairs-first variant (winnow candidates, then per-pair gram
       join) measured 357 s at sf0.1 versus ~12 s for this shape: with
       min_len-grade seeds the candidate fan-out P x doc_len dwarfs
       the bucket join it was meant to avoid.
    3. Maximal runs of consecutive matches along each alignment
       diagonal (pa - pb) via the islands trick: run_id = pa -
       row_number() within (pair, diag).  A run of m consecutive
       matching k-grams is exactly a maximal common substring of
       length m + k - 1: every char in the span is covered by some
       matching gram, and a longer match would extend the run.

    ``bucket_cap`` guards the d^2 term against degenerate corpora
    (site-wide boilerplate repeated across millions of pages): gram
    buckets hotter than the cap are dropped BEFORE the join.  Capping
    can split or drop spans built from ultra-common grams, so it is
    off by default and — NO SILENT CAPS — reports
    cap_dropped_rows / cap_total_rows through ``observation``
    (see _cap_band_buckets; the observed stage is eagerly
    checkpointed, metrics ready on return)."""
    assert k <= min_len, "k-gram width must not exceed min_len"
    docs = df.select(
        F.col(id_col).alias("id"),
        F.lower(F.coalesce(F.col(text_col), F.lit(""))).alias("_t"),
    )
    npos = F.length("_t") - (k - 1)
    grams = docs.select(
        "id", "_t",
        F.explode(
            F.when(npos >= 1, F.sequence(F.lit(1), npos))
            .otherwise(F.expr("array()").cast("array<int>"))
        ).alias("pos"),
    ).select("id", "pos", F.expr(f"substring(_t, pos, {k})").alias("g"))
    grams = _cap_buckets(grams, ["g"], bucket_cap, observation=observation)
    # Shared-gram prefilter (guide §2.3/§3.2): a gram occurring in only
    # ONE document can never satisfy the id_a < id_b join, and on real
    # corpora almost every k-char gram is unique — so the expensive
    # literal-string self-join only needs the tiny shared subset.  The
    # membership test runs on an 8-byte xxhash64 of the gram (min!=max
    # of doc ids per hash — a cheap partially-aggregated proxy for
    # "two distinct docs"); hash collisions only ADD survivors, never
    # drop one, and the string equi-join downstream remains the exact
    # arbiter, so the span output is byte-identical.  The semi-join
    # build side is small whenever dedup is meaningful and AQE turns it
    # into a broadcast; degenerate corpora fall back to a shuffled
    # semi-join of 8-byte keys — still far cheaper than the unfiltered
    # d^2 string join.
    shared = (
        grams.select(F.xxhash64("g").alias("_gh"), F.col("id"))
        .groupBy("_gh")
        .agg(F.min("id").alias("_i0"), F.max("id").alias("_i1"))
        .filter(F.col("_i0") != F.col("_i1"))
        .select("_gh")
    )
    # The surviving grams are MATERIALIZED once: the self-join consumes
    # the subtree twice (l/r aliases do not share exchanges), and
    # without the checkpoint each side would rebuild the gram explode,
    # the shared-hash aggregate, and the semi-join — measured slower
    # than no prefilter at all.  The checkpoint is bounded by the gram
    # table and is tiny on real corpora (shared grams only); on a
    # cluster the same role is played by writing the filtered side out
    # once (guide §8).
    grams = (
        grams.withColumn("_gh", F.xxhash64("g"))
        .join(shared, "_gh", "left_semi")
        .drop("_gh")
        .localCheckpoint(eager=True)
    )
    ga = grams.alias("l")
    gb = grams.alias("r")
    m = ga.join(gb, (F.col("l.g") == F.col("r.g"))
                & (F.col("l.id") < F.col("r.id"))).select(
        F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"),
        F.col("l.pos").alias("pa"), F.col("r.pos").alias("pb"),
    )
    w = Window.partitionBy("id_a", "id_b", "_diag").orderBy("pa")
    runs = (
        m.withColumn("_diag", F.col("pa") - F.col("pb"))
        .withColumn("_run", F.col("pa") - F.row_number().over(w))
    )
    return (
        runs.groupBy("id_a", "id_b", "_diag", "_run")
        .agg(F.min("pa").alias("a_start"), F.min("pb").alias("b_start"),
             (F.max("pa") - F.min("pa") + k).cast("long").alias("match_len"))
        .filter(F.col("match_len") >= F.lit(min_len))
        .select("id_a", "id_b",
                F.col("a_start").cast("long").alias("a_start"),
                F.col("b_start").cast("long").alias("b_start"), "match_len")
    )


def span_removal_decisions(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text", min_len: int = 48,
                           k: int = 16, bucket_cap: int | None = None,
                           spans: DataFrame | None = None) -> DataFrame:
    """The decision layer over `exact_overlap_spans` (Lee et al. '22
    dedup removes all-but-one occurrence of every duplicated passage):
    per document, the MERGED character ranges to delete and the
    resulting keep fraction.

    Policy: for every shared span (id_a < id_b) the lower-id document
    keeps its copy; the higher-id side schedules its [b_start,
    b_start + match_len) range for removal.  A document's ranges from
    different partners may overlap, so they are merged with the
    classic gaps-and-islands window (running max of range end over
    preceding rows; a new island starts where start > that max) — one
    window + one groupBy per doc, no UDF, engine-exact integers.

    Output: (doc_id, n_ranges, removed_chars, total_chars, keep_frac)
    for every document that loses at least one range."""
    if spans is None:
        spans = exact_overlap_spans(df, id_col, text_col, min_len, k,
                                    bucket_cap)
    iv = spans.select(
        F.col("id_b").alias("doc_id"),
        F.col("b_start").alias("s"),
        (F.col("b_start") + F.col("match_len")).alias("e"),
    )
    w = Window.partitionBy("doc_id").orderBy("s", "e")
    prev_max_e = F.max("e").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    iv = iv.withColumn(
        "_new", F.when(prev_max_e.isNull() | (F.col("s") > prev_max_e), 1)
        .otherwise(0),
    ).withColumn(
        "_grp", F.sum("_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    merged = iv.groupBy("doc_id", "_grp").agg(
        F.min("s").alias("ms"), F.max("e").alias("me"),
    )
    per_doc = merged.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_ranges"),
        F.sum(F.col("me") - F.col("ms")).cast("long").alias("removed_chars"),
    )
    totals = df.select(
        F.col(id_col).alias("doc_id"),
        F.length(F.lower(F.coalesce(F.col(text_col), F.lit(""))))
        .cast("long").alias("total_chars"),
    )
    return (
        per_doc.join(totals, "doc_id")
        .select(
            "doc_id", "n_ranges", "removed_chars", "total_chars",
            F.when(F.col("total_chars") == 0, F.lit(0.0)).otherwise(
                F.lit(1.0) - F.col("removed_chars").cast("double")
                / F.col("total_chars").cast("double")
            ).alias("keep_frac"),
        )
    )


def paragraph_duplicate_groups(df: DataFrame, id_col: str = "doc_id",
                               text_col: str = "text",
                               min_len: int = 20) -> DataFrame:
    """Paragraph-level exact dedup: split each document at newlines,
    trim, drop short fragments (< `min_len` chars), and group identical
    paragraphs that appear in >= 2 distinct documents.  Output one row
    per duplicated paragraph: (para_hash, keep_id = min doc, n_docs,
    n_occur).

    The boilerplate-paragraph pass of a webtext pipeline (nav menus,
    cookie banners, copyright footers recur across a site's every page);
    the groups drive either paragraph removal or doc-level boilerplate
    scoring.  Scale shape: one explode + one hash groupBy with map-side
    partial aggregation — the same single-shuffle plan as exact doc
    dedup, keyed on md5(paragraph) so shuffle keys stay 32 bytes no
    matter how long the paragraph is."""
    paras = df.select(
        F.col(id_col),
        F.explode(
            F.filter(
                F.transform(F.split(F.coalesce(F.col(text_col), F.lit("")), "\n"),
                            lambda x: F.trim(x)),
                lambda x: F.length(x) >= min_len,
            )
        ).alias("para"),
    )
    return (
        paras.groupBy(F.md5(F.col("para")).alias("para_hash"))
        .agg(
            F.min(F.col(id_col)).alias("keep_id"),
            F.countDistinct(F.col(id_col)).alias("n_docs"),
            F.count("*").cast("long").alias("n_occur"),
        )
        .filter(F.col("n_docs") >= 2)
    )
