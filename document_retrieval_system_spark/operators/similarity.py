"""Approximate-nearest-neighbor search over an embedding column.

Two paths, same contract (top-k by cosine, ties by id):

- ``cosine_topk``: brute-force exact baseline.  The query vector ships as
  a literal array; dot/norm are higher-order-function expressions (JVM,
  codegen) — a single map + TakeOrderedAndProject, no shuffle beyond the
  final top-k, scales linearly and is the correctness oracle for the
  bucketed path.
- ``lsh_topk``: random-hyperplane LSH.  Signatures are deterministic
  (numpy PCG64 seeded), shipped as literal hyperplanes; candidates =
  vectors whose signature matches the query's in >= (sig_bits - probe)
  bits (multi-probe by Hamming radius), then exact cosine on candidates
  only.  At 10^12 scale the signature becomes a partition/bucket key so
  a query touches only matching buckets (partition pruning), instead of
  scanning every vector.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from document_retrieval_system_spark.operators.index_build import (
    overwrite_partitions,
    write_table,
)


def _lit_array(values) -> "F.Column":
    """A literal double array as ONE parsed expression.  Building it from
    per-element ``F.lit`` calls costs a py4j round trip per element —
    measured 5.5 s of pure driver-side plan construction for a 64x64
    hyperplane set; one ``F.expr`` string is milliseconds."""
    return F.expr("array(" + ",".join(repr(float(x)) for x in values) + ")")


def _lit_matrix(rows) -> "F.Column":
    return F.expr(
        "array(" + ",".join(
            "array(" + ",".join(repr(float(x)) for x in r) + ")" for r in rows
        ) + ")"
    )


def _dot(vec_col, query: list[float]):
    return F.aggregate(
        F.zip_with(vec_col, _lit_array(query), lambda x, y: x.cast("double") * y),
        F.lit(0.0), lambda acc, x: acc + x,
    )


def _norm(vec_col):
    return F.sqrt(
        F.aggregate(vec_col, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x)
    )


def cosine_scores(emb: DataFrame, query: list[float], id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    qnorm = float(np.sqrt(np.sum(np.asarray(query, dtype=np.float64) ** 2)))
    cos = _dot(F.col(vec_col), query) / (_norm(F.col(vec_col)) * F.lit(qnorm))
    return emb.select(F.col(id_col), F.round(cos, 6).alias("cosine"))


def cosine_topk(emb: DataFrame, query: list[float], k: int = 10,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    return (
        cosine_scores(emb, query, id_col, vec_col)
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def hyperplanes(dim: int, sig_bits: int = 16, seed: int = 7) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((sig_bits, dim))


def lsh_signature_col(vec_col, planes: np.ndarray):
    """Bit-string signature: sign of dot(vec, plane) per hyperplane.

    The plane matrix ships as one parsed literal and the per-plane loop
    is a ``transform`` HOF — same per-plane ordered fold (bit-identical
    arithmetic to the former per-plane expression list), but the plan
    builds in milliseconds instead of one py4j call per matrix element.
    The transform input is the literal matrix, so the no-CSE HOF trap
    (re-evaluating a captured expression per element) does not apply."""
    bits = F.transform(
        _lit_matrix(planes),
        lambda p: F.when(
            F.aggregate(
                F.zip_with(vec_col, p, lambda x, y: x.cast("double") * y),
                F.lit(0.0), lambda acc, x: acc + x,
            ) >= 0,
            F.lit("1"),
        ).otherwise(F.lit("0")),
    )
    return F.concat_ws("", bits)


def query_signature(query: list[float], planes: np.ndarray) -> str:
    q = np.asarray(query, dtype=np.float64)
    return "".join("1" if planes[i] @ q >= 0 else "0" for i in range(len(planes)))


def hamming_ball(prefix: str, radius: int) -> list[str]:
    """All bit strings within Hamming distance `radius` of `prefix`
    (multi-probe bucket enumeration; |ball| = sum_{i<=r} C(n, i))."""
    from itertools import combinations

    out = []
    for r in range(radius + 1):
        for pos in combinations(range(len(prefix)), r):
            s = list(prefix)
            for p in pos:
                s[p] = "1" if s[p] == "0" else "0"
            out.append("".join(s))
    return out


# Partition values are prefixed with a letter so Spark's partition-column
# type inference can never read "010110" back as the integer 10110
# (dropping leading zeros): with a bare bit-string value the isin pruning
# filter works only as long as every key has the same width, and breaks
# silently past 18 bucket bits (int64 range) or under mixed-width keys.
_BUCKET_TAG = "b"


def bucket_value(prefix: str) -> str:
    return _BUCKET_TAG + prefix


def probe_buckets(q_sig: str, bucket_bits: int, radius: int) -> list[str]:
    """The (tagged) partition values a multi-probe query may touch."""
    return [bucket_value(p)
            for p in hamming_ball(q_sig[:bucket_bits], min(radius, bucket_bits))]


def build_lsh_index(emb: DataFrame, index_dir: str, sig_bits: int = 16,
                    bucket_bits: int = 8, seed: int = 7,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    dim: int | None = None) -> None:
    """Persist embeddings partitioned by the signature's bucket_bits-bit
    prefix — the signature becomes a physical partition key, so a query
    reads only its multi-probe buckets (partition pruning at the scan),
    never the full table.  The full signature is stored as a column for
    the cheap string-Hamming refine before any dot product runs.

    ``dim``: pass the embedding dimensionality to avoid the one-row probe
    job (a Spark action inside plan construction)."""
    if dim is None:
        row = emb.select(vec_col).head()
        if row is None:
            raise ValueError(
                "build_lsh_index: empty input and no dim given — pass dim="
            )
        dim = len(row[0])
    planes = hyperplanes(dim, sig_bits, seed)
    write_table(
        emb.withColumn("sig", lsh_signature_col(F.col(vec_col), planes))
        .withColumn("bucket", F.concat(F.lit(_BUCKET_TAG), F.substring("sig", 1, bucket_bits)))
        .write, index_dir, "bucket")


def lsh_index_topk(spark, index_dir: str, query: list[float], k: int = 10,
                   sig_bits: int = 16, bucket_bits: int = 8,
                   hamming_probe: int = 3, seed: int = 7,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   pre_filter=None) -> DataFrame:
    """ANN over a persisted LSH-bucketed index.

    1. bucket pruning: sig(q)'s prefix ± hamming_probe bits enumerates
       the only partitions that can hold a candidate (full-sig Hamming
       <= probe implies prefix Hamming <= probe) — the scan never
       touches other buckets;
    2. signature refine: stored-string Hamming vs sig(q) (no FP math);
    3. exact cosine re-rank on the survivors only.
    """
    planes = hyperplanes(len(query), sig_bits, seed)
    q_sig = query_signature(query, planes)
    buckets = probe_buckets(q_sig, bucket_bits, hamming_probe)
    df = spark.read.parquet(index_dir).filter(F.col("bucket").isin(buckets))
    if pre_filter is not None:
        df = df.filter(pre_filter)
    ham = sum(
        F.when(F.substring("sig", i + 1, 1) == q_sig[i], 0).otherwise(1)
        for i in range(sig_bits)
    )
    candidates = df.filter(ham <= hamming_probe)
    return (
        cosine_scores(candidates, query, id_col, vec_col)
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the centroid-bucketed scale path
# ---------------------------------------------------------------------------

def _md5_ranked_sample(emb: DataFrame, seed: int, sample: int,
                       vec_col: str, id_col: str) -> np.ndarray:
    """Deterministic sample as float64 matrix: rows ranked by
    md5(id || seed), the first ``sample`` taken — a bare ``limit()``
    depends on partition/file order, which repartitioning silently
    changes.  Cost is one bounded top-k sort (TakeOrderedAndProject).
    `md5_ranked_table` is the same ranking read driver-side."""
    rows = (
        emb.select(
            F.col(vec_col),
            F.md5(F.concat(F.col(id_col).cast("string"), F.lit(str(seed)))).alias("_h"),
        )
        .orderBy("_h")
        .limit(sample)
        .collect()
    )
    return np.asarray([r[0] for r in rows], dtype=np.float64)


def md5_ranked_table(path: str, id_col: str, columns: list[str],
                     salt: int | str, n: int | None = None):
    """Driver-side twin of `_md5_ranked_sample` for a parquet file: the
    rows read with pyarrow (no SparkSession), ordered by md5(id || salt),
    the first ``n`` (all when None).  Every data-fitted model of the
    entry family samples through this, so the Spark builder and the
    call-time oracle SQL see identical rows."""
    import hashlib

    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=[id_col, *columns])
    ids = t.column(id_col).to_pylist()
    order = sorted(range(len(ids)),
                   key=lambda i: hashlib.md5(f"{ids[i]}{salt}".encode()).hexdigest())
    return t.take(order[:n])


def _nearest(x: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """Row index of each sample row's nearest centroid (ties to the lower
    index — numpy argmin's first-index rule)."""
    return ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)


def fit_centroids(x: np.ndarray, k: int, iters: int,
                  rng: np.random.Generator) -> np.ndarray:
    """The ONE Lloyd k-means fit: ``k`` initial rows drawn by one
    ``rng.choice``, then a fixed number of float64 assign/update rounds
    (an empty cell keeps its centroid).  IVF centroids and every PQ
    subspace codebook — Spark-sampled or pyarrow-sampled — fit here, so
    the engines that must agree bit-for-bit cannot diverge."""
    cents = x[rng.choice(len(x), size=min(k, len(x)), replace=False)]
    for _ in range(iters):
        assign = _nearest(x, cents)
        for c in range(len(cents)):
            m = assign == c
            if m.any():
                cents[c] = x[m].mean(axis=0)
    return cents


def ivf_residuals(x: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """Each sample row minus its nearest IVF centroid (the IVF-PQ fit
    input)."""
    return x - cents[_nearest(x, cents)]


def ivf_centroids(emb: DataFrame, n_clusters: int = 16, iters: int = 10,
                  seed: int = 7, sample: int = 100_000,
                  vec_col: str = "embedding", id_col: str = "vec_id") -> np.ndarray:
    """Deterministic Lloyd k-means over a driver-side sample.

    Centroid FITTING is a sampled, driver-side step on purpose: at 10^12
    vectors you fit on ~10^5 sampled rows (centroids converge on far
    less) and the resulting centroids ship as literals to the
    assignment/query plans — fitting cost is O(sample), independent of
    corpus size, and the centroids are reproducible bit-for-bit from
    (data, seed), which is what lets the DuckDB oracle share them.  The
    sample is a pure function of the data (`_md5_ranked_sample`)."""
    x = _md5_ranked_sample(emb, seed, sample, vec_col, id_col)
    return fit_centroids(x, n_clusters, iters, np.random.default_rng(seed))


def _sq_dist_expr(vec_col, center_col):
    """||v - c||^2 as an ordered fold (oracle-parity shape)."""
    return F.aggregate(
        F.zip_with(vec_col, center_col,
                   lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
        F.lit(0.0), lambda acc, x: acc + x,
    )


def ivf_assign_col(vec_col, cents: np.ndarray):
    """Nearest-centroid id: argmin over per-centroid squared distances,
    ties to the lower id.  Centroids ship as one literal matrix; the
    2-arg transform lambda receives (centroid, index) so the index IS
    the centroid id; array_sort on (dist, id) structs keeps the whole
    argmin in JVM — no UDF, no per-element py4j plan cost."""
    pairs = F.transform(
        _lit_matrix(cents),
        lambda c, i: F.struct(
            _sq_dist_expr(vec_col, c).alias("d"), i.alias("cid")
        ),
    )
    return F.array_sort(pairs)[0]["cid"]


def build_ivf_index(emb: DataFrame, index_dir: str, cents: np.ndarray,
                    id_col: str = "vec_id", vec_col: str = "embedding") -> None:
    """Persist embeddings partitioned by nearest-centroid id ("IVF list").
    A query scans only its nprobe nearest lists — partition pruning, the
    same physical contract as the LSH bucket index but with data-adapted
    Voronoi cells instead of random hyperplanes (better recall/probe on
    clustered data)."""
    write_table(
        emb.withColumn(
            "ivf_cell",
            F.concat(F.lit(_BUCKET_TAG), ivf_assign_col(F.col(vec_col), cents).cast("string")),
        ).write, index_dir, "ivf_cell")


def query_cells(query: list[float], cents: np.ndarray, nprobe: int) -> list[str]:
    """The nprobe nearest centroid ids for a query (driver-side numpy);
    ties to the lower id, matching ivf_assign_col."""
    q = np.asarray(query, dtype=np.float64)
    d = ((cents - q[None, :]) ** 2).sum(axis=1)
    order = np.lexsort((np.arange(len(cents)), d))
    return [_BUCKET_TAG + str(int(i)) for i in order[:nprobe]]


def ivf_topk(spark, index_dir: str, query: list[float], cents: np.ndarray,
             k: int = 10, nprobe: int = 4, id_col: str = "vec_id",
             vec_col: str = "embedding", pre_filter=None) -> DataFrame:
    """ANN over a persisted IVF index: scan the nprobe nearest cells only
    (partition pruning at the scan), exact-cosine rerank inside them."""
    cells = query_cells(query, cents, nprobe)
    df = spark.read.parquet(index_dir).filter(F.col("ivf_cell").isin(cells))
    if pre_filter is not None:
        df = df.filter(pre_filter)
    return (
        cosine_scores(df, query, id_col, vec_col)
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def ivf_upsert(spark, index_dir: str, new_emb: DataFrame, cents: np.ndarray,
               id_col: str = "vec_id", vec_col: str = "embedding") -> dict:
    """Incremental IVF maintenance: vectors stream in, the index stays
    queryable — the I6 story the text index already has, for ANN.

    New vectors are assigned to their nearest EXISTING centroid (the
    cells are frozen between refits, as in every production IVF system:
    FAISS `add`, Milvus growing segments) and land in that cell's
    partition; a resent ``vec_id`` supersedes its stored row even when
    the new vector moves it to a DIFFERENT cell.  Only affected cell
    partitions are rewritten (dynamic partition overwrite — the
    streaming text-index rewrite pattern, `incremental.py`), so cost
    scales with touched cells, not index size:

    1. assign the batch to cells (one map-only pass, centroid literals);
    2. locate old versions of resent ids with one column-pruned scan
       (`vec_id` predicate pushdown; output is O(batch));
    3. affected = old cells ∪ new cells; survivors = affected-cell rows
       minus resent ids (broadcast anti-join);
    4. eager localCheckpoint (the read path is about to be overwritten —
       lineage must not re-read it), then dynamic-overwrite ONLY the
       affected partitions.

    Queries need no coordination: `ivf_topk` works unchanged, partition
    pruning still holds (pinned in tests).  Centroids drift as inserts
    accumulate; `ivf_refit_needed` flags when a refit-and-rebuild (the
    compaction analog) is due.  Returns counts for observability.

    Edge contracts: a ``vec_id`` repeated WITHIN one batch collapses to
    a single row before assignment (one-row-per-id is the index
    invariant; replayed identical batches are the real-world case), and
    an affected old cell left EMPTY (its only rows were resent away and
    nothing new landed there) is explicitly deleted — dynamic partition
    overwrite rewrites only partitions that receive output rows, so
    without the delete the stale row would silently survive."""
    new_emb = new_emb.dropDuplicates([id_col])
    assigned = new_emb.select(
        F.col(id_col), F.col(vec_col),
        F.concat(F.lit(_BUCKET_TAG),
                 ivf_assign_col(F.col(vec_col), cents).cast("string"))
        .alias("ivf_cell"),
    ).localCheckpoint(eager=True)
    return _rewrite_affected(spark, index_dir, assigned, "ivf_cell",
                             [id_col, vec_col, "ivf_cell"], id_col)


def _rewrite_affected(spark, index_dir: str, assigned: DataFrame, part_col: str,
                      cols: list[str], id_col: str) -> dict:
    """The shared tail of every ANN upsert: rewrite only the partitions
    the ``assigned`` batch touches.

    The affected set is the partitions that hold old versions of the
    batch's ids (one column-pruned, id-semi-joined scan) plus the
    partitions the batch lands in.  Their survivors (rows whose id is not
    resent, a broadcast anti-join) and the batch are checkpointed eagerly,
    because the read path is about to be overwritten, and then only those
    partitions are overwritten, an affected partition left with no rows
    deleted (``index_build.overwrite_partitions``).  Returns the batch,
    affected-partition (``affected_cells``, LSH buckets included) and
    rewritten-row counts."""
    new_ids = assigned.select(id_col).distinct()
    existing = spark.read.parquet(index_dir)
    old_parts = {
        r[part_col]
        for r in existing.join(F.broadcast(new_ids), id_col, "leftsemi")
        .select(part_col).distinct().collect()
    }
    new_parts = {r[part_col] for r in assigned.select(part_col).distinct().collect()}
    affected = sorted(old_parts | new_parts)
    survivors = (
        existing.filter(F.col(part_col).isin(affected))
        .join(F.broadcast(new_ids), id_col, "left_anti")
        .select(*cols)
    )
    out = survivors.unionByName(assigned.select(*cols)).localCheckpoint(eager=True)
    present = [r[part_col] for r in out.select(part_col).distinct().collect()]
    overwrite_partitions(spark, out.write, index_dir, part_col, affected, present,
                         f"{part_col} overwrite")
    return {"batch_rows": assigned.count(), "affected_cells": len(affected),
            "rewritten_rows": out.count()}


def lsh_upsert(spark, index_dir: str, new_emb: DataFrame,
               sig_bits: int = 16, bucket_bits: int = 8, seed: int = 7,
               id_col: str = "vec_id", vec_col: str = "embedding",
               dim: int | None = None) -> dict:
    """Incremental maintenance for the LSH-bucketed index — the
    `ivf_upsert` contract over hash buckets instead of centroid cells.

    LSH needs no refit trigger at all: the signature is a pure function
    of (vector, seeded hyperplanes), so bucket assignment never drifts —
    the one structural advantage hash buckets keep over IVF cells under
    sustained ingest.  Same edge contracts as `ivf_upsert`: within-batch
    duplicate ids collapse to one row, resent ids supersede across
    buckets, affected-but-emptied buckets are explicitly deleted, and
    only affected partitions are rewritten (cost scales with touched
    buckets, not index size)."""
    if dim is None:
        row = new_emb.select(vec_col).head()
        if row is None:
            raise ValueError("lsh_upsert: empty batch and no dim given")
        dim = len(row[0])
    planes = hyperplanes(dim, sig_bits, seed)
    new_emb = new_emb.dropDuplicates([id_col])
    assigned = new_emb.select(
        F.col(id_col), F.col(vec_col),
        lsh_signature_col(F.col(vec_col), planes).alias("sig"),
    ).withColumn(
        "bucket", F.concat(F.lit(_BUCKET_TAG), F.substring("sig", 1, bucket_bits))
    ).localCheckpoint(eager=True)
    return _rewrite_affected(spark, index_dir, assigned, "bucket",
                             [id_col, vec_col, "sig", "bucket"], id_col)


def ivf_refit_needed(spark, index_dir: str, cents: np.ndarray,
                     max_drift_frac: float = 0.25,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> bool:
    """Compaction trigger: pass CANDIDATE centroids freshly fitted on
    the current data (`ivf_centroids` — sample-based, cheap) and get
    True when the fraction of stored vectors whose nearest candidate
    centroid differs from their stored cell exceeds ``max_drift_frac``
    — i.e. the frozen build-time cells have drifted from the data
    enough that a rebuild (`build_ivf_index` with the candidates) pays
    for itself.  One column scan, no shuffle."""
    df = spark.read.parquet(index_dir)
    recomputed = F.concat(
        F.lit(_BUCKET_TAG), ivf_assign_col(F.col(vec_col), cents).cast("string")
    )
    stats = df.agg(
        F.count("*").alias("n"),
        F.sum((recomputed != F.col("ivf_cell")).cast("long")).alias("moved"),
    ).collect()[0]
    return stats["n"] > 0 and stats["moved"] / stats["n"] > max_drift_frac


def lsh_topk(emb: DataFrame, query: list[float], k: int = 10, sig_bits: int = 16,
             hamming_probe: int = 3, seed: int = 7,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """ANN: exact cosine over the LSH candidate set only."""
    dim = len(query)
    planes = hyperplanes(dim, sig_bits, seed)
    q = np.asarray(query, dtype=np.float64)
    q_sig = "".join("1" if planes[i] @ q >= 0 else "0" for i in range(sig_bits))

    sig = lsh_signature_col(F.col(vec_col), planes)
    # Hamming distance to the query signature via per-char compare
    ham = sum(
        F.when(F.substring(sig, i + 1, 1) == q_sig[i], 0).otherwise(1)
        for i in range(sig_bits)
    )
    candidates = emb.withColumn("_ham", ham).filter(F.col("_ham") <= hamming_probe)
    return (
        cosine_scores(candidates, query, id_col, vec_col)
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) ANN — the compressed-codes scale path
# ---------------------------------------------------------------------------
#
# A 64-dim float32 vector is 256 B; its PQ code (m=8 subspaces x 4-bit
# centroid id) is 4 B packed into one INT — 64x smaller, so at 10^12
# vectors the code table fits where the raw vectors cannot, and the ADC
# scan is m table lookups per row instead of a d-dim dot product.
# Asymmetric distance (query stays exact, data is quantized) + exact
# rerank of the top-R keeps recall.


def fit_subspace_books(x: np.ndarray, m: int, ksub: int, iters: int,
                       rng: np.random.Generator) -> np.ndarray:
    """Per-subspace `fit_centroids`: (n, d) float64 sample -> (m, ksub,
    d/m) codebooks.  Every PQ fitter — raw or residual — calls this, so
    the init-draw stream (one `choice` per subspace, in order) is shared
    by all of them."""
    d = x.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    books = np.empty((m, ksub, dsub))
    for j in range(m):
        books[j] = fit_centroids(x[:, j * dsub : (j + 1) * dsub], ksub, iters, rng)
    return books


def pq_codebooks(emb: DataFrame, m: int = 8, ksub: int = 16, iters: int = 10,
                 seed: int = 13, sample: int = 100_000,
                 vec_col: str = "embedding", id_col: str = "vec_id") -> np.ndarray:
    """Per-subspace deterministic Lloyd k-means -> (m, ksub, d/m)
    codebooks.  Same sampling contract as ivf_centroids: rows ranked by
    md5(id || seed) so the sample — and therefore the fitted books — are
    a pure function of (data, seed), which lets the DuckDB oracle embed
    them as literals.  Fit cost is O(sample), independent of corpus
    size."""
    x = _md5_ranked_sample(emb, seed, sample, vec_col, id_col)
    return fit_subspace_books(x, m, ksub, iters, np.random.default_rng(seed))


def pq_encode_col(vec_col, books: np.ndarray):
    """Packed PQ code column: per subspace, argmin of the ordered-fold
    squared distance to that subspace's ksub codebook entries (ties to
    the lower centroid id, the ivf_assign_col tiebreak), then all m
    4-bit ids packed little-endian into one BIGINT — 32 payload bits at
    m=8, which parquet bit-packs down to ~4 B regardless of vector
    width.  Codebooks ship as m parsed literal matrices; everything
    stays JVM-side."""
    m, ksub, dsub = books.shape
    if ksub > 16:
        raise ValueError("packed codes assume ksub <= 16 (4 bits each)")
    packed = F.lit(0).cast("long")
    for j in range(m):
        sub = F.slice(vec_col, j * dsub + 1, dsub)
        pairs = F.transform(
            _lit_matrix(books[j]),
            lambda c, i: F.struct(_sq_dist_expr(sub, c).alias("d"), i.alias("cid")),
        )
        code_j = F.array_sort(pairs)[0]["cid"]
        packed = packed + F.shiftleft(code_j.cast("long"), 4 * j)
    return packed


def build_pq_index(emb: DataFrame, index_dir: str, books: np.ndarray,
                   id_col: str = "vec_id", vec_col: str = "embedding") -> None:
    """Persist the code table: (id, pq_code INT).  This is the structure
    that scales — the codes for 10^12 vectors are ~4 TB (vs 256 TB raw)
    and scan as a two-column parquet with full predicate/column
    pruning."""
    write_table(emb.select(
        F.col(id_col), pq_encode_col(F.col(vec_col), books).alias("pq_code")
    ).write, index_dir)


def _adc_expr(dtm, m: int, code_col: str = "pq_code"):
    """Unrolled asymmetric-distance lookup sum over a literal (m, ksub)
    distance-table matrix: 0.0 + dt[0][code&15] + dt[1][(code>>4)&15] +
    ... — the same left fold order as the oracle's list_sum over
    range(1, m+1)."""
    adc = F.lit(0.0)
    for j in range(m):
        code_j = F.shiftright(F.col(code_col), 4 * j).bitwiseAND(F.lit(15))
        adc = adc + F.element_at(F.element_at(dtm, j + 1), (code_j + 1).cast("int"))
    return adc


def pq_distance_tables(query: list[float], books: np.ndarray) -> np.ndarray:
    """(m, ksub) asymmetric distance tables: exact query subvector vs
    each codebook entry.  Computed once per query, driver-side."""
    m, ksub, dsub = books.shape
    q = np.asarray(query, dtype=np.float64)
    return ((books - q.reshape(m, 1, dsub)) ** 2).sum(axis=2)


def pq_topk(spark, index_dir: str, emb: DataFrame, query: list[float],
            books: np.ndarray, k: int = 10, rerank: int = 50,
            id_col: str = "vec_id", vec_col: str = "embedding",
            pre_filter=None) -> DataFrame:
    """ANN over the PQ code table: ADC scan (per row: m shift-mask
    lookups into the query's literal distance tables — no vector read),
    keep the rerank best approximate rows, then join those few ids back
    to the raw vectors for exact-cosine rerank.  The big side touches
    only (id, pq_code); the rerank join's left side is `rerank` rows, so
    Spark broadcasts it against the vector table."""
    m, ksub, dsub = books.shape
    dt = pq_distance_tables(query, books)
    codes = spark.read.parquet(index_dir)
    if pre_filter is not None:
        codes = codes.filter(pre_filter)
    adc = _adc_expr(_lit_matrix(dt), m)
    cand = (
        codes.select(F.col(id_col), adc.alias("adc"))
        .orderBy(F.asc("adc"), F.asc(id_col))
        .limit(rerank)
        .select(id_col)
    )
    return (
        cosine_scores(emb.join(cand, id_col, "leftsemi"), query, id_col, vec_col)
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# IVF-PQ — cell-pruned scan over residual PQ codes (the composed layout)
# ---------------------------------------------------------------------------
#
# IVF gives partition pruning (scan nprobe cells, not the corpus); PQ
# gives 4 B rows inside each cell.  Encoding the RESIDUAL (vector minus
# its cell centroid) instead of the raw vector is what makes the two
# compose: residuals are centered near zero, so one shared codebook set
# quantizes every cell well.


def ivfpq_residual_books(emb: DataFrame, cents: np.ndarray, m: int = 8,
                         ksub: int = 16, iters: int = 10, seed: int = 13,
                         sample: int = 100_000, vec_col: str = "embedding",
                         id_col: str = "vec_id") -> np.ndarray:
    """PQ codebooks fitted on IVF residuals of the md5-ranked sample —
    same determinism contract as pq_codebooks/ivf_centroids, same fit
    core (`fit_subspace_books`)."""
    x = _md5_ranked_sample(emb, seed, sample, vec_col, id_col)
    return fit_subspace_books(ivf_residuals(x, cents), m, ksub, iters,
                              np.random.default_rng(seed))


def build_ivfpq_index(emb: DataFrame, index_dir: str, cents: np.ndarray,
                      books: np.ndarray, id_col: str = "vec_id",
                      vec_col: str = "embedding") -> None:
    """Persist (id, pq_code) partitioned by IVF cell; the code encodes
    the residual vs the row's own cell centroid.  Rows are ~4 B and a
    query touches nprobe partitions of them — both pruning axes at
    once."""
    # Stage the cell id and the residual as REAL columns before encoding.
    # pq_encode_col references its input inside per-codebook-entry HOF
    # lambdas, and Catalyst re-evaluates a captured ARGUMENT expression
    # per element (no CSE): feeding it the raw residual EXPRESSION would
    # recompute the 16-fold cell argmin m*ksub times per row (measured
    # 47 s for 5k rows at sf0.1; 1.5 s staged).  localCheckpoint hard-
    # materializes the boundary — projection collapse would otherwise
    # inline the aliases right back.
    staged = emb.select(
        F.col(id_col),
        ivf_assign_col(F.col(vec_col), cents).alias("_cell"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    ).select(
        F.col(id_col),
        F.concat(F.lit(_BUCKET_TAG), F.col("_cell").cast("string")).alias("ivf_cell"),
        F.zip_with(
            F.col("_v"),
            F.element_at(_lit_matrix(cents), F.col("_cell") + 1),
            lambda a, b: a - b,
        ).alias("_resid"),
    ).localCheckpoint(eager=False)
    write_table(
        staged.select(
            F.col(id_col), F.col("ivf_cell"),
            pq_encode_col(F.col("_resid"), books).alias("pq_code"),
        ).write, index_dir, "ivf_cell")


def ivfpq_topk(spark, index_dir: str, emb: DataFrame, query: list[float],
               cents: np.ndarray, books: np.ndarray, k: int = 10,
               nprobe: int = 4, rerank: int = 50, id_col: str = "vec_id",
               vec_col: str = "embedding", pre_filter=None) -> DataFrame:
    """Scan the nprobe nearest cells' code tables (partition pruning),
    ADC each row against the distance tables of ITS cell's residual
    query (q - centroid), keep the global top-R approximate ids, exact-
    cosine rerank.  Per probed cell the tables are literals, so the
    scan is still a pure column expression."""
    m, ksub, dsub = books.shape
    cells = query_cells(query, cents, nprobe)
    q = np.asarray(query, dtype=np.float64)
    codes = spark.read.parquet(index_dir).filter(F.col("ivf_cell").isin(cells))
    if pre_filter is not None:
        codes = codes.filter(pre_filter)
    adc = None
    for cell in cells:
        cid = int(cell[len(_BUCKET_TAG):])
        dt = pq_distance_tables((q - cents[cid]).tolist(), books)
        branch = (F.col("ivf_cell") == cell, _adc_expr(_lit_matrix(dt), m))
        adc = F.when(*branch) if adc is None else adc.when(*branch)
    cand = (
        codes.select(F.col(id_col), adc.alias("adc"))
        .orderBy(F.asc("adc"), F.asc(id_col))
        .limit(rerank)
        .select(id_col)
    )
    return (
        cosine_scores(emb.join(cand, id_col, "leftsemi"), query, id_col, vec_col)
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def ivfpq_upsert(spark, index_dir: str, new_emb: DataFrame,
                 cents: np.ndarray, books: np.ndarray,
                 id_col: str = "vec_id",
                 vec_col: str = "embedding") -> dict:
    """Incremental IVF-PQ maintenance: the `ivf_upsert` contract for
    the residual-code index (cells AND codebooks frozen between refits,
    as in FAISS ``IndexIVFPQ.add``).  The batch is cell-assigned and
    residual-encoded through the same staged boundary as
    `build_ivfpq_index` (the HOF-recompute guard), a resent ``vec_id``
    supersedes its stored code even across cells, and only affected
    cell partitions are rewritten — maintained index == from-scratch
    rebuild with the same (cents, books), row for row.

    Refit scheduling: codes cannot measure their own drift (the index
    stores ~4 B/vector, not vectors); run `ivf_refit_needed` against
    the source embedding table and rebuild with freshly fitted
    (cents, books) when it trips — same compaction split as the text
    index.

    Edge contracts as in `ivf_upsert`: within-batch duplicate ids
    collapse to one row, and affected cells emptied by the upsert are
    explicitly deleted."""
    new_emb = new_emb.dropDuplicates([id_col])
    staged = new_emb.select(
        F.col(id_col),
        ivf_assign_col(F.col(vec_col), cents).alias("_cell"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    ).select(
        F.col(id_col),
        F.concat(F.lit(_BUCKET_TAG), F.col("_cell").cast("string"))
        .alias("ivf_cell"),
        F.zip_with(
            F.col("_v"),
            F.element_at(_lit_matrix(cents), F.col("_cell") + 1),
            lambda a, b: a - b,
        ).alias("_resid"),
    ).localCheckpoint(eager=True)
    assigned = staged.select(
        F.col(id_col), F.col("ivf_cell"),
        pq_encode_col(F.col("_resid"), books).alias("pq_code"),
    ).localCheckpoint(eager=True)
    return _rewrite_affected(spark, index_dir, assigned, "ivf_cell",
                             [id_col, "pq_code", "ivf_cell"], id_col)
