"""Round-2 scale paths: LSH-candidate-fed Jaccard, SimHash pair grouping,
banded embedding near-dup, bucketed ANN index with partition pruning, and
the band-bucket skew cap.  Each scale path is checked against its exact
(quadratic) counterpart on corpora engineered to contain true near-dups."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from document_retrieval_system_spark.operators import dedup, similarity


@pytest.fixture(scope="module")
def docs_df(spark, corpus_pages):
    from document_retrieval_system_spark.sources.html_extract import extract_html

    rows = []
    for i, (url, _ts, html, lang) in enumerate(corpus_pages):
        rows.append((i, extract_html(html, url)["content"], lang))
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


@pytest.fixture(scope="module")
def clustered_emb(spark):
    """20 clusters x 10 unit vectors with small noise: plenty of true
    cosine>=0.95 within-cluster pairs, none across clusters."""
    rng = np.random.default_rng(11)
    dim, rows, vid = 32, [], 0
    centers = rng.standard_normal((20, dim))
    for c in range(20):
        for _ in range(10):
            v = centers[c] + 0.05 * rng.standard_normal(dim)
            rows.append((vid, (v / np.linalg.norm(v)).astype(np.float32).tolist(), c))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_lsh_jaccard_matches_exact_on_corpus(docs_df):
    """Candidate-fed pipeline vs raw all-pairs at J>=0.6: every surfaced
    pair is exactly verified (precision 1.0), and on this corpus (clones
    share every band) recall is 1.0 too."""
    exact = {
        (r.id_a, r.id_b, r.jaccard)
        for r in dedup.ngram_jaccard_pairs(docs_df, ngram=3, threshold=0.6).collect()
    }
    fed = {
        (r.id_a, r.id_b, r.jaccard)
        for r in dedup.lsh_jaccard_pairs(docs_df, ngram=3, threshold=0.6).collect()
    }
    assert fed <= exact
    assert fed == exact, "clone pairs share all bands; nothing may be missed here"
    assert (52, 53, 1.0) in fed


def test_lsh_jaccard_plan_has_no_shingle_selfjoin(docs_df):
    """The scale-killer from r1 was a self-join keyed on a raw shingle.
    The candidate-fed plan must join only on band keys and doc ids."""
    import re

    plan = (
        dedup.lsh_jaccard_pairs(docs_df, ngram=3, threshold=0.6)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    # structural check: every equi-join key is band/id, never the shingle col
    join_keys = re.findall(r"Join .*?\((.*?)\)", plan)
    assert join_keys, "expected joins in the candidate-fed plan"
    for keys in join_keys:
        assert "sh#" not in keys, f"shingle-keyed join leaked into plan: {keys}"


def test_simhash_pairs_lossless_within_radius(docs_df):
    """Pigeonhole banding (4 bands, radius 3) must find EXACTLY the pairs
    an exhaustive O(n^2) Hamming scan finds."""
    sigs = {r["doc_id"]: r["simhash_bits"] for r in dedup.simhash(docs_df).collect()}
    ids = sorted(sigs)
    expected = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = sum(x != y for x, y in zip(sigs[a], sigs[b]))
            if h <= 3:
                expected.add((a, b, h))
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in dedup.simhash_neardup_pairs(docs_df, max_hamming=3).collect()
    }
    assert got == expected
    assert (52, 53, 0) in got  # engineered clone pair


def test_simhash_pairs_rejects_signatures_wider_than_a_long(docs_df):
    """A 64-bit signature with its top bit set does not fit the packed
    signed-long verify; the call must refuse instead of dropping pairs."""
    with pytest.raises(ValueError, match="bits=64"):
        dedup.simhash_neardup_pairs(docs_df, bits=64)


def test_embedding_neardup_lsh_matches_exact(clustered_emb):
    exact = {
        (r.id_a, r.id_b)
        for r in dedup.embedding_neardup_pairs_exact(clustered_emb, threshold=0.95).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in dedup.embedding_neardup_pairs(
            clustered_emb, threshold=0.95, sig_bits=16, band_size=2
        ).collect()
    }
    assert len(exact) >= 200, "fixture must contain plenty of true near-dups"
    assert lsh <= exact, "verify step guarantees precision 1.0"
    recall = len(lsh) / len(exact)
    assert recall >= 0.97, (len(lsh), len(exact))


def test_band_bucket_cap_drops_degenerate_buckets(spark):
    """50 identical boilerplate docs form one m^2 bucket; the cap must
    drop it while keeping the small genuine near-dup bucket."""
    boiler = "the same boilerplate text appears everywhere on this mirror site"
    rows = [(i, boiler) for i in range(50)]
    rows += [
        (100, "completely unique content alpha beta gamma delta epsilon zeta"),
        (101, "completely unique content alpha beta gamma delta epsilon eta"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = dedup.minhash_lsh_candidates(df, ngram=3, bucket_cap=10).collect()
    ids = {x for r in capped for x in (r.id_a, r.id_b)}
    assert ids and all(i >= 100 for i in ids), ids
    uncapped = dedup.minhash_lsh_candidates(df, ngram=3, bucket_cap=None).count()
    assert uncapped >= 50 * 49 / 2


def test_ann_index_partition_pruning_and_equivalence(spark, clustered_emb, tmp_path):
    """The bucketed index query must (a) carry a PartitionFilters bucket
    predicate into the parquet scan, (b) enumerate C(8,<=2)=37 of 256
    buckets, and (c) return exactly what the on-the-fly LSH filter
    returns for the same (sig_bits, probe)."""
    idx = str(tmp_path / "annidx")
    similarity.build_lsh_index(clustered_emb, idx, sig_bits=16, bucket_bits=8, seed=7)
    q = [float(x) for x in clustered_emb.filter(F.col("vec_id") == 0).head()["embedding"]]

    res = similarity.lsh_index_topk(
        spark, idx, q, k=10, sig_bits=16, bucket_bits=8, hamming_probe=2, seed=7
    )
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters", 1)[1][:500]
    assert "bucket" in seg, seg

    planes = similarity.hyperplanes(len(q), 16, 7)
    probed = similarity.hamming_ball(similarity.query_signature(q, planes)[:8], 2)
    assert len(probed) == 1 + 8 + 28

    flat = similarity.lsh_topk(clustered_emb, q, k=10, sig_bits=16, hamming_probe=2, seed=7)
    assert [(r["vec_id"], r["cosine"]) for r in res.collect()] == [
        (r["vec_id"], r["cosine"]) for r in flat.collect()
    ]


def test_ann_bucket_partition_values_stay_strings(spark, clustered_emb, tmp_path):
    """Partition-column type inference must never coerce bucket values to
    integers (dropping leading zeros breaks isin pruning silently) — the
    letter tag pins the type to string at any width."""
    idx = str(tmp_path / "annidx3")
    similarity.build_lsh_index(clustered_emb, idx, sig_bits=16, bucket_bits=8, seed=7)
    df = spark.read.parquet(idx)
    assert dict(df.dtypes)["bucket"] == "string"
    vals = [r["bucket"] for r in df.select("bucket").distinct().collect()]
    assert vals and all(
        v.startswith("b") and len(v) == 9 and set(v[1:]) <= {"0", "1"} for v in vals
    ), vals


def test_embedding_neardup_empty_input(spark):
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    out = dedup.embedding_neardup_pairs(empty)
    assert out.columns == ["id_a", "id_b", "cosine"]
    assert out.count() == 0


def test_embedding_neardup_drops_null_ragged_and_nan_vectors(spark):
    """A null, a short and a NaN vector have no cosine: the LSH path
    drops those rows (the null one comes first, so the dimension must
    come from the first non-null vector) and finds exactly the pairs the
    exact path finds over the clean rows."""
    rng = np.random.default_rng(5)
    centers = rng.standard_normal((3, 16))
    clean = [
        (4 * c + i, (centers[c] + 0.01 * rng.standard_normal(16)).astype(np.float32).tolist())
        for c in range(3) for i in range(4)
    ]
    bad = [(100, None), (101, [0.5] * 8), (102, [float("nan")] + [0.25] * 15)]
    schema = "vec_id long, embedding array<float>"
    dirty = spark.createDataFrame(bad[:1] + clean + bad[1:], schema).coalesce(1)
    exact = {
        tuple(r) for r in dedup.embedding_neardup_pairs_exact(
            spark.createDataFrame(clean, schema), threshold=0.95).collect()
    }
    got = {tuple(r) for r in dedup.embedding_neardup_pairs(dirty, threshold=0.95).collect()}
    assert len(exact) == 18  # 3 clusters x C(4, 2)
    assert got == exact


def test_ann_index_scan_reads_subset_of_buckets(spark, clustered_emb, tmp_path):
    """File-level evidence: rows surviving the scan come from a strict
    subset of the bucket partitions on disk."""
    idx = str(tmp_path / "annidx2")
    similarity.build_lsh_index(clustered_emb, idx, sig_bits=16, bucket_bits=8, seed=7)
    n_disk = len([d for d in os.listdir(idx) if d.startswith("bucket=")])
    q = [float(x) for x in clustered_emb.filter(F.col("vec_id") == 3).head()["embedding"]]
    cand = similarity.lsh_index_topk(
        spark, idx, q, k=1000, sig_bits=16, bucket_bits=8, hamming_probe=1, seed=7
    )
    # with probe=1 only 9 of the on-disk buckets are even enumerable
    assert n_disk > 9
    touched = (
        spark.read.parquet(idx)
        .filter(F.col("bucket").isin(
            similarity.probe_buckets(
                similarity.query_signature(q, similarity.hyperplanes(len(q), 16, 7)), 8, 1
            )
        ))
        .select(F.input_file_name()).distinct().count()
    )
    total = spark.read.parquet(idx).select(F.input_file_name()).distinct().count()
    assert touched < total
    assert cand.count() >= 1


def test_ivf_fitted_index_pruning_and_recall(spark, clustered_emb, tmp_path):
    """IVF ANN (data-fitted Lloyd centroids): the query must (a) carry an
    ivf_cell PartitionFilter into the scan, (b) return the true
    same-cluster neighbors (top-9 of the 10-member cluster exactly —
    rank 10 is a cross-cluster ~0.5-cosine vector that may live in an
    unprobed cell), (c) fit deterministically."""
    cents = similarity.ivf_centroids(clustered_emb, n_clusters=20, iters=10, seed=7)
    cents2 = similarity.ivf_centroids(clustered_emb, n_clusters=20, iters=10, seed=7)
    assert (cents == cents2).all()

    idx = str(tmp_path / "ivfidx")
    similarity.build_ivf_index(clustered_emb, idx, cents)
    n_cells = len([d for d in os.listdir(idx) if d.startswith("ivf_cell=")])
    assert n_cells > 4  # pruning below is a strict subset

    q = [float(x) for x in clustered_emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    res = similarity.ivf_topk(spark, idx, q, cents, k=10, nprobe=4,
                              pre_filter=F.col("vec_id") > 0)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "ivf_cell" in plan.split("PartitionFilters", 1)[1][:500]

    exact = similarity.cosine_topk(
        clustered_emb.filter(F.col("vec_id") > 0), q, k=10
    ).collect()
    got = res.collect()
    assert [(r["vec_id"], r["cosine"]) for r in got[:9]] == [
        (r["vec_id"], r["cosine"]) for r in exact[:9]
    ]


def test_cap_observation_without_cap_raises(spark):
    """An Observation with the cap disabled would never get a metrics
    node and observation.get would block forever — fail fast instead
    (review finding)."""
    import pytest
    from pyspark.sql import Observation

    from document_retrieval_system_spark.operators.dedup import (
        exact_overlap_spans,
        winnow_overlap_pairs,
    )

    df = spark.createDataFrame([(1, "abcdefgh" * 20)], "doc_id long, text string")
    with pytest.raises(ValueError, match="bucket_cap"):
        exact_overlap_spans(df, bucket_cap=None,
                            observation=Observation("x")).count()
    with pytest.raises(ValueError, match="bucket_cap"):
        winnow_overlap_pairs(df, bucket_cap=None,
                             observation=Observation("y")).count()
