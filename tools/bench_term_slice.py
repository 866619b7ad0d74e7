"""Experiment: document-sharded vs term-sliced secondary layout for
single-rare-term queries at high shard counts.

The primary index is document-sharded (shard = hash(doc_id) % S): ranked
queries need per-shard document-at-a-time WAND, and heavy terms are
naturally skew-capped.  The cost: a SINGLE-term lookup must consult all S
shard partitions even when the term appears in few — at 10^12 docs
(S ≈ 2^22) that is millions of partition listings for a df=100 term.

A term-sliced SECONDARY layout re-partitions the same compressed block
rows by a term hash bucket (tbucket = pmod(xxhash64(term), B)), term-
sorted within each bucket: a term lookup reads exactly one bucket
partition and row-group-prunes to the term inside it, independent of S.

This bench builds both layouts over the synthetic corpus and measures a
rare-term posting fetch at growing shard counts.

Run: python tools/bench_term_slice.py   (env SPARK_GRAFT_CPUS)
Prints one JSON line per (n_shards, layout) plus a decision line.

DECISION (measured on this box, local[32], 20k pages, df~40 term):
KEEP as a documented secondary-layout recipe for term-lookup-heavy
workloads; DROP from the default build.  Measured fetch (best-of-3 after
warm): doc-sharded 0.26 s @ S=8 -> 0.35 s @ S=64 -> 0.72 s @ S=256
(task/partition fan-out grows with S); term-sliced flat-to-falling
0.48 / 0.39 / 0.33 s (fixed scan cost, independent of S; crossover
around S~=100).  BUT the engine's live query paths (WAND, boolean,
phrase) all need the doc-sharded layout anyway — per-shard DAAT scoring
is what bounds skew and enables parallel top-k — so the slice is a pure
ADDITIONAL copy (2x index storage) that only accelerates bare posting
dumps, and none of the driver-contract queries is a bare posting dump.
At S<=64 (anything below ~10^10 docs at 250k docs/shard) the fan-out
cost is under 0.4 s.  Worth building only when a deployment actually
serves high-QPS single-term lookups; term_sliced_layout below is the
recipe.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402


def term_sliced_layout(spark, postings_dir: str, out_dir: str,
                       n_buckets: int = 64) -> None:
    """Secondary term-major copy of the compressed posting blocks:
    partitioned by term-hash bucket, term-sorted files inside."""
    blocks = spark.read.parquet(postings_dir)
    (
        blocks.withColumn(
            "tbucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int")
        )
        .repartition("tbucket")
        .sortWithinPartitions("term", "shard", "block_no")
        .write.partitionBy("tbucket").mode("overwrite").parquet(out_dir)
    )


def fetch_doc_sharded(spark, postings_dir: str, term: str) -> int:
    df = spark.read.parquet(postings_dir).filter(F.col("term") == term)
    return df.count()


def fetch_term_sliced_spark(spark, slice_dir: str, term: str,
                            n_buckets: int = 64) -> int:
    # bucket id computed JVM-side once (tiny job) and pushed as a
    # partition filter — the scan touches ONE bucket directory
    bucket = spark.range(1).select(
        F.pmod(F.xxhash64(F.lit(term)), F.lit(n_buckets)).cast("int").alias("b")
    ).collect()[0]["b"]
    df = (
        spark.read.parquet(slice_dir)
        .filter((F.col("tbucket") == bucket) & (F.col("term") == term))
    )
    return df.count()


def main() -> None:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    from document_retrieval_system_spark.operators.index_build import build_index
    from document_retrieval_system_spark.session import get_spark
    from document_retrieval_system_spark.sources.corpus import pages_df

    spark = get_spark("drs-term-slice", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    pages = pages_df(spark, 20000)

    results = []
    for n_shards in (8, 64, 256):
        idx = tempfile.mkdtemp(prefix=f"drs_slice_{n_shards}_")
        slc = tempfile.mkdtemp(prefix=f"drs_slice_t_{n_shards}_")
        try:
            build_index(spark, pages, idx, n_shards=n_shards)
            postings = os.path.join(idx, "postings")
            term_sliced_layout(spark, postings, slc)
            # a rare term: bottom-decile df
            rare = (
                spark.read.parquet(postings)
                .groupBy("term").agg(F.sum("df_local").alias("df"))
                .filter("df between 20 and 60")
                .orderBy("term").limit(1).collect()[0]["term"]
            )
            for layout, fn, path in (
                ("doc-sharded", fetch_doc_sharded, postings),
                ("term-sliced", fetch_term_sliced_spark, slc),
            ):
                fn(spark, path, rare)  # warm
                t0 = time.time()
                for _ in range(3):
                    fn(spark, path, rare)
                sec = (time.time() - t0) / 3
                row = {"n_shards": n_shards, "layout": layout, "term": rare,
                       "fetch_sec": round(sec, 3)}
                results.append(row)
                print(json.dumps(row))
        finally:
            shutil.rmtree(idx, ignore_errors=True)
            shutil.rmtree(slc, ignore_errors=True)
    doc = {r["n_shards"]: r["fetch_sec"] for r in results if r["layout"] == "doc-sharded"}
    sli = {r["n_shards"]: r["fetch_sec"] for r in results if r["layout"] == "term-sliced"}
    print(json.dumps({
        "decision": "keep-as-recipe, drop-from-default-build",
        "doc_sharded_sec": doc, "term_sliced_sec": sli,
        "rationale": "slice is flat in S but duplicates storage and serves "
                     "no live query path; doc-sharded fan-out acceptable "
                     "below ~10^10 docs, slice recipe documented for "
                     "term-lookup-heavy deployments",
    }))
    spark.stop()


if __name__ == "__main__":
    main()
