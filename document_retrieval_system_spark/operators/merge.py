"""Segment merge: combine N independently-built indexes into ONE.

The Lucene/segment-merge analog for the sharded compressed index: a
crawl pipeline that builds an index per batch (per WARC drop, per day)
eventually holds many small indexes whose per-query cost is additive —
merging them restores one index whose postings, docs, stats and
manifest are indistinguishable from a single fresh build over the
union corpus (byte-identical blocks, in fact — pinned in
tests/test_index_merge.py).

Semantics
---------
- Documents are keyed by ``doc_id = md5(url)`` (reference identity,
  datasource_manager.py:246-258).  When the same document appears in
  several segments, the HIGHEST-numbered source segment wins —
  ``src_dirs`` order is oldest→newest, mirroring the upsert supersede
  rule in streaming/incremental.py.
- Ordinals are reassigned: the merged index re-runs the URL-ordered
  dense docID assignment (``assign_local_no``) over the union, so
  block-max locality survives the merge (segment-local ordinals would
  interleave arbitrarily and poison WAND pruning).
- ``n_shards`` may differ from any source's shard count — a merge is
  also the re-shard primitive (8+8 segments → one 16-shard index).

Why decode, not re-analyze: postings are decoded back to
``build_postings`` input rows with position payloads byte-SLICED at
varbyte boundaries (``flat_postings(..., with_positions="bytes")``) —
pure vectorized codec work at memory bandwidth.  The Python analyzer (the ~790 docs/s/core
floor) never runs; merging is independent of document text size.

Scale shape (100 TB): per segment, one map-only decode over its
postings; ONE shuffle joining decoded rows to the (segment, old
ordinal) → (new shard, new ordinal) remap (docs-cardinality build
side); then ``build_postings``'s (shard, term) repartition — the same
two-shuffle budget as a fresh build minus the analyzer stage.  A
heavy term still hashes across all shards, so merge inherits the
term-skew bound of the build path.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from document_retrieval_system_spark.operators.index_build import (
    DOC_TABLE_COLS,
    IndexPaths,
    assign_local_no,
    auto_n_shards,
    build_postings,
    commit_manifest,
    finalize_index,
    flat_postings,
    fs_delete,
    read_table,
    shard_layout,
    write_shards,
)


def merge_indexes(
    spark: SparkSession,
    src_dirs: list[str],
    out_dir: str,
    n_shards: int | None = None,
) -> IndexPaths:
    """Merge the indexes under ``src_dirs`` (oldest→newest) into a fresh
    index at ``out_dir``.  Returns the merged index's paths; read it
    with ``IndexReader(spark, out_dir)``."""
    if not src_dirs:
        raise ValueError("merge_indexes: need at least one source index")
    # the target is CLEARED before sources are read — an in-place merge
    # (out_dir a source, or nested either way) would destroy its own
    # input; refuse before touching the filesystem
    import os as _os

    out_abs = _os.path.abspath(out_dir)
    for d in src_dirs:
        s_abs = _os.path.abspath(d)
        if (out_abs == s_abs
                or out_abs.startswith(s_abs + _os.sep)
                or s_abs.startswith(out_abs + _os.sep)):
            raise ValueError(
                f"merge_indexes: out_dir {out_dir!r} overlaps source {d!r}; "
                "merge into a fresh directory, then swap"
            )
    srcs = [IndexPaths(d) for d in src_dirs]
    out = IndexPaths(out_dir)
    fs_delete(spark, out_dir)

    # ------------------------------------------------------------------
    # docs: union, supersede on doc_id (newest segment wins), re-shard,
    # re-run the URL-ordered ordinal assignment
    # ------------------------------------------------------------------
    doc_frames = [
        read_table(spark, sp, "docs").withColumn("segment", F.lit(i))
        for i, sp in enumerate(srcs)
    ]
    union_docs = reduce(DataFrame.unionByName, doc_frames)
    w = Window.partitionBy("doc_id").orderBy(F.col("segment").desc())
    winners = (
        union_docs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    if n_shards is None:
        n_shards = auto_n_shards(winners.count())
    carry = [c for c in DOC_TABLE_COLS if c not in ("shard", "local_no")]
    tagged = winners.select(
        "segment",
        F.col("shard").alias("old_shard"),
        F.col("local_no").alias("old_local"),
        *carry,
    ).withColumn(
        "shard", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n_shards)).cast("int")
    )
    # persist: the remap feeds both the docs write and the postings join,
    # and row_number must not be recomputed under two different plans
    renum = assign_local_no(tagged).persist()
    shards = range(n_shards)
    try:
        write_shards(spark, out, "docs", renum, shards)

        # --------------------------------------------------------------
        # postings: decode each segment, remap ordinals, re-block.
        # Inner join on (segment, old ordinal) drops superseded docs'
        # postings — the losing copy's key is absent from `renum`.
        # --------------------------------------------------------------
        post_frames = [
            flat_postings(read_table(spark, sp, "postings"), with_positions="bytes")
            .withColumnRenamed("shard", "old_shard")
            .withColumnRenamed("local_no", "old_local")
            .withColumn("segment", F.lit(i))
            for i, sp in enumerate(srcs)
        ]
        union_rows = reduce(DataFrame.unionByName, post_frames)
        remap = renum.select(
            "segment", "old_shard", "old_local", "shard", "local_no"
        )
        rows = union_rows.join(remap, ["segment", "old_shard", "old_local"]).select(
            "shard", "local_no", "term", "tf", "pos_bytes", "doc_len"
        )
        blocks = shard_layout(build_postings(rows), "postings", shards).persist()
        try:
            write_shards(spark, out, "postings", blocks, shards)
            # one 'merge' row and the stats per shard, counted from the
            # materialized output
            commit_manifest(spark, out, "done", "merge", blocks, parsed=renum,
                            shards=shards)
        finally:
            blocks.unpersist()
    finally:
        renum.unpersist()

    finalize_index(spark, out)
    return out


def plan_merges(segment_sizes: dict[str, int], factor: int = 10,
                min_merge: int = 2, max_merge: int = 10) -> list[list[str]]:
    """Size-tiered merge policy (the Lucene/LSM TieredMergePolicy shape):
    segments fall into tiers by floor(log_factor(size)); any tier holding
    >= ``min_merge`` segments yields merge groups of up to ``max_merge``
    members, smallest tiers first (cheapest merges reclaim the most
    per-query overhead per byte rewritten).  Within a tier, segments
    group in ascending-size order so one oversized straggler doesn't
    inflate its group's rewrite cost.

    Pure driver-side arithmetic over the segment CATALOG (names +
    sizes) — never touches segment data; callers feed the groups to
    ``merge_indexes``.  Deterministic: ties order by name.  Empty
    segments (size 0) tier together at -1 and merge away first.
    """
    if factor < 2:
        raise ValueError(f"factor must be >= 2, got {factor}")

    def _tier(size: int) -> int:
        # integer floor(log_factor(size)): float log misplaces exact
        # powers (floor(log(1000, 10)) == 2 on IEEE doubles)
        if size == 0:
            return -1
        t = 0
        while size >= factor:
            size //= factor
            t += 1
        return t

    tiers: dict[int, list[tuple[int, str]]] = {}
    for name, size in segment_sizes.items():
        if size < 0:
            raise ValueError(f"segment {name}: negative size {size}")
        tiers.setdefault(_tier(int(size)), []).append((int(size), str(name)))
    plans: list[list[str]] = []
    for tier in sorted(tiers):
        members = sorted(tiers[tier])
        if len(members) < min_merge:
            continue
        for i in range(0, len(members), max_merge):
            group = [n for (_s, n) in members[i : i + max_merge]]
            if len(group) >= min_merge:
                plans.append(group)
    return plans
