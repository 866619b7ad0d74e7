"""Index fsck: relational integrity audit of a sharded compressed index.

A 100 TB index lives through crashes, partial writes, maintenance
rewrites, upserts and merges; every one of those paths defends its own
invariants (intent markers, manifest-after-data commits), but an
operations team still wants the direct question answered: *is this
index internally consistent right now?*  ``fsck_index`` re-derives the
invariants from the data itself and reports every violation as a row —
empty result means clean bill.

Checks (each one relational, fused over ONE decode pass of the
postings plus the docs and corpus_stats sidecars):

- ``orphan_posting``    decoded posting references a (shard, ordinal)
                        absent from the docs table (crash between docs
                        overwrite and postings rewrite).
- ``ordinal_dup`` /     per-shard ordinals must be unique and
  ``ordinal_negative``  non-negative.  Gaps are NOT violations: the
                        upsert/delete paths keep ordinals stable and
                        leave holes where versions died
                        (streaming/incremental.py).
- ``doc_id_dup``        the same doc_id in two (shard, ordinal) slots —
                        a supersede that failed to drop the loser.
- ``block_meta``        per-block n/first_doc/last_doc/max_tf/min_dl
                        must match the decoded payloads (codec or
                        re-block corruption; block-max pruning would
                        silently return wrong results on bad bounds).
- ``df_local``          block 0's df_local and cf_local, summed over
                        the segments of a (shard, term) as a term's
                        df and cf are read, must equal its decoded
                        postings' count and summed tf.
- ``doc_len_mismatch``  dl replicated in posting blocks must equal the
                        docs table's doc_len for that ordinal.
- ``corpus_stats``      each shard's corpus row must equal the totals
                        of that shard's own docs (docs with tokens,
                        their summed doc_len).
- ``stats_stamp``       each shard's corpus row must carry the stamp
                        of its latest manifest event (µs): a stamp
                        behind it is a commit whose stats never landed,
                        which ``finalize_index`` recounts.

Scale shape: one decode (map-only) + a handful of aggregates and
joins, each keyed on (shard, term) or (shard, ordinal) — the same
shuffle budget as a maintenance rebuild, so fsck is runnable wherever
compaction is.  Output is violations only (bounded by damage, not by
index size).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from document_retrieval_system_spark.operators.index_build import (
    IndexPaths,
    flat_postings,
    read_table,
    stats_state,
)

_OUT_COLS = ["check", "shard", "key", "expected", "actual"]


def _violation(df: DataFrame, check: str, key_col, expected, actual) -> DataFrame:
    return df.select(
        F.lit(check).alias("check"),
        F.col("shard").cast("int").alias("shard"),
        key_col.cast("string").alias("key"),
        expected.cast("string").alias("expected"),
        actual.cast("string").alias("actual"),
    )


def fsck_index(spark: SparkSession, index_dir: str) -> DataFrame:
    """Audit the index at ``index_dir``; returns one row per violation
    (empty = consistent).  Read-only."""
    paths = IndexPaths(index_dir)
    docs = read_table(spark, paths, "docs")
    blocks = read_table(spark, paths, "postings")
    decoded = flat_postings(blocks, with_positions="bytes").persist()
    doc_keys = docs.select("shard", "local_no", "doc_len", "doc_id")

    out: list[DataFrame] = []

    # orphan postings: decoded ordinal not in docs
    orph = (
        decoded.select("shard", "local_no", "term")
        .join(doc_keys.select("shard", "local_no"),
              ["shard", "local_no"], "left_anti")
        .groupBy("shard", "local_no")
        .agg(F.count("*").alias("_n"))
    )
    out.append(_violation(
        orph, "orphan_posting", F.col("local_no"),
        F.lit("ordinal in docs"), F.concat(F.lit("postings="), F.col("_n"))))

    # per-shard ordinal validity: unique and non-negative.  Density
    # (0..n-1 with no holes) deliberately is NOT an invariant: the
    # upsert/delete paths keep ordinals STABLE across maintenance
    # (streaming/incremental.py — survivors keep their slot forever,
    # holes mark dead versions), so a gap is a healthy state, not
    # corruption.  Duplicates are always corruption — block-max
    # addressing resolves a (shard, ordinal) to exactly one doc.
    dens = doc_keys.groupBy("shard").agg(
        F.count("*").alias("_n"),
        F.countDistinct("local_no").alias("_nd"),
        F.min("local_no").alias("_mn"),
    )
    out.append(_violation(
        dens.filter(F.col("_nd") != F.col("_n")), "ordinal_dup",
        F.lit("shard"), F.col("_n"), F.col("_nd")))
    out.append(_violation(
        dens.filter(F.col("_mn") < 0), "ordinal_negative",
        F.lit("shard"), F.lit(">= 0"), F.col("_mn")))

    # doc_id uniqueness across the whole index
    dup = (
        docs.groupBy("doc_id").agg(
            F.count("*").alias("_n"), F.min("shard").alias("shard"))
        .filter(F.col("_n") > 1)
    )
    out.append(_violation(
        dup, "doc_id_dup", F.col("doc_id"), F.lit(1), F.col("_n")))

    # block metadata vs decoded payloads — recompute per (shard, term)
    # block extremes by re-walking the decode in block order is overkill;
    # instead verify at (shard, term) granularity: counts, tf max, and
    # doc range union must match what the block rows advertise
    adv = blocks.groupBy("shard", "term").agg(
        F.sum("n").alias("_adv_n"),
        F.min("first_doc").alias("_adv_first"),
        F.max("last_doc").alias("_adv_last"),
        F.max("max_tf").alias("_adv_maxtf"),
        F.min("min_dl").alias("_adv_mindl"),
        # each appended segment has its own block 0
        F.sum(F.when(F.col("block_no") == 0, F.col("df_local"))).alias("_df0"),
        F.sum(F.when(F.col("block_no") == 0, F.col("cf_local"))).alias("_cf0"),
    )
    act = decoded.groupBy("shard", "term").agg(
        F.count("*").alias("_act_n"),
        F.sum("tf").alias("_act_cf"),
        F.min("local_no").alias("_act_first"),
        F.max("local_no").alias("_act_last"),
        F.max("tf").alias("_act_maxtf"),
        F.min("doc_len").alias("_act_mindl"),
    )
    meta = adv.join(act, ["shard", "term"], "full")
    bad_meta = meta.filter(
        (F.col("_adv_n") != F.col("_act_n"))
        | (F.col("_adv_first") != F.col("_act_first"))
        | (F.col("_adv_last") != F.col("_act_last"))
        | (F.col("_adv_maxtf") != F.col("_act_maxtf"))
        | (F.col("_adv_mindl") != F.col("_act_mindl"))
        | F.col("_adv_n").isNull() | F.col("_act_n").isNull()
    )
    out.append(_violation(
        bad_meta, "block_meta", F.col("term"),
        F.concat_ws("/", "_adv_n", "_adv_first", "_adv_last",
                    "_adv_maxtf", "_adv_mindl"),
        F.concat_ws("/", "_act_n", "_act_first", "_act_last",
                    "_act_maxtf", "_act_mindl")))
    # null-SAFE: a term whose block 0 vanished advertises df_local
    # nowhere (_df0 NULL) — that is a violation, not a skip
    out.append(_violation(
        meta.filter(~F.col("_df0").eqNullSafe(F.col("_act_n"))
                    | ~F.col("_cf0").eqNullSafe(F.col("_act_cf"))), "df_local",
        F.col("term"), F.concat_ws("/", "_act_n", "_act_cf"),
        F.concat_ws("/", "_df0", "_cf0")))

    # dl replicated in blocks must match the docs table
    dlm = (
        decoded.select("shard", "local_no",
                       F.col("doc_len").alias("_dl_post"))
        .distinct()
        .join(doc_keys.select("shard", "local_no",
                              F.col("doc_len").alias("_dl_doc")),
              ["shard", "local_no"])
        .filter(F.col("_dl_post") != F.col("_dl_doc"))
    )
    out.append(_violation(
        dlm, "doc_len_mismatch", F.col("local_no"),
        F.col("_dl_doc"), F.col("_dl_post")))

    # corpus stats: each shard's row must re-derive from its own docs, and
    # carry the stamp of its latest manifest event
    cs = read_table(spark, paths, "corpus_stats")
    re_cs = docs.filter(F.col("doc_len") > 0).groupBy("shard").agg(
        F.count("*").alias("_td"), F.sum("doc_len").alias("_tt"))
    cs_bad = (
        cs.join(re_cs, "shard", "full")
        .na.fill(0, ["total_docs", "total_tokens", "_td", "_tt"])
        .filter((F.col("total_docs") != F.col("_td"))
                | (F.col("total_tokens") != F.col("_tt")))
    )
    out.append(_violation(
        cs_bad, "corpus_stats", F.lit("corpus"),
        F.concat_ws("/", "_td", "_tt"),
        F.concat_ws("/", "total_docs", "total_tokens")))

    heads, stats = stats_state(spark, paths)
    behind = [(s, str(head), str(stats[s][2]) if s in stats else None)
              for s, head in sorted(heads.items())
              if s not in stats or stats[s][2] != head]
    out.append(_violation(
        spark.createDataFrame(behind, "shard int, _head string, _stamp string"),
        "stats_stamp", F.lit("committed_at"), F.col("_head"), F.col("_stamp")))

    # materialize the (damage-bounded) violation set, then release the
    # decoded cache — returning a lazy plan would leak the persist
    result = reduce(DataFrame.unionByName, out).select(*_OUT_COLS)
    result = result.localCheckpoint(eager=True)
    decoded.unpersist()
    return result
