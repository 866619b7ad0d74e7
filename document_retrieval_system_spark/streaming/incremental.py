"""Incremental index maintenance via Structured Streaming.

The reference "refreshes" by synchronously rescanning the filesystem and
skipping docs whose mtime is unchanged (retrieval_core.py:177-215), and
calls remove_document before re-adding a changed file (indexer.py:405-411).
The Spark-native equivalent is a file-source stream of new page batches
feeding ``foreachBatch``:

- **inserts** (urls never seen) append **delta segments** to the same
  index layout the batch builder writes: docs + posting blocks under a
  fresh ``local_no`` range per shard, manifest row per batch.
- **updates** (url re-sent with newer warc_ts) map the reference's
  remove-then-add: the affected shards' docs and postings partitions are
  REWRITTEN without the superseded rows (dynamic partition overwrite),
  so no stale version survives — queries can never see the same doc_id
  twice and df/corpus stats never double-count.  Untouched shards keep
  the pure-append fast path.
- re-sends with warc_ts <= the indexed version are dropped (the mtime
  skip-check, indexer.py:443-445).

Queries read base + delta segments transparently (all rows of the same
postings table).  Periodic compaction = ``rebuild_shard_postings``, which
decodes every segment of a shard and re-blocks the union — exactly
Iceberg's merge-on-read vs compaction trade; the per-shard rewrite here
is merge-on-WRITE for updates, which keeps every query path (WAND,
boolean, phrase) free of tombstone filtering.

Every write goes through the commit protocol of ``operators/index_build``
(``write_shards`` then ``commit_manifest``), like the batch builder's.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from document_retrieval_system_spark.operators.analyze import doc_term_rows
from document_retrieval_system_spark.operators.index_build import (
    DOC_TABLE_COLS,
    IndexPaths,
    add_doc_identity,
    assign_local_no,
    build_postings,
    commit_manifest,
    finalize_index,
    fs_delete,
    fs_exists,
    fs_touch,
    read_table,
    rebuild_shard_postings,
    tokenize_docs,
    write_shards,
    _read_postings_or_empty,
)
from document_retrieval_system_spark.sources.corpus import PAGES_DDL

# test fault injection: called between the docs overwrite and the
# postings overwrite of a shard rewrite (the replay crash window)
_AFTER_DOCS_WRITE_HOOK = None


def _append_inserts(spark: SparkSession, ins: DataFrame, shards: list[int],
                    batch_id: int, paths: IndexPaths) -> None:
    """Pure-append fast path for shards with no superseded versions: a
    delta segment per shard, under ordinals past the shard's current max."""
    base = read_table(spark, paths, "docs") if fs_exists(spark, paths.docs) else None
    # localCheckpoint (eager) truncates lineage: the plan reads paths.docs
    # (ordinal base + upsert guard) and the appends below would poison any
    # recomputation.  On a cluster use checkpoint() with a reliable dir.
    tok = assign_local_no(tokenize_docs(ins), base=base).localCheckpoint(eager=True)
    write_shards(spark, paths, "docs", tok, shards)
    blocks = build_postings(doc_term_rows(tok)).localCheckpoint(eager=True)
    write_shards(spark, paths, "postings", blocks, shards)
    commit_manifest(spark, paths, f"stream-batch-{batch_id}", "append", blocks,
                    parsed=tok)


def _rewrite_updated_shards(spark: SparkSession, batch_aff: DataFrame,
                            affected: list[int], batch_id: int,
                            paths: IndexPaths) -> None:
    """remove_document equivalent (indexer.py:405-411) at shard
    granularity, in two dynamic partition overwrites.  First the affected
    shards' docs partitions become (old rows minus superseded doc_ids) +
    (this batch's rows); then ``rebuild_shard_postings`` re-blocks their
    postings from the surviving compressed blocks plus the batch's fresh
    posting rows, and commits the snapshot manifest rows.  Bounded by the
    updated shards — untouched shards are never read or written.

    Analyzer work is proportional to the BATCH, not the shard (r2
    re-tokenized every surviving doc of an updated shard — ~250k
    re-analyses to update 1 doc): survivors keep their stored docs-table
    row, and the rebuild recovers their posting rows from the existing
    blocks (vectorized codec + byte slicing).

    ``local_no`` is STABLE: survivors keep their ordinal forever and
    fresh rows (including new versions of updated docs) allocate past
    the shard's current max, leaving holes where versions died.  This is
    the crash-replay correctness anchor: a docs↔postings join on
    (shard, local_no) can never misattribute rows, because an ordinal is
    bound to exactly one doc version for the life of the shard — after a
    crash between the docs and postings overwrites, surviving ordinals
    still mean the same docs, and orphaned posting ordinals (a rewritten
    doc's old number) simply have no docs row and drop out of the
    rebuild's docs join.  (Renumbering survivors densely — the r2 design
    — made replay silently shift every posting row one doc over whenever
    the crashed attempt inserted a new doc into the shard.)  The holes
    cost only slightly larger docID deltas; gap-aligned block splitting
    already handles sparse ranges."""
    old_docs = read_table(spark, paths, "docs").filter(F.col("shard").isin(affected))
    # the ONLY analyzer invocation: this batch's rows.  Checkpointed: its
    # ordinals derive from paths.docs, which is overwritten below
    fresh = assign_local_no(
        tokenize_docs(batch_aff), base=old_docs
    ).localCheckpoint(eager=True)
    # frozen too: the plan reads the partitions it replaces
    docs = (
        old_docs.join(fresh.select("doc_id"), "doc_id", "left_anti")
        .select(*DOC_TABLE_COLS)
        .unionByName(fresh.select(*DOC_TABLE_COLS))
        .localCheckpoint(eager=True)
    )
    write_shards(spark, paths, "docs", docs, affected, overwrite=True)
    if _AFTER_DOCS_WRITE_HOOK is not None:
        _AFTER_DOCS_WRITE_HOOK()
    rebuild_shard_postings(spark, paths, affected,
                           f"stream-update-batch-{batch_id}", parsed=fresh)


def _intent_marker(paths: IndexPaths, batch_id: int) -> str:
    return os.path.join(paths.root, "stream_intents", f"batch-{batch_id}")


def _append_batch(spark: SparkSession, batch_df: DataFrame, batch_id: int,
                  paths: IndexPaths, n_shards: int) -> None:
    if batch_df.isEmpty():
        return
    docs = add_doc_identity(batch_df, n_shards)

    # Idempotency across crash/replay: an intent marker is written before
    # ANY mutation and deleted only after the manifest commit.  If this
    # batch_id's marker already exists, a previous attempt died mid-write
    # (e.g. docs overwritten, postings not — Structured Streaming then
    # replays the same batch, whose rows now carry warc_ts EQUAL to the
    # stored ones).  The strict `>` guard would silently drop those rows
    # and leave docs/postings numbering divergent forever; under an
    # incomplete marker the guard widens to `>=` and every equal-ts
    # re-send routes through the shard rewrite, which rebuilds from
    # (survivors ∪ batch) and is idempotent by construction.
    intent = _intent_marker(paths, batch_id)
    replay_incomplete = fs_exists(spark, intent)

    # I6 incremental-upsert guard: drop urls already indexed with
    # warc_ts >= incoming (indexer.py:443-445); flag true updates.
    if fs_exists(spark, paths.docs):
        existing = read_table(spark, paths, "docs").select(
            "doc_id", F.col("warc_ts").alias("old_ts")
        )
        newer = (
            (F.col("warc_ts") >= F.col("old_ts")) if replay_incomplete
            else (F.col("warc_ts") > F.col("old_ts"))
        )
        docs = (
            docs.join(existing, "doc_id", "left")
            .filter(F.col("old_ts").isNull() | newer)
            .withColumn("is_update", F.col("old_ts").isNotNull())
            .drop("old_ts")
        )
    else:
        docs = docs.withColumn("is_update", F.lit(False))
    # freeze before ANY write below mutates paths this plan reads
    docs = docs.localCheckpoint(eager=True)
    has_update = {
        r["shard"]: r["upd"]
        for r in docs.groupBy("shard").agg(F.max("is_update").alias("upd")).collect()
    }
    if not has_update:
        fs_delete(spark, intent)  # nothing to redo; clear a stale marker
        return

    # a shard with any update is rewritten whole, its inserts included
    affected = sorted(s for s, upd in has_update.items() if upd)
    inserted = sorted(s for s, upd in has_update.items() if not upd)
    docs = docs.drop("is_update")
    fs_touch(spark, intent)  # intent BEFORE the first mutation
    if inserted:
        _append_inserts(spark, docs.filter(F.col("shard").isin(inserted)),
                        inserted, batch_id, paths)
    if affected:
        _rewrite_updated_shards(spark, docs.filter(F.col("shard").isin(affected)),
                                affected, batch_id, paths)
    fs_delete(spark, intent)  # commit point: marker gone = batch complete


def compact_shards(spark: SparkSession, paths: IndexPaths,
                   shards: list[int] | None = None) -> None:
    """Merge delta posting segments — the compaction half of the
    documented Iceberg merge-on-read analogue (module docstring): after N
    append batches a (shard, term) posting list is scattered over N small
    segments, each with its own (possibly single-posting) blocks and its
    own block-max rows for WAND to sweep.  Compaction decodes every
    posting row of the target shards (vectorized codec; position payloads
    byte-sliced, never re-encoded; the analyzer NEVER runs) and re-runs
    the batch block builder, collapsing the segments into one gap-aligned
    BLOCK_SIZE-packed segment per (shard, term).  Docs partitions are
    untouched; query results are identical with fewer, fuller blocks.

    A deployment runs this on a cadence (every N stream batches / when a
    shard's manifest shows segment count above a threshold).

    The rewrite itself is ``rebuild_shard_postings`` (decode → re-block →
    dynamic overwrite → snapshot manifest rows, docs join dropping any
    orphans), guarded by the maintenance intent marker: a crash between
    the postings overwrite and the manifest snapshot would otherwise
    leave the shard's counters stale with no record that a rewrite
    happened — the surviving marker repairs it on the next entry."""
    from document_retrieval_system_spark.operators.index_build import (
        maintenance_intent_path,
        repair_maintenance,
        write_maintenance_intent,
    )

    repair_maintenance(spark, paths)
    if shards is None:
        shards = sorted(
            r["shard"]
            for r in _read_postings_or_empty(spark, paths)
            .select("shard").distinct().collect()
        )
    if not shards:
        return
    write_maintenance_intent(spark, paths, "compaction", list(shards))
    rebuild_shard_postings(spark, paths, list(shards), status="compaction")
    fs_delete(spark, maintenance_intent_path(paths))


def run_incremental(spark: SparkSession, incoming_dir: str, index_dir: str,
                    checkpoint_dir: str, n_shards: int = 32,
                    finalize: bool = True, compact: bool = False) -> None:
    """Process all currently-available new-page files once (availableNow),
    then refresh global stats.  Long-running deployments drop
    availableNow and leave the stream up."""
    paths = IndexPaths(index_dir)
    from document_retrieval_system_spark.operators.index_build import (
        repair_maintenance,
    )

    if fs_exists(spark, paths.docs):
        repair_maintenance(spark, paths)
    stream = (
        spark.readStream.schema(PAGES_DDL).parquet(incoming_dir)
    )
    query = (
        stream.writeStream.foreachBatch(
            lambda df, bid: _append_batch(spark, df, bid, paths, n_shards)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    if compact:
        compact_shards(spark, paths)
    if finalize:
        finalize_index(spark, paths)
