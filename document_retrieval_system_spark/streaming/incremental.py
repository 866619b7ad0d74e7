"""Incremental index maintenance via Structured Streaming.

The reference "refreshes" by synchronously rescanning the filesystem and
skipping docs whose mtime is unchanged (retrieval_core.py:177-215), and
calls remove_document before re-adding a changed file (indexer.py:405-411).
The Spark-native equivalent is a file-source stream of new page batches
feeding ``foreachBatch``:

- **inserts** (urls never seen) append **delta segments** to the same
  index layout the batch builder writes: docs + posting blocks under a
  fresh ``local_no`` range per shard, and a manifest row per batch.
  The new segment's block 0 of each (shard, term) carries its df/cf.
- **updates** (url re-sent with newer warc_ts) map the reference's
  remove-then-add: the affected shards' docs and postings partitions are
  REWRITTEN without the superseded rows (dynamic partition overwrite),
  so no stale version survives — queries can never see the same doc_id
  twice and df/corpus stats never double-count.  Untouched shards are
  never read; touched shards without an update keep the pure-append path.
- re-sends with warc_ts <= the indexed version are dropped (the mtime
  skip-check, indexer.py:443-445).

A batch is ONE pass (``_append_batch``): one guard scan of the touched
shards' ``(doc_id, warc_ts)``, one analyzer run over the surviving rows
of every touched shard (ordinals from ``ordinal_base``), one
``build_postings`` over those rows and the rewritten shards' surviving
postings, one counter pass.  It writes through the commit protocol of
``operators/index_build``: the docs of every touched shard, their
postings, then per event the manifest rows and corpus rows.
Untouched shards are never read, and ``finalize_index`` has nothing left
to rescan.

Queries read base + delta segments transparently (all rows of the same
postings table).  Periodic compaction = ``rebuild_shard_postings``, which
decodes every segment of a shard and re-blocks the union — exactly
Iceberg's merge-on-read vs compaction trade; the per-shard rewrite here
is merge-on-WRITE for updates, which keeps every query path (WAND,
boolean, phrase) free of tombstone filtering.
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
    layout_partitions,
    live_postings,
    of_shards,
    ordinal_base,
    read_table,
    rebuild_shard_postings,
    shard_counts,
    shard_layout,
    tokenize_docs,
    write_shards,
)
from document_retrieval_system_spark.sources.corpus import PAGES_DDL


def _rewrite_updated_shards(spark: SparkSession, paths: IndexPaths, tok: DataFrame,
                            affected: list[int], layout: list[int]) -> DataFrame:
    """remove_document equivalent (indexer.py:405-411) at shard
    granularity: the docs partitions of the ``affected`` shards become
    (stored rows minus this batch's doc_ids) + (the batch's rows of
    ``tok``), in one dynamic partition overwrite that reads the stored
    docs once.  Returns that post-event docs frame, persisted in the
    ``shard_layout`` of ``layout``, which the postings rebuild joins.

    Analyzer work is proportional to the BATCH, not the shard (r2
    re-tokenized every surviving doc of an updated shard — ~250k
    re-analyses to update 1 doc): survivors keep their stored docs-table
    row, and the rebuild recovers their posting rows from the existing
    blocks (``live_postings``: vectorized codec + byte slicing).

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
    fresh = of_shards(tok, affected).select(*DOC_TABLE_COLS)
    # frozen: the overwrite re-caches every cached plan that reads docs/
    survivors = (
        read_table(spark, paths, "docs").filter(F.col("shard").isin(affected))
        .join(fresh.select("doc_id"), "doc_id", "left_anti")
        .localCheckpoint(eager=False)
    )
    docs = shard_layout(survivors.unionByName(fresh), "docs", layout).persist()
    # every affected shard holds rows of this batch: none is emptied
    write_shards(spark, paths, "docs", docs, affected, overwrite=True,
                 present=affected, layout=layout)
    return docs


def _intent_marker(paths: IndexPaths, batch_id: int) -> str:
    return os.path.join(paths.root, "stream_intents", f"batch-{batch_id}")


def _append_batch(spark: SparkSession, batch_df: DataFrame, batch_id: int,
                  paths: IndexPaths, n_shards: int) -> None:
    """Commit one stream batch in one pass over it (module docstring).

    Idempotency across crash/replay: an intent marker is written before
    ANY mutation and deleted only after the last commit.  If this
    batch_id's marker already exists, a previous attempt died mid-write
    (e.g. docs overwritten, postings not — Structured Streaming then
    replays the same batch, whose rows now carry warc_ts EQUAL to the
    stored ones).  The strict `>` guard would silently drop those rows
    and leave docs/postings numbering divergent forever; under an
    incomplete marker the guard widens to `>=` and every equal-ts
    re-send routes through the shard rewrite, which rebuilds from
    (survivors ∪ batch) and is idempotent by construction."""
    docs = add_doc_identity(batch_df, n_shards)
    intent = _intent_marker(paths, batch_id)
    replay_incomplete = fs_exists(spark, intent)
    indexed = fs_exists(spark, paths.docs)

    # I6 incremental-upsert guard: drop urls already indexed with
    # warc_ts >= incoming (indexer.py:443-445); flag true updates.  One
    # scan of (doc_id, warc_ts) of the touched shards' docs — files sorted
    # by ordinal, so read whole — frozen, as this batch writes to them
    if indexed:
        touched = [r["shard"] for r in
                   docs.select("shard").coalesce(1).distinct().collect()]
        existing = read_table(spark, paths, "docs").filter(
            F.col("shard").isin(touched)
        ).select("doc_id", F.col("warc_ts").alias("old_ts"))
        newer = (
            (F.col("warc_ts") >= F.col("old_ts")) if replay_incomplete
            else (F.col("warc_ts") > F.col("old_ts"))
        )
        docs = (
            docs.join(existing, "doc_id", "left")
            .filter(F.col("old_ts").isNull() | newer)
            .withColumn("is_update", F.col("old_ts").isNotNull())
            .drop("old_ts")
            .localCheckpoint(eager=False)
        )
    else:
        docs = docs.withColumn("is_update", F.lit(False))
    # an empty batch (or one whose every url is already indexed as new or
    # newer) collects nothing here and returns below, before the analyzer
    has_update = {
        r["shard"]: r["upd"] for r in
        docs.coalesce(1).groupBy("shard").agg(F.max("is_update").alias("upd")).collect()
    }
    if not has_update:
        fs_delete(spark, intent)  # nothing to redo; clear a stale marker
        return

    # a shard with any update is rewritten whole, its inserts included
    touched = sorted(has_update)
    affected = [s for s in touched if has_update[s]]
    inserted = [s for s in touched if not has_update[s]]
    # the ONLY analyzer invocation.  Its lineage reads the frozen guard,
    # not the index, so it is persisted, partitioned as the touched
    # shards' shard_layout: its docs writes and counters need no exchange
    tok = assign_local_no(
        tokenize_docs(docs.drop("is_update"))
        .repartition(layout_partitions(touched), "shard"),
        base=ordinal_base(spark, paths, touched) if indexed else None,
    ).persist()
    cached = [tok]
    fs_touch(spark, intent)  # intent BEFORE the first mutation
    try:
        if inserted:
            write_shards(spark, paths, "docs", of_shards(tok, inserted), inserted,
                         layout=touched)
        rows, new_docs = doc_term_rows(tok), None
        if affected:
            new_docs = _rewrite_updated_shards(spark, paths, tok, affected, touched)
            cached.append(new_docs)
            # frozen: the survivors' postings are read from the partitions
            # the postings overwrite below replaces
            rows = (live_postings(spark, paths, affected, new_docs).unionByName(rows)
                    .localCheckpoint(eager=False))
        blocks = shard_layout(build_postings(rows), "postings", touched).persist()
        cached.append(blocks)
        counts = shard_counts(tok, new_docs, blocks)
        if inserted:
            write_shards(spark, paths, "postings", of_shards(blocks, inserted), inserted,
                         layout=touched)
        if affected:
            write_shards(spark, paths, "postings", of_shards(blocks, affected), affected,
                         overwrite=True, layout=touched,
                         present=[s for s in affected if counts[s]["blocks"]])
        if inserted:
            commit_manifest(spark, paths, f"stream-batch-{batch_id}", "append", blocks,
                            inserted, parsed=tok, counts=counts)
        if affected:
            commit_manifest(spark, paths, f"stream-update-batch-{batch_id}", "snapshot",
                            blocks, affected, parsed=tok, docs=new_docs, counts=counts)
    finally:
        for frame in cached:
            frame.unpersist()
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
            for r in read_table(spark, paths, "postings")
            .select("shard").distinct().collect()
        )
    if not shards:
        return
    write_maintenance_intent(spark, paths, "compaction", list(shards))
    rebuild_shard_postings(spark, paths, list(shards), status="compaction")
    fs_delete(spark, maintenance_intent_path(paths))


def run_incremental(spark: SparkSession, incoming_dir: str, index_dir: str,
                    checkpoint_dir: str, n_shards: int = 32,
                    compact: bool = False) -> None:
    """Process all currently-available new-page files once (availableNow).
    Every batch commits the stats of the shards it touches; the closing
    ``finalize_index`` only recounts a shard a crash left stale.
    Long-running deployments drop availableNow and leave the stream up."""
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
    finalize_index(spark, paths)
