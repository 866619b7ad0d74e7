"""Distributed inverted-index construction (SURVEY.md §2.3, §3.2).

Replaces the reference's single-threaded dict mutation
(indexer.py:377-426 + add_document :44-93) with a two-shuffle Spark plan:

  pages ──map── doc_id=md5(url), shard=pmod(xxhash64(doc_id), n_shards)
        ──map── ONE fused Arrow UDF: extract_text -> tokenize -> per-doc
                term stats (I1, indexer.py:59-67), positions pre-varbyte'd;
                html dropped here so no shuffle ever moves page bytes
        ──shuffle 1── row_number over (shard, doc_id)  -> dense local_no
        ──shuffle 2── repartition(shard, term) + sorted-run mapInPandas
                      -> delta+varbyte posting blocks with block-max
                         metadata (max_tf, min_dl)
        ──write── postings/ docs/ partitioned by shard, sorted by term

Design notes for 10^12 docs / 1000 executors:

- **Document-sharded index.** Each shard holds complete postings for its
  doc subset; queries fan out over shards (classic distributed IR), which
  is what lets block-max WAND run document-at-a-time per shard with no
  cross-shard coordination, and bounds heavy-term posting lists by shard
  size (natural skew cap — the "salted aggregation": a heavy term's
  groupBy key space is (shard, term), never a single reducer).
- **Dense per-shard docIDs.** ``local_no`` = row_number within shard —
  sorted dense ids make docID deltas ~1 varbyte.  Global identity stays
  (shard, local_no) <-> doc_id in the docs table.
- **Block-max metadata is avgdl-independent.** Blocks store (max_tf,
  min_dl); the BM25 upper bound tf_norm(max_tf, min_dl, avgdl) is
  computed at query time, so bounds stay valid when the corpus (and
  avgdl) grows across incremental builds.
- **Resumable waves + lineage** (north_star): shards are processed in
  waves; each wave appends its partitions, then its manifest rows
  (data-before-marker ordering), then its shards' corpus stats.  A
  term's df and cf are not kept apart: every posting segment's block 0
  carries them (``df_local``, ``cf_local``).  ``build_index(resume=True)``
  skips shards already in the manifest.  The manifest carries per-shard
  counters: docs parsed, docs indexed, postings emitted, bytes compressed
  — the reference has only a tqdm bar (indexer.py:403).
- The table layout (partition column ``shard``, files sorted by term,
  append + marker commits) is exactly an Iceberg partition spec +
  snapshot commit; Iceberg jars aren't in this sandbox so the tables are
  plain partitioned Parquet with the same contract.
"""

from __future__ import annotations

import bisect
import os
import time
from functools import reduce
from urllib.parse import urlparse

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.fs as pafs
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from document_retrieval_system_spark.operators.analyze import doc_term_rows
from document_retrieval_system_spark.operators.codec import (
    BLOCK_SIZE,
    decode_block,
    decode_block_positions,
    encode_block,
)

class ListAccumulatorParam:
    """AccumulatorParam for list-append accumulators (per-partition
    timing records).  Lives in the package (not a tools/ script) so
    executors can unpickle it."""

    def zero(self, v):
        return []

    def addInPlace(self, a, b):
        a.extend(b)
        return a


# The declared schema of every index table, in writer column order.  Every
# Spark read goes through ``read_table``, which hands Spark the schema
# instead of letting it launch a job to infer one from the file footers, and
# every driver read through ``read_table_arrow``; the layout test pins each
# declaration to what the writers produce.
POSTINGS_SCHEMA = (
    "shard int, term string, block_no int, n int, first_doc long, last_doc long, "
    "df_local int, cf_local long, max_tf int, min_dl int, "
    "doc_bytes binary, tf_bytes binary, dl_bytes binary, pos_bytes binary"
)
DOCS_SCHEMA = (
    "shard int, local_no long, doc_id string, url string, warc_ts timestamp, "
    "lang string, title string, text string, doc_len int"
)
# the manifest is an append-only event log; every writer emits this exact
# column set.  ``kind`` gives rows aggregate semantics: an 'append' row's
# posting counters describe segments ADDED by that event (build waves,
# stream insert batches), a 'snapshot' row's counters describe the FULL
# post-event state of its shard (shard rewrite, compaction) and supersede
# everything earlier — see manifest_stats.
MANIFEST_SCHEMA = (
    "shard int, docs_parsed long, docs_indexed long, postings_emitted long, "
    "blocks long, doc_bytes long, tf_bytes long, dl_bytes long, pos_bytes long, "
    "status string, kind string, committed_at timestamp"
)
# The corpus stats are kept per shard by the commit that changes a shard
# (``commit_manifest``): one row per shard, stamped with the manifest event
# (``committed_at``) it reflects.  A term's global df and cf are the integer
# sums of the df_local and cf_local of every segment's block 0 in postings.
CORPUS_STATS_SCHEMA = (
    "shard int, total_docs long, total_tokens long, committed_at timestamp"
)
TABLE_SCHEMAS = {
    "docs": DOCS_SCHEMA,
    "postings": POSTINGS_SCHEMA,
    "corpus_stats": CORPUS_STATS_SCHEMA,
    "manifest": MANIFEST_SCHEMA,
}
# derived on demand per manifest snapshot (``IndexReader.doc_norms``)
DOC_NORMS_SCHEMA = "shard int, local_no long, tfidf_veclen double"


def _columns(schema: str) -> list[str]:
    return [field.split()[0] for field in schema.split(",")]


_ARROW_TYPES = {
    "int": pa.int32(), "long": pa.int64(), "double": pa.float64(),
    "string": pa.string(), "binary": pa.binary(),
    "timestamp": pa.timestamp("us", tz="UTC"),
}


def _arrow_schema(schema: str) -> pa.Schema:
    """A declared table schema as the Arrow schema Spark writes it under."""
    return pa.schema([(name, _ARROW_TYPES[typ])
                      for name, typ in (f.split() for f in schema.split(","))])


DEFAULT_N_SHARDS = 32


def add_doc_identity(pages: DataFrame, n_shards: int) -> DataFrame:
    """doc_id = md5(url) (datasource_manager.py:246-258); shard = hash mod."""
    return pages.withColumn("doc_id", F.md5(F.col("url"))).withColumn(
        "shard", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n_shards)).cast("int")
    )


def assign_local_no(docs: DataFrame, base: dict[int, int] | None = None) -> DataFrame:
    """Dense per-shard ordinal, assigned in URL sort order — the one
    ordinal allocator of every writer.

    URL-ordered docIDs are the classic IR assignment for web corpora:
    pages of one host/topic share vocabulary and sort adjacent, so a
    term's postings concentrate in docID ranges instead of spreading
    i.i.d.  That locality is what block-max metadata exploits — WAND
    pruning on md5-ordered ordinals (r1-r3) was structurally impossible
    because hashing whitens the docID axis (measured decoded_frac ~1.0
    regardless of corpus clustering).  It also tightens delta+varbyte:
    hot hosts yield dense ordinal runs.  One task per shard sorts its
    urls; at larger scale raise n_shards so the sort fits an executor.

    ``base``: ``{shard: first free ordinal}`` (``ordinal_base``).
    Ordinals then start past each shard's max ``local_no`` (superseded
    versions included), so an ordinal is never reused by a different doc
    version — the stable-ordinal rule the stream paths rely on
    (streaming/incremental.py)."""
    rank = F.row_number().over(Window.partitionBy("shard").orderBy("url")) - 1
    if base:
        start = F.create_map(*[F.lit(x) for kv in sorted(base.items()) for x in kv])
        rank = F.coalesce(F.element_at(start, F.col("shard")), F.lit(0)) + rank
    return docs.withColumn("local_no", rank.cast("long"))


def tokenize_docs(docs: DataFrame, analyzer=None) -> DataFrame:
    """Fill text from html (byte-identical extractor) + analyze, in ONE
    fused Arrow UDF stage; drops the raw html column afterwards so no
    downstream shuffle ever moves page bytes."""
    from document_retrieval_system_spark.functions.analyzer import process_text
    from document_retrieval_system_spark.operators.analyze import (
        make_extract_tokenize_udf,
    )

    udf = make_extract_tokenize_udf(analyzer or process_text)
    out = docs.withColumn(
        "_et", udf(F.col("html"), F.col("url"), F.col("text"), F.col("lang"))
    )
    return (
        out.withColumn("title", F.col("_et.title"))
        .withColumn("text", F.col("_et.text"))
        .withColumn("doc_len", F.col("_et.doc_len"))
        .withColumn("terms", F.col("_et.terms"))
        .drop("_et", "html")
    )


_BLOCK_COLS = _columns(POSTINGS_SCHEMA)


# Split a term's posting run at docID gaps wider than GAP_SPLIT_MIN and
# 16x the run's mean spacing: a block whose [first_doc, last_doc] range
# straddles an empty stretch of the docID axis advertises its (large)
# upper bound over documents it cannot score, which poisons block-max
# pruning exactly where it should win (rare terms clustered by the
# docID locality of URL-sorted web corpora).  Gap-aligned boundaries
# cost a few extra block rows and nothing else — n is stored per block.
GAP_SPLIT_MIN = 4096
GAP_SPLIT_FACTOR = 16


def _gap_splits(docs: np.ndarray) -> list[int]:
    if docs.size < 2:
        return []
    gaps = np.diff(docs.astype(np.int64))
    span = int(docs[-1]) - int(docs[0]) + 1
    thresh = max(GAP_SPLIT_MIN, GAP_SPLIT_FACTOR * span // docs.size)
    return (np.nonzero(gaps > thresh)[0] + 1).tolist()


def _emit_group_blocks(out: dict, shard: int, term: str, docs, tfs, dls, poss):
    df_local = int(docs.size)
    cf_local = int(tfs.sum())
    bounds = [0] + _gap_splits(docs) + [df_local]
    slices = []
    for lo, hi in zip(bounds[:-1], bounds[1:]):
        for b0 in range(lo, hi, BLOCK_SIZE):
            slices.append(slice(b0, min(b0 + BLOCK_SIZE, hi)))
    for block_no, sl in enumerate(slices):
        d, t, l = docs[sl], tfs[sl], dls[sl]
        out["shard"].append(shard)
        out["term"].append(term)
        out["block_no"].append(block_no)
        out["n"].append(int(d.size))
        out["first_doc"].append(int(d[0]))
        out["last_doc"].append(int(d[-1]))
        out["df_local"].append(df_local)
        out["cf_local"].append(cf_local)
        out["max_tf"].append(int(t.max()))
        out["min_dl"].append(int(l.min()))
        doc_bytes, tf_bytes, dl_bytes = encode_block(d, t, l)
        out["doc_bytes"].append(doc_bytes)
        out["tf_bytes"].append(tf_bytes)
        out["dl_bytes"].append(dl_bytes)
        # per-(doc, term) payloads were varbyte-encoded in the fused map
        # stage; the block payload is their docID-ordered concatenation
        # (byte-identical to encode_positions over the raw lists)
        out["pos_bytes"].append(b"".join(poss[sl]))


def _blocks_from_sorted(pdf: pd.DataFrame) -> pd.DataFrame:
    """pdf sorted by (shard, term, local_no): vectorized group detection,
    then per-group numpy slicing — no per-group pandas frames."""
    n = len(pdf)
    shard_arr = pdf["shard"].to_numpy()
    term_arr = pdf["term"].to_numpy(dtype=object)
    docs_all = pdf["local_no"].to_numpy().astype(np.uint64)
    tfs_all = pdf["tf"].to_numpy().astype(np.uint64)
    dls_all = pdf["doc_len"].to_numpy().astype(np.uint64)
    poss_all = pdf["pos_bytes"].to_numpy()
    change = np.empty(n, dtype=bool)
    change[0] = True
    change[1:] = (term_arr[1:] != term_arr[:-1]) | (shard_arr[1:] != shard_arr[:-1])
    starts = np.nonzero(change)[0]
    ends = np.concatenate([starts[1:], [n]])
    out: dict = {c: [] for c in _BLOCK_COLS}
    for s, e in zip(starts, ends):
        _emit_group_blocks(
            out, int(shard_arr[s]), term_arr[s],
            docs_all[s:e], tfs_all[s:e], dls_all[s:e], poss_all[s:e],
        )
    return pd.DataFrame(out)


def build_postings(term_rows: DataFrame, timing_acc=None) -> DataFrame:
    """Shuffle by (shard, term), sort runs, build blocks batch-at-a-time.

    Group contiguity is guaranteed by hash repartitioning on the full
    group key + sortWithinPartitions; Arrow batches may still split a
    group, so a carry buffer defers the trailing (possibly incomplete)
    group of each batch.  (A groupBy().applyInPandas here costs one
    pandas frame per (shard, term) — ~80k tiny groups on the test corpus
    — and measured ~2.5x slower than this batched form.)

    The (shard, term) key is the term-skew design claim (SURVEY.md §2.7):
    a heavy term's rows hash across every shard, so no reducer ever holds
    more of it than one shard's share.  ``timing_acc`` (a list
    accumulator) records (partition_id, elapsed_sec, rows) per partition
    of this stage so a soak test can assert the straggler bound.
    """
    src = term_rows.repartition("shard", "term").sortWithinPartitions(
        "shard", "term", "local_no"
    )

    def build(batches):
        import time

        from pyspark import TaskContext

        t_start = time.perf_counter()
        n_rows = 0
        carry: pd.DataFrame | None = None
        for pdf in batches:
            n_rows += len(pdf)
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if not len(pdf):
                continue
            last_shard = pdf["shard"].iat[-1]
            last_term = pdf["term"].iat[-1]
            trailing = (
                (pdf["shard"].to_numpy() == last_shard)
                & (pdf["term"].to_numpy(dtype=object) == last_term)
            )
            n_last = int(trailing[::-1].cumprod().sum())
            carry = pdf.iloc[len(pdf) - n_last:].copy()
            body = pdf.iloc[: len(pdf) - n_last]
            if len(body):
                yield _blocks_from_sorted(body)
        if carry is not None and len(carry):
            yield _blocks_from_sorted(carry)
        if timing_acc is not None:
            ctx = TaskContext.get()
            timing_acc.add([(
                ctx.partitionId() if ctx is not None else -1,
                time.perf_counter() - t_start,
                n_rows,
            )])

    return src.mapInPandas(build, POSTINGS_SCHEMA)


FLAT_SCHEMA = "shard int, term string, local_no long, tf int, doc_len int"
# with_positions -> (position column, its type, byte-sliced?)
_POSITION_FORMS = {
    True: ("positions", "array<int>", False),
    "bytes": ("pos_bytes", "binary", True),
}


def flat_postings(blocks: DataFrame, with_positions: bool | str = False,
                  extra_cols: list[str] | None = None) -> DataFrame:
    """Decode posting blocks back to one row per (term, doc) posting —
    the one posting decoder of every index reader.

    ``with_positions`` picks the position form:

    - ``False``: none (ranked scorers, doc sets, TF-IDF doc norms).
      Column pruning then keeps pos_bytes out of the scan entirely
      (check .explain ReadSchema);
    - ``True``: decoded ``positions array<int>`` (phrase/NEAR, the SQL
      flat view);
    - ``"bytes"``: each posting's ``pos_bytes`` payload, SLICED from the
      block payload at varbyte boundaries, never decoded+re-encoded — so
      ``build_postings`` over these rows re-blocks byte-identically.
      This is the cheap currency of index maintenance (shard rewrites,
      merge, fsck): vectorized codec work instead of re-running the
      Python analyzer over stored text (measured ~790 docs/s/core for
      the analyzer vs memory-bandwidth for the codec).

    ``extra_cols`` are block-level double columns replicated onto every
    posting row (e.g. a pre-joined idf), which lets callers join tiny
    block-cardinality data BEFORE the posting-cardinality explosion.
    """
    extra_cols = extra_cols or []
    cols = ["shard", "term", "n", "doc_bytes", "tf_bytes", "dl_bytes"] + extra_cols
    # numeric columns collect numpy chunks, object columns (None) python lists
    dtypes = {"shard": np.int32, "term": None, "local_no": np.int64,
              "tf": np.int32, "doc_len": np.int32}
    schema = FLAT_SCHEMA
    if with_positions:
        pos_col, pos_type, sliced = _POSITION_FORMS[with_positions]
        cols.append("pos_bytes")
        dtypes[pos_col] = None
        schema += f", {pos_col} {pos_type}"
    dtypes.update(dict.fromkeys(extra_cols, np.float64))
    schema += "".join(f", {c} double" for c in extra_cols)

    def decode(batches):
        for pdf in batches:
            parts: dict[str, list] = {c: [] for c in dtypes}
            for row in pdf.itertuples(index=False):
                docs, tfs, dls = decode_block(row.doc_bytes, row.tf_bytes,
                                              row.dl_bytes)
                parts["shard"].append(np.full(docs.size, row.shard, dtype=np.int32))
                parts["term"].extend([row.term] * docs.size)
                parts["local_no"].append(docs)
                parts["tf"].append(tfs)
                parts["doc_len"].append(dls)
                if with_positions:
                    parts[pos_col].extend(
                        decode_block_positions(row.pos_bytes, int(row.n), sliced)
                    )
                for c in extra_cols:
                    parts[c].append(np.full(docs.size, float(getattr(row, c))))
            yield pd.DataFrame({
                c: (pd.Series(v, dtype=object) if dtypes[c] is None
                    else np.concatenate(v) if v else np.empty(0, dtypes[c]))
                for c, v in parts.items()
            })

    return blocks.select(*cols).mapInPandas(decode, schema)


class IndexPaths:
    def __init__(self, index_dir: str):
        self.root = index_dir
        self.postings = os.path.join(index_dir, "postings")
        self.docs = os.path.join(index_dir, "docs")
        self.corpus_stats = os.path.join(index_dir, "corpus_stats")
        self.doc_norms = os.path.join(index_dir, "doc_norms")
        self.manifest = os.path.join(index_dir, "manifest")


def _hadoop_fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def fs_exists(spark: SparkSession, path: str) -> bool:
    """Existence via the Hadoop FileSystem API — correct for local paths
    AND object stores (s3a://, gs://...), unlike os.path."""
    fs, hpath = _hadoop_fs(spark, path)
    return bool(fs.exists(hpath))


def _mutation(name: str) -> None:
    """The crash seam of every index and ANN writer: a no-op that each
    helper creating, replacing or deleting a file under such a directory
    calls first, with the mutation's name.  The helpers look it up here at
    call time, so a test patching this attribute reaches every writer."""


def fs_touch(spark: SparkSession, path: str) -> None:
    """Create an (empty) marker directory via the Hadoop FileSystem API."""
    fs, hpath = _hadoop_fs(spark, path)
    if not fs.exists(hpath):
        _mutation(f"{path} touch")
        fs.mkdirs(hpath)


def fs_delete(spark: SparkSession, path: str) -> None:
    """Recursive delete via the Hadoop FileSystem API.  shutil.rmtree on
    an s3:// URI is a silent no-op — a 'fresh' build would then append
    onto the previous index."""
    fs, hpath = _hadoop_fs(spark, path)
    if fs.exists(hpath):
        _mutation(f"{path} delete")
        fs.delete(hpath, True)


def fs_write_text(spark: SparkSession, path: str, text: str) -> None:
    """Write a small text file via the Hadoop FileSystem API (overwrite)."""
    _mutation(f"{path} write")
    fs, hpath = _hadoop_fs(spark, path)
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def fs_rename(spark: SparkSession, src: str, dst: str) -> None:
    """Rename ``src`` to ``dst`` via the Hadoop FileSystem API.  Onto an
    existing directory, the local file system moves ``src`` into it."""
    _mutation(f"{dst} rename")
    fs, hsrc = _hadoop_fs(spark, src)
    fs.rename(hsrc, _hadoop_fs(spark, dst)[1])


def write_table(writer, path: str, partition: str | None = None) -> None:
    """Write a whole table at ``path`` with ``writer``, replacing any
    table there, partitioned by ``partition`` if given: the full builds
    of the derived tables (doc norms, ANN indexes)."""
    _mutation(f"{path} overwrite")
    if partition is not None:
        writer = writer.partitionBy(partition)
    writer.mode("overwrite").parquet(path)


def fs_read_text(spark: SparkSession, path: str) -> str:
    """Read a small text file via the Hadoop FileSystem API."""
    fs, hpath = _hadoop_fs(spark, path)
    stream = fs.open(hpath)
    try:
        return spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()


def read_table(spark: SparkSession, paths: IndexPaths, table: str) -> DataFrame:
    """The index table ``table`` read under its declared schema — the one
    Spark read path of every index table.  A table directory that holds no
    data files (a wave whose documents all tokenize empty writes only
    ``_SUCCESS`` under postings/) reads as empty, and so does a missing
    postings directory (a stream batch that crashed before its first
    postings write); real read errors (corruption, permissions, transient
    store failures) propagate."""
    if table == "postings" and not fs_exists(spark, paths.postings):
        return spark.createDataFrame([], POSTINGS_SCHEMA)
    return spark.read.schema(TABLE_SCHEMAS[table]).parquet(getattr(paths, table))


def _column_stats(frag, column: str) -> list:
    """The parquet statistics of ``column`` in each row group of the
    whole-file fragment ``frag``, read from its footer for that column
    alone (``RowGroupInfo.statistics`` converts every column's, binary
    payloads included)."""
    md = frag.metadata
    j = md.schema.names.index(column)
    return [md.row_group(i).column(j).statistics for i in range(md.num_row_groups)]


def _covers(stats, values: list) -> bool:
    """Whether a row group whose column statistics are ``stats`` may hold
    one of the sorted ``values``: some value lies in [min, max]."""
    if stats is None or not stats.has_min_max:
        return True
    i = bisect.bisect_left(values, stats.min)
    return i < len(values) and values[i] <= stats.max


def _data_files(fs, directory: str, missing_ok: bool = False) -> list:
    """The entries of ``directory`` that Spark reads as data: names
    starting with ``_`` or ``.`` are not (``_SUCCESS``, ``.crc`` side
    files, dynamic-overwrite staging directories)."""
    sel = pafs.FileSelector(directory, allow_not_found=missing_ok)
    return [i for i in fs.get_file_info(sel) if not i.base_name.startswith(("_", "."))]


def _fs_root(uri: str):
    """The pyarrow file system and root path of a local table ``uri``."""
    if urlparse(uri).scheme:
        return pafs.FileSystem.from_uri(uri)
    return pafs.LocalFileSystem(), uri


def table_fragments(paths: IndexPaths, table: str, filter: dict | None = None) -> list:
    """The parquet fragments of ``table`` that ``read_table_arrow`` scans
    under ``filter``, each narrowed to the row groups it must read.  A
    ``shard`` filter on a shard-partitioned table lists only those shard
    directories (a missing one is an empty shard); a row group survives
    when, for every filtered data column, its min/max statistics cover
    at least one filter value; only the filtered columns' statistics are
    read.  (pyarrow's own scan prunes row groups on equalities, not on
    ``is_in``.)  A missing postings directory is an empty table, as
    ``read_table`` reads it.  The table must be on the local file system
    (``driver_reads``)."""
    uri = getattr(paths, table)
    fs, root = _fs_root(uri)
    want = {c: sorted(set(v)) for c, v in (filter or {}).items()}
    if table in _SHARD_TABLES:
        shards = want.pop("shard", None)
        if shards is None:
            listing = _data_files(fs, root, missing_ok=table == "postings")
            shards = [int(i.base_name.split("=", 1)[1]) for i in listing
                      if i.type == pafs.FileType.Directory and i.base_name.startswith("shard=")]
        dirs = [(f"{root}/shard={s}", ds.field("shard") == s) for s in shards]
    else:
        dirs = [(root, None)]
    fmt = ds.ParquetFileFormat()
    out = []
    for directory, part in dirs:
        for info in _data_files(fs, directory, missing_ok=part is not None):
            if info.type != pafs.FileType.File:
                continue
            frag = fmt.make_fragment(info.path, fs, partition_expression=part)
            if want:
                stats = {c: _column_stats(frag, c) for c in want}
                keep = [i for i in range(frag.metadata.num_row_groups)
                        if all(_covers(stats[c][i], v) for c, v in want.items())]
                if not keep:
                    continue
                frag = frag.subset(row_group_ids=keep)
            out.append(frag)
    return out


def driver_reads(spark: SparkSession, uri: str) -> bool:
    """Whether Spark resolves ``uri`` to the local file system, the one
    file system the driver's pyarrow reads open exactly as Spark does.  A
    path without a scheme takes Spark's ``fs.defaultFS``.  Any other
    scheme (``s3a://``, ``gs://``, ``hdfs://``, ``viewfs://``) is Spark's
    to read, under its Hadoop configuration and credentials."""
    scheme = urlparse(uri).scheme or urlparse(
        spark._jsc.hadoopConfiguration().get("fs.defaultFS", "file:///")).scheme
    return scheme == "file"


def read_table_arrow(spark: SparkSession, paths: IndexPaths, table: str,
                     columns: list[str] | None = None,
                     filter: dict | None = None) -> pa.Table:
    """The index table ``table`` under its declared schema, as an Arrow
    table in the driver: the twin of ``read_table`` for lookups too small
    to be worth a Spark job (the corpus scalars, a query's term dfs, the
    display fields of a top-k).  ``filter`` maps columns to the values
    they must be IN.  On the local file system pyarrow reads the table
    with no Spark job: the filter prunes shard directories and row groups
    (see ``table_fragments``), then rows.  Names starting with ``_`` or
    ``.`` are skipped, so a table directory that holds no data files
    reads as empty.  Any other file system is read by Spark and collected
    (``driver_reads``)."""
    full = _arrow_schema(TABLE_SCHEMAS[table])
    schema = pa.schema([full.field(c) for c in columns or full.names])
    if not driver_reads(spark, getattr(paths, table)):
        df = read_table(spark, paths, table)
        for c, values in (filter or {}).items():
            df = df.filter(F.col(c).isin(sorted(set(values))))
        return df.select(*schema.names).toArrow().cast(schema)
    frags = table_fragments(paths, table, filter)
    if not frags:
        return schema.empty_table()
    rows = None
    for c, values in (filter or {}).items():
        cond = ds.field(c).isin(list(values))
        rows = cond if rows is None else rows & cond
    dataset = ds.FileSystemDataset(frags, full, ds.ParquetFileFormat(),
                                   frags[0].filesystem)
    return dataset.to_table(columns=schema.names, filter=rows)


def ordinal_base(spark: SparkSession, paths: IndexPaths, shards) -> dict[int, int]:
    """Each shard's first free ordinal: one past the largest ``local_no``
    of its docs rows, or 0.  On the local file system it is read from the
    docs files' row-group footers in the driver, with no Spark job;
    elsewhere one aggregate over those shards' docs answers it."""
    base = dict.fromkeys((int(s) for s in shards), 0)
    if driver_reads(spark, paths.docs):
        for s in base:
            for frag in table_fragments(paths, "docs", {"shard": [s]}):
                for st in _column_stats(frag, "local_no"):
                    base[s] = max(base[s], st.max + 1)
        return base
    docs = read_table(spark, paths, "docs").filter(F.col("shard").isin(list(base)))
    for r in docs.groupBy("shard").agg(F.max("local_no").alias("m")).collect():
        base[r["shard"]] = r["m"] + 1
    return base


# shared by every writer, so a new column cannot silently vanish from one path
DOC_TABLE_COLS = _columns(DOCS_SCHEMA)

# ---------------------------------------------------------------------------
# The commit protocol.  Every writer (build waves, stream batches, delete,
# compaction, merge) lands its data through write_shards, then commits
# through commit_manifest: data, then its manifest rows, then the stats of
# the shards it touched.  A manifest row implies complete partitions, and a
# crash leaves a shard's stats behind its manifest, never ahead of it.
# ---------------------------------------------------------------------------

# table -> (columns, sort key of a shard's files): docs by ordinal, postings
# by term so row-group min/max statistics prune term-IN filters
_SHARD_TABLES = {
    "docs": (DOC_TABLE_COLS, ["local_no"]),
    "postings": (_BLOCK_COLS, ["term", "block_no"]),
    "corpus_stats": (_columns(CORPUS_STATS_SCHEMA), []),
}

# the row-group size bound of the term-sorted postings files: a term lookup
# reads about one such group per file per term
TERM_ROW_GROUP_BYTES = 1 << 17


def layout_partitions(shards) -> int:
    """One partition per shard, and at least two: Spark plans a
    one-partition repartition as a single partition, which a second
    ``shard_layout`` over the persisted frame would shuffle again."""
    return max(len(shards), 2)


def shard_layout(frame: DataFrame, table: str, shards) -> DataFrame:
    """``frame``'s rows of ``table`` laid out as ``write_shards`` writes
    them: hash-partitioned on shard into ``layout_partitions(shards)``,
    each partition sorted by the table's key.  A persisted frame keeps
    this layout, so its shard writes and per-shard aggregates (over a
    union of frames in one layout too) run with no exchange."""
    cols, key = _SHARD_TABLES[table]
    return (frame.select(*cols)
            .repartition(layout_partitions(shards), "shard")
            .sortWithinPartitions("shard", *key))


def of_shards(frame: DataFrame, shards) -> DataFrame:
    """``frame``'s rows of ``shards``.  The list is one array literal, so
    one generated class serves every list (``isin`` compiles its values
    into the class); file scans keep ``isin`` for partition pruning."""
    return frame.filter(F.array_contains(F.lit(sorted(int(s) for s in shards)),
                                         F.col("shard")))


def write_shards(spark: SparkSession, paths: IndexPaths, table: str,
                 frame: DataFrame, shards, overwrite: bool = False,
                 present=None, layout=None) -> None:
    """Write ``frame``'s rows of ``table`` as shard partitions in the
    ``shard_layout``: one task (and so ~one file) per target shard, each
    file sorted by the table's key.  Appends add segments; ``overwrite``
    replaces exactly the partitions of ``shards``.  ``layout``: the shards
    a persisted ``frame`` is laid out for when it holds more than
    ``shards``, so the write keeps that layout and runs no exchange.
    An overwrite needs ``present``, the shards with rows
    (``overwrite_partitions``)."""
    path = getattr(paths, table)
    writer = shard_layout(frame, table, layout or shards).write
    if table == "postings":
        writer = writer.option("parquet.block.size", TERM_ROW_GROUP_BYTES)
    if overwrite:
        overwrite_partitions(spark, writer, path, "shard", [int(s) for s in shards],
                             present, f"{table} overwrite")
    else:
        _mutation(f"{table} append")
        writer.partitionBy("shard").mode("append").parquet(path)


def overwrite_partitions(spark: SparkSession, writer, path: str, column: str,
                         parts, present, name: str) -> None:
    """Replace exactly the ``parts`` partitions of the ``column``-
    partitioned table at ``path`` with the rows of ``writer``: one dynamic
    partition overwrite, which replaces only the partitions its rows
    reach, then a delete of each of ``parts`` not in ``present`` (those
    left with no rows, which the overwrite would keep stale).  ``present``
    names the partitions with rows; callers pass it materialized, as the
    written frame's lineage may read the partitions being replaced."""
    _mutation(name)
    (writer.partitionBy(column).mode("overwrite")
     .option("partitionOverwriteMode", "dynamic").parquet(path))
    for p in sorted(set(parts) - set(present)):
        fs_delete(spark, os.path.join(path, f"{column}={p}"))


_BYTE_COLS = ("doc_bytes", "tf_bytes", "dl_bytes", "pos_bytes")


def _counters() -> dict:
    """frame -> {counter: per-row value}, summed per shard by
    ``shard_counts``: ``parsed`` is an event's tokenized docs, ``docs`` a
    shard's whole post-event docs, ``blocks`` posting blocks."""
    return {
        "parsed": {"docs_parsed": F.lit(1), "docs_indexed": F.col("doc_len") > 0,
                   "tokens": F.col("doc_len")},
        "docs": {"total_docs": F.col("doc_len") > 0, "total_tokens": F.col("doc_len")},
        "blocks": {"postings_emitted": F.col("n"), "blocks": F.lit(1),
                   **{c: F.length(c) for c in _BYTE_COLS}},
    }


_COUNTER_NAMES = ["docs_parsed", "docs_indexed", "tokens", "total_docs", "total_tokens",
                  "postings_emitted", "blocks", *_BYTE_COLS]


def shard_counts(parsed: DataFrame | None = None, docs: DataFrame | None = None,
                 blocks: DataFrame | None = None) -> dict[int, dict]:
    """Every per-shard counter of a commit in ONE aggregate and collect:
    the manifest row's, the corpus stats' and ``write_shards``' emptied
    partitions all read this dict.  ``{shard: {counter: int}}`` holds the
    shards with a row in any frame; a counter a frame does not feed is 0."""
    counters = _counters()
    frames = {"parsed": parsed, "docs": docs, "blocks": blocks}
    parts = [
        df.select("shard", *[
            F.coalesce(counters[name].get(c, F.lit(0)).cast("long"), F.lit(0)).alias(c)
            for c in _COUNTER_NAMES])
        for name, df in frames.items() if df is not None
    ]
    agg = reduce(DataFrame.unionByName, parts).groupBy("shard").agg(
        *[F.sum(c).alias(c) for c in _COUNTER_NAMES])
    return {r["shard"]: r.asDict() for r in agg.collect()}


def _micros(column) -> list:
    """A timestamp column of a driver read as integer microseconds."""
    return column.cast(pa.int64()).to_pylist()


def manifest_heads(spark: SparkSession, paths: IndexPaths) -> dict[int, int]:
    """Each committed shard's latest manifest event (``committed_at`` in
    microseconds), read in the driver."""
    heads: dict[int, int] = {}
    if fs_exists(spark, paths.manifest):
        m = read_table_arrow(spark, paths, "manifest", ["shard", "committed_at"])
        for s, t in zip(m["shard"].to_pylist(), _micros(m["committed_at"])):
            heads[s] = max(t, heads.get(s, t))
    return heads


def stats_state(spark: SparkSession, paths: IndexPaths) -> tuple[dict, dict]:
    """``(heads, stats)``: each shard's latest manifest event
    (``committed_at`` in microseconds) and its corpus_stats row
    ``(total_docs, total_tokens, stamp)``.  A shard's stats are current
    when its stamp equals its head.  Both are driver reads (no Spark job
    on a local index)."""
    heads = manifest_heads(spark, paths)
    c = read_table_arrow(spark, paths, "corpus_stats") if fs_exists(
        spark, paths.corpus_stats) else _arrow_schema(CORPUS_STATS_SCHEMA).empty_table()
    stats = {s: (td, tt, t) for s, td, tt, t in zip(
        c["shard"].to_pylist(), c["total_docs"].to_pylist(),
        c["total_tokens"].to_pylist(), _micros(c["committed_at"]))}
    return heads, stats


def write_rows(spark: SparkSession, paths: IndexPaths, table: str,
               rows: list[tuple]) -> None:
    """Write a commit's few driver rows of ``table``: manifest rows are
    appended as a new file; a corpus_stats row replaces its shard's row.
    On the local file system pyarrow writes each file under a hidden name
    and renames it into place — a shard's corpus row always to the same
    name, which replaces the old row atomically — so a reader sees every
    file whole and no Spark job runs.  Elsewhere Spark writes them (a
    dynamic partition overwrite for corpus_stats)."""
    if not rows:
        return
    arrow = _arrow_schema(TABLE_SCHEMAS[table])
    t = pa.table([pa.array(col, type=f.type) for col, f in zip(zip(*rows), arrow)],
                 schema=arrow)
    uri, name = getattr(paths, table), f"{table} rows"
    if not driver_reads(spark, uri):
        writer = spark.createDataFrame(t).coalesce(1).write
        if table == "manifest":
            _mutation(name)
            writer.mode("append").parquet(uri)
        else:
            shards = t["shard"].to_pylist()
            overwrite_partitions(spark, writer, uri, "shard", shards, shards, name)
        return
    _mutation(name)
    import pyarrow.parquet as pq
    import uuid

    fs, root = _fs_root(uri)

    def publish(directory: str, name: str, table: pa.Table) -> None:
        fs.create_dir(directory, recursive=True)
        tmp = f"{directory}/.{uuid.uuid4().hex}.tmp"
        pq.write_table(table, tmp, filesystem=fs)
        fs.move(tmp, f"{directory}/{name}")

    if table == "manifest":
        publish(root, f"part-{uuid.uuid4().hex}.parquet", t)
        return
    for i, s in enumerate(t["shard"].to_pylist()):
        publish(f"{root}/shard={s}", "part-00000.parquet", t.slice(i, 1).drop(["shard"]))


def commit_manifest(spark: SparkSession, paths: IndexPaths, status: str,
                    kind: str, blocks: DataFrame, shards,
                    parsed: DataFrame | None = None,
                    docs: DataFrame | None = None,
                    counts: dict | None = None) -> None:
    """Commit an event of ``shards`` whose data is written: append one
    manifest row per shard of ``shards`` — only those with docs ``parsed``
    by the event when it parsed any (docs_parsed / docs_indexed
    counters), all of them with NULL parse counters when it parsed
    nothing — then bring those shards' corpus rows to the new manifest
    row.

    ``blocks`` gives the posting counters, zero where a shard has none:
    the event's own new segments for kind 'append' (and 'merge'), the
    shard's full post-event postings for 'snapshot'.

    The corpus row:
    - 'snapshot': recounted from ``docs``, the shard's whole post-event
      docs;
    - 'append': the event's counts added to it — only where the shard's
      row was current before the event.  A stale shard (a crash left its
      stamp behind) is left stale for ``finalize_index`` to recount.

    ``counts``: this event's ``shard_counts(parsed, docs, blocks)``, when
    the caller already collected it."""
    if counts is None:
        counts = shard_counts(parsed, docs, blocks)
    zero = dict.fromkeys(_COUNTER_NAMES, 0)
    event = sorted(int(s) for s in shards
                   if parsed is None or counts.get(s, zero)["docs_parsed"])
    if not event:
        return
    heads, stats = stats_state(spark, paths)
    stamp = int(time.time_ns() // 1000)
    rows = []
    for s in event:
        c = counts.get(s, zero)
        parse = (c["docs_parsed"], c["docs_indexed"]) if parsed is not None else (None, None)
        rows.append((s, *parse, c["postings_emitted"], c["blocks"],
                     *[c[b] for b in _BYTE_COLS], status, kind, stamp))
    write_rows(spark, paths, "manifest", rows)

    if kind == "snapshot":
        corpus = [(s, counts.get(s, zero)["total_docs"],
                   counts.get(s, zero)["total_tokens"], stamp) for s in event]
    else:
        corpus = []
        for s in event:
            if heads.get(s) != (stats[s][2] if s in stats else None):
                continue
            td, tt, _ = stats.get(s, (0, 0, None))
            c = counts.get(s, zero)
            corpus.append((s, td + c["docs_indexed"], tt + c["tokens"], stamp))
    # last: a shard's corpus row stamp vouches for the row
    write_rows(spark, paths, "corpus_stats", corpus)


def manifest_stats(manifest: DataFrame) -> dict:
    """Index totals from the manifest event log, honoring row semantics
    (summing the raw rows double-counts):

    - a replayed stream batch re-appends rows for the same (shard,
      batch) — possibly under a DIFFERENT status, because the replay
      routes equal-warc_ts rows through the shard REWRITE path
      ('stream-update-batch-N') where the first attempt appended
      ('stream-batch-N') — so rows dedupe on the batch id embedded in
      the status, latest committed row wins;
    - posting counters of a shard are (its latest 'snapshot' row if any)
      + 'append' rows committed after it; earlier posting history for
      that shard is superseded (the snapshot event rewrote the shard);
    - docs_parsed/docs_indexed are parse-lineage and always sum (over
      the deduped rows)."""
    evt = F.regexp_extract(F.col("status"), r"(batch-\d+)$", 1)
    w = Window.partitionBy("shard", "_evt").orderBy(
        F.col("committed_at").desc(), F.col("kind").desc()
    )
    m1 = (
        manifest.withColumn(
            "_evt", F.when(evt != "", evt).otherwise(F.col("status"))
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_evt")
    )
    ws = Window.partitionBy("shard").orderBy(F.col("committed_at").desc())
    snaps = (
        m1.filter(F.col("kind") == "snapshot")
        .withColumn("_sn", F.row_number().over(ws))
        .filter(F.col("_sn") == 1)
        .select("shard", F.col("committed_at").alias("_snap_ts"))
    )
    live = m1.join(snaps, "shard", "left").filter(
        F.col("_snap_ts").isNull()
        | (F.col("committed_at") > F.col("_snap_ts"))
        | ((F.col("kind") == "snapshot")
           & (F.col("committed_at") == F.col("_snap_ts")))
    )
    row = (
        m1.agg(
            F.sum("docs_parsed").alias("docs_parsed"),
            F.sum("docs_indexed").alias("docs_indexed"),
        )
        .crossJoin(
            live.agg(
                F.sum("postings_emitted").alias("postings"),
                F.sum("blocks").alias("blocks"),
                (F.sum("doc_bytes") + F.sum("tf_bytes") + F.sum("dl_bytes")
                 + F.sum("pos_bytes")).alias("compressed_bytes"),
            )
        )
        .collect()[0]
    )
    return row.asDict()


def index_history(manifest: DataFrame) -> DataFrame:
    """DESCRIBE HISTORY for the index — the Iceberg/Delta snapshot-log
    view of the append-only manifest: one row per committed event in
    commit order, with a dense 1-based version number.  `kind` tells
    whether the event added segments ('append') or superseded a
    shard's history ('snapshot' — compaction, delete-rewrite,
    stream-update)."""
    w = Window.orderBy("committed_at", "shard", "status")
    return (
        manifest.select("committed_at", "kind", "status", "shard",
                        "docs_indexed", "postings_emitted", "blocks")
        .withColumn("version", F.row_number().over(w))
        .select("version", "committed_at", "kind", "status", "shard",
                "docs_indexed", "postings_emitted", "blocks")
        .orderBy("version")
    )


def manifest_stats_asof(manifest: DataFrame, as_of) -> dict:
    """Index totals AS OF a past commit time — time travel over the
    lineage log: replaying only events with committed_at <= as_of
    through the same snapshot-supersedes-appends reduction yields
    exactly the totals `manifest_stats` reported when `as_of` was
    now.  (Data files are rewritten in place by maintenance, so the
    *rows* of old versions are not retrievable — this is stats/lineage
    time travel, the audit question "what did the index hold before
    yesterday's compaction", not a full Iceberg snapshot store.)

    `as_of` is anything Spark can compare to a timestamp column —
    a datetime, or an ISO string (cast below pins string inputs)."""
    bound = F.lit(as_of).cast("timestamp")
    return manifest_stats(manifest.filter(F.col("committed_at") <= bound))


TARGET_DOCS_PER_SHARD = 250_000


def auto_n_shards(n_docs: int) -> int:
    """Shard count sized so each shard's docID-ordinal sort and WAND
    kernel stay executor-local and bounded (~250k docs/shard):

      corpus        shards   docs/shard
      240 (tests)   8        30
      10^6          8        125k
      10^9          4096     ~244k
      10^12         2^22     ~238k

    Power of two so incremental growth re-shards predictably; floor of 8
    keeps small builds parallel."""
    import math

    n = max(1, int(math.ceil(n_docs / TARGET_DOCS_PER_SHARD)))
    return max(8, 1 << (n - 1).bit_length())


def build_index(
    spark: SparkSession,
    pages: DataFrame,
    index_dir: str,
    n_shards: int | None = DEFAULT_N_SHARDS,
    wave_size: int | None = None,
    resume: bool = False,
    analyzer=None,
) -> IndexPaths:
    """Build (or resume) the sharded compressed index under ``index_dir``.

    ``n_shards=None``: derived from the input size via ``auto_n_shards``
    (one counting pass over the source).

    ``wave_size``: shards per commit wave (None = all pending in one
    wave).  Each wave appends docs+postings partitions for its shards,
    then appends manifest rows and writes the shards' corpus rows — the
    manifest row IS the per-partition checkpoint; on resume, shards
    present in the manifest are skipped without recomputation.  Data and
    corpus partitions for shards NOT in the manifest are deleted before
    reprocessing: a crash between the docs append and the manifest commit
    leaves orphaned partitions that a naive re-append would duplicate.
    """
    paths = IndexPaths(index_dir)
    if n_shards is None:
        n_shards = auto_n_shards(pages.count())
    done = set(manifest_heads(spark, paths)) if resume else set()
    pending = [s for s in range(n_shards) if s not in done]
    if not resume:
        # fresh build: clear any previous index (overwrite semantics);
        # Hadoop FS delete so object-store paths clear too
        fs_delete(spark, index_dir)
    else:
        # crash-window repair: drop partial partitions of unfinished
        # shards (data-before-marker means no manifest row => the
        # partition contents are not trustworthy)
        for s in pending:
            for table in _SHARD_TABLES:
                fs_delete(spark, os.path.join(getattr(paths, table), f"shard={s}"))

    waves = (
        [pending]
        if wave_size is None
        else [pending[i : i + wave_size] for i in range(0, len(pending), wave_size)]
    )

    base = add_doc_identity(pages, n_shards)
    for wave in waves:
        if not wave:
            continue
        docs = base.filter(F.col("shard").isin([int(s) for s in wave]))
        # tokenize BEFORE the ordinal shuffle: the window then moves
        # text+tokens, never raw html bytes.  The explicit shard
        # repartition comes BEFORE the ordinal window (r6): it is the
        # layout write_shards asks for, so the window and the docs write
        # share one exchange instead of moving the wide tokenized rows
        # twice.  Both frames are persisted in that layout, so the
        # commit's counters read them with no exchange.
        tok = assign_local_no(
            tokenize_docs(docs, analyzer=analyzer)
            .repartition(layout_partitions(wave), "shard")
        ).persist()
        blocks = shard_layout(build_postings(doc_term_rows(tok)), "postings",
                              wave).persist()
        try:
            write_shards(spark, paths, "docs", tok, wave)
            write_shards(spark, paths, "postings", blocks, wave)
            commit_manifest(spark, paths, "done", "append", blocks, parsed=tok,
                            shards=wave)
        finally:
            blocks.unpersist()
            tok.unpersist()

    finalize_index(spark, paths)
    return paths


def finalize_index(spark: SparkSession, paths: IndexPaths) -> None:
    """Bring every shard's stats up to its latest manifest event.

    Commits keep the corpus rows of the shards they touch current
    (``commit_manifest``), so after a normal commit this only reads the
    manifest and the corpus rows in the driver and runs no Spark job.
    A shard whose stamp is behind its manifest head — a crash between a
    commit's manifest row and its corpus row — is recounted from its own
    docs (``refresh_shard_stats``).  Term dfs need no recount: they are
    read from the postings' block-0 rows.  The reference recomputes its
    global weights after every build (indexer.py:423); the semantics are
    kept, the full-corpus rescan is not.  TF-IDF doc norms are not stats
    of a commit: ``IndexReader.doc_norms`` derives them on demand."""
    heads, stats = stats_state(spark, paths)
    stale = sorted(s for s, head in heads.items()
                   if s not in stats or stats[s][2] != head)
    if stale:
        refresh_shard_stats(spark, paths, stale, heads)


def refresh_shard_stats(spark: SparkSession, paths: IndexPaths, shards: list[int],
                        heads: dict) -> None:
    """Recount the corpus rows of ``shards`` from their own docs (the
    docs with tokens, I4, indexer.py:53-54,86-90), stamped with their
    manifest ``heads``.  Other shards are never read."""
    docs = read_table(spark, paths, "docs").filter(
        F.col("shard").isin([int(s) for s in shards]))
    counts = shard_counts(docs=docs)
    zero = dict.fromkeys(_COUNTER_NAMES, 0)
    write_rows(spark, paths, "corpus_stats", [
        (s, counts.get(s, zero)["total_docs"], counts.get(s, zero)["total_tokens"],
         heads[s]) for s in shards])


# ---------------------------------------------------------------------------
# Maintenance rewrites (delete / compaction) + crash-replay repair
# ---------------------------------------------------------------------------

_MAINT_INTENT_FILE = "maintenance_intent.json"


def maintenance_intent_path(paths: IndexPaths) -> str:
    return os.path.join(paths.root, _MAINT_INTENT_FILE)


def write_maintenance_intent(spark: SparkSession, paths: IndexPaths,
                             op: str, shards: list[int]) -> None:
    import json

    fs_write_text(
        spark, maintenance_intent_path(paths),
        json.dumps({"op": op, "shards": [int(s) for s in shards]}),
    )


def live_postings(spark: SparkSession, paths: IndexPaths, shards,
                  docs: DataFrame) -> DataFrame:
    """The stored posting rows of ``shards`` whose ``(shard, local_no)``
    is in ``docs``, decoded for ``build_postings`` (positions byte-sliced,
    the analyzer never runs).  The join drops orphans: postings of docs a
    delete, a stream rewrite or a crashed attempt removed."""
    # first-ever stream batch crash window: docs written, postings never
    # created — the replay reads an empty frame, not PATH_NOT_FOUND
    old_blocks = read_table(spark, paths, "postings").filter(
        F.col("shard").isin([int(s) for s in shards]))
    return (
        flat_postings(old_blocks, with_positions="bytes")
        .join(docs.select("shard", "local_no"), ["shard", "local_no"])
        .select("shard", "local_no", "term", "tf", "pos_bytes", "doc_len")
    )


def rebuild_shard_postings(spark: SparkSession, paths: IndexPaths,
                           shards: list[int], status: str) -> None:
    """Rebuild the posting partitions of ``shards`` from their
    ``live_postings`` under the current docs, dynamic-overwrite them, and
    commit snapshot manifest rows and stats.  Pure codec work — position
    payloads byte-sliced, the analyzer never runs.

    It backs three operations (a stream rewrite shares ``live_postings``):
    - **delete** (docs rows already dropped): the docs join filters the
      deleted docs' orphaned posting rows out;
    - **compaction**: N delta segments per (shard, term) re-block into
      one gap-aligned run (a no-orphan rebuild);
    - **crash repair**: a maintenance op that died between its two
      overwrites left postings referencing docs that no longer exist (or
      a missing manifest snapshot); re-running the rebuild from current
      state is idempotent and converges to the op's intended outcome.
    """
    # one docs scan feeds the live_postings join and the counters
    docs = (read_table(spark, paths, "docs")
            .filter(F.col("shard").isin([int(s) for s in shards]))
            .select("shard", "local_no", "doc_len").localCheckpoint(eager=False))
    # lineage reads paths.postings, which is overwritten below — freeze
    # (the counters' collect materializes it before the write); the
    # blocks built from the frozen rows keep the shard layout
    rows = live_postings(spark, paths, shards, docs).localCheckpoint(eager=False)
    blocks = shard_layout(build_postings(rows), "postings", shards).persist()
    try:
        counts = shard_counts(docs=docs, blocks=blocks)
        write_shards(spark, paths, "postings", blocks, shards, overwrite=True,
                     present=[s for s, c in counts.items() if c["blocks"]])
        # snapshot rows for EVERY target shard (zero counters where emptied —
        # without them manifest_stats would keep the pre-rewrite counts)
        commit_manifest(spark, paths, status, "snapshot", blocks, shards, docs=docs,
                        counts=counts)
    finally:
        blocks.unpersist()


def repair_maintenance(spark: SparkSession, paths: IndexPaths) -> dict | None:
    """Repair after a maintenance op (delete / compaction) crashed
    mid-rewrite: a surviving intent marker names the shards whose docs
    and postings may be out of step (docs overwritten, postings not, or
    the manifest snapshot missing).  The repair re-runs the shard rebuild
    from CURRENT state — restoring per-shard consistency, not the crashed
    op's intent: a delete that died before its docs overwrite simply did
    not happen, and the caller retries it.  Returns the repaired intent,
    or None if the index is clean.  Runs automatically at the start of
    delete_documents / compact_shards / run_incremental."""
    import json

    p = maintenance_intent_path(paths)
    if not fs_exists(spark, p):
        return None
    intent = json.loads(fs_read_text(spark, p))
    rebuild_shard_postings(
        spark, paths, intent["shards"], status=f"repair-{intent['op']}"
    )
    finalize_index(spark, paths)
    fs_delete(spark, p)
    return intent


def snapshot_id(spark: SparkSession, paths: IndexPaths) -> str:
    """A name for the index's current state: a digest of every shard's
    manifest head and stats stamp (``stats_state``).  Every commit moves
    the head of each shard it touches, so any change of the data or the
    stats gives a new name."""
    import hashlib

    heads, stats = stats_state(spark, paths)
    state = sorted((s, heads.get(s), stats.get(s, (0, 0, None))[2])
                   for s in set(heads) | set(stats))
    return hashlib.sha1(repr(state).encode()).hexdigest()[:16]


def _tfidf_norms(reader) -> DataFrame:
    """TF-IDF doc norms (I7): ||(tf * ln(N/df))_t||_2 per doc, computed by
    decoding the index (term-major) and re-grouping by doc — replaces the
    reference's O(V x D) loop (indexer.py:254-271).  df joins at BLOCK
    granularity (one row per term-block, ~100x fewer rows than postings)
    and N is the corpus literal, then the blocks decode with idf attached
    — the per-doc groupBy is the only posting-cardinality shuffle.  The
    small global df view is the broadcast side, so the blocks stream in
    scan order and every doc sums its terms in one fixed order."""
    n = reader.corpus()["total_docs"]
    blocks_with_idf = (
        reader.postings().select("shard", "term", "n", "doc_bytes", "tf_bytes", "dl_bytes")
        .join(reader.term_stats().select("term", "df"), "term")
        .withColumn("idf", F.log(F.lit(n) / F.col("df")))
    )
    flat = flat_postings(blocks_with_idf, with_positions=False, extra_cols=["idf"])
    weighted = flat.withColumn("w", F.col("tf") * F.col("idf"))
    return (
        weighted.groupBy("shard", "local_no")
        .agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("tfidf_veclen"))
    )


class IndexReader:
    """Lazy handles on the index tables + broadcast-able corpus scalars.
    Every call reads the tables afresh: a reader never pins a snapshot."""

    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.paths = IndexPaths(index_dir)

    def _table(self, table: str) -> DataFrame:
        return read_table(self.spark, self.paths, table)

    def docs(self) -> DataFrame:
        return self._table("docs")

    def postings(self) -> DataFrame:
        return self._table("postings")

    def term_stats(self) -> DataFrame:
        """The global ``(term, df, cf)``: the integer sums of the
        ``df_local`` and ``cf_local`` that every posting segment's block 0
        carries for its (shard, term)."""
        return self.postings().filter(F.col("block_no") == 0).groupBy("term").agg(
            F.sum("df_local").alias("df"), F.sum("cf_local").alias("cf"))

    def doc_norms(self) -> DataFrame:
        """The TF-IDF doc norms of the current snapshot (``snapshot_id``),
        only read by ``tfidf_search``.  The first call after a commit
        computes them (``_tfidf_norms``) into a hidden directory and
        renames it to ``doc_norms/<snapshot>``, so a concurrent reader
        sees the whole table or none.  Every call then deletes the other
        entries of ``doc_norms/``: earlier snapshots' tables and the
        hidden tables computed for them, which a crash before the rename
        leaks.  A hidden table of the current snapshot may be a concurrent
        reader's write in progress, so it stays until the next snapshot."""
        spark, root = self.spark, self.paths.doc_norms
        snap_id = snapshot_id(spark, self.paths)
        snap = os.path.join(root, snap_id)
        if not fs_exists(spark, snap):
            import uuid

            tmp = os.path.join(root, f"_tmp-{snap_id}-{uuid.uuid4().hex}")
            write_table(_tfidf_norms(self).write, tmp)
            fs_rename(spark, tmp, snap)
            # a concurrent reader that published first leaves ours nested
            # in (or beside) its table, under a hidden name: drop it
            fs_delete(spark, tmp)
            fs_delete(spark, os.path.join(snap, os.path.basename(tmp)))
        fs, hroot = _hadoop_fs(spark, root)
        for name in sorted(st.getPath().getName() for st in fs.listStatus(hroot)):
            if name != snap_id and not name.startswith((f"_tmp-{snap_id}-", ".")):
                fs_delete(spark, os.path.join(root, name))
        return spark.read.schema(DOC_NORMS_SCHEMA).parquet(snap)

    def manifest(self) -> DataFrame:
        return self._table("manifest")

    def corpus(self) -> dict:
        """The corpus scalars: the sums of the per-shard corpus_stats rows,
        read in the driver (no Spark job on a local index, see
        ``read_table_arrow``)."""
        t = read_table_arrow(self.spark, self.paths, "corpus_stats",
                             ["total_docs", "total_tokens"])
        return _corpus_scalars(sum(t["total_docs"].to_pylist()),
                               sum(t["total_tokens"].to_pylist()))

    def query_stats(self, terms) -> tuple[dict, dict]:
        """``(corpus(), {term: df})`` for the query ``terms``, read in the
        driver (no Spark job on a local index): the corpus rows and the
        block-0 rows of the term-sorted postings files whose row groups can
        hold a query term, one per shard and segment, their ``df_local``
        summed per term.  Terms absent from the index are absent from the
        dict."""
        ts = read_table_arrow(self.spark, self.paths, "postings", ["term", "df_local"],
                              {"term": terms, "block_no": [0]})
        dfs: dict[str, int] = {}
        for t, df in zip(ts["term"].to_pylist(), ts["df_local"].to_pylist()):
            dfs[t] = dfs.get(t, 0) + df
        return self.corpus(), dfs


def _corpus_scalars(total_docs: int, total_tokens: int) -> dict:
    # Spark's avg(doc_len) sums the int column as doubles — exact below
    # 2**53 — then divides by the count: this division gives its bits
    assert total_tokens < 2 ** 53, total_tokens
    return {
        "total_docs": total_docs,
        "avg_doc_length": float(total_tokens) / total_docs if total_docs else 0.0,
        "total_tokens": total_tokens,
    }
