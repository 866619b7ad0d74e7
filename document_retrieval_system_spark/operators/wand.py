"""Block-max WAND top-k BM25 — the pruned query path (north_star R3).

The reference scores exhaustively, term-at-a-time, over every posting
(search_engine.py:458-471).  This module implements document-at-a-time
top-k with **block-max pruning** per index shard:

1. Per query term, read only that term's posting blocks (``term IN
   (...)`` row-group pruning + ``shard`` partition pruning).
2. Each block carries (first_doc, last_doc, max_tf, min_dl); its score
   upper bound is ``w_t * tf_norm(max_tf, min_dl, avgdl)`` — valid for
   any avgdl because tf_norm is increasing in tf and decreasing in dl.
3. A boundary sweep over block doc-ranges yields segments of the docID
   axis with a constant sum of active block upper bounds.  One cursor
   pass per term's doc-ordered block list materializes, per segment,
   the <= n_terms blocks active there (CSR index) — bound work is
   O(segments x query_terms), independent of blocks-per-shard.
   Segments are processed in descending upper-bound order; once the
   running top-k threshold theta (size-k min-heap) exceeds a segment's
   bound, all remaining segments — and every block and posting inside
   them — are skipped WITHOUT being decoded.  theta starts at
   min_score (:476) and tightens as the heap fills, exactly WAND's
   adaptive threshold.
4. Exact scores for surviving docs are computed vectorized (numpy
   searchsorted into decoded blocks), preserving the reference formula
   bit-for-bit.

A request's term dfs and corpus scalars are pyarrow reads in the driver:
the query terms' block-0 postings rows and the corpus_stats files.  Where
the kernel runs depends on the index and on the request's size
(``_hits``):

- On the local file system, when the query terms' postings (their summed
  df) fit ``DRIVER_POSTINGS``, the driver reads the terms' blocks itself
  (``read_table_arrow``: shard directories, then the term-sorted row
  groups that can hold a query term) and runs each shard's kernel: the
  request runs no Spark job.  On a local index a Spark job costs more
  than the work inside it.
- Otherwise (another file system, or more postings than the budget) the
  kernel runs inside ``applyInPandas`` grouped by shard.  Shards are
  independent (document-sharded index), so a 1000-executor cluster runs
  1000 kernels in parallel with no cross-talk.  The ``groupBy("shard")``
  exchange stays: a shard's blocks may span several files (delta
  segments) and file splits, so a scan partition is not shard-aligned.
  That is two Spark jobs, the block scan with that exchange and the
  kernel stage.

The merge is a driver merge of the kernel's <= k(+ties) rows per shard
per query, not a shuffle: each query is cut at its k-th score, the doc_id
and url of the rows left come from a row-group-pruned pyarrow lookup of
the docs files, and each query keeps its top-k.  (An index on another
file system is read by Spark instead, see
``index_build.read_table_arrow``; a Spark-scored request whose k covers
the corpus keeps a lazy docs join, see ``_finish``.)

Correctness contract (tested metamorphically in tests/test_wand.py, on
both paths in tests/test_wand_paths.py): identical (doc_id, score) top-k as the exhaustive
scorer, including duplicate-document score ties, which are retained
per-shard (everything scoring >= the kth score survives) and resolved
globally by (score desc, doc_id asc).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from document_retrieval_system_spark.functions.analyzer import process_text
from document_retrieval_system_spark.operators.codec import decode_block
from document_retrieval_system_spark.operators.index_build import (
    _arrow_schema,
    _columns,
    driver_reads,
    read_table_arrow,
)
from document_retrieval_system_spark.operators.search import (
    RESULT_SCHEMA,
    _attach_doc_id,
    bm25_query_weights,
    bm25_term_score,
)
from document_retrieval_system_spark.oracle import DEFAULT_MAX_RESULTS, DEFAULT_MIN_SCORE

WAND_OUT_SCHEMA = "qid int, shard int, local_no long, score double"
# the docs columns the driver finish looks up
_DOC_FIELDS = "shard int, local_no long, doc_id string, url string"
# the block columns the kernel reads
_KERNEL_COLS = ["shard", "term", "first_doc", "last_doc", "max_tf", "min_dl",
                "doc_bytes", "tf_bytes", "dl_bytes"]
# the most postings (the summed df of its terms) a request scores in the
# driver: above it the driver's single-threaded read and kernels lose to
# Spark's per-shard tasks (see SCALE.md for the measured crossover)
DRIVER_POSTINGS = 1_000_000


def _no_scores() -> pd.DataFrame:
    return pd.DataFrame({"shard": pd.Series(dtype="int32"),
                         "local_no": pd.Series(dtype="int64"),
                         "score": pd.Series(dtype="float64")})


def _shard_kernel(pdf: pd.DataFrame, weights: dict[str, float], avgdl: float,
                  k: int, min_score: float,
                  stats: dict | None = None,
                  raw_cache: dict | None = None) -> pd.DataFrame:
    """Block-max WAND over one shard's blocks for the query terms.

    Complexity: one cursor pass per term's (doc-sorted, disjoint) block
    list builds a CSR segment->active-blocks index, so segment
    processing touches only the <= n_query_terms blocks actually alive
    in that segment — O(segments x terms) bound work total, not the
    r1 kernel's O(segments x blocks) rescan (quadratic in blocks per
    shard for long posting lists).  theta is maintained with a size-k
    min-heap (O(log k) per candidate).
    """
    if pdf.empty:
        return _no_scores()
    shard = int(pdf["shard"].iloc[0])

    # Block table: arrays over all (term, block) rows
    terms = pdf["term"].to_numpy()
    firsts = pdf["first_doc"].to_numpy(dtype=np.int64)
    lasts = pdf["last_doc"].to_numpy(dtype=np.int64)
    w_arr = np.array([weights[t] for t in terms], dtype=np.float64)
    ub = bm25_term_score(w_arr, pdf["max_tf"].to_numpy(np.float64),
                         pdf["min_dl"].to_numpy(np.float64), avgdl)

    # Boundary sweep: piecewise-constant sum of active block bounds.
    bounds = np.unique(np.concatenate([firsts, lasts + 1]))
    n_seg = bounds.size - 1
    seg_starts = bounds[:-1]
    seg_ends = bounds[1:] - 1  # inclusive
    delta = np.zeros(bounds.size, dtype=np.float64)
    np.add.at(delta, np.searchsorted(bounds, firsts), ub)
    np.add.at(delta, np.searchsorted(bounds, lasts + 1), -ub)
    seg_ub = np.cumsum(delta)[:-1]

    # Per-term block cursors, materialized: every block boundary is in
    # `bounds`, so block i is active in the contiguous segment range
    # [blk_lo[i], blk_hi[i]].  One vectorized pass over each term's
    # doc-ordered blocks emits the memberships; grouping them by segment
    # (CSR) replaces the per-segment all-blocks mask.  Per segment at
    # most one block per term is active (a term's blocks are disjoint),
    # so total memberships <= n_seg * n_terms.
    blk_lo = np.searchsorted(bounds, firsts)
    blk_hi = np.searchsorted(bounds, lasts + 1) - 1
    counts = blk_hi - blk_lo + 1
    offs = np.concatenate([[0], np.cumsum(counts)])
    blk_mem = np.repeat(np.arange(counts.size), counts)
    seg_mem = np.arange(offs[-1]) - np.repeat(offs[:-1], counts) + np.repeat(blk_lo, counts)
    m_order = np.argsort(seg_mem, kind="stable")
    seg_sorted = seg_mem[m_order]
    blk_sorted = blk_mem[m_order]
    csr_lo = np.searchsorted(seg_sorted, np.arange(n_seg), side="left")
    csr_hi = np.searchsorted(seg_sorted, np.arange(n_seg), side="right")

    order = np.argsort(-seg_ub, kind="mergesort")  # process best segments first

    # column extraction once (pdf.iloc per block is pathologically slow)
    doc_bytes = pdf["doc_bytes"].tolist()
    tf_bytes = pdf["tf_bytes"].tolist()
    dl_bytes = pdf["dl_bytes"].tolist()
    decoded: dict[int, tuple[np.ndarray, np.ndarray]] = {}  # block row -> (docs, scores)

    def block_scores(i: int) -> tuple[np.ndarray, np.ndarray]:
        got = decoded.get(i)
        if got is None:
            # ``raw_cache`` shares the varbyte decode across the queries
            # of a batched call; the per-query weight math stays
            # per-call.  The key is the block's LOGICAL identity —
            # blocks of one term hold disjoint doc sets, so (term,
            # first_doc, last_doc) is unique within a shard.  (id() of
            # the payload bytes is NOT a sound key: the objects are
            # re-materialized per kernel call and a freed id can be
            # reused, silently serving another block's postings.)
            key = (terms[i], int(firsts[i]), int(lasts[i]))
            raw = raw_cache.get(key) if raw_cache is not None else None
            if raw is None:
                raw = decode_block(doc_bytes[i], tf_bytes[i], dl_bytes[i])
                if raw_cache is not None:
                    raw_cache[key] = raw
            docs, tfs, dls = raw
            got = (docs, bm25_term_score(w_arr[i], tfs, dls, avgdl))
            decoded[i] = got
        return got

    import heapq

    theta = min_score
    acc_docs: list[np.ndarray] = []
    acc_scores: list[np.ndarray] = []
    heap: list[float] = []  # size-k min-heap of the best candidate scores

    for si in order:
        if seg_ub[si] < min_score:
            break  # no doc in any remaining segment can reach min_score
        if seg_ub[si] < theta and len(heap) >= k:
            break  # all remaining segments are provably below threshold
        hit = blk_sorted[csr_lo[si]:csr_hi[si]]
        if hit.size == 0:
            continue
        s, e = seg_starts[si], seg_ends[si]

        # WAND essential lists at block granularity: sort the segment's
        # active blocks by UB ascending; the maximal prefix with
        # cumsum(UB) < theta is non-essential — a doc appearing ONLY in
        # non-essential blocks is bounded below theta and can never
        # enter the top-k, so candidates are generated from essential
        # blocks alone.  Crucial when a rare term's block straddles a
        # docID gap (its huge UB keeps seg_ub high although the segment
        # holds no posting of it): the segment dies on an empty
        # candidate set after decoding ONE block, instead of decoding
        # every common-term block under it.  Sound because theta only
        # grows and (kth of seen) <= (kth of all); excluded docs score
        # strictly under theta so they cannot even tie the kth.
        hub = ub[hit]
        hs = np.argsort(hub, kind="stable")
        cut = theta if len(heap) >= k else min_score
        n_non = int(np.searchsorted(np.cumsum(hub[hs]), cut, side="left"))
        ess = hit[hs[n_non:]]
        non = hit[hs[:n_non]]
        if ess.size == 0:
            continue  # whole segment provably below threshold

        cand_parts: list[np.ndarray] = []
        for bi in ess:
            docs, _ = block_scores(int(bi))
            lo = np.searchsorted(docs, s, side="left")
            hi = np.searchsorted(docs, e, side="right")
            if hi > lo:
                cand_parts.append(docs[lo:hi])
        if not cand_parts:
            continue  # no candidate: non-essential blocks stay undecoded
        cand = np.unique(np.concatenate(cand_parts))
        c_min, c_max = int(cand[0]), int(cand[-1])
        probe = [
            int(bi) for bi in non
            if firsts[bi] <= c_max and lasts[bi] >= c_min  # else skip decode
        ]
        # contributions accumulate in ascending block-row order so the
        # per-doc float summation order is bit-identical to the
        # exhaustive scorer (pruning must not move scores even 1 ulp)
        part_docs: list[np.ndarray] = []
        part_scores: list[np.ndarray] = []
        for bi in sorted(probe + [int(b) for b in ess]):
            docs, scores = block_scores(bi)
            lo = np.searchsorted(docs, s, side="left")
            hi = np.searchsorted(docs, e, side="right")
            if hi > lo:
                part_docs.append(docs[lo:hi])
                part_scores.append(scores[lo:hi])
        seg_docs = np.concatenate(part_docs)
        seg_part = np.concatenate(part_scores)
        d_arr, inv = np.unique(seg_docs, return_inverse=True)
        s_arr = np.zeros(d_arr.size, dtype=np.float64)
        np.add.at(s_arr, inv, seg_part)
        keep = (s_arr >= min_score) & np.isin(d_arr, cand, assume_unique=True)
        if keep.any():
            kept = s_arr[keep]
            acc_docs.append(d_arr[keep])
            acc_scores.append(kept)
            for v in kept.tolist():
                if len(heap) < k:
                    heapq.heappush(heap, v)
                elif v > heap[0]:
                    heapq.heapreplace(heap, v)
            if len(heap) >= k:
                theta = max(theta, heap[0])

    if stats is not None:
        stats["total_blocks"] = int(counts.size)
        stats["decoded_blocks"] = len(decoded)

    if not acc_docs:
        return _no_scores()
    docs = np.concatenate(acc_docs)
    scores = np.concatenate(acc_scores)
    # per-shard cut: keep top-k AND everything tying the kth score, so the
    # global (score desc, doc_id asc) tiebreak sees all contenders.
    if docs.size > k:
        kth = np.sort(scores)[-k]
        keep = scores >= kth
        docs, scores = docs[keep], scores[keep]
    return pd.DataFrame(
        {"shard": np.full(docs.size, shard, dtype=np.int32),
         "local_no": docs, "score": scores}
    )


def _shard_queries(pdf: pd.DataFrame, weights: dict[int, dict[str, float]],
                   avgdl: float, k: int, min_score: float,
                   counters: dict | None = None) -> pd.DataFrame:
    """(qid, shard, local_no, score): each query's WAND top-k in one
    shard (``weights`` is {qid: {term: w}}), over the shard's blocks of
    every query term.  The queries share the shard's block decodes; the
    weight math stays per query."""
    raw_cache: dict = {}
    outs = []
    for qid, w in weights.items():
        st: dict = {}
        out = _shard_kernel(pdf[pdf["term"].isin(w)], w, avgdl, k, min_score,
                            stats=st, raw_cache=raw_cache)
        if counters is not None:
            counters["total_blocks"].add(st.get("total_blocks", 0))
            counters["decoded_blocks"].add(st.get("decoded_blocks", 0))
        out.insert(0, "qid", np.int32(qid))
        outs.append(out)
    return pd.concat(outs, ignore_index=True)


def _hits(reader, weights: dict[int, dict[str, float]], avgdl: float, dfs: dict,
          k: int, min_score: float, counters: dict | None):
    """Every query's per-shard top-k, (qid, shard, local_no, score).

    On the local file system, when the query terms' postings (their
    summed df) fit ``DRIVER_POSTINGS``, the driver reads those terms'
    blocks (``read_table_arrow``: shard directories, then row groups
    whose term range covers a query term) and runs each shard's kernel
    itself: an Arrow table, no Spark job.  Otherwise one Spark job scans
    the blocks and groups them by shard, since a shard's blocks may span
    several files and file splits, and a second runs the kernels: a
    lazy frame.  Either way a shard's blocks keep each file's row order,
    and a doc's postings all lie in one file, so both sum a doc's
    contributions in the same order."""
    live = sorted({t for w in weights.values() for t in w})
    spark, paths = reader.spark, reader.paths
    if sum(dfs[t] for t in live) <= DRIVER_POSTINGS and driver_reads(spark, paths.postings):
        blocks = read_table_arrow(spark, paths, "postings", _KERNEL_COLS,
                                  {"term": live}).to_pandas()
        parts = [_shard_queries(g, weights, avgdl, k, min_score, counters)
                 for _, g in blocks.groupby("shard", sort=False)]
        out = _arrow_schema(WAND_OUT_SCHEMA)
        if not parts:
            return out.empty_table()
        return pa.Table.from_pandas(pd.concat(parts, ignore_index=True), out,
                                    preserve_index=False)
    blocks = reader.postings().filter(F.col("term").isin(live)).select(*_KERNEL_COLS)
    return blocks.groupBy("shard").applyInPandas(
        lambda pdf: _shard_queries(pdf, weights, avgdl, k, min_score, counters),
        WAND_OUT_SCHEMA)


def _finish(reader, hits, k: int, with_qid: bool) -> DataFrame:
    """The finish shared by both WAND entry points: each query's top-k by
    (score desc, doc_id asc) with its doc_id and url.

    ``hits`` are ``_hits``' (qid, shard, local_no, score) rows, <= k(+ties)
    per shard per query.  Each query is cut to its rows scoring at least
    its k-th score (ties kept: doc_id breaks them), so at most k(+ties)
    rows per query are looked up in the docs table: one
    ``shard IN (...) AND local_no IN (...)`` read over files sorted by
    local_no, so row groups prune.  The join is inner, like
    ``bm25_search``'s: a hit with no docs row (a delete or rewrite caught
    between its docs and postings commits) is dropped, and the rows below
    the cut are then looked up too so that another takes its place.
    Returns a local DataFrame: collecting it runs no job.

    Hits the driver computed are bounded by the postings it read, so they
    always finish here.  A Spark frame of hits whose k covers the corpus
    has no rows to cut, so nothing would bound its collect: it finishes
    as a lazy Spark join with docs."""
    schema = ("qid int, " if with_qid else "") + RESULT_SCHEMA
    if isinstance(hits, DataFrame):
        if k >= reader.corpus()["total_docs"]:
            if not with_qid:
                return _attach_doc_id(hits.drop("qid"), reader, k)
            docs = reader.docs().select(*_columns(_DOC_FIELDS))
            return hits.join(docs, ["shard", "local_no"]).select(*_columns(schema))
        hits = hits.toArrow()
    hits = hits.sort_by([("qid", "ascending"), ("score", "descending")])
    qid, score = hits["qid"].to_numpy(), hits["score"].to_numpy()
    first, end = np.searchsorted(qid, qid), np.searchsorted(qid, qid, side="right")
    kth = first + max(k, 1) - 1
    cut = hits.filter(score >= np.where(kth < end, score[np.minimum(kth, qid.size - 1)],
                                        -np.inf))

    def with_docs(rows: pa.Table) -> pa.Table:
        docs = read_table_arrow(reader.spark, reader.paths, "docs", _columns(_DOC_FIELDS),
                                {"shard": rows["shard"].to_pylist(),
                                 "local_no": rows["local_no"].to_pylist()})
        return rows.join(docs, ["shard", "local_no"], join_type="inner")

    ranked = with_docs(cut)
    if ranked.num_rows != cut.num_rows:
        ranked = with_docs(hits)
    ranked = ranked.sort_by(
        [("qid", "ascending"), ("score", "descending"), ("doc_id", "ascending")])
    qid = ranked["qid"].to_numpy()
    ranked = ranked.filter(np.arange(qid.size) - np.searchsorted(qid, qid) < k)
    # from pandas, not the Arrow table: measured cheaper per call (30 vs 39
    # ms of process CPU for a 320-row batch result, equal for 20 rows)
    return reader.spark.createDataFrame(ranked.select(_columns(schema)).to_pandas(), schema)


def _request(reader, queries: list[str], lang: str, max_results: int,
             min_score: float, analyzer, counters: dict | None,
             with_qid: bool) -> DataFrame:
    weights, avgdl, dfs = bm25_query_weights(reader, queries, lang, analyzer)
    k = int(max_results)
    hits = (_hits(reader, weights, float(avgdl), dfs, k, float(min_score), counters)
            if weights else _arrow_schema(WAND_OUT_SCHEMA).empty_table())
    return _finish(reader, hits, k, with_qid)


def bm25_wand_search(
    reader,
    query: str,
    lang: str = "zh",
    max_results: int = DEFAULT_MAX_RESULTS,
    min_score: float = DEFAULT_MIN_SCORE,
    analyzer=process_text,
    counters: dict | None = None,
) -> DataFrame:
    """Block-max WAND BM25 top-k; same rows as search.bm25_search.  The
    returned frame is local.  On a local index whose query postings fit
    ``DRIVER_POSTINGS`` the request runs no Spark job; otherwise its two
    Spark jobs (block scan, kernel) run in this call, unless k covers the
    corpus (see ``_finish``).

    ``counters``: optional {"total_blocks": Accumulator, "decoded_blocks":
    Accumulator} — each shard kernel adds its block totals, so a bench can
    report the decoded fraction (the pruning effectiveness) without
    touching the result schema."""
    return _request(reader, [query], lang, max_results, min_score, analyzer,
                    counters, with_qid=False)


def bm25_wand_search_many(
    reader,
    queries: list[str],
    lang: str = "zh",
    max_results: int = DEFAULT_MAX_RESULTS,
    min_score: float = DEFAULT_MIN_SCORE,
    analyzer=process_text,
) -> DataFrame:
    """Batched WAND: score N queries in ONE pass — one driver-side stats
    lookup, one read of the blocks of the union of query terms, and one
    kernel per shard that runs every query against the shard's
    already-read blocks — then one driver finish over every query's
    <= k(+ties) rows per shard.  The same work as a single query whatever
    N is (no Spark job on a local index under ``DRIVER_POSTINGS``, two
    otherwise): a serving tier evaluates a batch at near-single-query
    cost.

    Returns a frame of (qid, doc_id, url, score, shard, local_no), local
    unless a Spark-scored k covers the corpus (see ``_finish``) —
    per-query top-``max_results`` with the engine's (score desc, doc_id
    asc) tie-break; ``qid`` is the index into ``queries``."""
    return _request(reader, queries, lang, max_results, min_score, analyzer,
                    None, with_qid=True)
