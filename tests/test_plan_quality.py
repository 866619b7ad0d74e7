"""Plan-quality gates: the properties that make the engine survive a
100x scale-up must be visible in the physical plan, not assumed."""

import datetime
import shutil
import tempfile
import uuid

import pandas as pd
from pyspark.sql import functions as F

from document_retrieval_system_spark.operators.search import flat_postings
from document_retrieval_system_spark.plans.explain import (
    formatted_plan,
    pushed_filters,
    read_schemas,
)


def test_term_filter_pushed_to_postings_scan(reader):
    df = reader.postings().filter(F.col("term").isin(["数据", "算法"]))
    pf = pushed_filters(df)
    assert "term" in pf and "In" in pf, pf


def test_bm25_scan_prunes_position_bytes(reader):
    """Without positions, pos_bytes must not be read (column pruning)."""
    flat = flat_postings(
        reader.postings().filter(F.col("term") == "数据"), with_positions=False
    )
    rs = read_schemas(flat)
    assert "pos_bytes" not in rs, rs
    assert "doc_bytes" in rs


def test_shard_partition_pruning(reader):
    df = reader.postings().filter(F.col("shard") == 3)
    plan = formatted_plan(df)
    # shard is a partition column: no data filter, partition pruning only
    assert "PartitionFilters" in plan
    assert "shard" in plan.split("PartitionFilters")[1].splitlines()[0]


def test_docs_scan_prunes_text_for_stats(reader):
    slim = reader.docs().select("shard", "local_no", "doc_len")
    rs = read_schemas(slim)
    assert "text" not in rs, rs


def test_whole_stage_codegen_on_agg(spark):
    df = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
    )
    # '*(n)' prefixes mark whole-stage-codegen spans; under AQE the final
    # executed plan carries them after the first action
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "*(" in executed, executed


def test_query_term_stats_lookup_is_filtered(reader):
    df = reader.term_stats().filter(F.col("term").isin(["数据"]))
    assert "In" in pushed_filters(df) or "EqualTo" in pushed_filters(df)


def _pos_decode_lines(df):
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    lines = plan.splitlines()
    idx = [i for i, l in enumerate(lines) if "MapInPandas" in l and "pos_bytes" in l]
    return plan, lines, idx


def test_phrase_pos_decode_after_docset_semijoin(reader):
    """r3 position-pruning contract: every pos_bytes-decoding UDF must sit
    ABOVE a LeftSemi join (block range vs the pre-intersected doc set), so
    positions of blocks holding no intersection doc are never decoded and
    the explode is bounded by the intersection, not the most common term."""
    from document_retrieval_system_spark.operators.search import (
        near_search,
        phrase_search,
    )

    for df in (
        phrase_search(reader, ["数据", "算法"]),
        near_search(reader, "数据", "算法", 5),
    ):
        plan, lines, idx = _pos_decode_lines(df)
        assert idx, plan  # the decode exists
        for i in idx:
            below = "\n".join(lines[i + 1 : i + 4])
            assert "Join LeftSemi" in below, (lines[i], below)


def test_prefix_search_pushes_startswith_and_matches_scan(reader):
    """Wildcard (prefix*) queries: the StartsWith predicate reaches the
    postings scan (term-sorted row groups skip via min/max — the
    columnar dictionary-range scan), and the result equals a brute-force
    union of the matching terms' doc sets."""
    from document_retrieval_system_spark.operators.search import prefix_search

    terms = [r["term"] for r in
             reader.term_stats().select("term").distinct().collect()]
    prefix = next(t[:1] for t in terms if sum(x.startswith(t[:1]) for x in terms) >= 2)
    df = prefix_search(reader, prefix)
    pf = pushed_filters(
        reader.postings().filter(F.col("term").startswith(prefix)))
    assert "StringStartsWith" in pf, pf
    got = {(r["shard"], r["local_no"]) for r in df.collect()}
    want = set()
    for t in terms:
        if t.startswith(prefix):
            flat = flat_postings(
                reader.postings().filter(F.col("term") == t), False)
            want |= {(r["shard"], r["local_no"]) for r in flat.collect()}
    assert got == want and got


# job counts measured on the 40-page, 4-shard index below
BUILD_JOBS = 9
STREAM_BATCH_JOBS = 36


def _spark_jobs(spark, action) -> int:
    """Spark jobs ``action`` launches, counted in its own job group."""
    sc = spark.sparkContext
    group = f"job-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_index_reads_run_only_the_jobs_that_move_data(spark, reader):
    """Per-request job budgets.  Declared table schemas mean no read
    launches a schema-inference job; the corpus scalars and query-term
    dfs are driver reads with no job; a WAND request, single or batched,
    runs only the block scan with its shard exchange and the kernel
    stage, and finishes in the driver.  Commits keep the stats current,
    so finalize_index on a committed index only reads the manifest and
    corpus rows in the driver; a build and a stream batch (one shard
    appended to, one rewritten) each run at most their pinned counts."""
    from document_retrieval_system_spark.operators.index_build import (
        IndexPaths,
        add_doc_identity,
        build_index,
        finalize_index,
    )
    from document_retrieval_system_spark.operators.wand import (
        bm25_wand_search,
        bm25_wand_search_many,
    )
    from document_retrieval_system_spark.sources.corpus import (
        PAGES_DDL,
        gen_pages_pandas,
        pages_df,
    )
    from document_retrieval_system_spark.streaming.incremental import _append_batch

    assert _spark_jobs(spark, lambda: reader.query_stats(["数据", "算法"])) == 0
    assert _spark_jobs(spark, reader.corpus) == 0
    single = _spark_jobs(spark, lambda: bm25_wand_search(
        reader, "数据 算法", "zh", 10, 0.0).collect())
    assert single <= 2, single
    batch = ["数据 算法", "系统", "网络 数据", "算法"] * 4
    many = _spark_jobs(spark, lambda: bm25_wand_search_many(
        reader, batch, "zh", 10, 0.0).collect())
    assert many <= 2, many

    idx = tempfile.mkdtemp(prefix="drs_job_budget_")
    try:
        pages = pages_df(spark, 40)
        paths = IndexPaths(idx)
        build = _spark_jobs(spark, lambda: build_index(spark, pages, idx, n_shards=4))
        assert build <= BUILD_JOBS, build
        finalize = _spark_jobs(spark, lambda: finalize_index(spark, paths))
        assert finalize <= 1, finalize
        # new urls (appended to their shards) and re-sent urls of shard 0
        # with a newer warc_ts (shard 0 rewritten)
        old = spark.read.parquet(paths.docs).filter("shard = 0").orderBy("url")
        resent = pd.DataFrame(
            [(r["url"], r["warc_ts"] + datetime.timedelta(days=1), None,
              "re-sent budget page", "en") for r in old.limit(2).collect()],
            columns=["url", "warc_ts", "html", "text", "lang"])
        batch = spark.createDataFrame(
            pd.concat([gen_pages_pandas(8, start=40), resent]), PAGES_DDL)
        assert {r["shard"] for r in add_doc_identity(batch, 4).collect()} - {0}
        stream = _spark_jobs(spark, lambda: (_append_batch(spark, batch, 0, paths, 4),
                                             finalize_index(spark, paths)))
        assert stream <= STREAM_BATCH_JOBS, stream
    finally:
        shutil.rmtree(idx, ignore_errors=True)
