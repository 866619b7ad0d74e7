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
STREAM_BATCH_JOBS = 19


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


def test_index_reads_run_only_the_jobs_that_move_data(spark, reader, monkeypatch):
    """Per-request job budgets.  Declared table schemas mean no read
    launches a schema-inference job; the corpus scalars and query-term
    dfs are driver reads with no job; a WAND request on a local index,
    single or batched, runs no job when its postings fit the driver's
    budget, and otherwise only the block scan with its shard exchange and
    the kernel stage, finishing in the driver.  Commits keep the stats current,
    so finalize_index on a committed index only reads the manifest and
    corpus rows in the driver; a build and a stream batch (one shard
    appended to, one rewritten) each run at most their pinned counts."""
    from document_retrieval_system_spark.operators.index_build import (
        IndexPaths,
        add_doc_identity,
        build_index,
        finalize_index,
    )
    from document_retrieval_system_spark.operators import wand
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
    assert single == 0, single
    batch = ["数据 算法", "系统", "网络 数据", "算法"] * 4
    many = _spark_jobs(spark, lambda: bm25_wand_search_many(
        reader, batch, "zh", 10, 0.0).collect())
    assert many == 0, many
    # over the budget, Spark scans the blocks and runs the kernels
    monkeypatch.setattr(wand, "DRIVER_POSTINGS", 0)
    over = _spark_jobs(spark, lambda: bm25_wand_search(
        reader, "数据 算法", "zh", 10, 0.0).collect())
    assert 1 <= over <= 2, over
    over_many = _spark_jobs(spark, lambda: bm25_wand_search_many(
        reader, batch, "zh", 10, 0.0).collect())
    assert 1 <= over_many <= 2, over_many
    monkeypatch.undo()

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


def _sql_executions(spark, action) -> list[list[tuple]]:
    """The SQL executions ``action`` runs, read from the SQL status store
    (it works with the UI off): per execution, its plan-graph nodes as
    ``(name, desc, rows)`` where ``rows`` is the node's output-row count in
    that execution, None when it has no such metric.  (The nodes of a
    cached frame's plan are listed by every execution that reads the
    cache, with 0 rows in all but the one that computed it.)"""
    store = spark._jsparkSession.sharedState().statusStore()

    def seq(x):
        it, out = x.iterator(), []
        while it.hasNext():
            out.append(it.next())
        return out

    # the store keeps the latest spark.sql.ui.retainedExecutions, so new
    # executions are found by id, once the listener bus has delivered them
    bus = spark.sparkContext._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    last = max((e.executionId() for e in seq(store.executionsList())), default=-1)
    action()
    bus.waitUntilEmpty()
    out = []
    for e in seq(store.executionsList()):
        if e.executionId() <= last:
            continue
        values = store.executionMetrics(e.executionId())
        nodes = []
        for n in seq(store.planGraph(e.executionId()).allNodes()):
            # a Scala Option of the formatted value: "Some(1,234)" or "None"
            rows = [str(values.get(m.accumulatorId())) for m in seq(n.metrics())
                    if m.name() == "number of output rows"]
            rows = rows[0] if rows and rows[0] != "None" else None
            nodes.append((n.name(), n.desc(),
                          None if rows is None else int(rows[5:-1].replace(",", ""))))
        out.append(nodes)
    return out


def _scanned_shards(nodes, table: str, n_shards: int) -> set[int]:
    """The shards of index table ``table`` the parquet scans planned in an
    execution read: their partition filters' shard values, or every shard
    for a scan without one.  A scan counts where it is planned, not where
    its tasks run: a scan under a checkpoint runs in the job of the frame's
    first reader, whose plan shows only the checkpoint."""
    import re

    shards = set()
    for name, desc, _ in nodes:
        loc = re.search(r"Location: [^\[]*\[([^\]]*)\]", desc)
        if "Scan parquet" not in name or not loc:
            continue
        if loc.group(1).rstrip("/").rsplit("/", 1)[-1] != table:
            continue
        part = re.search(r"PartitionFilters: \[([^\]]*)\]", desc)
        pf = part.group(1) if part else ""
        listed = re.search(r"shard#\d+ IN \(([^)]*)\)", pf)
        equal = re.search(r"shard#\d+ = (\d+)\)", pf)
        if listed:
            shards |= {int(s) for s in listed.group(1).split(",")}
        elif equal:
            shards.add(int(equal.group(1)))
        else:
            shards |= set(range(n_shards))
    return shards


def test_stream_batch_reads_each_input_once(spark):
    """One stream batch that appends to shards 1 and 2 and rewrites shard
    0, over a 4-shard index: the guard scan is the only read of an
    appended shard's docs, a rewritten shard's docs are read by the guard
    and the rewrite only, shard 3 is never read, and the fused analyzer
    runs in one execution.  A batch of only older and equal re-sends runs
    no analyzer at all."""
    from document_retrieval_system_spark.operators.index_build import (
        IndexPaths,
        add_doc_identity,
        build_index,
    )
    from document_retrieval_system_spark.sources.corpus import (
        PAGES_DDL,
        gen_pages_pandas,
        pages_df,
    )
    from document_retrieval_system_spark.streaming.incremental import _append_batch

    idx = tempfile.mkdtemp(prefix="drs_batch_scans_")
    try:
        build_index(spark, pages_df(spark, 40), idx, n_shards=4)
        paths = IndexPaths(idx)
        old = spark.read.parquet(paths.docs).filter("shard = 0").orderBy("url")
        resent = pd.DataFrame(
            [(r["url"], r["warc_ts"] + datetime.timedelta(days=1), None,
              "re-sent scan page", "en") for r in old.limit(2).collect()],
            columns=["url", "warc_ts", "html", "text", "lang"])
        new = gen_pages_pandas(30, start=40)
        shard_of = {r["url"]: r["shard"] for r in add_doc_identity(
            spark.createDataFrame(new, PAGES_DDL), 4).select("url", "shard").collect()}
        new = new[new["url"].map(shard_of).isin([1, 2])]
        assert set(new["url"].map(shard_of)) == {1, 2}
        batch = spark.createDataFrame(pd.concat([new, resent]), PAGES_DDL)
        execs = _sql_executions(spark, lambda: _append_batch(spark, batch, 0, paths, 4))

        def reads(table, shard):
            return sum(shard in _scanned_shards(nodes, table, 4) for nodes in execs)

        assert [reads("docs", s) for s in (1, 2)] == [1, 1]
        assert reads("docs", 0) <= 2
        assert reads("docs", 3) == 0 and reads("postings", 3) == 0
        analyzer = [nodes for nodes in execs
                    if any("ArrowEvalPython" in name and rows
                           for name, _, rows in nodes)]
        assert len(analyzer) == 1, len(analyzer)

        # the re-sent pages again, and older copies of the new ones
        older = pd.concat([resent, new.assign(
            warc_ts=new["warc_ts"] - datetime.timedelta(days=1))])
        execs = _sql_executions(spark, lambda: _append_batch(
            spark, spark.createDataFrame(older, PAGES_DDL), 1, paths, 4))
        assert execs and not any("ArrowEvalPython" in name
                                 for nodes in execs for name, _, _ in nodes)
    finally:
        shutil.rmtree(idx, ignore_errors=True)


def test_compaction_reads_each_target_shards_docs_once(spark):
    """Compaction of shards 0 and 2 of a 4-shard index with delta
    segments: one docs scan of each target shard feeds both the live
    postings join and the counters, and shards 1 and 3 are never read."""
    from document_retrieval_system_spark.operators.index_build import (
        IndexPaths,
        build_index,
    )
    from document_retrieval_system_spark.sources.corpus import (
        PAGES_DDL,
        gen_pages_pandas,
        pages_df,
    )
    from document_retrieval_system_spark.streaming.incremental import (
        _append_batch,
        compact_shards,
    )

    idx = tempfile.mkdtemp(prefix="drs_compact_scans_")
    try:
        build_index(spark, pages_df(spark, 40), idx, n_shards=4)
        paths = IndexPaths(idx)
        _append_batch(spark, spark.createDataFrame(gen_pages_pandas(20, start=40),
                                                   PAGES_DDL), 0, paths, 4)
        execs = _sql_executions(spark, lambda: compact_shards(spark, paths, [0, 2]))

        def reads(table, shard):
            return sum(shard in _scanned_shards(nodes, table, 4) for nodes in execs)

        assert [reads("docs", s) for s in range(4)] == [1, 0, 1, 0]
        assert [reads("postings", s) for s in range(4)] == [1, 0, 1, 0]
    finally:
        shutil.rmtree(idx, ignore_errors=True)


def test_a_repeated_build_and_batch_compiles_no_new_class(spark):
    """The generated-class cache holds a whole build + stream batch: the
    same build and batch again in one session compile nothing."""
    from document_retrieval_system_spark.operators.index_build import (
        IndexPaths,
        build_index,
        finalize_index,
    )
    from document_retrieval_system_spark.sources.corpus import (
        PAGES_DDL,
        gen_pages_pandas,
        pages_df,
    )
    from document_retrieval_system_spark.streaming.incremental import _append_batch

    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()
    idx = tempfile.mkdtemp(prefix="drs_codegen_cache_")
    try:
        paths = IndexPaths(idx)
        pages = pages_df(spark, 40)

        def cycle():
            build_index(spark, pages, idx, n_shards=4)
            old = spark.read.parquet(paths.docs).filter("shard = 0").orderBy("url")
            resent = pd.DataFrame(
                [(r["url"], r["warc_ts"] + datetime.timedelta(days=1), None,
                  "re-sent codegen page", "en") for r in old.limit(2).collect()],
                columns=["url", "warc_ts", "html", "text", "lang"])
            batch = spark.createDataFrame(
                pd.concat([gen_pages_pandas(8, start=40), resent]), PAGES_DDL)
            _append_batch(spark, batch, 0, paths, 4)
            finalize_index(spark, paths)

        cycle()
        before = compiled.getCount()
        cycle()
        assert compiled.getCount() - before == 0
    finally:
        shutil.rmtree(idx, ignore_errors=True)
