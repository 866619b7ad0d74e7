"""Entry-query helpers on edge inputs: an empty corpus, a source
rewritten in the same process."""

from __future__ import annotations

import os

from document_retrieval_system_spark.entry_queries import _corpus_n


def test_corpus_n_empty_corpus_is_zero(spark):
    # sum() over no rows is NULL; the former filter().count() gave 0
    assert _corpus_n(spark.createDataFrame([], "text string")) == 0
    docs = spark.createDataFrame([("alpha beta",), ("",)], "text string")
    assert _corpus_n(docs) == 1


def test_spread_replans_a_source_rewritten_in_process(spark, tmp_path, monkeypatch):
    """The scan-split memo must not outlive the file it describes: a path
    rewritten with enough files to fill the session needs no spread."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from document_retrieval_system_spark import entry_queries as eq

    monkeypatch.setattr(eq, "_SPREAD_MIN_BYTES", 0)
    n = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "src.parquet")
    table = pa.table({"x": list(range(100))})
    pq.write_table(table, path)
    one = spark.read.parquet(path)
    assert one.rdd.getNumPartitions() < n
    assert eq._spread(spark, one, path) is not one  # single split: spread

    os.remove(path)
    os.mkdir(path)
    for i in range(2 * n):
        pq.write_table(table, os.path.join(path, f"part-{i:02d}.parquet"))
    many = spark.read.parquet(path)
    assert many.rdd.getNumPartitions() >= n
    assert eq._spread(spark, many, path) is many
