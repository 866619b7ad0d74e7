"""Entry-query helpers on edge inputs: an empty corpus."""

from __future__ import annotations

from document_retrieval_system_spark.entry_queries import _corpus_n


def test_corpus_n_empty_corpus_is_zero(spark):
    # sum() over no rows is NULL; the former filter().count() gave 0
    assert _corpus_n(spark.createDataFrame([], "text string")) == 0
    docs = spark.createDataFrame([("alpha beta",), ("",)], "text string")
    assert _corpus_n(docs) == 1
