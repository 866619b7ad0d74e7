"""Index equivalence: decompressed Spark postings == oracle index exactly
(SURVEY.md §5.3 — doc sets, tfs, positions, df, doc_len, N, avgdl)."""

import pytest
from pyspark.sql import functions as F

from document_retrieval_system_spark.operators.search import flat_postings


@pytest.fixture(scope="module")
def doc_map(reader):
    """(shard, local_no) -> doc_id."""
    rows = reader.docs().select("shard", "local_no", "doc_id").collect()
    return {(r["shard"], r["local_no"]): r["doc_id"] for r in rows}


def test_corpus_stats_match(reader, oracle_engine):
    corpus = reader.corpus()
    assert corpus["total_docs"] == oracle_engine.idx.total_docs
    assert corpus["avg_doc_length"] == pytest.approx(
        oracle_engine.idx.avg_doc_length, rel=1e-12
    )


def test_doc_lengths_match(reader, oracle_engine):
    rows = reader.docs().select("doc_id", "doc_len").collect()
    spark_lens = {r["doc_id"]: r["doc_len"] for r in rows if r["doc_len"] > 0}
    assert spark_lens == oracle_engine.idx.doc_lengths


def test_term_doc_freqs_match(reader, oracle_engine):
    rows = reader.term_stats().collect()
    spark_dfs = {r["term"]: r["df"] for r in rows}
    assert spark_dfs == dict(oracle_engine.idx.doc_freqs)


def test_postings_match_exactly(reader, oracle_engine, doc_map):
    """Every (term, doc) posting: tf and positions identical."""
    flat = flat_postings(reader.postings(), with_positions=True)
    rows = flat.collect()
    spark_postings = {}
    for r in rows:
        doc_id = doc_map[(r["shard"], r["local_no"])]
        spark_postings[(r["term"], doc_id)] = (r["tf"], list(r["positions"]))

    oracle_postings = {}
    for term, plist in oracle_engine.idx.positional_index.items():
        for doc_id, tf, positions in plist:
            oracle_postings[(term, doc_id)] = (tf, list(positions))

    assert len(spark_postings) == len(oracle_postings)
    assert spark_postings == oracle_postings


def test_doc_len_replicated_in_postings(reader):
    """dl_bytes must agree with the docs table (join-free scoring check)."""
    flat = flat_postings(reader.postings(), with_positions=False)
    docs = reader.docs().select("shard", "local_no", F.col("doc_len").alias("dl2"))
    bad = flat.join(docs, ["shard", "local_no"]).filter(
        F.col("doc_len") != F.col("dl2")
    )
    assert bad.count() == 0


def test_blocks_are_sorted_and_bounded(reader):
    rows = reader.postings().select(
        "shard", "term", "block_no", "n", "first_doc", "last_doc", "max_tf", "min_dl"
    ).collect()
    from collections import defaultdict

    groups = defaultdict(list)
    for r in rows:
        assert 1 <= r["n"] <= 128
        assert r["first_doc"] <= r["last_doc"]
        groups[(r["shard"], r["term"])].append(r)
    for key, blist in groups.items():
        blist.sort(key=lambda r: r["block_no"])
        for a, b in zip(blist, blist[1:]):
            assert a["last_doc"] < b["first_doc"], key  # disjoint増加 ranges


def test_manifest_lineage_counters(reader, oracle_engine):
    m = reader.manifest()
    agg = m.agg(
        F.sum("docs_parsed").alias("parsed"),
        F.sum("docs_indexed").alias("indexed"),
        F.sum("postings_emitted").alias("postings"),
    ).collect()[0]
    assert agg["parsed"] == 240
    assert agg["indexed"] == oracle_engine.idx.total_docs
    total_oracle_postings = sum(
        len(v) for v in oracle_engine.idx.positional_index.values()
    )
    assert agg["postings"] == total_oracle_postings
    assert {r["status"] for r in m.collect()} == {"done"}


def test_decoder_position_forms_agree_and_reblock_byte_identically(reader):
    """The decoder's two position forms describe the same positions, and
    re-blocking its byte-sliced rows reproduces every postings row."""
    from document_retrieval_system_spark.operators.codec import decode_positions
    from document_retrieval_system_spark.operators.index_build import build_postings

    key = ("shard", "term", "local_no")
    decoded = {
        tuple(r[k] for k in key): list(r["positions"])
        for r in flat_postings(reader.postings(), with_positions=True).collect()
    }
    sliced = flat_postings(reader.postings(), with_positions="bytes")
    rows = sliced.collect()
    assert rows and len(rows) == len(decoded)
    for r in rows:
        got = decode_positions(bytes(r["pos_bytes"]), 1)[0].tolist()
        assert got == decoded[tuple(r[k] for k in key)], r

    cols = reader.postings().columns
    rebuilt = build_postings(
        sliced.select("shard", "local_no", "term", "tf", "pos_bytes", "doc_len")
    )
    assert sorted(map(tuple, rebuilt.select(*cols).collect())) == sorted(
        map(tuple, reader.postings().select(*cols).collect())
    )
