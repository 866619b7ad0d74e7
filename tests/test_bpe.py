"""BPE tokenizer: hand-derived merges, encode properties, determinism,
and the Spark column twin."""

from __future__ import annotations

import random

from document_retrieval_system_spark.functions.bpe import (
    END,
    encode,
    encode_word,
    merge_ranks,
    train_bpe,
)


def test_train_bpe_hand_derived():
    """Classic Sennrich toy corpus: 'low' x5, 'lower' x2, 'newest' x6,
    'widest' x3.  Pair counts are hand-computable; the first merges
    must be (e,s)->es [9], (es,t</w>)... with t carrying </w>."""
    corpus = (["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3)
    merges = train_bpe([" ".join(corpus)], n_merges=4)
    # counts: (e,s)=9, (s,t</w>)=9, (l,o)=7, (o,w...)=5(+w</w> forms)
    # tie 9 vs 9 -> lexicographic min ('e','s') < ('s','t</w>')
    assert merges[0] == ("e", "s")
    assert merges[1] == ("es", "t" + END)
    assert merges[2] == ("l", "o")


def test_encode_word_follows_rank_order():
    merges = [("e", "s"), ("es", "t" + END), ("l", "o"), ("lo", "w" + END)]
    ranks = merge_ranks(merges)
    got = encode_word("newest", ranks)
    assert got == ["n", "e", "w", "est" + END]
    assert encode_word("low", ranks) == ["low" + END]
    assert encode_word("lowest", ranks) == ["lo", "w", "est" + END]
    # unknown word falls back to chars
    assert encode_word("xyz", ranks) == ["x", "y", "z" + END]


def test_encode_lossless_and_cached():
    rng = random.Random(7)
    words = ["".join(rng.choice("abcdef") for _ in range(rng.randrange(1, 9)))
             for _ in range(300)]
    text = " ".join(words)
    merges = train_bpe([text], n_merges=60)
    ranks = merge_ranks(merges)
    cache: dict = {}
    toks = encode(text, ranks, cache)
    # losslessness: concatenating tokens restores the words + markers
    rebuilt = "".join(toks).replace(END, " ").split()
    assert rebuilt == [w.lower() for w in words]
    # cache serves repeat words
    assert set(cache) == {w.lower() for w in words}
    # determinism: a second training run is identical
    assert train_bpe([text], n_merges=60) == merges


def test_bpe_spark_counts_match_pure_python(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from document_retrieval_system_spark.functions.bpe import bpe_token_counts
    from document_retrieval_system_spark.operators.similarity import (
        md5_ranked_table,
    )

    rows = [(i, f"the quick brown fox number {i} jumps over the lazy dog")
            for i in range(40)] + [(99, None)]

    def fit(rows, name):
        path = str(tmp_path / name)
        pq.write_table(pa.table({"doc_id": [r[0] for r in rows],
                                 "text": [r[1] for r in rows]}), path)
        sample = md5_ranked_table(path, "doc_id", ["text"], "", 16)
        return train_bpe(sample.column("text").to_pylist(), n_merges=50)

    merges = fit(rows, "a.parquet")
    df = spark.createDataFrame(rows, "doc_id long, text string")
    ranks = merge_ranks(merges)
    got = {r["doc_id"]: r["n_bpe_tokens"]
           for r in bpe_token_counts(df, merges).collect()}
    want = {i: len(encode(t, ranks)) for i, t in rows if t is not None}
    want[99] = 0
    assert got == want
    # the sample rule is order-independent: shuffled rows, same merges
    assert fit(sorted(rows, key=lambda r: r[1] or ""), "b.parquet") == merges
