"""Seeded inputs: page corpora, stream batches and query pools.

Everything here is a pure function of the workload seed, so the same seed
gives the same inputs.  Pages come from the package's own generator with
topic clustering on: the topic prefixes the URL host, so URL-ordered docIDs
group by topic and block-max WAND can prune topical terms.
"""

from __future__ import annotations

import datetime as dt
import random

import pandas as pd

from document_retrieval_system_spark.sources.corpus import (
    EN_VOCAB,
    PAGES_DDL,
    gen_page,
    topic_vocab,
)

TOPICS = 16
# paragraphs per page x2: closer to Common-Crawl page sizes than the
# test-sized default, so the fused extract+tokenize UDF does real work
SIZE_SCALE = 2
# Zipf head of the English vocabulary: these terms occur in most English
# pages, so every block bound is high and WAND cannot prune them
HEAD_TERMS = EN_VOCAB[:12]
# each re-send is newer than every earlier version (first versions span
# 360 days)
RESEND_SHIFT = dt.timedelta(days=400)


def pages_frame(ids, seed: int, version: int = 0) -> pd.DataFrame:
    """Pages ``ids`` of corpus ``seed``.  ``version`` > 0: the same URLs
    re-sent with a new body and a ``warc_ts`` newer than every lower
    version."""
    rows = [gen_page(i, seed + version, SIZE_SCALE, TOPICS) for i in ids]
    shift = version * RESEND_SHIFT
    return pd.DataFrame({
        "url": [r[0] for r in rows],
        "warc_ts": [r[1] + shift for r in rows],
        "html": [r[2] for r in rows],
        "text": pd.Series([None] * len(rows), dtype="object"),
        "lang": [r[3] for r in rows],
    })


def write_pages(spark, pdf: pd.DataFrame, path: str) -> None:
    spark.createDataFrame(pdf, PAGES_DDL).write.parquet(path)


def read_pages(spark, path: str):
    return spark.read.schema(PAGES_DDL).parquet(path)


def query_pool(seed: int, n_topical: int, n_head: int) -> list[str]:
    """English queries: ``n_topical`` pairing a head term with two terms of
    one topic (the head term's blocks outside the topic's docID range are
    prunable), then ``n_head`` of two head terms only (not prunable)."""
    rng = random.Random(seed * 7919 + 1)
    topical = [" ".join([rng.choice(HEAD_TERMS)] + rng.sample(topic_vocab(t)[:4], 2))
               for t in rng.sample(range(TOPICS), n_topical)]
    head = [" ".join(rng.sample(HEAD_TERMS, 2)) for _ in range(n_head)]
    return topical + head
