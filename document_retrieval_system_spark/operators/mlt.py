"""More-like-this retrieval: turn a document into a query.

The classic relevance-feedback operator (Lucene's ``MoreLikeThis``,
Elasticsearch ``more_like_this``): extract the source document's most
characteristic terms by tf x idf, then run ordinary BM25 retrieval with
those terms as the query, excluding the source document itself.  The
reference engine exposes only string queries (search_engine.py takes a
query string); this operator is the standard IR extension that makes
"find documents similar to this one" a first-class query type over the
same index and scorer.

Scale shape: the source is one document, so its term counts and their
idfs (from one ``IndexReader.query_stats`` lookup) are a few dozen
entries on the driver, and ranking them is a driver sort that runs no
Spark job.  The top-m terms then go to the unchanged BM25 scorer like a
typed query's term set, so the corpus side is the same index scan the
engine already runs.
"""

from __future__ import annotations


def doc_top_terms(tf: dict, idf: dict, m: int = 8) -> list[str]:
    """The top-``m`` most characteristic terms of one document: rank by
    tf x BM25-idf, ties by term ascending — the deterministic tie order
    that keeps the Spark and oracle term sets identical even when
    weights collide exactly.

    ``tf``: {term: count in the document}; ``idf``: {term: idf} as
    ``search.bm25_weights`` returns it.  Terms without an idf (no
    postings) drop out."""
    return sorted(idf, key=lambda t: (-(tf[t] * idf[t]), t))[:m]
