"""File-system ingestion sources (SURVEY.md §2.1 S1-S3) and maintenance
operators (I5 delete, I10 statistics).

The reference scans a directory per extension and dispatches to format
parsers (datasource_manager.py:270-303, :160-244).  The Spark-native
equivalent reads raw files with the ``binaryFile`` source (distributed,
split-planned by Spark) and routes per extension into the pages schema;
HTML flows through the byte-identity extractor, ``.txt`` is decoded
directly (S3, datasource_manager.py:192-210 — title = basename, content =
utf-8 text), ``.pdf`` (S5) decodes per-page text via an Arrow UDF over
``pdf_extract.extract_pdf`` (pdf_parser.py:20-75; PyPDF2 when importable,
else the pure-stdlib subset reader — title divergence note: a /Title in
the PDF metadata is honored by the reference but the pages schema carries
no title column, so the indexed title is the basename, as for .txt).
``.docx``/``.xlsx`` (S6-S7) decode via pure-stdlib OOXML readers
(office_extract.py; docx_parser.py:19-101, xlsx_parser.py:19-107 —
paragraphs + ' | '-joined table rows, sheet-name headers, 1000-row/
100-col caps).  As for PDF, document titles beyond the basename live in
the OOXML metadata the pages schema does not carry.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

SUPPORTED_EXTENSIONS = [".html", ".htm", ".txt", ".pdf", ".docx", ".xlsx"]


@F.pandas_udf(StringType())
def _pdf_text_udf(content: pd.Series, path: pd.Series) -> pd.Series:
    from document_retrieval_system_spark.sources.pdf_extract import extract_pdf

    return pd.Series(
        [
            (extract_pdf(c, p) or {}).get("content", "") if c is not None else ""
            for c, p in zip(content, path)
        ]
    )


@F.pandas_udf(StringType())
def _office_text_udf(content: pd.Series, path: pd.Series) -> pd.Series:
    from document_retrieval_system_spark.sources.office_extract import (
        extract_docx,
        extract_xlsx,
    )

    out = []
    for c, p in zip(content, path):
        if c is None:
            out.append("")
        elif p.lower().endswith(".docx"):
            out.append((extract_docx(c, p) or {}).get("content", ""))
        else:
            out.append((extract_xlsx(c, p) or {}).get("content", ""))
    return pd.Series(out)


def read_pages_from_files(
    spark: SparkSession,
    path: str,
    extensions: list[str] | None = None,
    default_lang: str = "zh",
) -> DataFrame:
    """S1+S2: recursive binary-file scan -> pages(url, warc_ts, html, text, lang).

    - ``url``: the file path (doc_id = md5(url), matching the reference's
      md5-of-path doc ids, datasource_manager.py:246-258);
    - ``warc_ts``: file modification time (the reference's
      ``last_modified`` mtime, :44);
    - html files land in ``html`` (extractor fills ``text`` later);
    - txt files are decoded straight into ``text`` (S3).
    """
    extensions = extensions or SUPPORTED_EXTENSIONS
    raw = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .load(path)
    )
    lower = F.lower(F.col("path"))
    is_ext = None
    for e in extensions:
        cond = lower.endswith(e)
        is_ext = cond if is_ext is None else (is_ext | cond)
    raw = raw.filter(is_ext)
    is_txt = lower.endswith(".txt")
    is_pdf = lower.endswith(".pdf")
    is_office = lower.endswith(".docx") | lower.endswith(".xlsx")
    return raw.select(
        F.col("path").alias("url"),
        F.col("modificationTime").alias("warc_ts"),
        F.when(~is_txt & ~is_pdf & ~is_office, F.col("content")).alias("html"),
        F.when(is_txt, F.decode(F.col("content"), "UTF-8"))
        .when(is_pdf, _pdf_text_udf(F.col("content"), F.col("path")))
        .when(is_office, _office_text_udf(F.col("content"), F.col("path")))
        .alias("text"),
        F.lit(default_lang).alias("lang"),
    )


def delete_documents(spark: SparkSession, index_dir: str,
                     urls: list[str]) -> None:
    """I5 (indexer.py:95-143): remove documents and repair the index.

    The reference walks every posting list in RAM; distributed, deletion
    is a *partition rewrite of only the affected shards*: drop the doc
    rows, rebuild those shards' postings from the survivors' existing
    compressed blocks (decode → re-block, analyzer-free), then re-run
    the global-stat finalize — exactly the Iceberg DELETE +
    affected-partition rewrite mapping from SURVEY.md §2.3.
    """
    import hashlib

    from document_retrieval_system_spark.operators.index_build import (
        IndexPaths,
        finalize_index,
        fs_delete,
        maintenance_intent_path,
        read_table,
        rebuild_shard_postings,
        repair_maintenance,
        write_maintenance_intent,
        write_shards,
    )

    paths = IndexPaths(index_dir)
    # a prior maintenance op may have died mid-rewrite — restore per-shard
    # consistency before reading any state
    repair_maintenance(spark, paths)
    doc_ids = [hashlib.md5(u.encode("utf-8")).hexdigest() for u in urls]
    docs = read_table(spark, paths, "docs")
    # per shard: whether it holds a deleted doc, and whether only those
    victim = F.col("doc_id").isin(doc_ids)
    hits = docs.groupBy("shard").agg(F.max(victim).alias("hit"),
                                     F.min(victim).alias("only")).filter("hit").collect()
    affected = sorted(r["shard"] for r in hits)
    if not affected:
        return

    # retained docs keep their rows AND their stable local_no verbatim —
    # deletion is pure codec work: the docs rows are dropped first, then
    # rebuild_shard_postings re-blocks the survivors from the existing
    # compressed blocks (its docs join drops the deleted docs' rows);
    # the analyzer never runs
    keep = docs.filter(F.col("shard").isin(affected) & ~victim).localCheckpoint(eager=True)

    # intent marker BEFORE the first mutation; deleted only after the
    # manifest snapshot + finalize — a crash in between leaves the marker
    # and the next maintenance entry point repairs the shards
    write_maintenance_intent(spark, paths, "delete", affected)
    write_shards(spark, paths, "docs", keep, affected, overwrite=True,
                 present=[r["shard"] for r in hits if not r["only"]])
    rebuild_shard_postings(spark, paths, affected, status="delete")
    finalize_index(spark, paths)
    fs_delete(spark, maintenance_intent_path(paths))


def index_statistics(reader) -> dict:
    """I10 (retrieval_core.py:271-316): corpus totals + per-lang counts +
    compression/lineage counters from the manifest."""
    corpus = reader.corpus()
    by_lang = {
        r["lang"]: r["count"]
        for r in reader.docs().groupBy("lang").count().collect()
    }
    # event-log aware aggregation: raw sums would double-count after a
    # compaction/rewrite snapshot or a replayed stream batch
    from document_retrieval_system_spark.operators.index_build import (
        manifest_stats,
    )

    m = manifest_stats(reader.manifest())
    n_terms = reader.term_stats().count()
    return {
        **corpus,
        "unique_terms": n_terms,
        "docs_by_lang": by_lang,
        "docs_parsed": m["docs_parsed"],
        "postings": m["postings"],
        "blocks": m["blocks"],
        "compressed_bytes": m["compressed_bytes"],
    }


def register_index_views(reader, prefix: str = "drs") -> list[str]:
    """Expose the index as Spark SQL temp views for ad-hoc analytics:

        {prefix}_docs, {prefix}_postings (compressed blocks),
        {prefix}_postings_flat (decoded, one row per posting),
        {prefix}_term_stats, {prefix}_manifest

    e.g. ``spark.sql("SELECT term, df FROM drs_term_stats ORDER BY df
    DESC LIMIT 10")``.  The flat view decodes lazily — a filtered query
    still pushes the term predicate into the block scan underneath.
    """
    from document_retrieval_system_spark.operators.search import flat_postings

    views = {
        f"{prefix}_docs": reader.docs(),
        f"{prefix}_postings": reader.postings(),
        f"{prefix}_postings_flat": flat_postings(reader.postings(), with_positions=True),
        f"{prefix}_term_stats": reader.term_stats(),
        f"{prefix}_manifest": reader.manifest(),
    }
    for name, df in views.items():
        df.createOrReplaceTempView(name)
    return sorted(views)


def sort_results_by_time(results: DataFrame, docs: DataFrame) -> DataFrame:
    """R7 (retrieval_core.py:160-165): optional post-sort on warc_ts desc."""
    return (
        results.join(docs.select("shard", "local_no", "warc_ts"), ["shard", "local_no"])
        .orderBy(F.desc("warc_ts"), F.asc("doc_id"))
    )
