"""Site-level template (boilerplate) detection across documents.

Single-page readability catches per-page chrome; the cross-document
signal -- a chunk that appears on MOST of a site's pages is template,
not content -- needs corpus-level aggregation, which is exactly what a
Spark job adds over the reference's one-document-at-a-time pipeline
(standard technique in web-corpus cleaning, e.g. Pomikalek's justext
thesis 2011 / CommonCrawl-derived corpora).

Scale shape: both aggregations and the join are keyed by site (host),
so the whole operator is ONE shuffle family on the site key; chunk
identity travels as a 16-byte md5, never the text.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def site_boilerplate_chunks(chunks_df):
    """(site, chunk_hash, n_docs, site_docs, ratio) for chunks present in
    at least half of a site's documents (sites with fewer than 3 pages
    are skipped: no statistical basis)."""
    per_site = chunks_df.groupBy("site").agg(
        F.count_distinct(F.col("doc_id")).alias("site_docs")
    )
    freq = chunks_df.groupBy(
        "site", F.md5(F.col("chunk_text")).alias("chunk_hash")
    ).agg(F.count_distinct(F.col("doc_id")).alias("n_docs"))
    return (
        freq.join(per_site, "site")
        .withColumn(
            "ratio",
            F.round(F.col("n_docs") / F.col("site_docs"), 6),
        )
        .filter(
            (F.col("site_docs") >= 3) & (F.col("ratio") >= 0.5)
        )
    )


def drop_site_boilerplate(chunks_df, boiler_df):
    """Remove detected template chunks: anti-join on (site, chunk_hash)."""
    keyed = chunks_df.withColumn(
        "chunk_hash", F.md5(F.col("chunk_text"))
    )
    return keyed.join(
        boiler_df.select("site", "chunk_hash"),
        ["site", "chunk_hash"],
        "left_anti",
    ).drop("chunk_hash")
