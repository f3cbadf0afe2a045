"""Partitioning and skew policy for the 10^12-document tier.

North-rule requirements (BASELINE.json): salt skewed hosts, repartition by
url-hash range, keep work units stable so any partition can resume
idempotently.

Design notes for the 100 TB plan:

  * WORK UNIT: part_id = pmod(xxhash64(url), n_parts). Deterministic in
    the DATA (not in the physical layout), so the same url lands in the
    same part across runs and cluster sizes -- the property resume
    (plans/lineage.py) depends on. spark_partition_id() would not survive
    a re-run.
  * LAYOUT: one hash shuffle on the salted layout key below, with
    uniform key counts (xxhash64 is uniform on urls). Extraction is
    per-row, so key skew does not matter -- BYTE skew does: a host
    serving 50 MB pages makes fat partitions AQE cannot split (a single
    UDF task is unsplittable). Hence size salting.
  * SIZE SALTING: pages above a byte threshold get a per-row salt that
    spreads them round-robin over all parts; small pages keep their
    url-hash part. Fat rows therefore never pile into one task. The
    extracted output still carries the LOGICAL part_id for lineage.
  * On Iceberg this maps to write-time `bucket(n, url)` partitioning plus
    a `sort_order(length(html))`; in-sandbox we evidence the same policy
    on parquet (sources/io.py).
"""

from __future__ import annotations

from pyspark.sql import functions as F

DEFAULT_FAT_ROW_BYTES = 4 * 1024 * 1024  # pages above 4 MB are "fat"


def part_id_col(n_parts):
    """Stable logical work-unit id: pmod(xxhash64(url), n_parts)."""
    return F.pmod(F.xxhash64(F.col("url")), F.lit(n_parts)).cast("int")


def host_col():
    """scheme://host/... -> host (cheap regexp, no UDF)."""
    return F.regexp_extract(F.col("url"), r"^[a-z][a-z0-9+.-]*://([^/]+)", 1)


def with_part_id(pages_df, n_parts):
    return pages_df.withColumn("part_id", part_id_col(n_parts))


def salted_layout_key(n_parts, fat_row_bytes=DEFAULT_FAT_ROW_BYTES):
    """Physical layout key: url-hash part for normal rows; fat rows are
    sprayed uniformly (salt = hash of url+marker) so no task accumulates
    multiple fat pages."""
    fat = F.length(F.col("html")) > fat_row_bytes
    return F.when(
        fat,
        F.pmod(F.xxhash64(F.col("url"), F.lit("salt")), F.lit(n_parts)).cast("int"),
    ).otherwise(part_id_col(n_parts))


def partition_pages(pages_df, n_parts):
    """Attach the logical part_id and repartition physically on
    salted_layout_key: url-hash parts for normal pages, fat pages (over
    DEFAULT_FAT_ROW_BYTES) sprayed over all parts for byte balance. The
    one page layout; the rows keep their logical part_id either way."""
    return with_part_id(pages_df, n_parts).repartition(
        n_parts, salted_layout_key(n_parts)
    )


def host_skew_stats(pages_df):
    """Cheap pre-pass for monitoring/salting decisions: per-host page
    count and byte volume (SURVEY.md §4.2). Column-pruned: reads only url
    + html length."""
    return (
        pages_df.select(host_col().alias("host"), F.length("html").alias("bytes"))
        .groupBy("host")
        .agg(
            F.count("*").alias("n_pages"),
            F.sum("bytes").alias("total_bytes"),
            F.max("bytes").alias("max_bytes"),
        )
    )


def detect_skewed_hosts(pages_df, page_factor=10.0, byte_factor=10.0):
    """Hosts whose page count or byte volume exceeds factor x the mean.
    Returns a small driver-side list (host cardinality << row count).
    One action: the means are cross-joined onto the per-host stats, and
    both sides reuse the one host shuffle, so nothing is cached."""
    stats = host_skew_stats(pages_df)
    means = stats.agg(
        F.avg("n_pages").alias("avg_pages"),
        F.coalesce(F.avg("total_bytes"), F.lit(0.0)).alias("avg_bytes"),
    )
    skewed = stats.crossJoin(means).filter(
        (F.col("n_pages") > page_factor * F.col("avg_pages"))
        | (F.col("total_bytes") > byte_factor * F.col("avg_bytes"))
    )
    return [r["host"] for r in skewed.select("host").collect()]
