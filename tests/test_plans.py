"""Partitioning policy, skew detection, lineage/resume semantics."""

import pytest
from pyspark.sql import functions as F

from sift_spark.core.counters import WORDS
from sift_spark.core.pipeline import SiftParams
from sift_spark.job import run_extraction_job
from sift_spark.plans import lineage, partitioning
from sift_spark.sources.fixtures import build_pages_df


def test_part_id_stability(spark):
    pages = build_pages_df(spark, n_big=20)
    a = {r["url"]: r["part_id"]
         for r in partitioning.with_part_id(pages, 8).collect()}
    b = {r["url"]: r["part_id"]
         for r in partitioning.with_part_id(pages.repartition(5), 8).collect()}
    assert a == b  # stable in data, not layout
    assert all(0 <= p < 8 for p in a.values())


def test_host_skew_detection(spark):
    rows = (
        [(f"http://fat.example/{i}", None, b"x" * 5000, None, "en")
         for i in range(40)]
        + [(f"http://ok{i}.example/page", None, b"y" * 100, None, "en")
           for i in range(20)]
    )
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    skewed = partitioning.detect_skewed_hosts(pages, page_factor=5, byte_factor=5)
    assert skewed == ["fat.example"]


def test_host_skew_detection_leaves_no_cache(spark):
    """detect_skewed_hosts returns a plain list, so any block it caches
    would stay pinned on the executors with no handle to release it."""
    pages = build_pages_df(spark, n_big=5)
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    partitioning.detect_skewed_hosts(pages)
    assert partitioning.detect_skewed_hosts(pages.limit(0)) == []
    assert jsc.getPersistentRDDs().size() == before


def test_salted_layout_spreads_fat_rows(spark):
    rows = (
        [("http://fat.example/%d" % i, None, b"x" * 2000, None, "en")
         for i in range(32)]
        + [("http://small.example/%d" % i, None, b"y" * 10, None, "en")
           for i in range(32)]
    )
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    layout = pages.withColumn(
        "layout_key", partitioning.salted_layout_key(8, fat_row_bytes=1000)
    )
    fat_keys = [
        r["layout_key"]
        for r in layout.filter(F.col("url").startswith("http://fat")).collect()
    ]
    assert len(set(fat_keys)) >= 4  # fat rows spread over several parts


def test_job_resume_idempotent(spark, tmp_path):
    out = str(tmp_path / "job_out")
    pages = build_pages_df(spark, n_big=16, include_fixtures=False)
    params = SiftParams(counting_method=WORDS, max_units=0)

    first = run_extraction_job(spark, pages, out, params, n_parts=4)
    assert first.count() == 4
    data1 = sorted(
        lineage.read_extracted(spark, out).collect(), key=lambda r: r["url"]
    )
    assert len(data1) == 16

    # second run: everything complete -> no new parts, data unchanged
    second = run_extraction_job(spark, pages, out, params, n_parts=4)
    assert second.count() == 0
    data2 = sorted(
        lineage.read_extracted(spark, out).collect(), key=lambda r: r["url"]
    )
    assert [(r["url"], r["text"]) for r in data1] == [
        (r["url"], r["text"]) for r in data2
    ]


def test_crash_between_data_write_and_lineage_commit(spark, tmp_path):
    """A part whose data was written but whose lineage row was NOT
    committed (crash window) must be reprocessed, and dynamic partition
    overwrite must leave exactly one copy."""
    out = str(tmp_path / "crash_out")
    pages = build_pages_df(spark, n_big=12, include_fixtures=False)
    params = SiftParams(counting_method=WORDS, max_units=0)

    # simulate the crash: write data for ALL parts, commit lineage NONE
    from sift_spark.operators.extract import extract_pages

    partitioned = partitioning.partition_pages(pages, 4)
    extracted = extract_pages(partitioned, params).drop("part_id").withColumn(
        "part_id", partitioning.part_id_col(4))
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    extracted.write.mode("overwrite").partitionBy("part_id").parquet(
        lineage.data_path(out))
    assert lineage.completed_parts(spark, out) is None  # no lineage yet

    # resume: every part reprocessed (lineage empty), exactly once
    metrics = run_extraction_job(spark, pages, out, params, n_parts=4)
    assert metrics.count() == 4
    data = lineage.read_extracted(spark, out)
    assert data.count() == 12  # no duplicates from the pre-crash write
    assert data.select("url").distinct().count() == 12


def test_job_resumes_missing_parts_only(spark, tmp_path):
    out = str(tmp_path / "job_out2")
    pages = build_pages_df(spark, n_big=16, include_fixtures=False)
    params = SiftParams(counting_method=WORDS, max_units=0)

    # simulate a partial run: process only parts {0,1} by pre-filtering
    partitioned = partitioning.partition_pages(pages, 4)
    subset = partitioned.filter(F.col("part_id") < 2)
    from sift_spark.operators.extract import extract_pages

    bytes_in = subset.groupBy("part_id").agg(
        F.sum(F.length("html")).alias("bytes_in"))
    extracted = extract_pages(subset, params).drop("part_id").withColumn(
        "part_id", partitioning.part_id_col(4))
    lineage.commit(spark, extracted, bytes_in, out, "partial-run")

    done_before = {r["part_id"]
                   for r in lineage.read_lineage(spark, out).collect()}
    assert done_before == {0, 1}

    # resume: only parts 2,3 processed
    resumed = run_extraction_job(spark, pages, out, params, n_parts=4)
    new_parts = {r["part_id"] for r in resumed.collect()}
    assert new_parts == {2, 3}
    assert lineage.read_extracted(spark, out).count() == 16

    # lineage metrics are sane
    for row in lineage.read_lineage(spark, out).collect():
        assert row["n_docs"] > 0
        assert row["bytes_in"] > 0
        assert row["status"] == "ok"


def test_job_handles_empty_input_and_full_resume(spark, tmp_path):
    """First run over an EMPTY pages table must not crash on the
    read-back (no part files -> no inferable schema), and a fully
    resumed run returns zero metric rows cleanly."""
    from sift_spark.job import run_extraction_job
    from sift_spark.sources.fixtures import PAGES_SCHEMA

    out = str(tmp_path / "out")
    empty = spark.createDataFrame([], PAGES_SCHEMA)
    metrics = run_extraction_job(spark, empty, out, n_parts=4)
    assert metrics.count() == 0


def test_iceberg_gate_detects_absence(spark):
    """py4j returns a JavaPackage for missing classes without raising;
    the gate must force class loading (no Iceberg jars ship here)."""
    from sift_spark.sources.io import iceberg_available

    assert iceberg_available(spark) is False
