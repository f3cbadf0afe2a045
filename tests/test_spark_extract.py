"""Spark-layer extraction: fixture parity through the distributed path,
plus relational-vs-UDF equivalence and partitioning independence."""

import pytest
from pyspark.sql import functions as F

from sift_spark.core.counters import CHARS, TOKENS, WORDS, Counter
from sift_spark.core.pipeline import SiftParams
from sift_spark.operators.chunking import chunk_pages, filter_extraneous
from sift_spark.operators.extract import extract_markdown, extract_pages
from sift_spark.operators.selection_op import select_exact
from sift_spark.sources.fixtures import build_pages_df, pages_from_documents

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def fixture_pages(spark):
    return build_pages_df(spark, n_big=8).cache()


def _by_url(rows):
    return {r["url"]: r for r in rows}


def test_extract_pages_fixture_parity(spark, fixture_pages):
    params = SiftParams(counting_method=WORDS, max_units=0)
    out = _by_url(extract_pages(fixture_pages, params).collect())

    simple = out["fixture://simple"]["text"]
    assert simple is not None
    for expected in ("Main Article Title", "main content", "bold text",
                     "italic text", "First list item"):
        assert expected in simple
    for unexpected in ("Site Header", "Navigation", "sidebar content",
                       "Footer content"):
        assert unexpected not in simple

    blog = out["fixture://blog"]["text"]
    for expected in ("How to Bake", "carrot cake", "sifting flour",
                     "Ingredients", "Instructions"):
        assert expected in blog
    for unexpecteded in ("My Blog", "Related Posts"):
        assert unexpected not in blog

    assert out["fixture://empty"]["error"] == "no content extracted"
    assert out["fixture://whitespace"]["error"] == "no content extracted"

    # big pages extract cleanly and drop chrome
    for k in range(8):
        row = out[f"synthetic://big-{k}"]
        assert row["error"] is None
        assert "Test Kitchen Blog" not in row["text"]
        assert "Related Posts" not in row["text"]
        assert row["n_units"] > 0


def test_extract_matches_core_bytes(spark, fixture_pages):
    """Spark output must be byte-identical to the core kernel run
    locally (the golden-parity contract)."""
    from sift_spark.core.pipeline import run_sift

    params = SiftParams(counting_method=WORDS, max_units=50)
    spark_out = _by_url(extract_pages(fixture_pages, params).collect())
    for row in fixture_pages.collect():
        html = bytes(row["html"]).decode("utf-8")
        expected, error = run_sift(html, params)
        got = spark_out[row["url"]]
        if error is not None:
            assert got["error"] is not None
        else:
            assert got["text"] == expected, row["url"]


def test_partitioning_independence(spark, fixture_pages):
    """Identical output bytes regardless of partition layout (the
    determinism half of the scaling requirement)."""
    params = SiftParams(counting_method=WORDS, max_units=100)
    one = sorted(
        extract_pages(fixture_pages.repartition(1), params).collect(),
        key=lambda r: r["url"],
    )
    many = sorted(
        extract_pages(fixture_pages.repartition(16), params).collect(),
        key=lambda r: r["url"],
    )
    assert [(r["url"], r["text"], r["error"]) for r in one] == [
        (r["url"], r["text"], r["error"]) for r in many
    ]


def test_chunk_table_and_exact_select_parity(spark, fixture_pages):
    """Relational chunk table + grouped-map selection == the core
    chunked-path kernel (apply_content_transformations), byte for byte.

    (The no-search single-UDF pipeline instead applies the simple size
    limit, sift.go:94-98 -- a different, also-tested code path.)"""
    from sift_spark.core.pipeline import apply_content_transformations

    params = SiftParams(counting_method=WORDS, max_units=60)

    markdown = extract_markdown(fixture_pages, params).filter(
        F.col("error").isNull() & (F.trim(F.col("text_md")) != "")
    ).cache()
    chunks = chunk_pages(markdown, params)
    relational = {
        r["url"]: r["text"]
        for r in select_exact(chunks, params).collect()
    }

    expected = {
        r["url"]: apply_content_transformations(r["text_md"], params)
        for r in markdown.collect()
    }
    assert set(relational) == set(expected)
    for url, text in relational.items():
        assert text == expected[url], url


def test_chunk_table_schema_and_classification(spark, fixture_pages):
    params = SiftParams(counting_method=WORDS)
    markdown = extract_markdown(fixture_pages, params).filter(
        F.col("error").isNull() & (F.trim(F.col("text_md")) != "")
    )
    chunks = chunk_pages(markdown, params).cache()
    assert set(chunks.columns) >= {
        "url", "chunk_idx", "chunk_text", "n_chunks", "n_units",
        "field_type", "is_list", "is_extraneous", "stopword_ratio",
    }
    # n_units is the Python word count
    for row in chunks.limit(50).collect():
        assert row["n_units"] == len(row["chunk_text"].split())
    # classifier columns agree with the core kernel
    from sift_spark.core.classify import is_extraneous as core_extraneous

    for row in chunks.collect():
        expected = core_extraneous(
            row["chunk_text"], row["chunk_idx"], row["n_chunks"]
        )
        assert row["is_extraneous"] == expected, row["chunk_text"][:50]
    kept = filter_extraneous(chunks)
    assert kept.count() <= chunks.count()


@pytest.mark.parametrize("method", [WORDS, CHARS, TOKENS])
def test_chunk_table_units_match_core_counter(spark, method):
    """n_units is the core counter's count of each chunk, also across
    the unicode spaces (U+00A0, U+2009, U+3000) that strings.Fields and
    str.split() split on and Java's regex \\s does not."""
    params = SiftParams(counting_method=method)
    md = spark.createDataFrame(
        [("doc://nbsp", "ten\xa0thousand euros"),
         ("doc://thin", "a\u2009b\u3000c d")], ["url", "text_md"]
    )
    rows = chunk_pages(md, params).collect()
    assert {r["url"] for r in rows} == {"doc://nbsp", "doc://thin"}
    counter = Counter(method, params.cl100k_path)
    for r in rows:
        assert r["n_units"] == counter.count(r["chunk_text"]), r["url"]


def test_chunk_table_duplicate_url_counts_own_chunks(spark):
    """Two rows sharing a url are chunked independently: n_chunks (and
    so the positional threshold) is the row's own chunk count, never the
    total across every row of the url."""
    from sift_spark.core.classify import is_extraneous as core_extraneous

    short = "one two three four five six seven eight nine ten. " * 3
    long = "\n\n".join(f"paragraph {i} " + "word " * 30 for i in range(8))
    params = SiftParams(counting_method=WORDS, max_units=20)
    md = spark.createDataFrame(
        [("doc://dup", short), ("doc://dup", long)], ["url", "text_md"]
    )
    rows = chunk_pages(md, params).collect()
    by_count = {}
    for r in rows:
        by_count.setdefault(r["n_chunks"], []).append(r)
    assert len(by_count) == 2 and len(rows) == sum(by_count)
    for n, group in by_count.items():
        assert sorted(r["chunk_idx"] for r in group) == list(range(n))
        for r in group:
            assert r["is_extraneous"] == core_extraneous(
                r["chunk_text"], r["chunk_idx"], n)


def test_pages_from_documents(spark):
    pages = pages_from_documents(spark, SF_DIR)
    assert pages.columns == ["url", "warc_ts", "html", "text", "lang"]
    assert pages.count() == 500
    out = extract_pages(pages, SiftParams(counting_method=WORDS, max_units=0))
    ok = out.filter(F.col("error").isNull())
    assert ok.count() == 500
    sample = ok.limit(3).collect()
    for row in sample:
        assert "Document" in row["text"]
        assert "Copyright 2025" not in row["text"]


def test_selectors4_through_spark_extraction(spark):
    """The Selectors-4 long tail (:has, :root, [attr i]) works through
    the full Arrow-UDF extraction path, not just the core matcher."""
    from sift_spark.core.pipeline import SiftParams
    from sift_spark.operators.extract import extract_pages

    html = (
        '<html><body>'
        '<div class="card"><h3>With link</h3><a href="HTTPS://X.CO">go</a>'
        '</div>'
        '<div class="card"><h3>No link</h3><p>plain</p></div>'
        '</body></html>'
    )
    pages = spark.createDataFrame(
        [("s4://1", bytearray(html.encode()))], "url string, html binary"
    )
    by_sel = {}
    for sel in ("div.card:has(a)", 'div.card:has([href^="https" i])',
                ":root"):
        params = SiftParams(selector=sel)
        row = extract_pages(pages, params).collect()[0]
        assert row["error"] is None, (sel, row["error"])
        by_sel[sel] = row["text"]
    assert "With link" in by_sel["div.card:has(a)"]
    assert "No link" not in by_sel["div.card:has(a)"]
    assert by_sel['div.card:has([href^="https" i])'] == \
        by_sel["div.card:has(a)"]
    assert "With link" in by_sel[":root"] and "No link" in by_sel[":root"]
