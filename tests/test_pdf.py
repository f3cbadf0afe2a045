"""PDF layout parsing: round trips, error routing, Spark integration."""

import pytest

from sift_spark.core.pdftext import (
    build_simple_pdf,
    extract_pdf_text,
    is_pdf,
)

PARAS = [
    "The quick brown fox jumps over the lazy dog near the river bank.",
    "A second paragraph continues the document with more details.",
    "Final remarks close the report.",
]


@pytest.mark.parametrize("compress", [False, True])
def test_round_trip(compress):
    pdf = build_simple_pdf(PARAS, compress=compress)
    assert is_pdf(pdf)
    text, error = extract_pdf_text(pdf)
    assert error is None
    assert text.split("\n") == PARAS


def test_escapes_and_parens():
    paras = ["Parens (nested) and \\ backslash.", "Tab\\t end."]
    text, error = extract_pdf_text(build_simple_pdf(paras))
    assert error is None
    assert "Parens (nested) and \\ backslash." in text


@pytest.mark.parametrize("data,expected_error", [
    (b"not a pdf at all", "not a PDF"),
    (b"%PDF-1.4 nothing here", "no decodable text content streams"),
    (b"%PDF-1.4 /Encrypt junk", "encrypted"),
])
def test_error_routing(data, expected_error):
    text, error = extract_pdf_text(data)
    assert text == ""
    assert expected_error in error


@pytest.mark.parametrize("operator, text_col", [
    ("extract_pages", "text"),
    ("extract_markdown", "text_md"),
], ids=["extract_pages", "extract_markdown"])
def test_spark_mixed_content_routing(spark, operator, text_col):
    """One pages table carrying HTML and PDF rows: per-row content-type
    routing inside the same UDF stage, for both extraction operators
    (they share one per-page kernel)."""
    from sift_spark.core.counters import WORDS
    from sift_spark.core.pipeline import SiftParams
    from sift_spark.operators import extract
    from tests.fixtures import SIMPLE_HTML

    rows = [
        ("u://html", None, SIMPLE_HTML.encode(), None, "en"),
        ("u://pdf", None, build_simple_pdf(PARAS, compress=True), None, "en"),
        ("u://pdf-bad", None, b"%PDF-1.4 broken", None, "en"),
    ]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, "
              "lang string"
    )
    out = {r["url"]: r for r in getattr(extract, operator)(
        pages, SiftParams(counting_method=WORDS, max_units=0)
    ).collect()}
    assert "Main Article Title" in out["u://html"][text_col]
    assert "quick brown fox" in out["u://pdf"][text_col]
    assert out["u://pdf"]["error"] is None
    assert out["u://pdf-bad"]["error"] is not None
    assert out["u://pdf-bad"][text_col] is None


def test_word_budget_applies_to_pdf(spark):
    from sift_spark.core.counters import WORDS
    from sift_spark.core.pipeline import SiftParams
    from sift_spark.operators.extract import extract_pages

    pages = spark.createDataFrame(
        [("u://pdf", None, build_simple_pdf(PARAS), None, "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    row = extract_pages(
        pages, SiftParams(counting_method=WORDS, max_units=8)
    ).first()
    assert row["error"] is None
    assert len(row["text"].split()) <= 8
