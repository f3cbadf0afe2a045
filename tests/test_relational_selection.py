"""Relational selection tier vs the core kernel on whole-chunk cases,
plus admission-cap error routing."""

import pytest
from pyspark.sql import functions as F

from sift_spark.core.counters import WORDS
from sift_spark.core.pipeline import SiftParams
from sift_spark.core.selection import BEGINNING, END, MIDDLE, ChunkSelector
from sift_spark.operators.selection_op import (
    budget_filter,
    format_selected,
    strategy_rank_col,
)

CHUNKS = [
    "First chunk with five words here",
    "Second chunk has four words only",
    "Third chunk contains three words now",
    "Fourth chunk has two words",
    "Fifth chunk one word",
]


def _chunk_df(spark):
    rows = [
        ("doc://x", i, text, len(text.split()), len(CHUNKS))
        for i, text in enumerate(CHUNKS)
    ]
    return spark.createDataFrame(
        rows, "url string, chunk_idx int, chunk_text string, n_units int, "
              "n_chunks int"
    )


@pytest.mark.parametrize("strategy,max_units", [
    # budgets chosen to land exactly on chunk boundaries: the window tier
    # deliberately omits the partial boundary chunk (exact tier adds it)
    (BEGINNING, 12), (END, 9), (MIDDLE, 17), (BEGINNING, 6), (END, 15),
])
def test_budget_filter_matches_core_whole_chunks(spark, strategy, max_units):
    """When the budget boundary falls between chunks (no partial), the
    window formulation selects exactly the chunks the reference loop
    selects, and format_selected renders the same bytes."""
    selector = ChunkSelector(WORDS, max_units, strategy)
    expected = selector.apply_size_constraints(CHUNKS)

    df = _chunk_df(spark)
    ranked = df.withColumn(
        "sel_rank",
        strategy_rank_col(strategy, F.col("chunk_idx"), F.col("n_chunks")),
    )
    selected = budget_filter(ranked, max_units)
    out = format_selected(selected).collect()
    if expected == "":
        assert out == [] or out[0]["text"] == ""
    else:
        assert out[0]["text"] == expected


def test_format_selected_gap_marker(spark):
    rows = [("doc://g", 0, "alpha one"), ("doc://g", 4, "epsilon five")]
    df = spark.createDataFrame(rows, "url string, chunk_idx int, chunk_text string")
    out = format_selected(df, is_search_mode=True).first()["text"]
    assert out == "alpha one\n\n---\n\nepsilon five"


@pytest.mark.parametrize("operator, text_col", [
    ("extract_pages", "text"),
    ("extract_markdown", "text_md"),
], ids=["extract_pages", "extract_markdown"])
def test_admission_cap_routes_to_error(spark, operator, text_col):
    """Both extraction operators refuse an over-cap page through the
    same admission gate."""
    from sift_spark.operators import extract

    rows = [
        ("u://small", None, b"<p>tiny page body</p>", None, "en"),
        ("u://big", None, b"<p>" + b"x" * 500 + b"</p>", None, "en"),
    ]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, "
              "lang string"
    )
    params = SiftParams(counting_method=WORDS, max_units=0,
                        extra={"max_html_bytes": 100})
    out = {r["url"]: r
           for r in getattr(extract, operator)(pages, params).collect()}
    assert out["u://small"]["error"] is None
    assert "tiny page body" in out["u://small"][text_col]
    assert out["u://big"]["error"] == "content too large: 507 bytes"
    assert out["u://big"][text_col] is None
