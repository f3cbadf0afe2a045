"""Relational chunk table: posexplode + column-math classification.

Produces the `chunks` intermediate table of SURVEY.md §1.2:
  url, chunk_idx, chunk_text, stopword_ratio, n_chunks, n_units,
  field_type, is_list, is_extraneous [, field_terms with a search query]

Spark-first split of work, with no shuffle anywhere:
  * the split cascade is inherently sequential per document, and the
    stopword ratio needs the Porter2 stemmer -> ONE Arrow-batched pandas
    UDF per document returning an array of per-chunk structs (text,
    ratio, token count, unit count, the row's chunk count, and with a
    search query the BM25 (field, term) bag), then a native posexplode
    (the UDTF-equivalent, SURVEY.md §2.11)
  * positional threshold = pure column arithmetic (classify.go:139-166)
    on the chunk count the UDF returned -- no url window
  * field-type detection = native regexp predicates
    (regex_patterns.go:28-36) -- whole-stage codegen, no Python
  * unit counting = core.counters.Counter inside the same UDF, so the
    chunk table counts exactly as the driver-side kernel does (a native
    regex split on Java's whitespace class misses U+00A0, U+2009, U+3000)
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core.chunker import split_text
from ..core.classify import stopword_ratio
from ..core.counters import Counter
from ..core.pipeline import SiftParams
from ..core.selection import chunk_size
from .search import FIELD_TERMS_COL, FIELD_TERMS_TYPE, field_term_pairs


def _chunk_schema(with_field_terms):
    fields = [
        T.StructField("chunk_text", T.StringType()),
        T.StructField("ratio", T.DoubleType()),
        T.StructField("n_tokens", T.IntegerType()),
        T.StructField("n_units", T.IntegerType()),
        T.StructField("n_chunks", T.IntegerType()),
    ]
    if with_field_terms:
        fields.append(T.StructField(FIELD_TERMS_COL, FIELD_TERMS_TYPE))
    return T.ArrayType(T.StructType(fields))


def make_split_classify_udf(params: SiftParams):
    """Fused map-side pass: split cascade (chunk_selection.go:107-143)
    + stopword ratio + unit count (`params.counting_method`) per chunk
    in ONE Python stage. Each chunk's struct also carries its row's
    chunk count, so the positional threshold is pure column math after
    the explode with no url window. With a search query the same pass
    emits each chunk's BM25 (field, term) bag, which
    :func:`search.with_bm25_score` consumes instead of re-parsing the
    chunk in a second Python stage."""
    method = params.counting_method
    with_field_terms = bool(params.search_query.strip())

    @F.pandas_udf(_chunk_schema(with_field_terms))
    def split_classify_batch(text: pd.Series) -> pd.Series:
        counter = Counter(method, params.cl100k_path)
        out = []
        for value in text:
            if value is None:
                out.append([])
                continue
            chunks = split_text(value, chunk_size(value, method))
            n_chunks = len(chunks)
            rows = []
            for chunk in chunks:
                ratio, n_tokens = stopword_ratio(chunk)
                row = {"chunk_text": chunk, "ratio": ratio,
                       "n_tokens": n_tokens,
                       "n_units": counter.count(chunk),
                       "n_chunks": n_chunks}
                if with_field_terms:
                    row[FIELD_TERMS_COL] = field_term_pairs(chunk)
                rows.append(row)
            out.append(rows)
        return pd.Series(out)

    return split_classify_batch


def field_type_cols(col):
    """(field_type, is_list) as native regexp column expressions
    (context_calculator.go:159-230). Pattern precedence matters."""
    trimmed = F.trim(col)
    # tolerate leading TABS: Spark's trim strips spaces only, so the
    # extraction regex must skip residual whitespace exactly like the
    # match condition below -- otherwise '\t# Title' matched the header
    # branch but extracted level 0, emitting the invalid field 'h0'
    header_level = F.length(
        F.regexp_extract(trimmed, r"^\s*(#{1,6})\s+.*", 1)
    )
    field = (
        F.when(trimmed.rlike(r"^\s*#{1,6}\s+"),
               F.concat(F.lit("h"), F.least(header_level, F.lit(6)).cast("string")))
        .when(trimmed.rlike(r"^\s*[-*+]\s+"), F.lit("body"))
        .when(trimmed.rlike(r"^\s*\d+\.\s+"), F.lit("body"))
        .when(col.rlike(r"^```") | col.rlike(r"```$"), F.lit("code"))
        .when(col.rlike(r"`[^`]+`"), F.lit("code"))
        .when(col.rlike(r"\*\*[^*\s][^*]*[^*\s]\*\*|\*\*[^*\s]\*\*"), F.lit("bold"))
        .when(
            col.rlike(
                r"(^|[^*])\*[^*\s][^*]*[^*\s]\*([^*]|$)|(^|[^*])\*[^*\s]\*([^*]|$)"
            ),
            F.lit("italic"),
        )
        .otherwise(F.lit("body"))
    )
    is_list = trimmed.rlike(r"^\s*[-*+]\s+") | (
        trimmed.rlike(r"^\s*\d+\.\s+") & ~trimmed.rlike(r"^\s*#{1,6}\s+")
    )
    # a header line is never a list; guard the precedence explicitly
    is_list = F.when(trimmed.rlike(r"^\s*#{1,6}\s+"), F.lit(False)).otherwise(is_list)
    return field, is_list


def threshold_col(chunk_idx, n_chunks):
    """Position-adjusted threshold as pure column math
    (classify.go:139-166)."""
    rel = chunk_idx.cast("double") / (n_chunks - F.lit(1)).cast("double")
    factor = F.lit(1.0) - F.abs(F.lit(2.0) * rel - F.lit(1.0))
    interpolated = F.lit(0.1) + F.lit(0.23) * factor
    return (
        F.when(n_chunks <= 0, F.lit(0.33))
        .when((chunk_idx < 0) | (chunk_idx >= n_chunks), F.lit(0.33))
        .when(n_chunks <= 3, F.lit(0.5))
        .otherwise(interpolated)
    )


def chunk_pages(md_df, params: SiftParams | None = None):
    """(url, text_md) -> chunks table with classification columns.

    One UDF projection, one posexplode and one projection, all narrow:
    no shuffle. `n_chunks` is the chunk count of the row's own text, so
    two input rows sharing a url are chunked and classified
    independently (each keeps its own chunk_idx 0..n_chunks-1). With
    `params.search_query` set the table gains a `field_terms` column,
    the chunk's BM25 (field, term) bag, for :func:`with_bm25_score`;
    without a query it has no such column."""
    params = params or SiftParams()
    split_udf = make_split_classify_udf(params)

    exploded = md_df.select(
        "url",
        F.posexplode(split_udf(F.col("text_md"))).alias("chunk_idx", "c"),
    )
    text = F.col("c.chunk_text")
    n_chunks = F.col("c.n_chunks")
    field, is_list = field_type_cols(text)
    thr = threshold_col(F.col("chunk_idx"), n_chunks)
    cols = [
        "url", "chunk_idx", text.alias("chunk_text"),
        F.col("c.ratio").alias("stopword_ratio"),
        n_chunks.alias("n_chunks"),
        F.col("c.n_units").alias("n_units"),
        field.alias("field_type"),
        is_list.alias("is_list"),
        F.when(F.col("c.n_tokens") == 0, F.lit(True))
        .otherwise(F.col("c.ratio") > thr).alias("is_extraneous"),
    ]
    if params.search_query.strip():
        cols.append(F.col(f"c.{FIELD_TERMS_COL}").alias(FIELD_TERMS_COL))
    return exploded.select(*cols)


def filter_extraneous(chunks_df):
    """classifier filter application site (sift.go:199-210)."""
    return chunks_df.filter(~F.col("is_extraneous"))
