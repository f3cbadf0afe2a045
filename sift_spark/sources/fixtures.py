"""Deterministic synthetic `pages` corpus (FIXTURES.md).

Schema fixed by BASELINE.json input_hint:
  url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING

Fixture rows carry the reference's inline test HTML verbatim
(extract_test.go:11-96, 260-301, 391-406); `big-<k>` rows are templated
blog-like pages generated by a pure function of (seed=42, k) -- no wall
clock, no global random state -- used for throughput/scaling runs.
"""

from __future__ import annotations

import datetime
import random

import pandas as pd
from pyspark.sql import types as T

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

_EPOCH = datetime.datetime(2025, 8, 24, 0, 0, 0)

_SEED = 42
_VOCAB = (
    "flour sugar carrot cake oven sift whisk batter frosting vanilla "
    "cinnamon walnut raisin butter cream layer recipe bake mixture bowl "
    "texture crumb moist tender golden spice zest glaze icing sprinkle "
    "measure fold stir blend preheat cool slice serve garnish delight"
).split()
_NAV_WORDS = "Home About Contact Archive Subscribe Categories Tags Search".split()


def fixture_rows():
    """The reference-derived fixture corpus as (url, ts, html, text, lang)."""
    from .reference_fixtures import BLOG_POST_HTML, MALFORMED_HTML, SIMPLE_HTML

    docs = [
        ("fixture://simple", SIMPLE_HTML),
        ("fixture://blog", BLOG_POST_HTML),
        ("fixture://malformed", MALFORMED_HTML),
        ("fixture://headers",
         "<html><body><h1>Header 1</h1><h2>Header 2</h2><h3>Header 3</h3></body></html>"),
        ("fixture://lists",
         "<html><body><ul><li>Item 1</li><li>Item 2</li></ul>"
         "<ol><li>First</li><li>Second</li></ol></body></html>"),
        ("fixture://emphasis",
         "<html><body><p>This is <strong>bold</strong> and <em>italic</em> text.</p></body></html>"),
        ("fixture://blockquote",
         "<html><body><blockquote><p>This is a quote about sifting confectioner "
         "sugar for icing.</p></blockquote></body></html>"),
        ("fixture://br-single",
         "<html><body><p>Line one<br>Line two<br>Line three</p></body></html>"),
        ("fixture://br-selfclose",
         "<html><body><p>First line<br/>Second line</p></body></html>"),
        ("fixture://br-double",
         "<html><body><p>Line one<br><br>Line two</p></body></html>"),
        ("fixture://nested-sel",
         '<html><body><div class="outer"><div class="inner">Content</div></div></body></html>'),
        ("fixture://multi-p",
         "<html><body><p>Para 1</p><p>Para 2</p><p>Para 3</p></body></html>"),
        ("fixture://empty", ""),
        ("fixture://whitespace", "   \n\t   "),
    ]
    return [
        (url, _EPOCH + datetime.timedelta(seconds=i),
         html.encode("utf-8"), None, "en")
        for i, (url, html) in enumerate(docs)
    ]


def big_page_html(k, n_sections=None, scale=1):
    """Pure function of (SEED, k): a realistic blog-like page with chrome
    (header/nav/aside/footer) around substantive article sections.
    scale multiplies the section count (heavier pages for throughput
    runs)."""
    rng = random.Random(_SEED * 1_000_003 + k)
    n_sections = n_sections or rng.randint(4, 10) * scale

    def sentence(min_words=8, max_words=18):
        n = rng.randint(min_words, max_words)
        words = [rng.choice(_VOCAB) for _ in range(n)]
        return " ".join(words).capitalize() + "."

    def paragraph(n_sentences=None):
        n = n_sentences or rng.randint(2, 5)
        return " ".join(sentence() for _ in range(n))

    sections = []
    for section_idx in range(n_sections):
        sections.append(f"<h2>Section {section_idx} {rng.choice(_VOCAB)}</h2>")
        for _ in range(rng.randint(1, 3)):
            body = paragraph()
            if rng.random() < 0.3:
                body = body.replace(" sift ", " <strong>sift</strong> ", 1)
            sections.append(f"<p>{body}</p>")
        if rng.random() < 0.4:
            items = "".join(
                f"<li>{sentence(3, 7)}</li>" for _ in range(rng.randint(2, 5))
            )
            sections.append(f"<ul>{items}</ul>")
    article = "\n".join(sections)

    nav = " ".join(f'<a href="/{w.lower()}">{w}</a>' for w in _NAV_WORDS)
    related = "".join(
        f'<li><a href="#">{sentence(2, 4)}</a></li>' for _ in range(4)
    )
    return f"""<!DOCTYPE html>
<html>
<head><title>Post {k}</title></head>
<body>
  <header class="site-header"><h1>Test Kitchen Blog</h1><nav>{nav}</nav></header>
  <div class="content">
    <article class="blog-post">
      <h1>Post {k}: {sentence(4, 8)}</h1>
      <div class="post-content">
        {article}
      </div>
    </article>
  </div>
  <aside class="sidebar"><h3>Related Posts</h3><ul>{related}</ul></aside>
  <footer class="site-footer"><p>Copyright 2025. All rights reserved. Privacy policy terms of use.</p></footer>
</body>
</html>"""


def big_rows(n_pages):
    rows = []
    for k in range(n_pages):
        html = big_page_html(k)
        rows.append(
            (f"synthetic://big-{k}",
             _EPOCH + datetime.timedelta(seconds=1000 + k),
             html.encode("utf-8"), None, "en")
        )
    return rows


def build_big_pages_df(spark, n_pages, n_partitions=None, section_scale=1):
    """Distributed deterministic corpus: page k is a pure function of
    (seed, k), generated INSIDE an Arrow-batched UDF so the driver never
    materializes the corpus (the only way to synthesize 100 TB of input).
    section_scale multiplies section counts for heavier pages."""
    from pyspark.sql import functions as F

    @F.pandas_udf(T.BinaryType())
    def gen_html(k: pd.Series) -> pd.Series:
        return k.map(
            lambda i: big_page_html(int(i), scale=section_scale).encode("utf-8")
        )

    base = spark.range(n_pages).withColumnRenamed("id", "k")
    if n_partitions:
        base = base.repartition(n_partitions)
    return base.select(
        F.concat(F.lit("synthetic://big-"), F.col("k").cast("string")).alias(
            "url"
        ),
        (F.lit(_EPOCH) + F.make_interval(secs=F.col("k"))).alias("warc_ts"),
        gen_html(F.col("k")).alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit("en").alias("lang"),
    )


def build_pages_df(spark, n_big=0, include_fixtures=True):
    rows = fixture_rows() if include_fixtures else []
    rows += big_rows(n_big)
    return spark.createDataFrame(rows, PAGES_SCHEMA)


def pages_from_documents(spark, sf_dir):
    """Wrap the driver testdata `documents` table into a deterministic
    `pages` table: each document's text becomes paragraphs inside the
    standard blog chrome. Pure column transforms (no UDF): HTML assembly
    is a concat expression, so the scan stays JVM-side."""
    from pyspark.sql import functions as F

    # the sf* documents parquet is a single small file -> ONE scan
    # partition. Spread BEFORE the html-assembly projection, or the
    # concat/regexp runs serially on that one partition (measured:
    # 3 s serial vs 0.3 s distributed at sf0.1/local[32]).
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(
        spark.sparkContext.defaultParallelism, "doc_id")
    html = F.concat(
        F.lit("<html><head><title>Doc "), F.col("doc_id").cast("string"),
        F.lit("</title></head><body>"
              '<header class="site-header"><h1>Corpus</h1>'
              '<nav><a href="/">Home</a> <a href="/about">About</a></nav></header>'
              '<div class="content"><article class="post"><h1>Document '),
        F.col("doc_id").cast("string"),
        F.lit('</h1><div class="post-content"><p>'),
        # HTML-escape the interpolated text FIRST (& before < and >):
        # markup-like document text must not open real elements inside
        # the synthesized page
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace(F.col("text"), r"&", "&amp;"),
                    r"<", "&lt;"),
                r">", "&gt;"),
            r"\. ", ".</p><p>"),
        F.lit("</p></div></article></div>"
              '<footer class="site-footer"><p>Copyright 2025. '
              "All rights reserved.</p></footer></body></html>"),
    )
    pages = docs.select(
        F.concat(F.lit("doc://"), F.col("source"), F.lit("/"),
                 F.col("doc_id").cast("string")).alias("url"),
        (F.lit(_EPOCH) + F.make_interval(secs=F.col("doc_id"))).alias("warc_ts"),
        F.encode(html, "utf-8").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.col("lang"),
    )
    return pages
