"""Vectorized extraction operators (the north-rule UDF family).

Design (SURVEY.md §4.2): extraction is embarrassingly parallel per
document, so the whole per-document chain (HTML -> DOM -> readability ->
markdown -> chunk -> classify -> rank -> select) runs inside ONE
Arrow-batched pandas UDF -- a narrow transformation with ZERO shuffles.
At 10^12 documents the plan is:  scan -> (repartition by url-hash range,
plans/partitioning.py) -> mapPartitions-equivalent UDF -> write.  Catalyst
prunes the fat `html BINARY` column everywhere except this stage because
downstream operators select only the output columns.

Failure tolerance: per-row errors (selector misses, oversized input) are
routed to an `error` column instead of failing the task, promoting the
reference's warn-and-continue loop (sift.go:107-130) to data parallelism.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core.chunker import split_text
from ..core.counters import Counter
from ..core.encoding import decode_html
from ..core.pdftext import extract_pdf_text, is_pdf
from ..core.pipeline import SiftParams, extract_document, transform_text
from ..core.selection import chunk_size

# admission caps (fetch.go:20-21): files 50 MB, HTTP 100 MB
MAX_HTML_BYTES = 100 * 1024 * 1024

EXTRACT_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("text", T.StringType()),
        T.StructField("error", T.StringType()),
        T.StructField("n_chunks", T.IntegerType()),
        T.StructField("n_units", T.IntegerType()),
    ]
)

def _admit(raw, params):
    """The admission gate of every per-page kernel -> (html, pdf, error),
    exactly one of them set. Null and over-cap pages are refused (cap:
    `params.extra["max_html_bytes"]`, default MAX_HTML_BYTES), PDF bytes
    go to the layout parse (core/pdftext.py), other bytes are charset-
    sniffed (core/encoding.py: crawl pages are not all UTF-8) and any
    other value is taken as HTML text."""
    if raw is None:
        return None, None, "no content"
    cap = params.extra.get("max_html_bytes", MAX_HTML_BYTES)
    if len(raw) > cap:
        return None, None, f"content too large: {len(raw)} bytes"
    if not isinstance(raw, (bytes, bytearray)):
        return str(raw), None, None
    raw = bytes(raw)
    if is_pdf(raw):
        return None, raw, None
    return decode_html(raw), None, None


def _failure(exc):
    """Error-column text for a page whose kernel raised: one bad page must
    not kill a 100 TB job's task (fuzz-tested, but real crawls find what
    fuzzers don't)."""
    return f"extraction failed: {type(exc).__name__}: {exc}"


def _markdown_one(raw, params):
    """Per-page kernel of both extraction UDFs -> (markdown, error), with
    markdown None exactly when error is set: the admission gate, then
    the PDF layout parse or the DOM pipeline."""
    try:
        html, pdf, error = _admit(raw, params)
        if error is None:
            markdown, error = (extract_pdf_text(pdf) if pdf is not None
                               else extract_document(html, params))
    except Exception as exc:  # noqa: BLE001 -- route, never raise
        return None, _failure(exc)
    return (markdown, None) if error is None else (None, error)


def _run_one(raw, params, counter):
    """Per-page kernel of extract_pages -> (text, error, n_chunks,
    n_units): _markdown_one, then transform_text and the counts."""
    markdown, error = _markdown_one(raw, params)
    if error is not None:
        return None, error, 0, 0
    if markdown.strip() == "":
        return None, "no content extracted", 0, 0
    try:
        result = transform_text(markdown, params)
        # n_chunks is a lineage metric: raw split count (no classifier
        # pass -- stemming every token again would double per-doc cost)
        n_chunks = (
            len(split_text(result, chunk_size(result, params.counting_method)))
            if result else 0
        )
        return result, None, n_chunks, counter.count(result)
    except Exception as exc:  # noqa: BLE001 -- route, never raise
        return None, _failure(exc), 0, 0


def make_extract_udf(params: SiftParams):
    """pandas UDF: html BINARY -> struct(text, error, n_chunks, n_units).

    Arrow-batched (no per-row Python dispatch); the closure captures the
    job params so the plan stays a single narrow projection.
    """

    @F.pandas_udf(EXTRACT_RESULT_SCHEMA)
    def extract_batch(html: pd.Series) -> pd.DataFrame:
        counter = Counter(params.counting_method, params.cl100k_path)
        texts, errors, n_chunks_list, n_units_list = [], [], [], []
        for raw in html:
            text, error, n_chunks, n_units = _run_one(raw, params, counter)
            texts.append(text)
            errors.append(error)
            n_chunks_list.append(n_chunks)
            n_units_list.append(n_units)
        return pd.DataFrame(
            {
                "text": texts,
                "error": errors,
                "n_chunks": n_chunks_list,
                "n_units": n_units_list,
            }
        )

    # nondeterministic marker (the function IS pure): stops the optimizer
    # from pushing a downstream filter on the result struct -- and the
    # whole ArrowEvalPython node with it -- below the load-spreading
    # repartition exchange into the few-task file-scan stage. Measured at
    # sf1.0/local[32]: filter(error IS NULL).count() ran the extraction
    # on the 2 scan tasks (21 s); with the marker it stays on the 32
    # post-exchange tasks (1.8 s), byte-identical output.
    return extract_batch.asNondeterministic()


def make_markdown_udf(params: SiftParams):
    """pandas UDF: html BINARY -> struct(text, error) -- extraction only,
    no unit budget (the `text_md` intermediate of SURVEY.md §1.1): the
    per-page kernel of make_extract_udf, stopped before the transforms."""
    schema = T.StructType(
        [T.StructField("text", T.StringType()), T.StructField("error", T.StringType())]
    )

    @F.pandas_udf(schema)
    def markdown_batch(html: pd.Series) -> pd.DataFrame:
        texts, errors = [], []
        for raw in html:
            text, error = _markdown_one(raw, params)
            texts.append(text)
            errors.append(error)
        return pd.DataFrame({"text": texts, "error": errors})

    # same pushdown guard as make_extract_udf (the function is pure)
    return markdown_batch.asNondeterministic()


def extract_pages(pages_df, params: SiftParams | None = None):
    """pages(url, warc_ts, html, text, lang) -> extracted(url, text,
    n_chunks, n_units, error, part_id).

    One narrow stage; part_id records physical lineage for the checkpoint
    layer (plans/lineage.py)."""
    params = params or SiftParams()
    udf = make_extract_udf(params)
    result = pages_df.select(
        "url",
        udf(F.col("html")).alias("r"),
        F.spark_partition_id().alias("part_id"),
    )
    return result.select(
        "url",
        F.col("r.text").alias("text"),
        F.col("r.n_chunks").alias("n_chunks"),
        F.col("r.n_units").alias("n_units"),
        F.col("r.error").alias("error"),
        "part_id",
    )


def extract_markdown(pages_df, params: SiftParams | None = None):
    """pages -> (url, text_md, error): the extraction stage alone.

    Runs extract_pages' per-page kernel up to the Markdown, so a page is
    admitted, routed and refused exactly as there: PDFs go through the
    layout parse, and null or over-cap pages (`params.extra
    ["max_html_bytes"]`, default MAX_HTML_BYTES) get a null text_md and
    an error. Empty Markdown is "" with a null error (extract_pages
    reports it as "no content extracted")."""
    params = params or SiftParams()
    udf = make_markdown_udf(params)
    return pages_df.select(
        "url", udf(F.col("html")).alias("r")
    ).select(
        "url",
        F.col("r.text").alias("text_md"),
        F.col("r.error").alias("error"),
    )


NODE_TABLE_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("node_id", T.IntegerType()),
        T.StructField("parent_id", T.IntegerType()),
        T.StructField("depth", T.IntegerType()),
        T.StructField("tag", T.StringType()),
        T.StructField("text_len", T.IntegerType()),
        T.StructField("link_len", T.IntegerType()),
        T.StructField("link_density", T.DoubleType()),
        T.StructField("class_weight", T.DoubleType()),
        T.StructField("score", T.DoubleType()),
        T.StructField("in_article", T.BooleanType()),
    ]
)


def html_node_table(pages_df):
    """The north rule's DOM NODE TABLE as a first-class DataFrame: one
    row per element node with the readability features (subtree text /
    link lengths via the same O(n) bottom-up tables the extractor
    uses, link density, class/id weight, the final link-density-scaled
    candidate score where one was computed) and an `in_article` label
    marking the nodes the readability extractor actually selected.

    The extraction UDF keeps this table INTERNAL on the hot path (the
    plan stays one narrow black-box stage; SURVEY §4.2) -- this
    operator EXPORTS it for the jobs that want node rows rather than
    extracted text: feature extraction for a learned boilerplate
    classifier (features + the readability decision as a weak label),
    extraction debugging, and DOM-shape corpus analytics. Same
    Arrow-batched mapInPandas shape as the extractor; node ids are
    pre-order ordinals, stable per document.

    Pages the extraction kernel's admission gate refuses (null, over
    MAX_HTML_BYTES), PDFs and unparseable pages yield zero rows here
    (this is a feature surface, not the accounting path -- the
    extraction job's error column remains the audit trail)."""
    from ..core.htmlparser import parse as parse_html
    from ..core.readability import (
        _class_weight,
        _density_tables,
        _link_density,
        extract_article,
    )

    params = SiftParams()

    def node_rows(iterator):
        for pdf in iterator:
            out = {name: [] for name in NODE_TABLE_SCHEMA.names}
            for url, raw in zip(pdf["url"], pdf["html"]):
                try:
                    # a PDF has no DOM: parsing its byte soup as HTML
                    # would emit nonsense feature rows, not zero rows
                    html, _, _ = _admit(raw, params)
                    if html is None:
                        continue
                    root = parse_html(html)
                except Exception:
                    continue
                ordinals = {}
                nodes = []
                for node in root.iter_elements():
                    if node.parent is None:
                        continue  # the parser's synthetic root
                    ordinals[id(node)] = len(ordinals)
                    nodes.append(node)
                if not nodes:
                    continue
                density_tables = _density_tables(root)
                text_tbl, link_tbl = density_tables

                # capture features BEFORE extraction (it mutates the
                # tree); node identity survives the re-parenting, so
                # the article labels map back onto these ordinals.
                # iter_elements is pre-order, so a parent's depth is
                # always computed before its children need it (the
                # synthetic root's children sit at depth 0).
                depths = {}
                feats = []
                for node in nodes:
                    parent = node.parent
                    depth = (0 if parent.parent is None
                             else depths[id(parent)] + 1)
                    depths[id(node)] = depth
                    feats.append(
                        (
                            ordinals[id(node)],
                            ordinals.get(id(parent)),
                            depth,
                            node.tag,
                            int(text_tbl.get(id(node), 0)),
                            int(link_tbl.get(id(node), 0)),
                            float(_link_density(node, density_tables)),
                            float(_class_weight(node)),
                        )
                    )
                scores = {}
                article = extract_article(root, scores_out=scores)
                in_article = set()
                if article is not None:
                    for node in article.iter_elements():
                        ordinal = ordinals.get(id(node))
                        if ordinal is not None:  # skip the container
                            in_article.add(ordinal)
                score_by_ordinal = {
                    ordinals[key]: value
                    for key, value in scores.items()
                    if key in ordinals
                }
                for (nid, pid, depth, tag, tlen, llen, ldens,
                     cweight) in feats:
                    out["url"].append(url)
                    out["node_id"].append(nid)
                    out["parent_id"].append(pid)
                    out["depth"].append(depth)
                    out["tag"].append(tag)
                    out["text_len"].append(tlen)
                    out["link_len"].append(llen)
                    out["link_density"].append(ldens)
                    out["class_weight"].append(cweight)
                    out["score"].append(score_by_ordinal.get(nid))
                    out["in_article"].append(nid in in_article)
            yield pd.DataFrame(out)

    return pages_df.select("url", "html").mapInPandas(
        node_rows, NODE_TABLE_SCHEMA
    )
