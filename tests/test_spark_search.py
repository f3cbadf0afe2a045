"""Relational search operators vs the core corpora (exact values)."""

import math

import pytest
from pyspark.sql import functions as F

from sift_spark.core.counters import WORDS
from sift_spark.core.pipeline import SiftParams
from sift_spark.core.ranking import BM25Corpus, TfidfCorpus
from sift_spark.operators.search import (
    bm25_scores,
    document_frequencies,
    explode_terms,
    rank_by_score,
    term_frequencies,
    tfidf_scores,
    top_k_relevant,
)

DOCS = [
    "the quick brown fox jumps over the lazy dog",
    "the brown dog runs quickly",
    "a fox and a dog are animals",
]

MD_CHUNKS = [
    "# Baking Basics\n\nSifting flour gives the finest cake texture.",
    "Mix the **sifted flour** with sugar and spice for the batter.",
    "Bake the cake until golden. The texture should be tender.",
    "Related posts and privacy policy links live in the footer.",
    "a b",  # no tokens >= 3 chars: contributes dl=0 to corpus stats
]


@pytest.fixture(scope="module")
def chunks_df(spark):
    rows = [("doc://a", i, text) for i, text in enumerate(DOCS)]
    return spark.createDataFrame(rows, ["url", "chunk_idx", "chunk_text"]).cache()


@pytest.fixture(scope="module")
def md_chunks_df(spark):
    rows = [("doc://md", i, text) for i, text in enumerate(MD_CHUNKS)]
    return spark.createDataFrame(rows, ["url", "chunk_idx", "chunk_text"]).cache()


def test_term_explosion_and_tf(spark, chunks_df):
    terms = explode_terms(chunks_df)
    # doc0 has 9 tokens of len>=3
    assert terms.filter(F.col("chunk_idx") == 0).count() == 9
    tf = term_frequencies(terms)
    the0 = tf.filter((F.col("chunk_idx") == 0) & (F.col("term") == "the")).first()
    assert the0["tf"] == 2
    assert the0["rel_tf"] == pytest.approx(2 / 9)


def test_document_frequencies(spark, chunks_df):
    df = document_frequencies(explode_terms(chunks_df))
    rows = {r["term"]: r["df"] for r in df.collect()}
    assert rows["dog"] == 3
    assert rows["fox"] == 2
    assert rows["quick"] == 1


def test_tfidf_scores_match_core(spark, chunks_df):
    core = TfidfCorpus(DOCS)
    for query in ("brown fox", "the", "elephant", "dog animals"):
        spark_scores = {
            r["chunk_idx"]: r["score"]
            for r in tfidf_scores(chunks_df, query).collect()
        }
        for i in range(len(DOCS)):
            assert spark_scores[i] == pytest.approx(core.score(query, i)), (
                query, i)


def test_bm25_scores_match_core(spark, md_chunks_df):
    core = BM25Corpus(MD_CHUNKS)
    for query in ("sifting flour", "cake texture", "privacy", "nothing-here"):
        spark_scores = {
            r["chunk_idx"]: r["score"]
            for r in bm25_scores(md_chunks_df, query).collect()
        }
        for i in range(len(MD_CHUNKS)):
            assert spark_scores[i] == pytest.approx(core.score(query, i)), (
                query, i)


def test_rank_and_topk(spark, md_chunks_df):
    scored = bm25_scores(md_chunks_df, "flour texture")
    ranked = rank_by_score(scored)
    rows = sorted(ranked.collect(), key=lambda r: r["sel_rank"])
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    top = top_k_relevant(ranked)
    # 3 chunks pass 0.01 -> top 50% = 1
    assert 1 <= top.count() <= 2


def test_search_pipeline_end_to_end_parity(spark):
    """Full search path through Spark (chunk -> score -> exact select)
    equals the core search kernel byte-for-byte."""
    from sift_spark.core.pipeline import apply_content_transformations
    from sift_spark.operators.chunking import chunk_pages
    from sift_spark.operators.selection_op import select_exact

    text = "\n\n".join(
        f"Paragraph {i} talks about {'flour sifting' if i % 3 == 0 else 'other baking topics'} "
        f"and general kitchen workflow number {i}."
        for i in range(12)
    )
    params = SiftParams(counting_method=WORDS, max_units=40,
                        search_query="flour sifting")

    md = spark.createDataFrame([("doc://s", text)], ["url", "text_md"])
    chunks = chunk_pages(md, params)
    scored = chunks.join(
        bm25_scores(chunks, params.search_query), ["url", "chunk_idx"]
    )
    got = select_exact(scored, params, scored=True).first()["text"]

    expected = apply_content_transformations(text, params)
    assert got == expected


def test_fused_field_terms_match_udf_fallback(spark):
    """A search-mode chunk table carries the (field, term) bag from the
    chunking pass; BM25 over it equals, bit for bit, BM25 over the same
    chunks with the bag dropped (the field_terms_udf fallback). Without
    a query the chunk table has no bag."""
    from sift_spark.operators.chunking import chunk_pages
    from sift_spark.operators.search import FIELD_TERMS_COL, with_bm25_score

    text = "\n\n".join(MD_CHUNKS * 4)
    md = spark.createDataFrame(
        [("doc://a", text), ("doc://b", "\n\n".join(DOCS * 5))],
        ["url", "text_md"],
    )
    query = "flour texture dog"
    params = SiftParams(counting_method=WORDS, max_units=30,
                        search_query=query)
    chunks = chunk_pages(md, params).cache()
    assert FIELD_TERMS_COL in chunks.columns
    assert FIELD_TERMS_COL not in chunk_pages(
        md, SiftParams(counting_method=WORDS)).columns

    def scores(df):
        out = with_bm25_score(df, query)
        assert FIELD_TERMS_COL not in out.columns
        return {(r["url"], r["chunk_idx"]): r["score"]
                for r in out.collect()}

    fused = scores(chunks)
    fallback = scores(chunks.drop(FIELD_TERMS_COL))
    assert fused == fallback
    assert any(v > 0 for v in fused.values())
    chunks.unpersist()
