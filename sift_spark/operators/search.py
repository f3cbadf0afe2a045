"""Relational search/ranking operators: tokenize-explode, TF/DF/avgdl
aggregations, broadcast stats join, TF-IDF and field-weighted BM25
scoring, rank windows.

The reference builds an in-memory corpus per document
(sift.go:255-301, tfidf.go:49-88); here the corpus statistics are REAL
aggregations over the chunk table (SURVEY.md §2.5) -- partial+final agg is
Catalyst's business -- and the per-term score is column math after a join.
Everything is partitioned by url (one corpus per document), so stats never
cross documents and the plan needs exactly one shuffle per aggregation
tree (none if the chunk table is already hash-partitioned by url).

Tokenization is NATIVE (split + filter on length >= 3, tfidf.go:151-172):
no Python in the hot path. BM25 field parsing needs the markdown-field
tokenizer: the search-mode chunk table already carries each chunk's
(field, term) bag from the chunking UDF's single pass; other chunk tables
pay one pandas UDF producing the same pairs.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core.ranking import FIELD_WEIGHTS, K1, B, parse_markdown_fields, tfidf_tokenize
from ..core.selection import MAX_RELEVANT_CHUNKS, MIN_SCORE_THRESHOLD


def tokenize_col(col):
    """Native tfidf tokenizer: lowercase, split on [^a-z0-9_-]+, keep
    len >= 3. Stays in whole-stage codegen."""
    tokens = F.split(F.lower(col), r"[^a-z0-9_-]+")
    return F.filter(tokens, lambda t: (F.length(t) >= 3))


def explode_terms(chunks_df):
    """chunk table -> long-format (url, chunk_idx, term) with duplicates
    (one row per occurrence)."""
    return chunks_df.select(
        "url", "chunk_idx",
        F.explode(tokenize_col(F.col("chunk_text"))).alias("term"),
    )


def term_frequencies(terms_df):
    """(url, chunk_idx, term, tf, rel_tf): tf count + relative frequency
    (tfidf.go:184-202)."""
    counts = terms_df.groupBy("url", "chunk_idx", "term").agg(
        F.count("*").alias("tf")
    )
    totals = Window.partitionBy("url", "chunk_idx")
    return counts.withColumn(
        "rel_tf", F.col("tf").cast("double") / F.sum("tf").over(totals)
    )


def document_frequencies(terms_df):
    """(url, term, df): per-url corpus document frequency
    (tfidf.go:70-84). Exact count_distinct: scoring correctness requires
    it; the corpus is per-url so cardinality is tiny per group."""
    return terms_df.groupBy("url", "term").agg(
        F.count_distinct("chunk_idx").alias("df")
    )


def corpus_sizes(chunks_df):
    """(url, n_docs): chunks per url."""
    return chunks_df.groupBy("url").agg(F.count("*").alias("n_docs"))


def tfidf_scores(chunks_df, query):
    """Score every chunk against `query` with exact tfidf.go semantics:
    score = sum over query terms of rel_tf * ln(N/df).

    Plan: terms explode -> [tf agg] join [df agg] join [broadcast corpus
    sizes] -> filter to query terms -> sum. The query-term filter is
    pushed BEFORE the joins so only matching terms shuffle."""
    query_terms = list(dict.fromkeys(tfidf_tokenize(query)))  # unique, ordered
    if not query_terms:
        return chunks_df.select(
            "url", "chunk_idx", F.lit(0.0).alias("score")
        )
    terms = explode_terms(chunks_df)
    tf = term_frequencies(terms).filter(F.col("term").isin(query_terms))
    df = document_frequencies(terms).filter(F.col("term").isin(query_terms))
    sizes = corpus_sizes(chunks_df)

    # query terms may repeat in the query: tfidf.go sums per occurrence
    occurrences = {}
    for term in tfidf_tokenize(query):
        occurrences[term] = occurrences.get(term, 0) + 1
    weights = F.create_map(
        *[F.lit(x) for pair in occurrences.items() for x in pair]
    )

    scored = (
        tf.join(df, ["url", "term"])
        .join(F.broadcast(sizes), "url")
        .withColumn(
            "term_score",
            F.col("rel_tf")
            * F.log(F.col("n_docs").cast("double") / F.col("df"))
            * weights[F.col("term")],
        )
        .groupBy("url", "chunk_idx")
        .agg(F.sum("term_score").alias("score"))
    )
    # left join back: chunks with no query term score 0
    return (
        chunks_df.select("url", "chunk_idx")
        .join(scored, ["url", "chunk_idx"], "left")
        .fillna({"score": 0.0})
    )


FIELD_TERMS_COL = "field_terms"

FIELD_TERMS_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("field", T.StringType()),
            T.StructField("term", T.StringType()),
        ]
    )
)


def field_term_pairs(text):
    """markdown chunk -> [(field, term) per occurrence] (bm25md parser)."""
    pairs = []
    if text:
        for fld, tokens in parse_markdown_fields(text).items():
            pairs.extend({"field": fld, "term": tok} for tok in tokens)
    return pairs


@F.pandas_udf(FIELD_TERMS_TYPE)
def field_terms_udf(text: pd.Series) -> pd.Series:
    return pd.Series([field_term_pairs(value) for value in text])


def with_bm25_score(chunks_df, query):
    """Field-weighted BM25 (BM25F, SURVEY.md Appendix A.3), genuinely
    single-branch -- ZERO joins, ZERO groupBy:

      per chunk:  dl = total terms;  wtf_i = sum_f w_f * tf(term_i)
                  computed as native array folds over the chunk's
                  (field, term) array, so every chunk row survives
                  (dl = 0 chunks included -- tfidf.go:60-65 counts
                  EVERY chunk in avgdl/N) and the chunk table feeds
                  exactly one branch
      per url  :  avgdl, N, df_i  via a window over the per-chunk rows
      score    =  sum_i q_i * idf_i * wtf_i*(k1+1) /
                  (k1*(1-b+b*dl/avgdl) + wtf_i)

    The (field, term) array is the `field_terms` column that
    :func:`chunking.chunk_pages` emits in search mode; a chunk table
    without it runs the same kernel on `chunk_text` in
    :func:`field_terms_udf`, one Arrow stage. Plan: [UDF] -> one narrow
    projection of higher-order functions reducing the array to dl and
    one wtf column per query term (whole-stage codegen) -> the url
    window for corpus stats (one hash Exchange on url, elided when the
    input is already hash-partitioned by url) -> column math. Callers
    need no persist: the chunk branch is referenced exactly once.

    Keeps every input column except the consumed `field_terms` bag and
    appends `score`, so selection pipelines attach scores without
    joining back to the chunk table."""
    query_terms = list(dict.fromkeys(tfidf_tokenize(query)))
    if not query_terms:
        return chunks_df.drop(FIELD_TERMS_COL).withColumn(
            "score", F.lit(0.0))

    q_occurrences = {}
    for term in tfidf_tokenize(query):
        q_occurrences[term] = q_occurrences.get(term, 0) + 1

    weight_map = F.create_map(
        *[F.lit(x) for pair in FIELD_WEIGHTS.items() for x in pair]
    )

    if FIELD_TERMS_COL in chunks_df.columns:
        per_chunk, bag = chunks_df, FIELD_TERMS_COL
    else:
        # the aliased UDF array is referenced by len(query_terms)+1
        # downstream expressions; CollapseProject keeps non-cheap aliases
        # un-inlined, so the UDF runs once per row (same pattern as
        # winnowing's normalized-text projection)
        per_chunk = chunks_df.withColumn(
            "_ft", field_terms_udf(F.col("chunk_text")))
        bag = "_ft"

    # NB: bind the loop variable through a closure factory -- a `t=term`
    # default arg would make pyspark treat the lambda as (element, index)
    def _is_term(term):
        return lambda x: x["term"] == F.lit(term)

    def _weighted_tf(term):
        return F.aggregate(
            F.filter(F.col(bag), _is_term(term)),
            F.lit(0.0),
            lambda acc, x: acc + F.coalesce(
                F.element_at(weight_map, x["field"]), F.lit(1.0)
            ),
        )

    # one projection per stage: each withColumn call re-analyses the
    # whole plan on the driver
    per_chunk = per_chunk.withColumns({
        "_dl": F.size(bag).cast("double"),
        **{f"_wtf_{i}": _weighted_tf(term)
           for i, term in enumerate(query_terms)},
    }).drop(bag, FIELD_TERMS_COL)

    url_window = Window.partitionBy("url")
    per_chunk = per_chunk.withColumns({
        "_avgdl": F.avg("_dl").over(url_window),
        "_n_docs": F.count("*").over(url_window),
        **{f"_df_{i}": F.sum(F.when(F.col(f"_wtf_{i}") > 0, 1)
                             .otherwise(0)).over(url_window)
           for i in range(len(query_terms))},
    })

    score = F.lit(0.0)
    for i, term in enumerate(query_terms):
        wtf = F.col(f"_wtf_{i}")
        df = F.col(f"_df_{i}")
        idf = F.log(
            F.lit(1.0)
            + (F.col("_n_docs") - df + F.lit(0.5)) / (df + F.lit(0.5))
        )
        term_score = (
            idf * wtf * F.lit(K1 + 1.0)
            / (
                F.lit(K1)
                * (F.lit(1.0 - B) + F.lit(B) * F.col("_dl") / F.col("_avgdl"))
                + wtf
            )
            * F.lit(float(q_occurrences[term]))
        )
        score = score + F.when(wtf > 0, term_score).otherwise(F.lit(0.0))

    temps = (["_dl", "_avgdl", "_n_docs"]
             + [f"_wtf_{i}" for i in range(len(query_terms))]
             + [f"_df_{i}" for i in range(len(query_terms))])
    return per_chunk.withColumn("score", score).drop(*temps)


def bm25_scores(chunks_df, query):
    """(url, chunk_idx, score) projection of :func:`with_bm25_score`;
    Catalyst column-prunes the unused chunk columns through the window."""
    return with_bm25_score(chunks_df, query).select(
        "url", "chunk_idx", "score")


def rank_by_score(scored_df):
    """Per-url relevance rank window (sift.go:296-298 -> SURVEY §2.6):
    row_number over score desc, chunk_idx asc tiebreak -- never a global
    sort."""
    window = Window.partitionBy("url").orderBy(
        F.desc("score"), F.asc("chunk_idx")
    )
    return scored_df.withColumn("sel_rank", F.row_number().over(window))


def top_k_relevant(ranked_df):
    """No-limit search top-k (chunk_selection.go:598-632): score > 0.01,
    keep top 50% capped at 5, floor 1; fallback top-2 when none pass."""
    url_window = Window.partitionBy("url")
    passing = ranked_df.withColumn(
        "n_passing",
        F.sum(F.when(F.col("score") > MIN_SCORE_THRESHOLD, 1)
              .otherwise(0)).over(url_window),
    )
    limit = F.least(
        F.lit(MAX_RELEVANT_CHUNKS),
        F.greatest(F.lit(1), (F.col("n_passing") / 2).cast("int")),
    )
    selected = passing.filter(
        (F.col("score") > MIN_SCORE_THRESHOLD) & (F.col("sel_rank") <= limit)
    )
    fallback = passing.filter(
        (F.col("n_passing") == 0) & (F.col("sel_rank") <= 2)
    )
    return selected.unionByName(fallback).drop("n_passing")
