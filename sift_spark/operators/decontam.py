"""Benchmark decontamination: flag training documents that share word
n-grams with an evaluation/benchmark set.

The GPT-3 appendix-C / PaLM approach: a training document is
contaminated if any of its word n-grams (n≈8-13) also occurs in a
benchmark document. At 100 TB the benchmark gram set is tiny relative
to the corpus (thousands of eval documents -> a few million distinct
grams), so the plan is

    corpus:     narrow split -> n-gram explode (no shuffle)
    benchmark:  same explode -> distinct -> BROADCAST
    match:      broadcast semi-ish inner join on the gram
                -> groupBy(doc_id) count  (the ONLY corpus shuffle,
                   and only over the matching rows)

i.e. the full corpus is never shuffled -- only colliding grams reach
the aggregation. Tokenization matches word_ngrams in operators/dedup.py
(lowercase, explicit [ \\t\\r\\n\\f] whitespace class for Java/RE2
agreement).
"""

from __future__ import annotations

from pyspark.sql import functions as F


def ngram_decontaminate(corpus_df, benchmark_df, n=13):
    """(doc_id, n_matched_grams, n_grams, contamination) for every
    corpus document sharing at least one word n-gram with the benchmark
    set; contamination = matched/total grams rounded to 6 places. Docs
    with zero collisions are absent (anti-join them downstream to KEEP
    the clean set without materializing it here).

    Plan discipline (asserted in test_plan_shape): the per-document
    distinct-gram set and its count are computed NATIVELY on an array
    column (array_distinct + size) so the corpus gram table is never
    shuffled for dedup or totals -- the only corpus-side shuffle is the
    per-doc count over rows that survive the broadcast collision join
    (for a clean corpus, almost nothing)."""
    from .dedup import word_ngram_array

    bench_grams = (
        benchmark_df.filter(F.col("text").isNotNull())
        .select(
            F.explode(
                F.array_distinct(
                    word_ngram_array("text", n, skip_short=True)
                )
            ).alias("gram")
        )
        .distinct()
    )
    per_doc = corpus_df.filter(F.col("text").isNotNull()).select(
        F.col("doc_id").alias("_id"),
        F.array_distinct(
            word_ngram_array("text", n, skip_short=True)
        ).alias("_grams"),
    )
    exploded = per_doc.select(
        "_id",
        F.size("_grams").alias("n_grams"),  # native total, no shuffle
        F.explode("_grams").alias("gram"),
    )
    return (
        exploded.join(F.broadcast(bench_grams), "gram")
        .groupBy("_id", "n_grams")  # grams already distinct per doc
        .agg(F.count("*").alias("n_matched_grams"))
        .select(
            F.col("_id").alias("doc_id"),
            "n_matched_grams",
            "n_grams",
            F.round(
                F.col("n_matched_grams") / F.col("n_grams"), 6
            ).alias("contamination"),
        )
    )


def remove_contaminated(corpus_df, benchmark_df, n=13):
    """The filter form: corpus minus documents with >= 1 benchmark gram
    collision (left_anti join on the flagged ids)."""
    flagged = ngram_decontaminate(corpus_df, benchmark_df, n=n).filter(
        F.col("n_matched_grams") >= 1)
    return corpus_df.join(
        flagged.select("doc_id"), "doc_id", "left_anti"
    )
