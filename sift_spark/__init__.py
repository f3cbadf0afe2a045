"""sift-spark: a PySpark-native main-content extraction engine.

A from-scratch reimplementation of the capabilities of chriscorrea/sift
(fetch -> extract main content -> markdown -> chunk -> classify/filter ->
BM25-rank -> budgeted selection -> format) as an idiomatic Spark DataFrame
job over Common-Crawl-style page tables, plus the corpus-scale operators a
training-data pipeline needs (dedup, similarity search, text analysis).

Layout:
  core/       pure-Python deterministic kernels (no Spark imports) shared by
              the Arrow-batched UDFs and by fast unit tests
  operators/  the Spark layer: vectorized extraction UDFs, relational
              chunk/classify/search decomposition, corpus analytics
  sources/    pages-table IO, synthetic fixture corpus generator
  plans/      partitioning / skew-salting / lineage-checkpoint / resume;
              incremental re-runs are the lineage anti-join (batch-only
              by design, as the reference -- see SURVEY.md §2.11)
"""

__version__ = "0.1.0"
