"""Selection operators: strategy rank expressions, cumulative-sum budget
windows, exact grouped-map selection, formatting aggregation.

Two tiers (SURVEY.md §2.6-2.8):

relational tier (pure window math, fully distributed, used for analytics
and the oracle gate):
  * strategy_rank: beginning / end / middle-out as closed-form rank exprs
  * budget_filter: cumulative-sum window + filter (selects the same WHOLE
    chunks as the reference's accumulation loop when no partial chunk is
    produced)
  * separators + lag-based overlap handling as column exprs

exact tier (byte parity): the reference's selection loop is
order-dependent with a shared budget and partial boundary chunks
(chunk_selection.go:522-714) -- inherently sequential per url -> grouped
applyInPandas calling the core kernel. Cheap: per-url chunk counts are
small; the shuffle key is url, same partitioning as everything else.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core.pipeline import SiftParams
from ..core.selection import BEGINNING, END, MIDDLE, ChunkSelector

# ---- relational tier ---------------------------------------------------------------


def strategy_rank_col(strategy, chunk_idx, n_chunks):
    """Closed-form selection-order rank (chunk_selection.go:420-474).

    middle-out: start at n//2, then alternate right-before-left; the rank
    of index i is  2*(i - m) - 1  for i > m  and  2*(m - i)  for i < m
    (right neighbor precedes left at equal distance, asserted order
    [2,3,1,4,0] in chunk_selection_test.go:532)."""
    if strategy == BEGINNING:
        return chunk_idx
    if strategy == END:
        return n_chunks - 1 - chunk_idx
    if strategy == MIDDLE:
        middle = (n_chunks / 2).cast("int")
        return (
            F.when(chunk_idx == middle, F.lit(0))
            .when(chunk_idx > middle, 2 * (chunk_idx - middle) - 1)
            .otherwise(2 * (middle - chunk_idx))
        )
    raise ValueError(f"unknown strategy: {strategy}")


def budget_filter(ranked_df, max_units):
    """Keep chunks while the running unit total (in selection order) stays
    within budget: cumulative-sum window, map-side friendly.

    This is the relational form of the accumulation loop; it selects the
    same whole-chunk set, without the partial boundary chunk (the exact
    tier adds that)."""
    if max_units <= 0:
        return ranked_df
    window = (
        Window.partitionBy("url")
        .orderBy("sel_rank")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ranked_df.withColumn(
        "cum_units", F.sum("n_units").over(window)
    ).filter(F.col("cum_units") <= max_units)


def separator_col(is_search_mode=False):
    """Smart separator between consecutive selected chunks as lag-based
    column math (chunk_selection.go:203-230, gap marker :184-187)."""
    window = Window.partitionBy("url").orderBy("chunk_idx")
    prev_text = F.lag("chunk_text").over(window)
    prev_idx = F.lag("chunk_idx").over(window)
    prev_trimmed = F.trim(prev_text)
    base = (
        F.when(prev_text.isNull(), F.lit(""))
        .when(prev_trimmed == "", F.lit("\n\n"))
        .when(prev_text.endswith("\n\n"), F.lit("\n\n"))
        .when(prev_text.endswith("\n"), F.lit("\n"))
        .when(
            prev_trimmed.rlike(r"[.!?]$") & (F.length(prev_trimmed) > 40),
            F.lit("\n\n"),
        )
        .otherwise(F.lit("\n"))
    )
    if is_search_mode:
        return F.when(
            prev_idx.isNotNull() & (F.col("chunk_idx") != prev_idx + 1),
            F.lit("\n\n---\n\n"),
        ).otherwise(base)
    return base


def format_selected(selected_df, is_search_mode=False):
    """Final formatting aggregation: document order, separators, concat
    (chunk_selection.go:161-199) -> (url, text).

    Overlap-prefix removal needs word-sequence matching -> handled in the
    exact tier; selected chunks here are distinct whole chunks, for which
    the separator rule alone reproduces the reference output."""
    with_sep = selected_df.withColumn("sep", separator_col(is_search_mode))
    return (
        with_sep.groupBy("url")
        .agg(
            F.concat_ws(
                "",
                F.flatten(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct("chunk_idx", "sep", "chunk_text")
                            )
                        ),
                        lambda s: F.array(s["sep"], s["chunk_text"]),
                    )
                ),
            ).alias("text")
        )
    )


def combine_sources(df, group_col, order_col):
    """Multi-source combination (sift.go:107-130): per group, join the
    non-empty texts in source order with a blank line; failed/empty
    sources are skipped (warn-and-continue promoted to data parallelism).

    Native: collect_list of (order, text) structs -> array_sort ->
    transform -> concat_ws. One shuffle on the group key."""
    non_empty = df.filter(
        F.col("text").isNotNull() & (F.trim(F.col("text")) != "")
    )
    return non_empty.groupBy(group_col).agg(
        F.concat_ws(
            "\n\n",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col(order_col).alias("o"),
                                            F.col("text").alias("t")))
                ),
                lambda s: s["t"],
            ),
        ).alias("text")
    )


# ---- exact tier --------------------------------------------------------------------

_SELECT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("n_selected", T.IntegerType()),
    ]
)


def _select_one_group(url, chunks, scores, flags, params, has_score):
    """Byte-exact selection for one document's chunk list."""
    if flags is not None and not params.include_all:
        if has_score:
            scores = [s for s, drop in zip(scores, flags) if not drop]
        chunks = [c for c, drop in zip(chunks, flags) if not drop]
    if not chunks:
        return url, "", 0

    selector = ChunkSelector(
        params.counting_method, params.max_units, params.strategy,
        vocab_path=params.cl100k_path,
    )
    if has_score:
        triples = sorted(
            [(c, s, i) for i, (c, s) in enumerate(zip(chunks, scores))],
            key=lambda t: (-t[1], t[2]),
        )
        ordered = selector.prepare_for_search(triples)
        before, after = params.context_before, params.context_after
    else:
        ordered = selector.prepare_for_strategy(chunks)
        before, after = 0, 0
    text = selector.select_with_context_config(
        ordered, chunks, before, after, params.context_units,
    )
    return url, text, len(chunks)


def select_exact(chunks_df, params: SiftParams, scored=False):
    """Grouped selection with byte-exact reference semantics.

    chunks_df: url, chunk_idx, chunk_text, [score], [is_extraneous]
    Applies the classifier filter (unless include_all), strategy or score
    ordering, fixed/smart context, partials, separators, overlap removal
    -- by calling the same core kernel the tests verify.

    Implementation: repartition by url + sortWithinPartitions, then
    mapInPandas streaming groups WITHIN Arrow batches (urls spanning a
    batch boundary are buffered). One pandas frame per ~10k rows instead
    of one per url -- per-group applyInPandas overhead (~8 ms/group)
    would dominate at web scale where groups are tiny."""
    has_filter = "is_extraneous" in chunks_df.columns
    has_score = scored and "score" in chunks_df.columns

    cols = ["url", "chunk_idx", "chunk_text"]
    if has_score:
        cols.append("score")
    if has_filter:
        cols.append("is_extraneous")

    arranged = (
        chunks_df.select(*cols)
        .repartition("url")
        .sortWithinPartitions("url", "chunk_idx")
    )

    def process(iterator):
        pending_url = None
        pending_chunks = []
        pending_scores = []
        pending_flags = []

        def emit(url):
            return _select_one_group(
                url, pending_chunks,
                pending_scores if has_score else None,
                pending_flags if has_filter else None,
                params, has_score,
            )

        out_urls, out_texts, out_counts = [], [], []
        for pdf in iterator:
            urls = pdf["url"].to_numpy()
            texts = pdf["chunk_text"].to_numpy()
            scores = pdf["score"].to_numpy() if has_score else None
            flags = pdf["is_extraneous"].to_numpy() if has_filter else None
            for i in range(len(pdf)):
                url = urls[i]
                if url != pending_url:
                    if pending_url is not None:
                        u, t, n = emit(pending_url)
                        out_urls.append(u)
                        out_texts.append(t)
                        out_counts.append(n)
                    pending_url = url
                    pending_chunks = []
                    pending_scores = []
                    pending_flags = []
                pending_chunks.append(texts[i])
                if has_score:
                    pending_scores.append(float(scores[i]))
                if has_filter:
                    pending_flags.append(bool(flags[i]))
            if len(out_urls) >= 2000:
                yield pd.DataFrame(
                    {"url": out_urls, "text": out_texts,
                     "n_selected": out_counts}
                )
                out_urls, out_texts, out_counts = [], [], []
        if pending_url is not None:
            u, t, n = emit(pending_url)
            out_urls.append(u)
            out_texts.append(t)
            out_counts.append(n)
        if out_urls:
            yield pd.DataFrame(
                {"url": out_urls, "text": out_texts, "n_selected": out_counts}
            )

    return arranged.mapInPandas(process, _SELECT_SCHEMA)
