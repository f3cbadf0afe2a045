"""Model-based quality filtering: n-gram LM perplexity (CCNet-style).

CCNet / RefinedWeb-class pipelines rank web documents by the perplexity
of an n-gram language model trained on a known-clean corpus (Wenzek et
al. 2020, "CCNet: Extracting High Quality Monolingual Datasets from Web
Crawl Data"): low perplexity ~ looks like the clean corpus; the corpus
is then split into head/middle/tail buckets by perplexity percentile.
This module is the in-engine equivalent -- the primary MODEL-BASED
quality signal complementing the heuristic families in
operators/textstats.py (Gopher, C4, repetition).

Smoothing is **stupid backoff** (Brants et al. 2007, "Large Language
Models in Machine Translation"): the web-scale standard precisely
because it needs nothing but raw counts --

    S(w | ctx_o) = count(ngram_o) / count(ctx_o)        if count > 0
                 = alpha * S(w | ctx_{o-1})             otherwise
    S(w)         = count(w) / N                          (unigram)
                 = 1 / N                                 (OOV floor)

which makes training pure aggregations and scoring a per-token table
lookup + a log sum, both expressible in the DuckDB oracle (count CTEs,
a lag window for the context counts, one CASE cascade). Kneser-Ney's
continuation counts are also just aggregations but buy little at
corpus-filtering granularity; stupid backoff is what Google ran at web
scale and what this engine ships. Scores are log10 (KenLM's
convention); perplexity is 10^(-logprob/tokens).

Document starts back off naturally: the token at position i is scored
at effective order min(i+1, n) -- no BOS padding row, every token of
every document is scored, and short documents still get a perplexity.

100 TB shape: TRAINING runs on the clean slice (Wikipedia-sized, not
the crawl) -- per-order token-count aggregations, each one classic
word-count shuffle over the small corpus. SCORING is the crawl-sized
pass: the pruned count table (tens of MB) is collected once, rides a
Spark broadcast to the workers, and one vectorized pandas UDF scores
each document in place -- a fully NARROW projection with zero
shuffles, the same ship-the-model-to-workers shape CCNet itself uses.
The model must therefore fit in executor memory; prune it with
`min_count` until it does. The DuckDB oracle row `lm_perplexity`
re-derives training and scoring independently in SQL.

No reference counterpart (chriscorrea/sift has no corpus tier); this
implements the LLM-data-pipeline brief's model-based filter.
"""

from __future__ import annotations

import json
import math
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import functions as F

# engine-portable token class (Python/Java/DuckDB regexp agree on it;
# same class the quality-profile stopword ratio uses)
_TOKEN_SPLIT = "[^a-z']+"
DEFAULT_ALPHA = 0.4  # Brants et al. 2007's published backoff constant


def lm_tokens_col(col):
    """Lowercased letter-run tokens as ARRAY<STRING> -- native split,
    oracle twin: list_filter(regexp_split_to_array(lower(text),
    '[^a-z'']+'), w -> w <> '')."""
    return F.filter(F.split(F.lower(col), _TOKEN_SPLIT),
                    lambda w: w != "")


def _order_grams(toks, o):
    """All o-grams of a token array as space-joined strings (empty array
    when the doc has fewer than o tokens; sequence() must be guarded --
    sequence(0, -1) DESCENDS instead of producing an empty range)."""
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - o),
        lambda j: F.array_join(F.slice(toks, j + 1, o), " "),
    )
    return F.when(F.size(toks) >= o, grams).otherwise(
        F.array().cast("array<string>")
    )


@dataclass
class NgramLM:
    """A trained stupid-backoff model: the per-order gram counts plus
    the scalars scoring needs. `counts` has (order INT, gram STRING,
    cnt BIGINT); total_tokens is N (the unigram denominator), captured
    BEFORE min_count pruning so probabilities stay calibrated."""

    counts: object  # DataFrame
    n: int
    alpha: float
    total_tokens: int
    vocab_size: int


def train_ngram_lm(clean_df, n=5, text_col="text", min_count=1,
                   alpha=DEFAULT_ALPHA):
    """Train on the CLEAN slice (never the crawl): one explode +
    word-count aggregation per order 1..n, unioned into a single count
    table. min_count > 1 prunes the model's long tail (the standard
    KenLM/CCNet pruning knob -- the count table must stay broadcastable
    for the narrow scoring path); N and the vocabulary size are
    captured pre-pruning. Two driver-side scalars are collected here --
    training is the small-corpus stage, and scoring needs them as plan
    literals.

    The returned counts table is a LAZY plan: persist it (or
    save_lm/load_lm, which materializes through parquet) before
    scoring -- the scorer collects it, and an uncached lineage re-runs
    the training aggregations on every collect."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    toks = clean_df.select(
        lm_tokens_col(F.col(text_col)).alias("toks")
    )
    parts = []
    for o in range(1, n + 1):
        parts.append(
            toks.select(F.explode(_order_grams(F.col("toks"), o))
                        .alias("gram"))
            .groupBy("gram").agg(F.count("*").alias("cnt"))
            .select(F.lit(o).alias("order"), "gram", "cnt")
        )
    counts = parts[0]
    for p in parts[1:]:
        counts = counts.unionByName(p)
    unigrams = counts.filter(F.col("order") == 1)
    scalars = unigrams.agg(
        F.sum("cnt").alias("total"), F.count("*").alias("vocab")
    ).first()
    total_tokens = int(scalars["total"] or 0)
    vocab_size = int(scalars["vocab"] or 0)
    if total_tokens == 0:
        raise ValueError("clean corpus has no tokens to train on")
    if min_count > 1:
        counts = counts.filter(F.col("cnt") >= min_count)
    return NgramLM(counts=counts, n=n, alpha=alpha,
                   total_tokens=total_tokens, vocab_size=vocab_size)


def save_lm(lm, path):
    """Persist the model: counts parquet + a single _meta.json written
    through the Hadoop FS client (plans/fsio -- works on any scheme the
    cluster mounts). Train once on the clean slice, score every weekly
    crawl batch from the saved model."""
    from ..plans.fsio import write_text_file

    spark = lm.counts.sparkSession
    lm.counts.write.mode("overwrite").parquet(path)
    write_text_file(
        spark, path.rstrip("/") + "/_meta.json",
        json.dumps({
            "n": lm.n, "alpha": lm.alpha,
            "total_tokens": lm.total_tokens,
            "vocab_size": lm.vocab_size,
        }),
    )


def load_lm(spark, path):
    from ..plans.fsio import read_text_file

    meta = json.loads(read_text_file(spark, path.rstrip("/")
                                     + "/_meta.json"))
    return NgramLM(counts=spark.read.parquet(path), n=meta["n"],
                   alpha=meta["alpha"],
                   total_tokens=meta["total_tokens"],
                   vocab_size=meta["vocab_size"])


def _ppl_udf(spark, lm):
    """The narrow scoring kernel: counts collected to per-order
    {gram: cnt} dicts and Spark-broadcast; one Arrow-batched pandas UDF
    runs the backoff cascade in pure Python (the per-token dict lookups
    dominate; vectorizing the string joins buys nothing). Returns a udf
    mapping text -> struct(lm_tokens, lm_oov, lm_logprob10, lm_ppl).

    The collected model + broadcast are MEMOIZED on the NgramLM
    instance: repeated gates in one session (score + filter + bucket,
    or a bench's best-of-N reps) were each re-collecting the count
    table and re-broadcasting it -- pure driver latency on every call
    for a model that cannot have changed (ADVICE r7)."""
    import re

    from pyspark.sql import types as T

    # memo keyed on the IDENTITY of the counts DataFrame: every
    # documented way to change the model (pruning filters, persist,
    # load_lm) REASSIGNS lm.counts to a new DataFrame object, which
    # invalidates the cache; same-object repeat gates hit the memo
    memo = getattr(lm, "_udf_model_bc", None)
    bc = None
    if memo is not None:
        if memo[1] is lm.counts:
            bc = memo[0]
        else:
            # counts were reassigned (pruning/reload): destroy the
            # stale model's executor AND driver copies (unpersist keeps
            # the driver copy, so every prune/rescore cycle leaked one);
            # a DataFrame planned against the stale model can no longer
            # run -- rescore it after the reassignment
            try:
                memo[0].destroy()
            except Exception:
                pass  # a torn-down context must not block rescoring
    if bc is None:
        # per-order dicts: one string-keyed lookup per probe instead of
        # hashing an (order, gram) tuple in the per-token hot loop
        by_order = [None] * (lm.n + 1)
        for r in lm.counts.collect():
            o = r["order"]
            if by_order[o] is None:
                by_order[o] = {}
            by_order[o][r["gram"]] = r["cnt"]
        for o in range(1, lm.n + 1):
            if by_order[o] is None:
                by_order[o] = {}
        bc = spark.sparkContext.broadcast(by_order)
        lm._udf_model_bc = (bc, lm.counts)
    n, alpha, total = lm.n, lm.alpha, float(lm.total_tokens)
    split_re = re.compile(_TOKEN_SPLIT)

    out_type = T.StructType([
        T.StructField("lm_tokens", T.IntegerType()),
        T.StructField("lm_oov", T.IntegerType()),
        T.StructField("lm_logprob10", T.DoubleType()),
        T.StructField("lm_ppl", T.DoubleType()),
    ])

    @F.pandas_udf(out_type)
    def _score(text: pd.Series) -> pd.DataFrame:
        by_order = bc.value
        uni = by_order[1]
        # alpha^k table: the backoff multiplier is reused per token
        pw = [alpha ** k for k in range(n + 1)]
        log10 = math.log10
        out = []
        for t in text:
            toks = [w for w in split_re.split((t or "").lower()) if w]
            if not toks:
                out.append((0, 0, 0.0, None))
                continue
            logp, oov = 0.0, 0
            for i, w in enumerate(toks):
                o_eff = min(i + 1, n)
                if w not in uni:
                    oov += 1
                score = None
                for o in range(o_eff, 1, -1):
                    g = " ".join(toks[i - o + 1: i + 1])
                    c = by_order[o].get(g)
                    if c is not None:
                        ctx = by_order[o - 1].get(
                            " ".join(toks[i - o + 1: i])
                        )
                        if ctx:
                            score = pw[o_eff - o] * c / ctx
                            break
                if score is None:
                    c1 = uni.get(w)
                    score = pw[o_eff - 1] * (
                        (c1 / total) if c1 else (1.0 / total)
                    )
                logp += log10(score)
            out.append((len(toks), oov, logp,
                        10.0 ** (-logp / len(toks))))
        return pd.DataFrame(
            out, columns=["lm_tokens", "lm_oov", "lm_logprob10",
                          "lm_ppl"])

    # pure function; the marker only stops the optimizer from pushing a
    # downstream ppl filter (and this whole Python stage with it) below
    # the load-spreading repartition into the few-task scan stage (see
    # operators/extract.py make_extract_udf)
    return _score.asNondeterministic()


def score_perplexity(docs_df, lm):
    """Per-document LM statistics: (id, lm_tokens, lm_oov,
    lm_logprob10, lm_ppl). lm_logprob10 = sum of log10 stupid-backoff
    scores; lm_ppl = 10^(-logprob/tokens); empty and null docs get 0
    tokens and a null ppl. One narrow projection through the
    broadcast-model kernel of :func:`_ppl_udf` -- zero shuffles."""
    score = _ppl_udf(docs_df.sparkSession, lm)
    return docs_df.select(
        F.col("doc_id"), score(F.col("text")).alias("_s")
    ).select("doc_id", "_s.*")


def perplexity_bucket_col(ppl_col, head=200.0, middle=1000.0):
    """CCNet's head/middle/tail split as a column: ppl < head -> 'head',
    < middle -> 'middle', else 'tail' (null ppl -> 'tail' -- an empty
    doc is not clean text). Thresholds come from
    perplexity_thresholds() in production."""
    c = F.col(ppl_col) if isinstance(ppl_col, str) else ppl_col
    return (
        F.when(c < head, "head")
        .when(c < middle, "middle")
        .otherwise("tail")
    )


def perplexity_thresholds(scored_df, fractions):
    """The head/middle cutoffs as the scored corpus's perplexity
    percentiles (CCNet buckets by thirds per language). approxQuantile
    is a driver action over a single-column scan -- run it on the
    scored table, not the raw corpus."""
    return scored_df.filter(F.col("lm_ppl").isNotNull()).approxQuantile(
        "lm_ppl", list(fractions), 0.001
    )


def filter_by_perplexity(docs_df, lm, max_ppl):
    """Keep documents whose LM perplexity is <= max_ppl (head+middle of
    the CCNet split, with max_ppl = the tail threshold). A FULLY NARROW
    gate: the score struct is computed in place by the broadcast-model
    kernel and filtered -- zero shuffles, no join-back, the shape a
    crawl-scale quality gate needs.

    Null/empty-text rows are DROPPED (their perplexity is null, and an
    empty document is not clean text) -- deliberately unlike the dedup
    family's null pass-through: this is a quality gate, not an
    identity-preserving transform. Pre-filter `text IS NULL` rows out
    if they must survive."""
    score = _ppl_udf(docs_df.sparkSession, lm)
    return (
        docs_df.withColumn("_lm_s", score(F.col("text")))
        .filter(F.col("_lm_s.lm_ppl") <= max_ppl)
        .drop("_lm_s")
    )
