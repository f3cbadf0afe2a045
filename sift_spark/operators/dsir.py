"""DSIR: Data Selection via Importance Resampling (Xie et al. 2023,
"Data Selection for Language Models via Importance Resampling",
NeurIPS 2023).

The other canonical model-based data-selection method next to CCNet
perplexity filtering (operators/lm.py): instead of scoring fluency
against one clean LM, DSIR estimates how much each raw document looks
like the TARGET distribution relative to the RAW distribution and
resamples proportionally, matching the selected corpus to the target
domain in hashed n-gram feature space.

Method (paper's hashed n-gram variant, their recommended instantiation):
 * features: unigrams + bigrams of lowercased letter-run tokens,
   hashed into `n_buckets` buckets (their 10k-bucket bag-of-ngrams):
   bucket = (first 8 hex chars of md5(gram)) mod n_buckets, the one
   feature map, shared literally with operators/textclf.py and
   reproduced by the DuckDB oracle (driver-gate row `dsir_select`);
 * two multinomial bucket distributions are fit by counting -- p from
   the target corpus, q from the raw corpus -- with add-1 smoothing;
 * a document's log importance weight is
   log w(x) = sum_f c_f(x) * (log p_f - log q_f);
 * selection is Gumbel-top-k over log w + g_i (importance resampling
   WITHOUT replacement) -- here with DETERMINISTIC per-doc Gumbel
   noise g_i = -ln(-ln(u_i)) from the md5 hash of (doc_id, seed), so
   runs are reproducible across partitionings, engines and reruns
   (the same key-hash discipline as operators/sampling.py).

Spark shape: each distribution fit is one explode + groupBy(bucket)
whose output is `n_buckets` rows; the per-doc score is one explode +
ONE BROADCAST JOIN against the (bucket, log p - log q) delta table +
groupBy(doc) log-sum; selection is a TakeOrdered top-k. Nothing here
shuffles more than gram rows once -- the same plan family as the
oracle-green lm_perplexity scorer.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .dedup import md5_prefix_col
from .lm import _order_grams, lm_tokens_col
from .sampling import sample_bucket_col

DEFAULT_BUCKETS = 1024


def _bucket_col(gram, n_buckets):
    return F.pmod(md5_prefix_col(gram, 8), F.lit(n_buckets))


def _gram_col():
    toks = lm_tokens_col(F.col("text"))
    return F.concat(_order_grams(toks, 1), _order_grams(toks, 2))


def hashed_ngram_buckets(docs_df, n_buckets=DEFAULT_BUCKETS,
                         id_col="doc_id"):
    """(id, bucket) -- ONE ROW PER GRAM OCCURRENCE (multiset), unigrams
    + bigrams hashed into buckets. Narrow: explode only. Pass
    id_col=None for an id-less (bucket-only) frame -- distribution
    fits never need ids, so a text-only target corpus works."""
    keys = [] if id_col is None else [F.col(id_col)]
    return docs_df.select(
        *keys, F.explode(_gram_col()).alias("_gram")
    ).select(
        *keys,
        _bucket_col(F.col("_gram"), n_buckets).alias("bucket"),
    )


def fit_bucket_log_probs(docs_df, n_buckets=DEFAULT_BUCKETS):
    """(bucket, logp) over ALL buckets: add-1-smoothed multinomial
    ln((cnt_b + 1) / (total + n_buckets)). ONE corpus pass (explode +
    map-side-combined groupBy); the <= n_buckets count rows come back
    to the driver, which rebuilds the dense integer table -- exact
    ints, so no float-parity risk -- and leaves the ln to the engine."""
    spark = docs_df.sparkSession
    counts = {
        r["bucket"]: r["cnt"]
        for r in hashed_ngram_buckets(docs_df, n_buckets, None)
        .groupBy("bucket")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    denom = float(sum(counts.values()) + n_buckets)
    full = spark.createDataFrame(
        [(b, counts.get(b, 0)) for b in range(n_buckets)],
        "bucket long, cnt long",
    )
    return full.select(
        "bucket",
        F.log((F.col("cnt") + F.lit(1)) / F.lit(denom)).alias("logp"),
    )


def dsir_log_weights(docs_df, target_df):
    """(id, log_weight): per-doc log importance weight of `docs_df`
    toward `target_df`'s distribution. The raw distribution q is fit on
    docs_df itself (the paper's setting: the raw pool being selected
    from). The target corpus only needs `text` -- distribution fits
    never touch ids. Docs with zero grams get weight 0 (no evidence)."""
    p = fit_bucket_log_probs(target_df).select(
        "bucket", F.col("logp").alias("_lp"))
    q = fit_bucket_log_probs(docs_df).select(
        "bucket", F.col("logp").alias("_lq"))
    delta = p.join(q, "bucket").select(
        "bucket", (F.col("_lp") - F.col("_lq")).alias("_delta")
    )
    sums = (
        hashed_ngram_buckets(docs_df)
        .join(F.broadcast(delta), "bucket")
        .groupBy("doc_id")
        .agg(F.sum("_delta").alias("log_weight"))
    )
    return docs_df.select("doc_id").join(sums, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("log_weight"), F.lit(0.0)).alias("log_weight"),
    )


_U32 = float((1 << 32) + 1)


def gumbel_key_col(id_col, seed=0):
    """Deterministic per-doc Gumbel noise -ln(-ln(u)), u in (0,1) from
    the md5 of (id ':g<seed>') -- reproducible across partitionings and
    engines (sampling.sample_bucket_col IS the shared md5-prefix
    construction; the 'g' prefix namespaces DSIR draws away from
    hash_sample draws on the same ids)."""
    u = (sample_bucket_col(id_col, f"g{seed}") + F.lit(1.0)) / F.lit(_U32)
    return -F.log(-F.log(u))


def dsir_resample(docs_df, target_df, k, seed=0):
    """Gumbel-top-k importance resampling: keep the k documents with
    the largest log_weight + Gumbel(id, seed) -- an exact sample
    without replacement proportional to the importance weights
    (Vieira 2014's Gumbel-max trick, as used by the DSIR paper).
    Returns docs_df rows (all columns) for the selected ids."""
    weights = dsir_log_weights(docs_df, target_df)
    keyed = weights.select(
        "doc_id",
        (F.col("log_weight") + gumbel_key_col("doc_id", seed))
        .alias("_key"),
    )
    chosen = keyed.orderBy(
        F.desc("_key"), F.col("doc_id")
    ).limit(k).select("doc_id")
    return docs_df.join(chosen, "doc_id", "left_semi")
