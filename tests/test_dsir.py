"""DSIR importance resampling (operators/dsir.py)."""

from pyspark.sql import functions as F

from sift_spark.operators.dsir import (
    dsir_log_weights,
    dsir_resample,
    fit_bucket_log_probs,
    gumbel_key_col,
    hashed_ngram_buckets,
)


def _pool(spark):
    """Raw pool: half medical-register docs (the target domain), half
    cooking-register docs, plus an empty doc."""
    med = ("the patient presented with acute symptoms and the doctor "
           "prescribed treatment after the clinical examination")
    cook = ("stir the sauce gently and season the roasted vegetables "
            "with butter before serving the warm bread")
    rows = [(i, med + f" case {i}") for i in range(10)]
    rows += [(100 + i, cook + f" recipe {i}") for i in range(10)]
    rows += [(999, "")]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _target(spark):
    t = ("the clinical team examined the patient and recorded the "
         "acute symptoms before treatment was prescribed")
    return spark.createDataFrame(
        [(i, t + f" note {i}") for i in range(5)],
        "doc_id long, text string",
    )


def test_weights_rank_target_domain_higher(spark):
    pool, target = _pool(spark), _target(spark)
    w = {r["doc_id"]: r["log_weight"]
         for r in dsir_log_weights(pool, target).collect()}
    med = [w[i] for i in range(10)]
    cook = [w[100 + i] for i in range(10)]
    assert min(med) > max(cook)
    assert w[999] == 0.0  # no grams -> no evidence


def test_resample_prefers_target_and_is_deterministic(spark):
    pool, target = _pool(spark), _target(spark)
    sel = dsir_resample(pool, target, k=8, seed=1)
    ids = {r["doc_id"] for r in sel.collect()}
    assert len(ids) == 8
    med_share = len([i for i in ids if i < 100])
    assert med_share >= 6  # importance weights dominate the noise
    # deterministic across partitioning and reruns
    ids2 = {r["doc_id"] for r in dsir_resample(
        pool.repartition(13), target, k=8, seed=1).collect()}
    assert ids2 == ids
    # a different seed redraws the Gumbel noise
    keys1 = {r["doc_id"]: r["g"] for r in pool.select(
        "doc_id", gumbel_key_col("doc_id", 1).alias("g")).collect()}
    keys2 = {r["doc_id"]: r["g"] for r in pool.select(
        "doc_id", gumbel_key_col("doc_id", 2).alias("g")).collect()}
    assert keys1 != keys2


def test_bucket_distributions_are_smoothed_and_total(spark):
    target = _target(spark)
    probs = fit_bucket_log_probs(target, n_buckets=64).collect()
    assert len(probs) == 64  # every bucket present
    assert all(r["logp"] < 0 for r in probs)  # proper log-probs
    import math

    total = sum(math.exp(r["logp"]) for r in probs)
    assert abs(total - 1.0) < 1e-9  # smoothing keeps it a distribution


def test_dsir_in_curation_funnel(spark, tmp_path):
    """run_curation_job(dsir_target_df=..., dsir_k=...): DSIR as the
    final selection stage -- the funnel reports after_dsir == k and the
    sink holds mostly target-domain docs; a target without k fails
    loudly."""
    import pytest

    from sift_spark.job import run_curation_job

    pool, target = _pool(spark), _target(spark)
    # drop the empty doc (the quality gates would anyway)
    pool = pool.filter(F.col("text") != "")
    out, metrics = run_curation_job(
        spark, pool, str(tmp_path / "dsir_out"), min_quality=0.0,
        lang="en", dsir_target_df=target, dsir_k=6, dsir_seed=3,
    )
    assert metrics["after_dsir"] == 6
    ids = {r["doc_id"] for r in out.collect()}
    assert len(ids) == 6
    assert len([i for i in ids if i < 100]) >= 4

    with pytest.raises(ValueError):
        run_curation_job(
            spark, pool, str(tmp_path / "bad"), min_quality=0.0,
            dsir_target_df=target,
        )


def test_gram_multiset_counts(spark):
    docs = spark.createDataFrame(
        [(1, "a b a")], "doc_id long, text string"
    )
    rows = hashed_ngram_buckets(docs, n_buckets=8).collect()
    # 3 unigrams + 2 bigrams, multiset (repeated 'a' kept twice)
    assert len(rows) == 5


def test_dsir_and_classifier_share_one_feature_map(spark):
    """hashed_ngram_buckets and textclf.doc_feature_table bucket every
    gram the same way: per doc, the bucket multiset DSIR emits is the
    one the classifier's (bucket, x = floor(2^F * cnt / n) / 2^F)
    features derive, with n the doc's gram total."""
    from collections import Counter

    from sift_spark.operators.nodeclf import FEATURE_BITS
    from sift_spark.operators.textclf import doc_feature_table

    docs = _pool(spark).union(_target(spark).select(
        (F.col("doc_id") + 500).alias("doc_id"), "text"))
    n_buckets = 64
    dsir = {}
    for r in hashed_ngram_buckets(docs, n_buckets).collect():
        dsir.setdefault(r["doc_id"], Counter())[r["bucket"]] += 1
    clf = {}
    for r in doc_feature_table(docs, n_buckets).collect():
        clf.setdefault(r["doc_id"], {})[r["bucket"]] = r["x"]
    assert set(clf) == set(dsir) and len(dsir) == 25  # the empty doc: none
    scale = 1 << FEATURE_BITS
    for doc_id, counts in dsir.items():
        total = sum(counts.values())
        assert clf[doc_id] == {
            b: (scale * c // total) / scale for b, c in counts.items()
        }, doc_id
