"""fastText-style hashed-ngram quality classifier (operators/textclf):
separation on a planted fixture, partitioning-invariant bit-exactness,
the narrow scorer against the trainer's scoring contract, save/load
round-trip, zero-gram docs, and the curation funnel stage."""

import pytest
from pyspark.sql import functions as F

from sift_spark.operators.textclf import (
    doc_feature_table,
    filter_by_classifier,
    load_text_classifier,
    save_text_classifier,
    score_text_classifier,
    train_from_slices,
    train_text_classifier,
)

GOOD = [
    "the committee published a detailed report on regional water "
    "policy and the projected budget for the coming decade",
    "researchers described a new method for measuring glacier flow "
    "using satellite imagery collected over several seasons",
    "the council approved funding for a public library renovation "
    "after hearing testimony from residents and local historians",
    "a study of migratory birds found that wetland restoration "
    "improved nesting success across the entire river delta",
]
SPAM = [
    "click here buy now cheap pills best prices click here win big",
    "free money casino bonus click now winner winner jackpot claim",
    "cheap watches buy buy buy discount offer click subscribe now",
    "hot singles near you click now free trial limited offer act",
]


def _labelled(spark, reps=3):
    rows = []
    i = 0
    for r in range(reps):
        for t in GOOD:
            rows.append((i, f"{t} part {r}", 1))
            i += 1
        for t in SPAM:
            rows.append((i, f"{t} lot {r}", 0))
            i += 1
    return spark.createDataFrame(
        rows, "doc_id long, text string, label int"
    )


def test_classifier_separates_planted_fixture(spark):
    docs = _labelled(spark)
    model = train_text_classifier(docs, n_buckets=512, n_iter=10)
    scored = score_text_classifier(docs, model).select(
        "label", "clf_score"
    ).collect()
    good = [r["clf_score"] for r in scored if r["label"] == 1]
    spam = [r["clf_score"] for r in scored if r["label"] == 0]
    assert min(good) > max(spam)
    assert min(good) > 0.5 > max(spam)


def test_bit_exact_across_partitionings(spark):
    docs = _labelled(spark)
    kw = dict(n_buckets=512, n_iter=6)
    m1 = train_text_classifier(docs.repartition(1), **kw)
    m7 = train_text_classifier(docs.repartition(7), **kw)
    assert m1["intercept"] == m7["intercept"]
    assert m1["weights"] == m7["weights"]
    s1 = {
        r["doc_id"]: r["clf_score"]
        for r in score_text_classifier(docs.repartition(3), m1)
        .select("doc_id", "clf_score").collect()
    }
    s7 = {
        r["doc_id"]: r["clf_score"]
        for r in score_text_classifier(docs.repartition(5), m7)
        .select("doc_id", "clf_score").collect()
    }
    assert s1 == s7  # identical bits, not just close


def test_both_links_learn_the_separator(spark, tmp_path):
    """The rational link learns the separator; the same trained weights
    written under the deleted exp() link are refused at load instead of
    being scored with the wrong sigmoid."""
    import json

    docs = _labelled(spark)
    model = train_text_classifier(docs, n_buckets=512, n_iter=10)
    scored = score_text_classifier(docs, model).collect()
    good = [r["clf_score"] for r in scored if r["label"] == 1]
    spam = [r["clf_score"] for r in scored if r["label"] == 0]
    assert min(good) > max(spam), "rational"

    path = str(tmp_path / "clf")
    save_text_classifier(model, path)
    rows = spark.read.parquet(path).collect()
    relinked = []
    for r in rows:
        meta = r["meta"]
        if meta is not None:
            meta = json.dumps(dict(json.loads(meta), link="logistic"))
        relinked.append((r["bucket"], r["w"], meta))
    exp_path = str(tmp_path / "clf_exp")
    spark.createDataFrame(
        relinked, "bucket long, w double, meta string"
    ).coalesce(1).write.parquet(exp_path)
    with pytest.raises(ValueError, match="'logistic'.*train-clf"):
        load_text_classifier(exp_path)


def test_train_from_slices(spark):
    pos = spark.createDataFrame([(t,) for t in GOOD], "text string")
    neg = spark.createDataFrame([(t,) for t in SPAM], "text string")
    model = train_from_slices(pos, neg, n_buckets=512, n_iter=10)
    docs = _labelled(spark, reps=1)
    scored = score_text_classifier(docs, model).collect()
    good = [r["clf_score"] for r in scored if r["label"] == 1]
    spam = [r["clf_score"] for r in scored if r["label"] == 0]
    assert min(good) > max(spam)


def test_zero_gram_doc_scores_intercept(spark):
    docs = _labelled(spark)
    model = train_text_classifier(docs, n_buckets=512, n_iter=4)
    empty = spark.createDataFrame(
        [(999, ""), (998, "   !!! 123 ")], "doc_id long, text string"
    )
    rows = score_text_classifier(empty, model).collect()
    assert len(rows) == 2
    b = model["intercept"]
    expect = 0.5 + 0.5 * b / (1.0 + abs(b))  # the rational sigmoid
    for r in rows:
        assert r["clf_score"] == expect  # identical bits


def test_save_load_round_trip(spark, tmp_path):
    docs = _labelled(spark)
    model = train_text_classifier(docs, n_buckets=512, n_iter=6)
    path = str(tmp_path / "clf_model")
    save_text_classifier(model, path)
    loaded = load_text_classifier(path)
    assert loaded["intercept"] == model["intercept"]
    assert loaded["weights"] == model["weights"]
    assert loaded["n_buckets"] == model["n_buckets"]
    s0 = score_text_classifier(docs, model).select("clf_score").collect()
    s1 = score_text_classifier(docs, loaded).select("clf_score").collect()
    assert [r[0] for r in s0] == [r[0] for r in s1]


def _saved_model(spark, path, portable_hash, link):
    """A one-weight model saved with the given bucketing and link."""
    import json

    meta = json.dumps({"n_buckets": 512, "link": link,
                       "portable_hash": portable_hash, "lr": 0.5,
                       "n_rows": 8})
    spark.createDataFrame(
        [(3, 0.25, None), (-1, 0.125, meta)],
        "bucket long, w double, meta string",
    ).coalesce(1).write.parquet(path)
    return path


def test_load_rejects_xxhash64_model(spark, tmp_path):
    """A model saved with xxhash64 feature buckets (meta
    `portable_hash: false`) cannot be scored by the md5 scorer;
    loading it must fail loudly instead of scoring it wrong."""
    path = _saved_model(spark, str(tmp_path / "legacy_clf"), False,
                        "rational")
    with pytest.raises(ValueError, match="train-clf"):
        load_text_classifier(path)


def test_load_rejects_logistic_model(spark, tmp_path):
    """A model saved with the exp() sigmoid (meta `link: "logistic"`)
    cannot be scored by the rational-sigmoid scorer; loading it must
    fail loudly instead of scoring it wrong."""
    path = _saved_model(spark, str(tmp_path / "exp_link_clf"), True,
                        "logistic")
    with pytest.raises(ValueError, match="'logistic'.*train-clf"):
        load_text_classifier(path)


def test_filter_by_classifier(spark):
    docs = _labelled(spark)
    model = train_text_classifier(docs, n_buckets=512, n_iter=10)
    kept = filter_by_classifier(docs, model, 0.5)
    assert sorted(r["label"] for r in kept.collect()) == [1] * 12
    assert "clf_score" not in kept.columns  # helper column dropped


def test_feature_table_one_shuffle_and_grid(spark):
    docs = _labelled(spark, reps=1)
    feats = doc_feature_table(docs, n_buckets=512)
    plan = feats._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1  # gram total carried, no 2nd agg
    for r in feats.collect():
        assert 0.0 <= r["x"] <= 1.0
        assert (r["x"] * 1024.0) == int(r["x"] * 1024.0)  # on the grid


def test_train_clf_cli_and_curation_gate(spark, tmp_path):
    """The job-level loop: `train-clf` saves a model from pos/neg
    slices; `run_curation_job(clf_model=<path>, min_clf_score=...)`
    loads it and drops the spam-like document while target-like text
    survives (stage after_clf_gate in the funnel metrics)."""
    from sift_spark.job import main, run_curation_job
    from sift_spark.operators.textclf import load_text_classifier

    pos_dir = str(tmp_path / "pos")
    neg_dir = str(tmp_path / "neg")
    spark.createDataFrame(
        [(t,) for t in GOOD * 3], "text string"
    ).write.parquet(pos_dir)
    spark.createDataFrame(
        [(t,) for t in SPAM * 3], "text string"
    ).write.parquet(neg_dir)
    model_path = str(tmp_path / "clf_model")
    main(["train-clf", "--pos", pos_dir, "--neg", neg_dir,
          "--output", model_path, "--buckets", "512", "--iters", "10"])
    model = load_text_classifier(model_path)
    assert model["weights"]

    docs_dir = str(tmp_path / "gate_in")
    spark.createDataFrame(
        [(1, GOOD[0]), (2, SPAM[0])], ["doc_id", "text"]
    ).write.parquet(docs_dir)
    docs = spark.read.parquet(docs_dir)
    out_dir = str(tmp_path / "gate_out")
    out, metrics = run_curation_job(
        spark, docs, out_dir, min_quality=0.0,
        clf_model=model_path, min_clf_score=0.5)
    assert metrics["after_clf_gate"] == 1
    assert {r["doc_id"] for r in out.collect()} == {1}


def test_clf_model_without_threshold_fails_loudly(spark, tmp_path):
    """clf_model with min_clf_score unset must raise, not silently
    skip the gate the operator asked for (the lm_model convention)."""
    from sift_spark.job import run_curation_job

    docs = spark.createDataFrame(
        [(1, "some text here")], ["doc_id", "text"])
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    with pytest.raises(ValueError, match="min_clf_score"):
        run_curation_job(spark, docs, str(tmp_path / "out"),
                         clf_model="/nonexistent/model")
    # raised before any Spark action: no job ran
    assert set(tracker.getJobIdsForGroup(None)) == before


def _contract_scores(docs, model):
    """The trainer's own scoring contract: `_with_z` over the md5
    feature table, then the rational sigmoid -- the join form the
    narrow scorer must reproduce."""
    from sift_spark.operators.nodeclf import rational_sigmoid_col
    from sift_spark.operators.textclf import _with_z

    feats = doc_feature_table(docs, n_buckets=model["n_buckets"])
    z = _with_z(feats, docs, "doc_id", model["weights"],
                model["intercept"])
    return {r["doc_id"]: r["p"]
            for r in z.select(
                "doc_id", rational_sigmoid_col(F.col("_z")).alias("p"))
            .collect()}


def test_udf_scorer_matches_join_bit_for_bit(spark):
    """The narrow scorer reproduces the trainer's join scoring contract
    (`_with_z` + the rational sigmoid) EXACTLY -- shared grids make the
    sums order-independent, and the rational sigmoid is
    correctly-rounded IEEE ops in both engines."""
    docs = _labelled(spark)
    model = train_text_classifier(docs, n_buckets=512, n_iter=6)
    j = _contract_scores(docs, model)
    u = {r["doc_id"]: r["clf_score"]
         for r in score_text_classifier(docs, model)
         .select("doc_id", "clf_score").collect()}
    assert j == u  # identical bits


def test_udf_path_is_narrow(spark):
    """The udf scorer must not shuffle or join -- it composes into the
    scan-side pipeline (and into Structured Streaming)."""
    docs = _labelled(spark, reps=1)
    model = train_text_classifier(docs, n_buckets=512, n_iter=2)
    scored = score_text_classifier(docs, model)
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_filter_auto_picks_udf_for_portable(spark):
    """filter_by_classifier gates through the narrow scorer (no
    shuffle, no join) and keeps exactly the documents the trainer's
    scoring contract scores >= the threshold."""
    docs = _labelled(spark)
    model = train_text_classifier(docs, n_buckets=512, n_iter=10)
    gated = filter_by_classifier(docs, model, 0.5)
    plan = gated._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Join" not in plan
    kept = {r["doc_id"] for r in gated.collect()}
    assert kept == {d for d, p in _contract_scores(docs, model).items()
                    if p >= 0.5}
    assert kept  # non-vacuous


def test_udf_gate_on_a_stream(spark, tmp_path):
    """The narrow scorer composes into Structured Streaming (no
    stateful aggregation): availableNow micro-batch over a file
    stream, classifier gate applied per batch."""
    from sift_spark.operators.textclf import filter_by_classifier

    docs = _labelled(spark, reps=1)
    model = train_text_classifier(docs, n_buckets=512, n_iter=10)
    src = str(tmp_path / "src")
    docs.write.parquet(src)
    stream = spark.readStream.schema(
        "doc_id long, text string, label int"
    ).parquet(src)
    gated = filter_by_classifier(stream, model, 0.5)
    out = str(tmp_path / "out")
    q = (gated.writeStream.format("parquet")
         .option("path", out)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    kept = spark.read.parquet(out).collect()
    assert sorted(r["label"] for r in kept) == [1] * 4


def _ref_auc(pairs):
    """Reference rank-sum AUC with average-rank ties, O(n^2)-free via
    sorting -- independent re-derivation for the unit."""
    s = sorted(pairs, key=lambda p: p[0])
    ranks, i = {}, 0
    while i < len(s):
        j = i
        while j < len(s) and s[j][0] == s[i][0]:
            j += 1
        avg = (i + 1 + j) / 2.0  # ranks i+1 .. j
        for k in range(i, j):
            ranks[k] = avg
        i = j
    pos = [ranks[k] for k, (_, y) in enumerate(s) if y == 1]
    n_pos = len(pos)
    n_neg = len(s) - n_pos
    if not n_pos or not n_neg:
        return None
    return (sum(pos) - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg)


def test_evaluate_classifier_metrics(spark):
    """AUC matches an independent average-rank reference on the actual
    scored fixture; perfect separation gives accuracy/precision/recall
    of 1.0 at the 0.5 threshold."""
    from sift_spark.operators.textclf import evaluate_classifier

    docs = _labelled(spark)
    model = train_text_classifier(docs, n_buckets=512, n_iter=10)
    m = evaluate_classifier(docs, model)
    assert m["n"] == 24
    assert m["accuracy"] == 1.0
    assert m["precision"] == 1.0
    assert m["recall"] == 1.0
    pairs = [
        (r["clf_score"], r["label"])
        for r in score_text_classifier(docs, model).collect()
    ]
    assert m["auc"] == pytest.approx(_ref_auc(pairs), abs=1e-12)
    assert m["auc"] == 1.0  # the fixture separates perfectly


def test_evaluate_classifier_auc_multi_partition_ties(spark, monkeypatch):
    """The shuffle-safe rank-sum (per-score histogram + value-bucketed
    cumulative offsets) must reproduce the average-rank AUC exactly on a
    frame large enough to span many score buckets, with heavy tie
    groups (repeated texts -> identical scores) and imperfect labels.
    The buckets derive from the score values, so a recomputed stage (a
    lost executor, a retried task) rebuilds the same ranks: the
    evaluation reads no spark_partition_id() and persists nothing."""
    from sift_spark.operators.textclf import evaluate_classifier

    rows = []
    i = 0
    for rep in range(40):
        for t in GOOD:
            # flip some labels so AUC is strictly between 0.5 and 1 and
            # tie groups mix labels
            rows.append((i, f"{t} tail {rep % 5}", 0 if i % 7 == 0 else 1))
            i += 1
        for t in SPAM:
            rows.append((i, f"{t} tail {rep % 5}", 1 if i % 11 == 0 else 0))
            i += 1
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, label int"
    ).repartition(8)
    model = train_text_classifier(
        spark.createDataFrame(rows[:40], "doc_id long, text string, label int"),
        n_buckets=256, n_iter=4,
    )

    def forbidden(*args, **kwargs):
        raise AssertionError("evaluate_classifier must not call this")

    with monkeypatch.context() as patched:
        patched.setattr(F, "spark_partition_id", forbidden)
        patched.setattr(type(docs), "persist", forbidden)
        patched.setattr(type(docs), "cache", forbidden)
        m = evaluate_classifier(docs, model)
    pairs = [
        (r["clf_score"], r["label"])
        for r in score_text_classifier(docs, model).collect()
    ]
    assert m["n"] == len(rows)
    assert m["auc"] == pytest.approx(_ref_auc(pairs), abs=1e-12)
    assert 0.5 < m["auc"] < 1.0


def test_evaluate_classifier_degenerate_cases(spark):
    """Constant scores -> AUC 0.5 (all ties, average rank); single
    class -> AUC None."""
    from sift_spark.operators.textclf import evaluate_classifier

    docs = _labelled(spark, reps=1)
    # untrained model: all weights zero -> every doc scores the same
    zero = {"intercept": 0.0, "weights": {}, "n_buckets": 512,
            "lr": 0.5, "n_rows": 8}
    m = evaluate_classifier(docs, zero)
    assert m["auc"] == pytest.approx(0.5)
    assert m["precision"] == pytest.approx(0.5)  # all predicted pos
    only_pos = docs.filter(F.col("label") == 1)
    m2 = evaluate_classifier(only_pos, zero)
    assert m2["auc"] is None
    assert m2["recall"] == 1.0


def test_classifier_threshold_keep_frac(spark):
    from sift_spark.operators.textclf import classifier_threshold

    docs = _labelled(spark)
    model = train_text_classifier(docs, n_buckets=512, n_iter=10)
    scored = score_text_classifier(docs, model)
    thr = classifier_threshold(scored, 0.5)
    kept = scored.filter(F.col("clf_score") >= thr).count()
    # the fixture's scores cluster near 0 and 1, so the 0.5-quantile
    # cut is coarse: all 12 positives survive, plus at most a handful
    # of tied spam scores
    assert 12 <= kept <= 18
    assert (scored.filter((F.col("clf_score") >= thr)
                          & (F.col("label") == 1)).count() == 12)
    with pytest.raises(ValueError, match="keep_frac"):
        classifier_threshold(scored, 0.0)


def test_evaluate_classifier_empty_frame(spark):
    """An empty eval frame returns the documented None metrics, not a
    None+None TypeError (review r7 pass 2)."""
    from sift_spark.operators.textclf import evaluate_classifier

    docs = _labelled(spark, reps=1)
    model = train_text_classifier(docs, n_buckets=512, n_iter=2)
    empty = docs.filter(F.col("doc_id") < 0)
    m = evaluate_classifier(empty, model)
    assert m == {"n": 0, "accuracy": None, "precision": None,
                 "recall": None, "auc": None}


def test_classifier_threshold_empty_raises_loudly(spark):
    from sift_spark.operators.textclf import classifier_threshold

    empty = spark.createDataFrame([], "clf_score double")
    with pytest.raises(ValueError, match="empty"):
        classifier_threshold(empty, 0.5)
