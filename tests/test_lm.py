"""n-gram LM perplexity filtering (operators/lm.py): hand-computed
stupid-backoff scores, the perplexity gate, save/load, buckets, and the
curation-gate wiring."""

import math

import pytest


def _scores(df):
    return {r[0]: r for r in df.collect()}


def test_bigram_scoring_hand_computed(spark):
    """Exact stupid-backoff arithmetic on a corpus small enough to do
    by hand: N=6, alpha=0.4."""
    from sift_spark.operators.lm import score_perplexity, train_ngram_lm

    clean = spark.createDataFrame(
        [(1, "the cat sat"), (2, "the cat ran")], ["doc_id", "text"])
    lm = train_ngram_lm(clean, n=2)
    assert lm.total_tokens == 6 and lm.vocab_size == 4
    assert lm.alpha == 0.4

    docs = spark.createDataFrame(
        [(10, "the cat sat"),   # all seen
         (11, "dog"),          # single OOV token
         (12, "cat dog sat"),  # OOV mid-doc forces full backoff
         (13, ""),             # empty
         (14, None)],          # null text
        "doc_id long, text string")
    got = _scores(score_perplexity(docs, lm))

    # doc 10: P(the)=2/6; P(cat|the)=c2/x2=2/2; P(sat|cat)=1/2
    lp10 = math.log10(2 / 6) + math.log10(1.0) + math.log10(0.5)
    r = got[10]
    assert r["lm_tokens"] == 3 and r["lm_oov"] == 0
    assert r["lm_logprob10"] == pytest.approx(lp10, rel=1e-12)
    assert r["lm_ppl"] == pytest.approx(10 ** (-lp10 / 3), rel=1e-12)

    # doc 11: OOV at pos 0 -> o_eff=1, floor 1/N
    r = got[11]
    assert r["lm_tokens"] == 1 and r["lm_oov"] == 1
    assert r["lm_logprob10"] == pytest.approx(math.log10(1 / 6),
                                              rel=1e-12)

    # doc 12: P(cat)=2/6; 'dog' at pos 1: bigram unseen, unigram
    # unseen -> alpha^(2-1) * 1/N; 'sat' at pos 2: bigram 'dog sat'
    # unseen -> alpha * c1(sat)/N = 0.4 * 1/6
    lp12 = (math.log10(2 / 6) + math.log10(0.4 * (1 / 6))
            + math.log10(0.4 * (1 / 6)))
    r = got[12]
    assert r["lm_oov"] == 1
    assert r["lm_logprob10"] == pytest.approx(lp12, rel=1e-12)

    # empty + null text: zero tokens, null ppl, rows PRESENT
    for d in (13, 14):
        r = got[d]
        assert (r["lm_tokens"], r["lm_oov"], r["lm_logprob10"],
                r["lm_ppl"]) == (0, 0, 0.0, None)


def test_trigram_backoff_chain(spark):
    """n=3: a doc whose trigram is unseen but bigram is seen gets
    alpha^1 * bigram score at pos 2; effective order at pos 0/1 is
    1/2 (no BOS padding)."""
    from sift_spark.operators.lm import score_perplexity, train_ngram_lm

    clean = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b x y")], ["doc_id", "text"])
    lm = train_ngram_lm(clean, n=3)
    assert lm.total_tokens == 8

    docs = spark.createDataFrame([(20, "a b c")], ["doc_id", "text"])
    r = _scores(score_perplexity(docs, lm))[20]
    # pos0 'a': 2/8; pos1 'b'|'a': trib... o_eff=2: c2(a b)=2/x2=c1(a)=2
    # pos2 'c': trigram 'a b c' seen once, ctx 'a b' seen twice -> 1/2
    lp = math.log10(2 / 8) + math.log10(1.0) + math.log10(0.5)
    assert r["lm_logprob10"] == pytest.approx(lp, rel=1e-12)

    docs2 = spark.createDataFrame([(21, "x y d")], ["doc_id", "text"])
    r2 = _scores(score_perplexity(docs2, lm))[21]
    # pos0 'x': c1/N = 1/8; pos1 'y'|'x': c2('x y')=1 / c1(x)=1 = 1;
    # pos2 'd': trigram 'x y d' unseen, bigram 'y d' unseen -> two
    # backoff steps: alpha^2 * c1(d)/N = 0.16 * 1/8
    lp2 = (math.log10(1 / 8) + math.log10(1.0)
           + math.log10(0.4 ** 2 * (1 / 8)))
    assert r2["lm_logprob10"] == pytest.approx(lp2, rel=1e-12)


def test_udf_join_parity_and_filter(spark):
    """The narrow scorer ranks clean-slice-like text far below
    gibberish, and filter_by_perplexity keeps exactly the docs whose
    score_perplexity ppl is under the cutoff (null text dropped)."""
    from sift_spark.operators.lm import (
        filter_by_perplexity,
        score_perplexity,
        train_ngram_lm,
    )

    base = ("the quick brown fox jumps over the lazy dog and the dog "
            "barks at the quick fox while the lazy cat sleeps ")
    clean = spark.createDataFrame(
        [(i, base + f"sentence variant {i} ends here") for i in range(6)],
        ["doc_id", "text"])
    lm = train_ngram_lm(clean, n=3)

    docs = spark.createDataFrame(
        [(100, base + "sentence variant extra ends here"),
         (101, "zzz qqq xxx totally unseen gibberish vvv www"),
         (102, "the quick brown fox and the lazy dog"),
         (103, None)],
        "doc_id long, text string")
    u = _scores(score_perplexity(docs, lm))
    assert set(u) == {100, 101, 102, 103}
    # clean-slice-like docs score far below gibberish
    assert u[102]["lm_ppl"] < u[101]["lm_ppl"]

    cutoff = (u[102]["lm_ppl"] + u[101]["lm_ppl"]) / 2
    kept = {r["doc_id"] for r in filter_by_perplexity(
        docs, lm, cutoff).collect()}
    assert kept == {d for d, r in u.items()
                    if r["lm_ppl"] is not None and r["lm_ppl"] <= cutoff}
    assert 102 in kept and 101 not in kept and 103 not in kept


def test_reassigned_counts_destroy_stale_broadcast(spark):
    """Reassigning lm.counts (a prune) destroys the memoized broadcast
    of the old model -- driver copy included -- and the rescore uses the
    pruned model: its scores equal a fresh NgramLM's over the same
    pruned counts."""
    from pyspark.sql import functions as F

    from sift_spark.operators.lm import (
        NgramLM,
        score_perplexity,
        train_ngram_lm,
    )

    clean = spark.createDataFrame(
        [(1, "a a a b c"), (2, "a b a c a")], ["doc_id", "text"])
    lm = train_ngram_lm(clean, n=2)
    docs = spark.createDataFrame(
        [(10, "a b c"), (11, "c a b a")], ["doc_id", "text"])
    full = _scores(score_perplexity(docs, lm))
    first_bc = lm._udf_model_bc[0]
    assert first_bc._jbroadcast.isValid()

    lm.counts = lm.counts.filter(F.col("cnt") >= 2)
    rescored = _scores(score_perplexity(docs, lm))
    assert not first_bc._jbroadcast.isValid()
    assert lm._udf_model_bc[0] is not first_bc
    assert rescored != full  # 'b c' was pruned: doc 10 now backs off

    fresh = NgramLM(counts=lm.counts, n=lm.n, alpha=lm.alpha,
                    total_tokens=lm.total_tokens,
                    vocab_size=lm.vocab_size)
    assert rescored == _scores(score_perplexity(docs, fresh))


def test_save_load_roundtrip(spark, tmp_path):
    from sift_spark.operators.lm import (
        load_lm,
        score_perplexity,
        train_ngram_lm,
    )

    clean = spark.createDataFrame(
        [(1, "alpha beta gamma alpha beta")], ["doc_id", "text"])
    lm = train_ngram_lm(clean, n=2, alpha=0.3)
    from sift_spark.operators.lm import save_lm

    path = str(tmp_path / "lm_model")
    save_lm(lm, path)
    lm2 = load_lm(spark, path)
    assert (lm2.n, lm2.alpha, lm2.total_tokens, lm2.vocab_size) == \
        (2, 0.3, 5, 3)

    docs = spark.createDataFrame([(9, "alpha beta")], ["doc_id", "text"])
    a = _scores(score_perplexity(docs, lm))[9]
    b = _scores(score_perplexity(docs, lm2))[9]
    assert a["lm_logprob10"] == pytest.approx(b["lm_logprob10"],
                                              rel=1e-12)


def test_min_count_pruning_keeps_calibration(spark):
    """min_count prunes the count table but N stays the pre-pruning
    total -- pruned grams score as backoff, not as a renormalized
    model."""
    from sift_spark.operators.lm import train_ngram_lm

    clean = spark.createDataFrame(
        [(1, "a a a b")], ["doc_id", "text"])
    lm = train_ngram_lm(clean, n=2, min_count=2)
    assert lm.total_tokens == 4  # pre-pruning
    grams = {(r["order"], r["gram"]) for r in lm.counts.collect()}
    assert (1, "a") in grams and (1, "b") not in grams
    assert (2, "a a") in grams and (2, "a b") not in grams

    with pytest.raises(ValueError):
        train_ngram_lm(spark.createDataFrame(
            [(1, "")], ["doc_id", "text"]), n=2)
    with pytest.raises(ValueError):
        train_ngram_lm(clean, n=0)


def test_buckets_and_thresholds(spark):
    from sift_spark.operators.lm import (
        perplexity_bucket_col,
        perplexity_thresholds,
        score_perplexity,
        train_ngram_lm,
    )

    clean = spark.createDataFrame(
        [(i, "common words repeat common words repeat") for i in range(3)],
        ["doc_id", "text"])
    lm = train_ngram_lm(clean, n=2)
    docs = spark.createDataFrame(
        [(1, "common words repeat"), (2, "common strange mixture"),
         (3, "utterly alien gibberish tokens"), (4, None)],
        "doc_id long, text string")
    scored = score_perplexity(docs, lm)
    lo, hi = perplexity_thresholds(scored, (0.34, 0.67))
    assert lo <= hi
    buckets = {r["doc_id"]: r["b"] for r in scored.select(
        "doc_id", perplexity_bucket_col("lm_ppl", lo, hi).alias("b")
    ).collect()}
    assert buckets[1] == "head"
    assert buckets[3] == "tail"
    assert buckets[4] == "tail"  # null ppl is not clean text


def test_train_lm_cli_and_curation_gate(spark, tmp_path):
    """The job-level loop: `train-lm` saves a model from a clean
    corpus; `run_curation_job(lm_model=<path>, max_ppl=...)` loads it
    and drops the high-perplexity document while clean-slice-like text
    survives (stage after_ppl_gate in the funnel metrics)."""
    from sift_spark.job import main, run_curation_job

    base = ("the quiet village market opens early in the morning and "
            "the farmers arrange their stalls with fruit and bread "
            "while the church bell rings over the square. ")
    clean_dir = str(tmp_path / "clean_in")
    spark.createDataFrame(
        [(i, base + f"entry number {i} of the chronicle.")
         for i in range(5)],
        ["doc_id", "text"]).write.parquet(clean_dir)
    model_dir = str(tmp_path / "lm_model")
    main(["train-lm", "--input", clean_dir, "--output", model_dir,
          "--n", "3", "--min-count", "1"])

    from sift_spark.operators.lm import load_lm, score_perplexity

    lm = load_lm(spark, model_dir)
    assert lm.n == 3

    # both docs pass the heuristic gates; only the scrambled one has
    # high perplexity against the clean-slice model
    good = base + "entry number nine of the chronicle."
    scrambled = " ".join(reversed(good.replace(".", "").split())) + "."
    docs_dir = str(tmp_path / "gate_in")
    spark.createDataFrame(
        [(1, good), (2, scrambled)], ["doc_id", "text"]
    ).write.parquet(docs_dir)

    docs = spark.read.parquet(docs_dir)
    ppl = {r["doc_id"]: r["lm_ppl"]
           for r in score_perplexity(docs, lm).collect()}
    cutoff = (ppl[1] + ppl[2]) / 2
    assert ppl[1] < cutoff < ppl[2]

    out_dir = str(tmp_path / "gate_out")
    out, metrics = run_curation_job(
        spark, docs, out_dir, min_quality=0.0,
        lm_model=model_dir, max_ppl=cutoff)
    assert metrics["after_ppl_gate"] == 1
    assert {r["doc_id"] for r in out.collect()} == {1}


def test_filter_udf_path_is_narrow(spark):
    """filter_by_perplexity must not shuffle or join -- the score
    struct is computed and filtered in place."""
    import contextlib
    import io

    from sift_spark.operators.lm import (
        filter_by_perplexity,
        train_ngram_lm,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "beta gamma delta")],
        ["doc_id", "text"])
    lm = train_ngram_lm(docs, n=2)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        filter_by_perplexity(docs, lm, 100.0).explain("formatted")
    plan = buf.getvalue()
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_lm_model_without_threshold_fails_loudly(spark, tmp_path):
    """review r7: lm_model with max_ppl unset must raise, not silently
    skip the gate the operator asked for."""
    from sift_spark.job import run_curation_job

    docs = spark.createDataFrame(
        [(1, "some text here")], ["doc_id", "text"])
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    with pytest.raises(ValueError, match="max_ppl"):
        run_curation_job(spark, docs, str(tmp_path / "out"),
                         lm_model="/nonexistent/model")
    # raised before any Spark action: no job ran
    assert set(tracker.getJobIdsForGroup(None)) == before
