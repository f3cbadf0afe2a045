"""Learned boilerplate classifier (operators/nodeclf.py): the
aggregation-only logistic-regression trainer, its bit-exact fixed-point
arithmetic, and the weak-label bootstrap over html_node_table."""

import pytest
from pyspark.sql import functions as F

from sift_spark.operators.nodeclf import (
    FEATURE_BITS,
    WEIGHT_BITS,
    logreg_score_col,
    node_boilerplate_classifier,
    power_of_two_lr,
    quantize_col,
    train_logreg,
    unit_feature_col,
)


def _toy_frame(spark, n=1500, seed=11):
    """Separable toy data on the exact feature grid."""
    import random

    rng = random.Random(seed)
    rows = [
        (
            rng.randrange(1024) / 1024.0,
            rng.randrange(1024) / 1024.0,
        )
        for _ in range(n)
    ]
    rows = [
        (x1, x2, 1 if 2 * x1 - x2 > 0.4 else 0) for x1, x2 in rows
    ]
    return spark.createDataFrame(rows, "x1 double, x2 double, y int")


def test_trains_separable_boundary(spark):
    df = _toy_frame(spark)
    model = train_logreg(df, ["x1", "x2"], "y", n_iter=12)
    scored = df.withColumn(
        "p", logreg_score_col(["x1", "x2"], model)
    )
    acc = scored.select(
        F.avg(
            ((F.col("p") > 0.5) == (F.col("y") == 1)).cast("int")
        ).alias("a")
    ).first()["a"]
    assert acc > 0.9
    # the learned direction matches the generating boundary 2*x1 - x2
    w1, w2 = model["weights"]
    assert w1 > 0 > w2


def test_partitioning_invariant_bits(spark):
    """The whole point of the fixed-point arrangement: same multiset of
    rows -> same weight BITS, however the data is partitioned. This is
    what makes the cluster-size scaling criterion byte-checkable."""
    df = _toy_frame(spark, n=800, seed=3)
    m1 = train_logreg(df.coalesce(1), ["x1", "x2"], "y", n_iter=8)
    m2 = train_logreg(df.repartition(13), ["x1", "x2"], "y", n_iter=8)
    assert m1 == m2


def test_rational_link_fits_fixtures(spark):
    """The rational sigmoid, the one link production and the oracle
    share, learns the separator on a second separable fixture."""
    df = _toy_frame(spark, n=600, seed=5)
    m = train_logreg(df, ["x1", "x2"], "y", n_iter=12)
    scored = df.withColumn("p", logreg_score_col(["x1", "x2"], m))
    acc = scored.select(
        F.avg(
            ((F.col("p") > 0.5) == (F.col("y") == 1)).cast("int")
        ).alias("a")
    ).first()["a"]
    assert acc > 0.9


def test_quantize_and_caps(spark):
    df = spark.createDataFrame(
        [(0.3,), (0.9999,), (1.7,), (0.0,)], "x double"
    )
    vals = [
        r["q"]
        for r in df.select(
            quantize_col(F.col("x"), FEATURE_BITS).alias("q")
        ).collect()
    ]
    scale = 1 << FEATURE_BITS
    for v in vals:
        assert (v * scale) == int(v * scale)  # exactly on the grid
    # unit_feature_col clips at the cap and lands in [0, 1]
    capped = [
        r["u"]
        for r in df.select(
            unit_feature_col(F.col("x") * 1000, 1024).alias("u")
        ).collect()
    ]
    assert all(0.0 <= v <= 1.0 for v in capped)
    with pytest.raises(ValueError):
        unit_feature_col(F.col("x"), 1000)  # not a power of two


def test_power_of_two_lr():
    assert power_of_two_lr(1000) == 4.0 / 1024
    assert power_of_two_lr(1024) == 4.0 / 1024
    assert power_of_two_lr(1025) == 4.0 / 2048
    with pytest.raises(ValueError):
        power_of_two_lr(0)


def test_weights_stay_on_grid(spark):
    """Every weight is an exact multiple of 2^-WEIGHT_BITS after any
    number of steps -- the invariant the oracle mirror relies on."""
    df = _toy_frame(spark, n=500, seed=9)
    m = train_logreg(df, ["x1", "x2"], "y", n_iter=7)
    scale = 1 << WEIGHT_BITS
    for w in [m["intercept"], *m["weights"]]:
        assert w * scale == int(w * scale)


def test_node_boilerplate_classifier(spark):
    """Weak-label bootstrap over the DOM node table: article nodes
    score higher than chrome nodes on held-in fixtures."""
    from sift_spark.operators.extract import html_node_table

    para = (
        "This paragraph carries enough natural english text to be "
        "scored as article content by the readability heuristics, "
        "with commas, and a decent length overall."
    )
    pages = []
    for i in range(6):
        html = (
            "<html><body>"
            '<nav class="menu"><a href="/">Home</a> <a href="/a">A</a>'
            "</nav>"
            f'<article class="post"><h1>Title {i}</h1><p>{para}</p>'
            f"<p>{para} Sentence {i} follows it.</p></article>"
            '<footer class="footer"><a href="/x">x</a> '
            '<a href="/y">y</a></footer>'
            "</body></html>"
        ).encode()
        pages.append((f"http://n{i}.example/", html))
    nodes = html_node_table(
        spark.createDataFrame(pages, "url string, html binary")
    )
    scored, model = node_boilerplate_classifier(nodes, n_iter=16)
    assert "node_score" in scored.columns
    rows = scored.collect()
    inside = [r["node_score"] for r in rows if r["in_article"]]
    outside = [r["node_score"] for r in rows if not r["in_article"]]
    assert inside and outside
    mean_in = sum(inside) / len(inside)
    mean_out = sum(outside) / len(outside)
    assert mean_in > mean_out
    # link-dense chrome specifically lands below article paragraphs
    nav = [r["node_score"] for r in rows if r["tag"] == "nav"]
    art_p = [
        r["node_score"]
        for r in rows
        if r["tag"] == "p" and r["in_article"]
    ]
    assert max(nav) < max(art_p)
