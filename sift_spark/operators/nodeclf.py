"""Learned boilerplate classifier: batch logistic regression trained by
pure DataFrame aggregations (no MLlib, no UDFs in the training loop).

Closes the loop `html_node_table` was built for (operators/extract.py):
the readability extractor emits per-node features plus its own keep
decision as a weak `in_article` label; a linear classifier trained on
that table generalises the hand-tuned heuristic and yields a
continuous `node_score` for threshold sweeps and extraction debugging
(reference semantics: the Go engine's readability port scores nodes
with fixed heuristics, go-readability scoring in its pinned dep -- this
operator LEARNS those weights from the heuristic's own output).

Spark-first shape: each gradient-descent step is ONE aggregation job
(a handful of `sum()` columns -- map-side partial aggregation, a
few-numbers shuffle), and the feature frame is cached once, so a
`n_iter`-step fit costs `n_iter` cheap passes over a cached projection.
That is the textbook distributed batch-GD layout and it scales to any
corpus the cluster can cache (or re-scan: caching is an optimisation,
not a correctness requirement).

Bit-exactness (the part that makes the driver-gate oracle possible):
the whole fit is arranged so every intermediate is EXACTLY
representable in float64 and every engine computes identical bits --
 * features are quantised to `2^-FEATURE_BITS` multiples in [0, 1]
   (power-of-two scaling + floor: exact),
 * weights are kept on a `2^-WEIGHT_BITS` grid (gradient updates are
   floor-quantised before the subtraction, so `w - h` never rounds),
 * the link is the RATIONAL sigmoid `0.5 + 0.5 * z / (1 + |z|)`:
   + - * / are IEEE-754 correctly rounded, hence bit-identical across
   engines, unlike `exp()` whose last-ulp behaviour is libm-specific,
 * per-row probabilities are floor-quantised to the weight grid before
   entering the gradient sums, so the sums add exactly representable
   values whose running total stays inside 53 bits -- float addition
   is then EXACT, and therefore order- and partitioning-independent.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

FEATURE_BITS = 10  # features live on a 2^-10 grid in [0, 1]
WEIGHT_BITS = 20  # weights / probabilities live on a 2^-20 grid
_WEIGHT_CLAMP = 16.0  # keeps z bounded so all products stay exact


def quantize_col(col, bits):
    """floor(x * 2^bits) / 2^bits -- exact power-of-two fixed-point."""
    scale = float(1 << bits)
    return F.floor(col * F.lit(scale)) / F.lit(scale)


def unit_feature_col(col, cap):
    """Map a non-negative raw feature onto the [0, 1) feature grid:
    min(x, cap-ish)/cap then floor-quantise. `cap` MUST be a power of
    two so the division is exact scaling."""
    if cap & (cap - 1):
        raise ValueError(f"cap must be a power of two, got {cap}")
    clipped = F.least(col.cast("double"), F.lit(float(cap)))
    return quantize_col(clipped / F.lit(float(cap)), FEATURE_BITS)


def rational_sigmoid_col(z):
    """0.5 + 0.5 * z / (1 + |z|): a monotone (0,1) link built only from
    correctly-rounded IEEE ops -- bit-identical on every engine."""
    return F.lit(0.5) + F.lit(0.5) * z / (F.lit(1.0) + F.abs(z))


def power_of_two_lr(n_rows):
    """Learning rate '4 / 2^ceil(log2 n)': a power of two (exact
    scaling) that normalises the un-averaged gradient sum by ~n."""
    if n_rows <= 0:
        raise ValueError("empty training frame")
    return 4.0 / float(1 << (n_rows - 1).bit_length())


def _score_expr(feature_cols, weights, intercept):
    z = F.lit(float(intercept))
    for name, w in zip(feature_cols, weights):
        z = z + F.lit(float(w)) * F.col(name)
    return rational_sigmoid_col(z)


def train_logreg(df, feature_cols, label_col, n_iter=12):
    """Fixed-iteration batch gradient descent for logistic regression.

    Each step evaluates the current linear score against the cached
    feature projection and aggregates `sum(p - y)` and
    `sum((p - y) * x_j)` in ONE job; the (k+1)-number gradient comes
    back to the driver, which applies the quantised update. Weights
    start at exactly 0 and remain on the 2^-WEIGHT_BITS grid.

    Returns `{"intercept": b, "weights": [w_j...], "lr": lr,
    "n_rows": n}`.  Deterministic: same data (as a multiset) -> same
    bits, regardless of partitioning or cluster size.
    """
    proj = df.select(
        *[F.col(c).cast("double").alias(c) for c in feature_cols],
        F.col(label_col).cast("double").alias("__y"),
    ).persist()
    try:
        n_rows = proj.count()
        lr = power_of_two_lr(n_rows)
        wscale = float(1 << WEIGHT_BITS)
        intercept, weights = 0.0, [0.0] * len(feature_cols)
        for _ in range(n_iter):
            p = quantize_col(
                _score_expr(feature_cols, weights, intercept),
                WEIGHT_BITS,
            )
            d = (p - F.col("__y")).alias("__d")
            grads = proj.select(d, *feature_cols).agg(
                F.sum("__d").alias("__gb"),
                *[
                    F.sum(F.col("__d") * F.col(c)).alias(f"__g{i}")
                    for i, c in enumerate(feature_cols)
                ],
            ).first()
            # floor-quantise lr*g onto the weight grid FIRST so the
            # update subtraction is exact (both operands on the grid)
            def _step(g):
                return math.floor(lr * g * wscale) / wscale

            intercept = _clamp(intercept - _step(grads["__gb"]))
            weights = [
                _clamp(w - _step(grads[f"__g{i}"]))
                for i, w in enumerate(weights)
            ]
    finally:
        proj.unpersist()
    return {
        "intercept": intercept,
        "weights": weights,
        "lr": lr,
        "n_rows": n_rows,
    }


def _clamp(w):
    return max(-_WEIGHT_CLAMP, min(_WEIGHT_CLAMP, w))


def logreg_score_col(feature_cols, model):
    """Probability column for a fitted model over the same features."""
    return _score_expr(feature_cols, model["weights"], model["intercept"])


# ---------------------------------------------------------------------------
# the boilerplate classifier over the DOM node table


NODE_FEATURES = (
    "f_text",
    "f_link",
    "f_ldens",
    "f_cweight",
    "f_depth",
)


def node_feature_cols(nodes_df):
    """Project html_node_table rows onto the [0,1] feature grid:
    capped subtree text/link lengths, link density, shifted class
    weight, capped depth. All caps are powers of two (exact)."""
    return nodes_df.withColumns(
        {
            "f_text": unit_feature_col(F.col("text_len"), 4096),
            "f_link": unit_feature_col(F.col("link_len"), 1024),
            "f_ldens": quantize_col(
                F.least(F.col("link_density").cast("double"), F.lit(1.0)),
                FEATURE_BITS,
            ),
            # class_weight is a small signed heuristic (+-~50); shift
            # into [0, 256) then scale by the power-of-two cap
            "f_cweight": unit_feature_col(
                F.greatest(
                    F.col("class_weight").cast("double") + F.lit(128.0),
                    F.lit(0.0),
                ),
                256,
            ),
            "f_depth": unit_feature_col(F.col("depth"), 32),
        }
    )


def node_boilerplate_classifier(nodes_df, n_iter):
    """Train on the readability weak label and score every node.

    Returns `(scored_df, model)`: the input plus a `node_score`
    probability column (higher = more article-like). The weak label is
    the extractor's own keep decision, so the classifier distils the
    readability heuristic into a monotone score usable for threshold
    sweeps -- the standard weak-supervision bootstrap when no human
    labels exist."""
    feats = node_feature_cols(nodes_df).withColumn(
        "in_article_int", F.col("in_article").cast("int")
    )
    model = train_logreg(
        feats, list(NODE_FEATURES), "in_article_int", n_iter=n_iter
    )
    scored = feats.withColumn(
        "node_score", logreg_score_col(list(NODE_FEATURES), model)
    ).drop("in_article_int")
    return scored, model
