"""Deterministic, reproducible corpus sampling.

`df.sample()` is partition-layout dependent: the same fraction re-drawn
after a repartition (or on a different cluster size) selects DIFFERENT
rows, which breaks experiment reproducibility and resume. Training-data
pipelines sample by KEY HASH instead: a row is in the sample iff
h(key, seed) < rate * 2^32, so membership is a pure function of the row
-- stable across runs, partitionings, engines, and appends (new rows
join the sample at the same rate without disturbing old members).

The hash is the engine-portable md5 prefix (same construction as the
oracle-checked minhash twin), so a DuckDB/SQL oracle reproduces the
exact membership set.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .dedup import md5_prefix_col

_BUCKETS = 1 << 32


def sample_bucket_col(key_col, seed=0):
    """Uniform [0, 2^32) bucket from md5(key ':' seed): the first 8 hex
    chars parsed as an integer (native conv -- no UDF)."""
    return md5_prefix_col(
        F.concat(F.col(key_col).cast("string"), F.lit(f":{seed}")), 8
    )


def hash_sample(df, rate, key_col, seed=0):
    """Keep rows with bucket < rate * 2^32 (deterministic membership)."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    threshold = int(rate * _BUCKETS)
    return df.filter(sample_bucket_col(key_col, seed) < threshold)


def stratified_hash_sample(df, rates, stratum_col, key_col,
                           default_rate=0.0, seed=0):
    """Per-stratum deterministic rates -- the standard corpus-mixing
    primitive (e.g. keep 100% of high-quality English, 10% of the rest).
    rates: {stratum_value: rate}; strata not listed, and null strata,
    get default_rate.

    Thresholds int(rate * 2^32) are applied through a BROADCAST LEFT
    JOIN of a per-stratum rates table, so the plan stays flat however
    many strata there are: a url_host column has ~100k values on a
    crawl, and a when/otherwise chain over 2,000 strata already
    overflows the analyzer's stack."""
    if not 0.0 <= default_rate <= 1.0:
        raise ValueError(
            f"default_rate must be in [0, 1], got {default_rate}")
    for value, rate in rates.items():
        if not 0.0 <= rate <= 1.0:
            raise ValueError(f"rate for {value!r} must be in [0, 1]")
    default_threshold = F.lit(int(default_rate * _BUCKETS))
    if not rates:
        return df.filter(sample_bucket_col(key_col, seed) < default_threshold)
    rates_df = df.sparkSession.createDataFrame(
        [(value, int(rate * _BUCKETS)) for value, rate in rates.items()],
        ["_stratum", "_threshold"],
    )
    # qualified references + select(df["*"]) keep the caller's schema
    # exact even when df itself has a _stratum/_threshold column -- no
    # reserved names, no blind drop
    joined = df.join(
        F.broadcast(rates_df),
        df[stratum_col] == rates_df["_stratum"], "left",
    )
    return joined.filter(
        sample_bucket_col(key_col, seed)
        < F.coalesce(rates_df["_threshold"], default_threshold)
    ).select(df["*"])


def temperature_sampling_rates(df, stratum_col, alpha=0.5):
    """Per-stratum keep rates realizing TEMPERATURE SAMPLING by
    deterministic downsampling: with stratum shares p_i, the target
    distribution is q_i ~ p_i^alpha (Lample & Conneau, XLM, arXiv
    1901.07291 sec. 3.1; the multilingual/source rebalancing used by
    XLM-R- and GPT-3-style corpus mixes). Realized without upsampling:
    keep rate r_i ~ q_i / p_i = p_i^(alpha-1), normalized so the
    smallest stratum keeps everything (max rate 1.0). alpha=1 keeps the
    natural distribution; alpha=0 equalizes strata; alpha in between
    flattens head strata while keeping tails intact.

    The groupBy-count collect is one tiny driver-side list (one row per
    stratum -- same bounded-list pattern as the skewed-host pre-pass).
    For alpha=0.5 the rate expression uses only correctly-rounded IEEE
    ops (sqrt, divide), so a SQL oracle mirroring the same expression
    sequence reproduces the thresholds bit-for-bit; other alphas go
    through pow (still deterministic in-engine, just not proven
    cross-engine-exact)."""
    import math

    counts = {
        row[0]: row[1]
        for row in df.groupBy(stratum_col).count().collect()
        if row[0] is not None
    }
    if not counts:
        return {}
    if alpha == 0.5:
        weights = {k: 1.0 / math.sqrt(float(n)) for k, n in counts.items()}
    else:
        weights = {k: float(n) ** (alpha - 1.0) for k, n in counts.items()}
    wmax = max(weights.values())
    return {k: w / wmax for k, w in weights.items()}


def temperature_resample(df, stratum_col, key_col, alpha=0.5, seed=0,
                         default_rate=0.0):
    """Temperature-rebalanced corpus: :func:`stratified_hash_sample`
    with the rates from :func:`temperature_sampling_rates`.
    Deterministic, partition-layout invariant, append-stable -- the
    mixing step between per-source curation and packing.

    `default_rate` governs rows whose stratum has NO derived rate -- a
    null stratum, or a value unseen when rates were derived (appended
    rows): 0.0 (default) drops them; 1.0 keeps them all; in between
    hash-samples them at that rate (ADVICE r5: the drop must be a
    documented choice, not a silent side effect of an inner join)."""
    return stratified_hash_sample(
        df, temperature_sampling_rates(df, stratum_col, alpha),
        stratum_col, key_col, default_rate, seed,
    )
