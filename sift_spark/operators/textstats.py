"""Text analysis operators: language-ID, quality scoring, token counting,
document fingerprinting.

Everything here is NATIVE column math (regexp / split / aggregate) so the
whole stage compiles to JVM codegen -- these run over every document of a
100 TB corpus, so no Python in the path. The winnowing fingerprint
(sampled k-gram hashes) is the one windowed construct and still native.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .dedup import md5_hash60, normalized_text_col

# marker words per language for the n-gram/stopword heuristic -- small,
# deterministic, SQL-expressible (the same lists appear in oracle_sql)
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is", "that", "with"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "mit"],
    "es": ["el", "la", "los", "que", "de", "es", "con"],
    "fr": ["le", "la", "les", "et", "est", "que", "dans"],
}

# explicit whitespace class: Java \s includes \x0b, RE2 (DuckDB) does
# not -- the oracle gate needs both engines to agree
TOKEN_PATTERN = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \t\r\n\f]"


def words_col(col):
    return F.filter(F.split(F.lower(col), r"[^a-z']+"), lambda w: w != "")


def marker_hits_col(col, markers):
    words = words_col(col)
    marker_arr = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(words, lambda w: F.array_contains(marker_arr, w)))


def lang_id_col(col):
    """Heuristic language guess: argmax of marker-word hit counts,
    'und' (undetermined) when nothing matches. Deterministic tie-break by
    language order en > de > es > fr."""
    hits = {lang: marker_hits_col(col, m) for lang, m in LANG_MARKERS.items()}
    best = F.greatest(*hits.values())
    expr = F.lit("und")
    for lang in reversed(list(LANG_MARKERS)):  # earlier langs win ties
        expr = F.when((hits[lang] > 0) & (hits[lang] == best), F.lit(lang)).otherwise(
            expr
        )
    return expr


def quality_cols(col):
    """Quality-scoring feature columns (all native):
    n_chars, n_words, mean_word_len, punct_ratio, digit_ratio,
    upper_ratio, stopword_ratio, quality_score in [0,1]."""
    n_chars = F.length(col)
    words = F.filter(F.split(col, r"[ \t\r\n\f]+"), lambda w: w != "")
    n_words = F.size(words)
    total_word_chars = F.aggregate(
        words, F.lit(0), lambda acc, w: acc + F.length(w)
    )
    mean_word_len = F.when(
        n_words > 0, total_word_chars.cast("double") / n_words
    ).otherwise(F.lit(0.0))
    n_punct = F.length(F.regexp_replace(col, r"[^.,;:!?'\"()-]", ""))
    n_digit = F.length(F.regexp_replace(col, r"[^0-9]", ""))
    n_upper = F.length(F.regexp_replace(col, r"[^A-Z]", ""))
    safe_chars = F.greatest(n_chars, F.lit(1)).cast("double")
    en_markers = F.array(*[F.lit(m) for m in LANG_MARKERS["en"]])
    stop_hits = F.size(
        F.filter(words_col(col), lambda w: F.array_contains(en_markers, w))
    )
    lower_words = words_col(col)
    stop_ratio = F.when(
        F.size(lower_words) > 0,
        stop_hits.cast("double") / F.size(lower_words),
    ).otherwise(F.lit(0.0))

    # simple monotone quality score: length sweet spot, moderate
    # punctuation, some stopwords, few digits
    length_score = F.least(n_words.cast("double") / 100.0, F.lit(1.0))
    punct_score = F.lit(1.0) - F.least(
        n_punct.cast("double") / safe_chars * 10.0, F.lit(1.0)
    )
    digit_score = F.lit(1.0) - F.least(
        n_digit.cast("double") / safe_chars * 5.0, F.lit(1.0)
    )
    stop_score = F.least(stop_ratio * 5.0, F.lit(1.0))
    quality = F.round(
        (length_score + punct_score + digit_score + stop_score) / 4.0, 6
    )
    return {
        "n_chars": n_chars,
        "n_words": n_words,
        "mean_word_len": F.round(mean_word_len, 6),
        "punct_ratio": F.round(n_punct / safe_chars, 6),
        "digit_ratio": F.round(n_digit / safe_chars, 6),
        "upper_ratio": F.round(n_upper / safe_chars, 6),
        "stopword_ratio": F.round(stop_ratio, 6),
        "quality_score": quality,
    }


GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
# Gopher quality-rule thresholds (Rae et al. 2021, §A1.1)
GOPHER_MIN_WORDS, GOPHER_MAX_WORDS = 50, 100_000
GOPHER_MIN_MEAN_WORD_LEN, GOPHER_MAX_MEAN_WORD_LEN = 3.0, 10.0
GOPHER_MAX_BULLET_RATIO = 0.9
GOPHER_MAX_ELLIPSIS_RATIO = 0.3
GOPHER_MIN_ALPHA_WORD_RATIO = 0.8
GOPHER_MIN_STOPWORD_HITS = 2
C4_MIN_SENTENCES = 3  # C4 page rule (Raffel et al. 2020, §2.2)
C4_MIN_LINE_WORDS = 5  # C4 line rule (same section)


def _all_rules_pass(rules):
    """AND-fold a rule dict into one boolean column (shared by the
    Gopher and C4 builders so pass-aggregation semantics live once)."""
    passes = None
    for rule in rules.values():
        passes = rule if passes is None else (passes & rule)
    return passes


def gopher_rules_cols(col):
    """Gopher document-quality rules (Rae et al. 2021, "Scaling Language
    Models: ... Gopher", §A1.1 -- the de-facto public web-corpus filter
    set) as NATIVE boolean columns:

      word count in [50, 100k]; mean word length in [3, 10]; <= 90% of
      lines bullet-started; <= 30% of lines ellipsis-ended; >= 80% of
      words contain an alphabetic char; >= 2 distinct Gopher stop words.

    Returns a dict of rule name -> boolean column plus 'passes_gopher'
    (AND of all). Every rule is SQL-reproducible for the oracle gate."""
    words = F.filter(F.split(col, r"[ \t\r\n\f]+"), lambda w: w != "")
    n_words = F.size(words)
    mean_wl = F.when(n_words > 0, F.round(
        F.aggregate(words, F.lit(0), lambda a, w: a + F.length(w))
        / n_words, 6)).otherwise(F.lit(0.0))
    # line handling is trim-free and newline-convention-complete for
    # the same engine-portability reason as c4_line_clean_col (review
    # r6 pass 5): Java trim strips all chars <= 0x20, DuckDB trim
    # strips spaces only, so every whitespace tolerance lives in the
    # regexes, and CRLF / lone-CR input splits identically
    lines = F.filter(
        F.split(col, r"\r\n|\r|\n"),
        lambda ln: ln.rlike(r"[^ \t\r\f]"),
    )
    n_lines = F.greatest(F.size(lines), F.lit(1))
    bullet_ratio = F.round(
        F.size(F.filter(
            lines, lambda ln: ln.rlike(r"^[ \t\f]*[-*•]")
        )) / n_lines, 6)
    ellipsis_ratio = F.round(
        F.size(F.filter(
            lines, lambda ln: ln.rlike(r"(\.\.\.|…)[ \t\f]*$")
        )) / n_lines, 6)
    alpha_ratio = F.when(n_words > 0, F.round(
        F.size(F.filter(words, lambda w: w.rlike(r"[A-Za-z]")))
        / n_words, 6)).otherwise(F.lit(0.0))
    stop_arr = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    stop_hits = F.size(F.array_intersect(
        F.array_distinct(words_col(col)), stop_arr
    ))

    rules = {
        "rule_word_count": (n_words >= GOPHER_MIN_WORDS)
        & (n_words <= GOPHER_MAX_WORDS),
        "rule_mean_word_len": (mean_wl >= GOPHER_MIN_MEAN_WORD_LEN)
        & (mean_wl <= GOPHER_MAX_MEAN_WORD_LEN),
        "rule_bullet_lines": bullet_ratio <= GOPHER_MAX_BULLET_RATIO,
        "rule_ellipsis_lines": ellipsis_ratio <= GOPHER_MAX_ELLIPSIS_RATIO,
        "rule_alpha_words": alpha_ratio >= GOPHER_MIN_ALPHA_WORD_RATIO,
        "rule_stopwords": stop_hits >= GOPHER_MIN_STOPWORD_HITS,
    }
    rules["passes_gopher"] = _all_rules_pass(rules)
    return rules


def c4_rules_cols(col):
    """C4 document-level heuristics (Raffel et al. 2020, "Exploring the
    Limits of Transfer Learning with a Unified Text-to-Text
    Transformer", §2.2 -- the other canonical public web-corpus filter
    set next to Gopher) as native boolean columns:

      >= 3 sentences (approximated portably as >= 3 terminal-
      punctuation characters -- the paper's sentence splitter is an
      unpublished heuristic, and a punct count is the SQL-reproducible
      stand-in); no "lorem ipsum" placeholder text; no '{' (code
      leakage into prose pages).

    The paper's bad-words page filter is deliberately NOT here: word
    blocklists are a policy input, not an engine constant (compose
    with a benchmark-style broadcast list if needed). Returns rule
    name -> boolean column plus 'passes_c4'."""
    n_terminal = F.length(col) - F.length(
        F.regexp_replace(col, r"[.!?]", "")
    )
    rules = {
        "rule_min_sentences": n_terminal >= C4_MIN_SENTENCES,
        "rule_no_lorem": ~F.lower(col).contains("lorem ipsum"),
        "rule_no_brace": ~col.contains("{"),
    }
    rules["passes_c4"] = _all_rules_pass(rules)
    return rules


def c4_line_clean_col(col):
    """C4's LINE filter (Raffel et al. 2020 §2.2) as a native column
    transform: keep only lines that end in terminal punctuation
    (./!/?/closing quote, trailing whitespace tolerated) and carry at
    least C4_MIN_LINE_WORDS words; survivors rejoin with '\\n' in
    document order. Entirely narrow -- array ops inside whole-stage
    codegen, no shuffle, no UDF -- so it composes into any scan-side
    projection for free. Returns struct(text_clean, n_lines, n_kept).

    Engine portability (review r6 passes 4+5, verified divergence):
    lines split on '\\r\\n|\\r|\\n' -- CRLF, lone-CR (classic Mac) and
    LF conventions all shed their terminators instead of smuggling
    '\\r' into text_clean -- and the terminal check tolerates trailing
    whitespace VIA THE REGEX rather than trim(): Java trim strips all
    control chars <= 0x20 while DuckDB trim strips spaces only, so a
    trim-based check silently disagrees across engines on '\\t'/'\\r'
    tails."""
    lines = F.split(col, r"\r\n|\r|\n")

    def keeps(ln):
        words = F.filter(
            F.split(ln, r"[ \t\r\f]+"), lambda w: w != ""
        )
        return (F.size(words) >= C4_MIN_LINE_WORDS) & ln.rlike(
            r'[.!?"][ \t\r\f]*$'
        )

    kept = F.filter(lines, keeps)
    return F.struct(
        F.array_join(kept, "\n").alias("text_clean"),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept"),
    )


def repetition_profile(docs_df):
    """Within-document repetition metrics (the other half of the Gopher
    filter set): duplicate-word fraction, most-frequent-word share, and
    most-frequent-bigram share per document.

    dup_word_frac is pure array math (no shuffle); the top-share metrics
    need a per-(doc, gram) count -> explode + two-level aggregation,
    shuffled on (doc, gram) then doc -- both keys are fine-grained, so
    the shape holds at crawl scale."""
    words = F.filter(
        F.split(F.lower(F.col("text")), r"[ \t\r\n\f]+"), lambda w: w != ""
    )
    base = docs_df.select(
        F.col("doc_id"),
        F.size(words).alias("n_words"),
        F.round(
            F.when(
                F.size(words) > 0,
                1.0 - F.size(F.array_distinct(words)) / F.size(words),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("dup_word_frac"),
        words.alias("_w"),
    )
    grams = base.select(
        "doc_id", "n_words",
        F.explode(
            F.flatten(F.array(
                F.col("_w"),
                F.zip_with(
                    F.col("_w"),
                    F.slice(F.col("_w"), 2, F.greatest(
                        F.size(F.col("_w")) - 1, F.lit(1))),
                    lambda a, b: F.concat(a, F.lit(" "), b),
                ),
            ))
        ).alias("gram"),
    ).filter(
        # zip_with pads the trailing bigram with null -- drop it
        F.col("gram").isNotNull()
    ).withColumn("is_bigram", F.col("gram").contains(" "))
    counts = grams.groupBy("doc_id", "n_words", "is_bigram", "gram").agg(
        F.count("*").alias("n")
    )
    tops = counts.groupBy("doc_id", "n_words", "is_bigram").agg(
        F.max("n").alias("top_n")
    )
    shares = tops.groupBy("doc_id", "n_words").pivot(
        "is_bigram", [False, True]
    ).agg(F.first("top_n"))
    return (
        base.select("doc_id", "dup_word_frac",
                    F.col("n_words").alias("_nw"))
        .join(shares, "doc_id", "left")
        .withColumn("n_words", F.coalesce(F.col("n_words"), F.col("_nw")))
        .select(
            "doc_id",
            "dup_word_frac",
            F.round(
                F.coalesce(F.col("false"), F.lit(0))
                / F.greatest(F.col("n_words"), F.lit(1)), 6
            ).alias("top_word_share"),
            F.round(
                F.coalesce(F.col("true"), F.lit(0))
                / F.greatest(F.col("n_words") - 1, F.lit(1)), 6
            ).alias("top_bigram_share"),
        )
    )


def token_count_col(col):
    """BPE-ish token estimate: regex token classes (letters / digits /
    punctuation marks), native regexp_count."""
    return F.size(F.regexp_extract_all(col, F.lit(TOKEN_PATTERN), 0))


def whitespace_token_count_col(col):
    return F.size(F.filter(F.split(col, r"[ \t\r\n\f]+"), lambda t: t != ""))


def fingerprint_col(col):
    """Whole-document fingerprint: md5 of normalized text (exactly
    reproducible in any SQL engine for the oracle gate)."""
    return F.md5(normalized_text_col(col))


def winnowing_fingerprints(docs_df):
    """Winnowing (Schleimer et al., SIGMOD'03): k-gram hashes (k = 8
    chars), keep the min of each SLIDING window of `window` = 4
    consecutive grams, dedupe -> (id, fingerprint) set. Sliding (not
    tumbling) windows are what give winnowing its guarantee: any shared
    substring of length >= window + k - 1 yields at least one shared
    fingerprint regardless of alignment. Documents with fewer than
    `window` grams degrade to their single overall min (still
    fingerprinted). Gram hashes are the md5-derived 60-bit md5_hash60,
    so the DuckDB oracle reproduces every fingerprint (oracle row
    `winnowing_md5`)."""
    k, window = 8, 4
    # materialize the normalized text ONCE per row before the per-position
    # transform: referencing the regexp_replace expression inside the
    # lambda re-evaluates it for every gram position (O(doc_len^2) regex
    # work per doc) -- same hazard fixed in dedup.char_shingles
    norm_docs = docs_df.select(
        F.col("doc_id"), normalized_text_col(F.col("text")).alias("_t"))
    positions = F.sequence(
        F.lit(1), F.greatest(F.length("_t") - (k - 1), F.lit(1))
    )
    grams = norm_docs.select(
        F.col("doc_id"),
        F.posexplode(F.transform(
            positions, lambda i: md5_hash60(F.col("_t").substr(i, F.lit(k)))
        )).alias("pos", "gram_hash"),
    )
    slide = (
        Window.partitionBy("doc_id").orderBy("pos")
        .rowsBetween(0, window - 1)
    )
    per_doc = Window.partitionBy("doc_id")
    return (
        grams.withColumn("win_min", F.min("gram_hash").over(slide))
        .withColumn("n_grams", F.count("*").over(per_doc))
        .filter(
            F.col("pos")
            <= F.greatest(F.col("n_grams") - window, F.lit(0))
        )
        .select("doc_id", F.col("win_min").alias("fingerprint"))
        .distinct()
    )


def text_profile(docs_df):
    """One-stop analysis table: language, quality features, token counts,
    fingerprint. Single narrow projection."""
    quality = quality_cols(F.col("text"))
    return docs_df.select(
        F.col("doc_id"),
        lang_id_col(F.col("text")).alias("lang_guess"),
        *[expr.alias(name) for name, expr in quality.items()],
        token_count_col(F.col("text")).alias("n_tokens"),
        whitespace_token_count_col(F.col("text")).alias("n_ws_tokens"),
        fingerprint_col(F.col("text")).alias("fingerprint"),
    )
