"""Seeded input generators. Every input is a pure function of the
workload seed, so the same seed gives byte-identical parquet inputs.

Pages come from `sift_spark.sources.fixtures.big_page_html`, keyed by
`seed * 1_000_000 + i`; curation documents are built here from a fixed
synthetic vocabulary with a per-seed `random.Random`.
"""

from __future__ import annotations

import datetime
import random

import pandas as pd

from sift_spark.sources.fixtures import big_page_html

_EPOCH = datetime.datetime(2025, 9, 1)


def page_key(seed, i):
    return seed * 1_000_000 + i


# Urls do not depend on the seed: every seed re-crawls the same site, so
# the url-hash layout (which task each page, and each fat page, lands in)
# is the same and only the content varies.
URL_PREFIX = "bench://site/page-"


def page_url(i):
    return f"{URL_PREFIX}{i}"


def page_html(seed, i, n_sections):
    """n_sections <= 0 keeps the generator's own section count."""
    return big_page_html(page_key(seed, i),
                         n_sections=n_sections if n_sections > 0 else None)


def write_pages(spark, path, seed, n_sections_list, n_files):
    """Generate one page per entry of n_sections_list in parallel on the
    Spark workers and write them as parquet with the `pages` schema
    (url, warc_ts, html, text, lang)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    @F.pandas_udf(T.BinaryType())
    def gen(i: pd.Series, n: pd.Series) -> pd.Series:
        return pd.Series([page_html(seed, int(a), int(b)).encode("utf-8")
                          for a, b in zip(i, n)])

    spec = spark.createDataFrame(pd.DataFrame({
        "i": range(len(n_sections_list)),
        "n": n_sections_list,
    })).repartition(n_files)
    spec.select(
        F.concat(F.lit(URL_PREFIX), F.col("i").cast("string")).alias("url"),
        (F.lit(_EPOCH) + F.make_interval(secs=F.col("i"))).alias("warc_ts"),
        gen("i", "n").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit("en").alias("lang"),
    ).write.mode("overwrite").parquet(path)


# ---- curation documents --------------------------------------------------

STOPWORDS = ("the and of to is that with a in for on it as was by this be "
             "are from at or an which").split()
GERMAN = ("der die und das ist nicht mit ein zu von den im auf sich es "
          "haus garten brot wasser stadt zeit").split()


def _vocabulary(n=1500):
    """A fixed pseudo-word vocabulary (independent of the seed): large
    enough that two unrelated documents share few 8-char shingles."""
    rng = random.Random(20250901)
    onsets = "b c d f g h k l m n p r s t v w br cl dr gr pl st tr".split()
    vowels = "a e i o u ai ea ou".split()
    codas = ["", "n", "r", "s", "t", "l", "nd", "st", "rk"]
    words = set()
    while len(words) < n:
        k = rng.randint(2, 3)
        words.add("".join(rng.choice(onsets) + rng.choice(vowels)
                          + rng.choice(codas) for _ in range(k)))
    return sorted(words)


VOCAB = _vocabulary()


def _sentence(rng, words=VOCAB, stop=STOPWORDS, p_stop=0.15):
    # a fixed word count keeps each workload's input volume nearly the
    # same for every seed
    toks = [rng.choice(stop) if rng.random() < p_stop else rng.choice(words)
            for _ in range(12)]
    return " ".join(toks).capitalize() + "."


def english_doc(rng, n_sentences=5):
    # the leading "The" guarantees an English marker word, so every
    # English document passes the language gate
    return "The " + " ".join(_sentence(rng) for _ in range(n_sentences))


def german_doc(rng, n_sentences=5):
    return " ".join(_sentence(rng, words=GERMAN, stop=GERMAN, p_stop=0.4)
                    for _ in range(n_sentences))


def gibberish_doc(rng, n_sentences=5):
    """English function words around random letter strings: passes the
    language and heuristic quality gates, fails the LM perplexity gate."""
    letters = "abcdefghijklmnopqrstuvwxyz"
    junk = ["".join(rng.choice(letters) for _ in range(rng.randint(5, 9)))
            for _ in range(400)]
    return "The " + " ".join(_sentence(rng, words=junk, p_stop=0.02)
                             for _ in range(n_sentences))


def small_edit(rng, text, n_edits=2):
    """Replace n_edits words, never the leading "The" (the language gate
    needs it): Jaccard of 8-char shingles stays around 0.9."""
    toks = text.split(" ")
    for _ in range(n_edits):
        j = rng.randrange(1, len(toks))
        toks[j] = rng.choice(VOCAB) + (toks[j][-1] if toks[j][-1] == "." else "")
    return " ".join(toks)


class CurationCorpus:
    """Week-1 documents, the clean LM slice and the week-2 batch, with the
    id sets the output check needs."""

    def __init__(self, seed, n_week1, n_clean, n_week2, n_recrawl, n_edits,
                 hot_size, n_groups, n_german, n_gibberish):
        rng = random.Random(seed * 7919 + 17)
        self.week1 = [(i, english_doc(rng)) for i in range(n_week1)]
        self.clean = [(500_000 + i, english_doc(rng)) for i in range(n_clean)]
        next_id = iter(range(1_000_000, 2_000_000))
        batch = []

        def add(kind, text):
            batch.append((next(next_id), text, kind))

        for doc_id, text in rng.sample(self.week1, n_recrawl):
            add("recrawl", text)
        for doc_id, text in rng.sample(self.week1, n_edits):
            add("edit", small_edit(rng, text))
        # one boilerplate text repeated with a distinct whitespace pattern
        # per member: the raw texts differ, the normalised texts (and so
        # every MinHash band) are identical, so each band bucket holds the
        # whole cluster, deterministically above the bucket cap. A fixed
        # 600-char boilerplate keeps the batch volume the same per seed.
        boilerplate = english_doc(rng, 10)[:600].split(" ")
        for j in range(hot_size):
            gaps = [" \n"[(j >> b) & 1] if b < 12 else " "
                    for b in range(len(boilerplate) - 1)]
            add("hot", "".join(w + g for w, g in zip(boilerplate, gaps))
                + boilerplate[-1])
        for _ in range(n_groups):
            base = english_doc(rng)
            add("group", base)
            add("group", small_edit(rng, base))
            add("group", small_edit(rng, base))
        for _ in range(n_german):
            add("german", german_doc(rng))
        for _ in range(n_gibberish):
            add("gibberish", gibberish_doc(rng))
        while len(batch) < n_week2:
            add("unique", english_doc(rng))
        rng.shuffle(batch)
        self.week2 = batch
        self.kind = {doc_id: kind for doc_id, _, kind in batch}
        self.text = {doc_id: text for doc_id, text, _ in batch}

    def ids(self, *kinds):
        return {d for d, k in self.kind.items() if k in kinds}

    @staticmethod
    def frame(rows):
        return pd.DataFrame({"doc_id": [r[0] for r in rows],
                             "text": [r[1] for r in rows]})
