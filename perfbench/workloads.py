"""The benchmark workloads.

Each workload is driven from outside the program: it generates its inputs
from the seed (`setup`), binds them to a live session (`attach`), runs the
program's public entry points once per iteration (`run`), and checks the
written output against an independent driver-side oracle (`check`).

`run` wraps every call into the program in `step(name)`, which sets the
Spark job description the traced run folds its metrics by.
"""

from __future__ import annotations

import os
import random
import re
import statistics

from pyspark.sql import functions as F

from sift_spark.core.counters import WORDS
from sift_spark.core.pipeline import (
    SiftParams,
    apply_content_transformations,
    run_sift,
)

from . import inputs


def _collect_by_url(spark, path, urls, cols):
    rows = (spark.read.parquet(path)
            .filter(F.col("url").isin(list(urls)))
            .select("url", *cols).collect())
    out = {}
    for r in rows:
        out.setdefault(r["url"], []).append(r)
    return out


NO_DEDUP = {f"operators.dedup.{k}": 0 for k in (
    "candidate_pairs", "verified_pairs", "pair_yield", "capped_band_rows",
    "seen_dropped_exact", "seen_dropped_minhash", "seen_dropped_simhash")}


class ExtractSearch:
    """The sift pipeline end to end: `job.run_extraction_job` over seeded
    `big_page_html` pages with a page-size tail (a few pages ~100x the
    median, two above the 4 MB fat-row threshold of
    `plans.partitioning`), then one seeded two-word query over the
    extracted Markdown on the select path (chunk -> BM25 -> exact
    selection) and the rank path (chunk -> bm25_scores -> rank_by_score,
    top 3)."""

    name = "extract_search"
    N_PAGES = 400
    TAIL_SECTIONS = (800, 800, 800)       # ~0.6 MB each, ~100x the median
    FAT_SECTIONS = (6000, 6000)           # ~4.4 MB each, above 4 MB
    N_PARTS = 16
    N_FILES = 4
    SAMPLE = 12
    TOP = 3
    params = SiftParams(counting_method=WORDS, max_units=1000)
    steps = ("extract", "select", "rank", "verify")

    def __init__(self, seed):
        self.seed = seed
        self.sections = ([0] * self.N_PAGES + list(self.TAIL_SECTIONS)
                         + list(self.FAT_SECTIONS))
        self.n_docs = len(self.sections)
        rng = random.Random(seed)
        normal = rng.sample(range(self.N_PAGES), self.SAMPLE)
        # one tail page and one fat page are checked too: the salted
        # layout must not lose or mangle the rows it sprays
        heavy = [self.N_PAGES, self.N_PAGES + len(self.TAIL_SECTIONS)]
        self.sample = sorted(normal) + heavy
        self.urls = [inputs.page_url(i) for i in self.sample]

    def setup(self, spark, dirpath):
        from sift_spark.plans.partitioning import DEFAULT_FAT_ROW_BYTES

        self.input = os.path.join(dirpath, "pages")
        inputs.write_pages(spark, self.input, self.seed, self.sections,
                           self.N_FILES)
        stats = spark.read.parquet(self.input).agg(
            F.count("*").alias("n"), F.sum(F.length("html")).alias("b"),
            F.sum((F.length("html") > DEFAULT_FAT_ROW_BYTES).cast("int"))
            .alias("fat")).first()
        if stats["n"] != self.n_docs or stats["fat"] != len(self.FAT_SECTIONS):
            raise RuntimeError(f"page generator drifted: {stats}")
        self.input_bytes = stats["b"]

    def attach(self, spark):
        pass

    def prepare_oracle(self, spark):
        self.html = {u: inputs.page_html(self.seed, i, self.sections[i])
                     for u, i in zip(self.urls, self.sample)}
        self.expected = {u: run_sift(h, self.params)
                         for u, h in self.html.items()}
        rng = random.Random(self.seed)
        vocab = sorted({w.lower() for text, _ in self.expected.values()
                        for w in text.split() if w.isalpha() and len(w) > 3})
        self.query = " ".join(rng.sample(vocab, 2))
        self.qparams = SiftParams(counting_method=WORDS, max_units=80,
                                  search_query=self.query)
        self.selected = {
            u: apply_content_transformations(text, self.qparams)
            for u, (text, error) in self.expected.items() if error is None}

    def kernel_docs(self):
        """(html list, markdown list) for the single-thread core timings:
        the normal pages of the checked sample."""
        return [self.html[u] for u in self.urls[:self.SAMPLE]], None

    def probe(self, spark):
        return {}

    def layer_metrics(self, records, probes):
        return dict(NO_DEDUP)

    def run(self, spark, out, step):
        from sift_spark.job import run_extraction_job
        from sift_spark.operators.chunking import chunk_pages
        from sift_spark.operators.search import (
            bm25_scores, rank_by_score, with_bm25_score,
        )
        from sift_spark.operators.selection_op import select_exact
        from sift_spark.plans.lineage import read_extracted

        with step("extract"):
            run_extraction_job(spark, spark.read.parquet(self.input), out,
                               self.params, n_parts=self.N_PARTS)
        md = (read_extracted(spark, out).filter(F.col("error").isNull())
              .select("url", F.col("text").alias("text_md")))
        q, qp = self.query, self.qparams
        with step("select"):
            scored = with_bm25_score(chunk_pages(md, qp), q)
            (select_exact(scored, qp, scored=True).write.mode("overwrite")
             .parquet(os.path.join(out, "select")))
        with step("rank"):
            (rank_by_score(bm25_scores(chunk_pages(md, qp), q))
             .filter(F.col("sel_rank") <= self.TOP).write.mode("overwrite")
             .parquet(os.path.join(out, "rank")))
        with step("verify"):
            return self.read(spark, out)

    def read(self, spark, out):
        """Read back everything the check needs from the written sinks."""
        from sift_spark.plans.lineage import read_lineage

        totals = read_lineage(spark, out).agg(
            F.sum("n_docs").alias("n"), F.sum("n_errors").alias("e"),
            F.sum("bytes_in").alias("b")).first().asDict()
        extracted = os.path.join(out, "extracted")
        sel, rank = os.path.join(out, "select"), os.path.join(out, "rank")
        return {
            "totals": totals,
            "n_rows": spark.read.parquet(extracted).count(),
            "got": _collect_by_url(spark, extracted, self.urls,
                                   ["text", "error"]),
            "n_select": spark.read.parquet(sel).count(),
            "n_rank_urls": spark.read.parquet(rank).select("url")
            .distinct().count(),
            "select": _collect_by_url(spark, sel, self.urls, ["text"]),
            "rank": _collect_by_url(spark, rank, self.urls,
                                    ["sel_rank", "score"]),
        }

    def check(self, result):
        """-> list of (url or '*', reason), one entry per failed doc; a
        count mismatch contributes its size."""
        bad = []
        for url, (text, error) in self.expected.items():
            rows = result["got"].get(url, [])
            want_text = text if error is None else None
            if (len(rows) != 1 or rows[0]["error"] != error
                    or rows[0]["text"] != want_text):
                bad.append((url, "extracted text/error differs from "
                                 "core.run_sift"))
        for url, want in self.selected.items():
            rows = result["select"].get(url, [])
            if len(rows) != 1 or rows[0]["text"] != want:
                bad.append((url, "selected text differs from "
                                 "core.apply_content_transformations"))
            ranks = sorted(result["rank"].get(url, []),
                           key=lambda r: r["sel_rank"])
            scores = [r["score"] for r in ranks]
            if (not ranks or len(ranks) > self.TOP
                    or [r["sel_rank"] for r in ranks]
                    != list(range(1, len(ranks) + 1))
                    or scores != sorted(scores, reverse=True)):
                bad.append((url, "rank rows malformed"))
        missing = abs(self.n_docs - result["n_rows"])
        bad += [("*", "extracted row count differs from input")] * missing
        t = result["totals"]
        if t["n"] != self.n_docs or t["b"] != self.input_bytes or t["e"]:
            bad.append(("*", f"lineage totals {t} != input "
                             f"({self.n_docs} docs, {self.input_bytes} B)"))
        # both query paths chunk the same corpus: one selected text per
        # url that has chunks, and every such url ranked
        gap = abs(result["n_select"] - result["n_rank_urls"])
        bad += [("*", "select/rank url counts differ")] * gap
        return bad


class CurateIncremental:
    """Week-2 curation against week-1 exact/minhash/simhash snapshots with
    the LM perplexity gate, plus in-batch MinHash near-dup clustering."""

    name = "curate_incremental"
    N_WEEK1 = 600
    N_CLEAN = 200
    N_WEEK2 = 1500
    N_RECRAWL = 80
    N_EDITS = 40
    HOT_SIZE = 1200      # above the default max_bucket_size=1000
    N_GROUPS = 20        # in-batch near-dup triples
    N_GERMAN = 20
    N_GIBBERISH = 20
    MAX_PPL = 150000.0   # English docs score 2e4-6e4, gibberish 3e5 and up
    MIN_JACCARD = 0.7    # minhash_near_duplicates' default
    SHINGLE_K = 8
    steps = ("curate", "cluster", "verify")

    def __init__(self, seed):
        self.seed = seed
        self.corpus = inputs.CurationCorpus(
            seed, self.N_WEEK1, self.N_CLEAN, self.N_WEEK2, self.N_RECRAWL,
            self.N_EDITS, self.HOT_SIZE, self.N_GROUPS, self.N_GERMAN,
            self.N_GIBBERISH)
        self.n_docs = self.N_WEEK2
        self.input_bytes = sum(len(t.encode()) for _, t, _ in
                               self.corpus.week2)
        # exact dedup keeps the smallest id of the hot cluster
        hot = self.corpus.ids("hot")
        self.must_survive = self.corpus.ids("unique", "group") | {min(hot)}
        self.must_drop = (self.corpus.ids("recrawl", "german", "gibberish")
                          | (hot - {min(hot)}))
        self._shingle_sets = {}

    def setup(self, spark, dirpath):
        from sift_spark.job import run_curation_job
        from sift_spark.operators.lm import save_lm, train_ngram_lm

        c = self.corpus
        week1 = os.path.join(dirpath, "week1")
        spark.createDataFrame(c.frame(c.week1)).write.mode(
            "overwrite").parquet(week1)
        self.week1_out = os.path.join(dirpath, "week1_curated")
        run_curation_job(spark, spark.read.parquet(week1), self.week1_out,
                         write_hashes=True, write_sigs=True,
                         write_simhash=True)
        clean = spark.createDataFrame(c.frame(c.clean))
        self.lm_path = os.path.join(dirpath, "lm")
        save_lm(train_ngram_lm(clean, min_count=2), self.lm_path)
        self.input = os.path.join(dirpath, "week2")
        spark.createDataFrame(c.frame(c.week2)).write.mode(
            "overwrite").parquet(self.input)

    def attach(self, spark):
        from sift_spark.operators.lm import load_lm

        self.lm = load_lm(spark, self.lm_path)
        self.seen = {s: spark.read.parquet(f"{self.week1_out}_{s}")
                     for s in ("hashes", "sigs", "simhash")}

    def prepare_oracle(self, spark):
        pass

    def kernel_docs(self):
        unique = sorted(self.corpus.ids("unique"))[:16]
        return None, [self.corpus.text[d] for d in unique]

    def probe(self, spark):
        """Traced-run only, outside the timed iterations: the LSH
        candidate pairs the clustering step verifies (counted with
        minhash_near_duplicates' defaults), and what each seen loop drops
        when the three run in the job's order on the ungated batch. The
        job's own stage funnel is not used: its Observation counts come
        back empty for most stages of this plan."""
        from sift_spark.operators.dedup import (
            char_shingles, dedup_against_seen, dedup_against_seen_minhash,
            dedup_against_seen_simhash, lsh_candidate_pairs,
            minhash_signatures,
        )

        batch = spark.read.parquet(self.input)
        sigs = minhash_signatures(
            char_shingles(batch, self.SHINGLE_K, distinct=False))
        exact = dedup_against_seen(batch, self.seen["hashes"])
        near = dedup_against_seen_minhash(exact, self.seen["sigs"])
        sim = dedup_against_seen_simhash(near, self.seen["simhash"])
        n = [df.count() for df in (batch, exact, near, sim)]
        return {
            "candidate_pairs": lsh_candidate_pairs(
                sigs, max_bucket_size=1000).count(),
            "seen_dropped_exact": n[0] - n[1],
            "seen_dropped_minhash": n[1] - n[2],
            "seen_dropped_simhash": n[2] - n[3],
        }

    def layer_metrics(self, records, probes):
        med = statistics.median
        records = [r for r in records if r["result"]] or [
            {"result": {"pairs": [], "capped_band_rows": 0}}]
        verified = med(len(r["result"]["pairs"]) for r in records)
        cand = probes["candidate_pairs"]
        return {
            "operators.dedup.candidate_pairs": cand,
            "operators.dedup.verified_pairs": verified,
            "operators.dedup.pair_yield": verified / cand if cand else 0.0,
            "operators.dedup.capped_band_rows": med(
                r["result"]["capped_band_rows"] for r in records),
            **{f"operators.dedup.{k}": probes[k] for k in (
                "seen_dropped_exact", "seen_dropped_minhash",
                "seen_dropped_simhash")},
        }

    def run(self, spark, out, step):
        from sift_spark.job import run_curation_job
        from sift_spark.operators.dedup import (
            bucket_cap_observation, connected_components,
            minhash_near_duplicates,
        )

        batch = spark.read.parquet(self.input)
        curated_path = os.path.join(out, "curated")
        with step("curate"):
            run_curation_job(
                spark, batch, curated_path,
                seen_df=self.seen["hashes"], write_hashes=True,
                seen_sigs_df=self.seen["sigs"], write_sigs=True,
                seen_simhash_df=self.seen["simhash"], write_simhash=True,
                lm_model=self.lm, max_ppl=self.MAX_PPL)
        pairs_path = os.path.join(out, "pairs")
        with step("cluster"):
            cap = bucket_cap_observation("perfbench_cap")
            (minhash_near_duplicates(batch, observation=cap)
             .write.mode("overwrite").parquet(pairs_path))
            (connected_components(spark.read.parquet(pairs_path))
             .write.mode("overwrite")
             .parquet(os.path.join(out, "components")))
        with step("verify"):
            result = self.read(spark, out)
        try:
            result["capped_band_rows"] = cap.get.get("n_dropped_rows") or 0
        except Exception:  # noqa: BLE001 -- AQE-pruned observation
            result["capped_band_rows"] = 0
        return result

    def read(self, spark, out):
        """Read back everything the check needs from the written sinks."""
        def rows(name):
            return spark.read.parquet(os.path.join(out, name)).collect()

        return {
            "kept": {r["doc_id"] for r in rows("curated")},
            "pairs": [(r["id_a"], r["id_b"]) for r in rows("pairs")],
            "components": {r["doc_id"]: r["component_id"]
                           for r in rows("components")},
        }

    def _shingles(self, doc_id):
        if doc_id not in self._shingle_sets:
            # normalized_text_col: lower-case, collapse [ \t\r\n\f]+ runs
            t = re.sub(r"[ \t\r\n\f]+", " ",
                       self.corpus.text[doc_id].lower()).strip()
            k = self.SHINGLE_K
            self._shingle_sets[doc_id] = {
                t[i:i + k] for i in range(max(len(t) - k + 1, 1))}
        return self._shingle_sets[doc_id]

    def jaccard(self, a, b):
        sa, sb = self._shingles(a), self._shingles(b)
        return len(sa & sb) / len(sa | sb)

    def check(self, result):
        kept = result["kept"]
        bad = [(d, "exact duplicate, re-crawl or gated doc survived")
               for d in sorted(kept & self.must_drop)]
        bad += [(d, "unique doc that passes the gates was dropped")
                for d in sorted(self.must_survive - kept)]
        comp = result["components"]
        for a, b in result["pairs"]:
            if round(self.jaccard(a, b), 6) < self.MIN_JACCARD:
                bad.append((f"{a},{b}", "near-dup pair below the "
                                        "Jaccard threshold"))
            elif comp.get(a) is None or comp.get(a) != comp.get(b):
                bad.append((f"{a},{b}", "pair split across components"))
        return bad


WORKLOADS = {w.name: w for w in (ExtractSearch, CurateIncremental)}
# every workload's traced run reports the per-step metrics of all steps
ALL_STEPS = tuple(dict.fromkeys(s for w in WORKLOADS.values()
                                for s in w.steps))
