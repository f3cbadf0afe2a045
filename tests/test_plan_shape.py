"""Physical-plan regression tests: the scale properties we rely on are
asserted, not assumed (SURVEY.md §4). A refactor that silently adds a
shuffle or drops pushdown fails here, not at 100 TB."""

import contextlib
import io
import re

import pytest
from pyspark.sql import functions as F

from sift_spark.core.counters import CHARS, TOKENS, WORDS
from sift_spark.core.pipeline import SiftParams
from sift_spark.operators.extract import extract_pages
from sift_spark.sources.fixtures import build_pages_df


def plan_of(df):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def count_nodes(plan, node_name):
    """Count physical nodes by their detail headers ('(N) NodeName');
    the tree section prints each node a second time."""
    return len(re.findall(rf"^\(\d+\) {node_name}\b", plan, re.M))


@pytest.fixture(scope="module")
def pages_parquet(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans") / "pages")
    build_pages_df(spark, n_big=4).write.parquet(path)
    return spark.read.parquet(path)


def test_extraction_is_shuffle_free(spark, pages_parquet):
    params = SiftParams(counting_method=WORDS, max_units=50)
    plan = plan_of(extract_pages(pages_parquet, params))
    assert count_nodes(plan, "Exchange") == 0, (
        "extraction must stay a narrow pipeline"
    )


def test_filter_pushdown_reaches_scan(spark, pages_parquet):
    params = SiftParams(counting_method=WORDS, max_units=50)
    plan = plan_of(
        extract_pages(pages_parquet.filter(F.col("lang") == "en"), params)
    )
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan


def test_column_pruning_drops_unused_columns(spark, pages_parquet):
    params = SiftParams(counting_method=WORDS, max_units=50)
    plan = plan_of(extract_pages(pages_parquet, params))
    # the scan must read only url + html: warc_ts / text / lang pruned
    assert "ReadSchema: struct<url:string,html:binary>" in plan


@pytest.mark.parametrize("method", [WORDS, CHARS, TOKENS])
def test_chunk_pipeline_is_shuffle_free(spark, method):
    from sift_spark.operators.chunking import chunk_pages

    md = spark.createDataFrame(
        [("u", "text " * 300)], ["url", "text_md"]
    )
    plan = plan_of(chunk_pages(md, SiftParams(counting_method=method)))
    # the UDF returns each row's chunk count and each chunk's unit count,
    # so the positional threshold needs no url window and no counting
    # method adds a Python stage: no Exchange, one Python pass per
    # document
    assert count_nodes(plan, "Exchange") == 0
    assert count_nodes(plan, "ArrowEvalPython") == 1


def _search_chunks(spark):
    from sift_spark.operators.chunking import chunk_pages

    md = spark.createDataFrame(
        [("u1", "# Spark\n\nspark streams data " * 40),
         ("u2", "other words about data " * 60)], ["url", "text_md"]
    )
    params = SiftParams(counting_method=WORDS, max_units=40,
                        search_query="spark data")
    return chunk_pages(md, params), params


def test_select_chain_one_shuffle_one_python_pass(spark):
    """chunk -> BM25 -> exact select: the chunk UDF's field-term bag
    feeds BM25 (no second Arrow stage), and the selection's url
    repartition reuses the corpus-stats window's hash partitioning."""
    from sift_spark.operators.search import with_bm25_score
    from sift_spark.operators.selection_op import select_exact

    chunks, params = _search_chunks(spark)
    scored = with_bm25_score(chunks, params.search_query)
    plan = plan_of(select_exact(scored, params, scored=True))
    assert count_nodes(plan, "Exchange") == 1, plan
    assert count_nodes(plan, "ArrowEvalPython") == 1, plan
    assert count_nodes(plan, "MapInPandas") == 1, plan


def test_rank_chain_one_shuffle_one_python_pass(spark):
    from sift_spark.operators.search import bm25_scores, rank_by_score

    chunks, params = _search_chunks(spark)
    plan = plan_of(rank_by_score(bm25_scores(chunks, params.search_query)))
    assert count_nodes(plan, "Exchange") == 1, plan
    assert count_nodes(plan, "ArrowEvalPython") == 1, plan


def test_bm25_no_joins(spark):
    from sift_spark.operators.search import bm25_scores

    chunks = spark.createDataFrame(
        [("u", 0, "spark streams data"), ("u", 1, "other words")],
        ["url", "chunk_idx", "chunk_text"],
    )
    plan = plan_of(bm25_scores(chunks, "spark data"))
    # single-branch scoring: array folds replace the explode/groupBy and
    # the zero-chunk restore join -- NO join of any kind, and exactly one
    # Exchange (the url corpus-stats window)
    joins = (
        count_nodes(plan, "SortMergeJoin")
        + count_nodes(plan, "BroadcastHashJoin")
        + count_nodes(plan, "ShuffledHashJoin")
        + count_nodes(plan, "BroadcastNestedLoopJoin")
        + count_nodes(plan, "CartesianProduct")
    )
    assert joins == 0
    assert count_nodes(plan, "Exchange") == 1
    # the field-term UDF is evaluated once, not once per referencing expr
    assert count_nodes(plan, "ArrowEvalPython") == 1


def test_broadcast_in_tfidf(spark):
    from sift_spark.operators.search import tfidf_scores

    chunks = spark.createDataFrame(
        [("u", 0, "spark streams data"), ("u", 1, "other words")],
        ["url", "chunk_idx", "chunk_text"],
    )
    plan = plan_of(tfidf_scores(chunks, "spark data"))
    assert "BroadcastHashJoin" in plan  # corpus sizes broadcast, never SMJ


def test_topk_is_take_ordered(spark):
    from sift_spark.operators.similarity import cosine_topk

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    plan = plan_of(cosine_topk(emb, [1.0, 0.0], k=5))
    # per-partition top-k + driver merge, never a global sort
    assert "TakeOrderedAndProject" in plan


def test_neardup_pipelines_avoid_cartesian_products(spark):
    """Every near-dup pair generator must join on a blocking/bucket key;
    a CartesianProduct or BroadcastNestedLoopJoin in the plan means the
    O(n^2) form leaked in and the operator dies at crawl scale."""
    from sift_spark.operators.dedup import (
        minhash_near_duplicates,
        simhash_pairs_from_hashes,
    )
    from sift_spark.operators.similarity import embedding_near_duplicates

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma epsilon")],
        ["doc_id", "text"],
    )
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    hashed = spark.createDataFrame(
        [(1, 12345), (2, 12349)], "doc_id long, simhash long"
    )
    plans = {
        "minhash": plan_of(minhash_near_duplicates(docs, n_hashes=16,
                                                   n_bands=4)),
        "simhash": plan_of(simhash_pairs_from_hashes(hashed)),
        "embedding": plan_of(embedding_near_duplicates(emb, dim=2)),
    }
    for name, plan in plans.items():
        assert count_nodes(plan, "CartesianProduct") == 0, name
        assert count_nodes(plan, "BroadcastNestedLoopJoin") == 0, name


def test_minhash_signature_branch_single_shuffle(spark):
    """Signatures come from the raw shingle multiset: explode -> map-side
    partial min-agg -> ONE exchange on the id. A distinct creeping back
    in would add a full shuffle of the shingle table -- the biggest data
    volume in the dedup pipeline at crawl scale."""
    from sift_spark.operators.dedup import char_shingles, minhash_signatures

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon")], ["doc_id", "text"]
    )
    plan = plan_of(
        minhash_signatures(char_shingles(docs, distinct=False), n_hashes=8)
    )
    assert count_nodes(plan, "Exchange") == 1


def test_select_format_reuses_one_url_partitioning(spark):
    """budget window (url), separator lag window (url) and the final
    groupBy(url) must share ONE hash partitioning on url -- a refactor
    that re-keys any stage adds a crawl-scale shuffle here."""
    from sift_spark.operators.selection_op import (
        budget_filter,
        format_selected,
    )

    chunks = spark.createDataFrame(
        [("u1", i, f"chunk {i} text", 8) for i in range(6)]
        + [("u2", i, f"other {i}", 8) for i in range(4)],
        ["url", "chunk_idx", "chunk_text", "n_units"],
    )
    ranked = chunks.withColumn("sel_rank", F.col("chunk_idx"))
    plan = plan_of(format_selected(budget_filter(ranked, 40)))
    assert count_nodes(plan, "Exchange") == 1, plan


def test_winnowing_normalizes_text_once(spark):
    """The whole-document regexp_replace must appear exactly once in the
    optimized plan -- referencing it inside the per-position transform
    lambda re-evaluates it per gram (O(doc_len^2) regex work per doc)."""
    from sift_spark.operators.textstats import winnowing_fingerprints

    docs = spark.createDataFrame(
        [(1, "some document text to fingerprint")], ["doc_id", "text"]
    )
    optimized = (
        winnowing_fingerprints(docs)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert optimized.count("regexp_replace") == 1, optimized


def test_curation_broadcasts_keeper_side(spark):
    """corpus_curation joins the (small) keeper-id table to the profile
    projection: the join must not shuffle the full profile side -- either
    a broadcast join or one exchange for the content-hash agg, never a
    sort-merge on the documents scan itself."""
    import __spark_entry__ as entry

    df = entry.queries()["corpus_curation"](
        spark, "/root/testdata/sf0.001"
    )
    plan = plan_of(df)
    assert count_nodes(plan, "CartesianProduct") == 0
    assert count_nodes(plan, "BroadcastNestedLoopJoin") == 0
    # keeper agg needs one exchange; the equi-join itself is broadcast
    assert count_nodes(plan, "BroadcastHashJoin") >= 1, plan


def test_decontaminate_broadcasts_benchmark_grams(spark):
    """The benchmark gram set must BROADCAST: the corpus is never
    shuffled for the collision join -- only colliding grams reach the
    per-doc count aggregation. A SortMergeJoin here would shuffle the
    entire exploded corpus at 100 TB."""
    from sift_spark.operators.decontam import ngram_decontaminate

    corpus = spark.createDataFrame(
        [(1, "w1 w2 w3 w4 w5")], ["doc_id", "text"])
    bench = spark.createDataFrame([(2, "w2 w3 w4")], ["doc_id", "text"])
    plan = plan_of(ngram_decontaminate(corpus, bench, n=3))
    assert "BroadcastHashJoin" in plan
    # exactly two shuffle Exchanges: the (tiny) benchmark distinct and
    # the post-join per-doc count -- per-doc gram dedup and totals are
    # native array ops, so the full corpus gram table never shuffles
    assert count_nodes(plan, "Exchange") == 2


def test_pii_pass_is_shuffle_free(spark):
    """Profile + redaction are narrow projections: zero Exchanges."""
    from sift_spark.operators.pii import pii_profile, redact_pii

    df = spark.createDataFrame([(1, "a@b.co")], ["doc_id", "text"])
    plan = plan_of(redact_pii(pii_profile(df)))
    assert count_nodes(plan, "Exchange") == 0


def test_pack_sequences_single_shuffle(spark):
    """Packing is one Exchange (the shard hash) + a grouped-map kernel;
    token counts and shard assignment are narrow column math."""
    from sift_spark.operators.packing import pack_sequences

    docs = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    plan = plan_of(pack_sequences(docs, budget=8, n_shards=4))
    assert count_nodes(plan, "Exchange") == 1
    assert "FlatMapGroupsInPandas" in plan


def test_materialize_packed_sequences_plan_shape(spark):
    """Buffer materialization: an equi-join of the assignment back to
    the text (never a cartesian/nested-loop), exactly one grouped-map
    kernel per stage family (the packer + the encoder), and bounded
    shuffles -- count UDF is narrow, so Exchanges come only from the
    shard groupBy, the join, and the (shard, seq_no) groupBy."""
    from sift_spark.operators.packing import materialize_packed_sequences

    docs = spark.createDataFrame([(1, "a b c"), (2, "d e")],
                                 ["doc_id", "text"])
    plan = plan_of(materialize_packed_sequences(
        docs, budget=8, n_shards=4, portable_hash=True))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert count_nodes(plan, "FlatMapGroupsInPandas") == 2
    assert count_nodes(plan, "Exchange") <= 4


def test_blocklist_gate_broadcasts_and_stays_narrow(spark):
    """filter_blocked_hosts: the blocklist side broadcasts (UT1-class
    lists are tens of MB) and the corpus side must NOT shuffle -- the
    gate is a narrow anti-join a crawl can afford before extraction."""
    from sift_spark.operators.urlnorm import filter_blocked_hosts

    docs = spark.createDataFrame(
        [(1, "https://a.example/x"), (2, "https://b.example/y")],
        ["doc_id", "url"])
    plan = plan_of(filter_blocked_hosts(docs, ["b.example"]))
    assert count_nodes(plan, "BroadcastHashJoin") == 1
    assert "LeftAnti" in plan
    # the ONLY exchange is the tiny blocklist's own distinct; the
    # corpus side is projections straight into the join
    assert count_nodes(plan, "Exchange") <= 1
    assert "hashpartitioning(_blocked" in plan or \
        count_nodes(plan, "Exchange") == 0
    # host regexp evaluated once per row (two-step projection), not
    # inlined ~8x into the domain CASE inside the join key
    assert plan.count("regexp_extract") <= 2


def test_span_dedup_rolling_plan_shape(spark):
    """duplicated_span_dedup (rolling): two Arrow-batched kernels (the
    O(n) window hasher + the excision pass), equi-joins only, and the
    shuffle count bounded at the three key families (window-hash
    window, per-doc position groupBy, join back to the text)."""
    from sift_spark.operators.dedup import duplicated_span_dedup

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "a b c d e f g h")],
        ["doc_id", "text"])
    plan = plan_of(duplicated_span_dedup(docs, k=4))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert count_nodes(plan, "ArrowEvalPython") == 2
    assert count_nodes(plan, "Exchange") <= 4


def test_bucketed_seen_snapshot_skips_snapshot_exchange(spark, tmp_path):
    """The weekly exact-dedup anti-join must NOT re-shuffle a snapshot
    written by write_seen_bucketed: fed the bucketed catalog table, the
    plan carries exactly ONE Exchange (the new batch, into the bucket
    count) while the plain-path snapshot costs two -- and both forms
    keep identical outputs. Broadcast is disabled for the assertion so
    the shuffle-join shape (the crawl-scale reality; a 10^12-doc hash
    table never broadcasts) is what gets planned."""
    from pyspark.sql import functions as F

    from sift_spark.operators.dedup import (
        content_hash_col,
        dedup_against_seen,
        write_seen_bucketed,
    )

    docs = spark.createDataFrame(
        [(i, f"doc body {i % 7}") for i in range(40)],
        ["doc_id", "text"],
    )
    seen = docs.filter(F.col("doc_id") % 2 == 0).select(
        content_hash_col("text").alias("content_hash")
    )
    new = docs.filter(F.col("doc_id") % 3 == 0)
    spark.sql("DROP TABLE IF EXISTS _test_seen_bucketed")
    seen_b = write_seen_bucketed(
        seen, "_test_seen_bucketed", n_buckets=4,
        path=str(tmp_path / "seen_bucketed"),
    )
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan_plain = plan_of(dedup_against_seen(new, seen))
        plan_bucketed = plan_of(dedup_against_seen(new, seen_b))
        assert count_nodes(plan_plain, "Exchange") == 2
        assert count_nodes(plan_bucketed, "Exchange") == 1, plan_bucketed
        assert "Bucketed: true" in plan_bucketed
        a = sorted(r["doc_id"]
                   for r in dedup_against_seen(new, seen).collect())
        b = sorted(r["doc_id"]
                   for r in dedup_against_seen(new, seen_b).collect())
        assert a == b
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS _test_seen_bucketed")


def test_lm_udf_scorer_is_narrow(spark):
    """score_perplexity must stay shuffle-free: one ArrowEvalPython
    node, zero Exchanges, no join -- the ship-the-model-to-workers
    shape."""
    from sift_spark.operators.lm import score_perplexity, train_ngram_lm

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "beta gamma delta")],
        ["doc_id", "text"])
    lm = train_ngram_lm(docs, n=2)
    plan = plan_of(score_perplexity(docs, lm))
    assert count_nodes(plan, "ArrowEvalPython") == 1
    assert count_nodes(plan, "Exchange") == 0
    assert "Join" not in plan


def test_curation_sink_reads_the_staged_gate_batch(
        spark, tmp_path, monkeypatch):
    """run_curation_job stages its gated batch, so the LM scorer runs
    once per document: the staging write's executed plan holds exactly
    one scorer node and the curated sink's none, although the minhash
    and simhash seen loops each read their input twice (recomputing the
    gates put dozens of scorer copies in the sink plan). dedup_exact
    and the exact seen loop read their input once, with no null-text
    split or union, so the curated sink evaluates simhash64_udf once
    and holds no Union."""
    from pyspark.sql.readwriter import DataFrameWriter

    from sift_spark.job import run_curation_job
    from sift_spark.operators.lm import train_ngram_lm

    base = ("the quick brown fox jumps over the lazy dog and the story "
            "continues with plenty of good english words in sentences "
            "that pass the quality gates easily today. ")
    week1 = spark.createDataFrame(
        [(i, base + f"week one document {i}.") for i in range(3)],
        ["doc_id", "text"])
    out1 = str(tmp_path / "w1")
    run_curation_job(spark, week1, out1, write_hashes=True,
                     write_sigs=True, write_simhash=True)
    week2 = spark.createDataFrame(
        [(10 + i, base + f"week two document {i}.") for i in range(3)],
        ["doc_id", "text"])

    plans = {}
    real_parquet = DataFrameWriter.parquet

    def capture(self, path, *args, **kwargs):
        plans[path] = (self._df._jdf.queryExecution().executedPlan()
                       .toString())
        return real_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", capture)
    out2 = str(tmp_path / "w2")
    run_curation_job(
        spark, week2, out2,
        seen_df=spark.read.parquet(out1 + "_hashes"),
        seen_sigs_df=spark.read.parquet(out1 + "_sigs"),
        seen_simhash_df=spark.read.parquet(out1 + "_simhash"),
        lm_model=train_ngram_lm(week1, n=2), max_ppl=1e12)

    def scorer_nodes(plan):
        # the LM and classifier scorers are both the pandas UDF `_score`
        return sum(1 for line in plan.splitlines()
                   if "ArrowEvalPython" in line and "_score(" in line)

    staged = [p for p in plans if "_gated-" in p]
    assert len(staged) == 1
    assert scorer_nodes(plans[staged[0]]) == 1
    assert scorer_nodes(plans[out2]) == 0
    sink = plans[out2].splitlines()
    assert sum(1 for line in sink if "ArrowEvalPython" in line
               and "simhash64_udf" in line) == 1, plans[out2]
    assert not any(re.search(r"\bUnion\b", line) for line in sink), \
        plans[out2]


@pytest.mark.parametrize(
    "operator", ["simhash_near_duplicates", "dedup_against_seen_simhash"])
def test_simhash_near_duplicates_hashes_once_and_caches_nothing(
        spark, operator):
    """Both simhash near-dup operators evaluate simhash64_udf once per
    row and cache nothing: after the action the executed plan holds one
    ArrowEvalPython node and no RDD stays persisted. The in-batch pairs
    (cap on and off; the other join branch reads the hashes through a
    ReusedExchange) equal an all-pairs Hamming filter over the same
    hashes; the seen loop keeps exactly the docs more than 3 bits from
    every snapshot hash."""
    from sift_spark.operators.dedup import (
        dedup_against_seen_simhash,
        simhash64_udf,
        simhash_near_duplicates,
    )

    base = " ".join(f"token{i}" for i in range(60))
    rows = ([(i, base) for i in range(4)]
            + [(10, base.replace("token7 ", "token7x ")),
               (11, " ".join(f"other{i}" for i in range(60)))]
            + [(20 + i, f"short document {i} about topic {i % 3}")
               for i in range(12)])
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    hashes = {r["doc_id"]: r["h"] for r in docs.select(
        "doc_id", simhash64_udf("text").alias("h")).collect()}
    expected = {
        (a, b, bin((hashes[a] ^ hashes[b]) & (2**64 - 1)).count("1"))
        for a in hashes for b in hashes
        if a < b and bin((hashes[a] ^ hashes[b]) & (2**64 - 1)).count("1") <= 3
    }
    assert len(expected) >= 7  # the 4 copies, the near copy and more

    def final_plan(df):
        return (df._jdf.queryExecution().executedPlan().toString()
                .split("== Initial Plan ==")[0])

    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    if operator == "simhash_near_duplicates":
        for cap in (None, 1000):
            pairs = simhash_near_duplicates(docs, max_bucket_size=cap)
            got = {(r["id_a"], r["id_b"], r["hamming"])
                   for r in pairs.collect()}
            assert got == expected
            final = final_plan(pairs)
            assert final.count("ArrowEvalPython") == 1, final
            assert "ReusedExchange" in final, final
    else:
        snapshot = [hashes[0], hashes[11], hashes[20]]
        seen = spark.createDataFrame(
            [(100 + i, h) for i, h in enumerate(snapshot)],
            "doc_id long, simhash long")
        kept = dedup_against_seen_simhash(docs, seen)
        assert {r["doc_id"] for r in kept.collect()} == {
            d for d, h in hashes.items()
            if all(bin((h ^ s) & (2**64 - 1)).count("1") > 3
                   for s in snapshot)
        }
        final = final_plan(kept)
        assert final.count("ArrowEvalPython") == 1, final
    assert jsc.getPersistentRDDs().size() == before
