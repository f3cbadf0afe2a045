"""Dedup / similarity / textstats / multimodal operators."""

import math

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


# ---- dedup ------------------------------------------------------------------------


def test_exact_dedup(spark):
    from sift_spark.operators.dedup import dedup_exact, exact_duplicates

    rows = [
        (1, "Hello   World"), (2, "hello world"), (3, "different text"),
        (4, "Hello world"), (5, "another one"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    groups = exact_duplicates(df).collect()
    dup_group = [g for g in groups if g["n_dups"] > 1]
    assert len(dup_group) == 1
    assert dup_group[0]["n_dups"] == 3 and dup_group[0]["keep_id"] == 1

    kept = sorted(r["doc_id"] for r in dedup_exact(df).collect())
    assert kept == [1, 3, 5]


@pytest.mark.parametrize("portable", [False, True])
def test_minhash_lsh_finds_near_duplicates(spark, portable):
    from sift_spark.operators.dedup import minhash_near_duplicates

    base = ("the quick brown fox jumps over the lazy dog and keeps running "
            "through the quiet forest while the sun sets slowly behind hills")
    near = base.replace("quiet", "silent")
    distinct = ("completely unrelated content about database engines and "
                "vectorized execution with columnar storage layouts")
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, distinct), (4, base)], ["doc_id", "text"]
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_near_duplicates(
            df, min_jaccard=0.5, portable_hash=portable
        ).collect()
    }
    assert (1, 4) in pairs and pairs[(1, 4)] == 1.0
    assert (1, 2) in pairs and 0.5 <= pairs[(1, 2)] < 1.0
    assert not any(3 in pair for pair in pairs)


def test_minhash_pipeline_builds_without_driver_actions(spark):
    """n_hashes is threaded from the caller, so constructing the full
    LSH pipeline is pure plan building -- the round-1 `.first()` probe
    triggered a whole upstream job mid-plan (hours at 100 TB)."""
    from sift_spark.operators.dedup import minhash_near_duplicates

    df = spark.createDataFrame([(1, "some text here")], ["doc_id", "text"])
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    minhash_near_duplicates(df, n_hashes=16, n_bands=4)  # plan only
    after = set(tracker.getJobIdsForGroup(None))
    assert before == after, "building the LSH plan must not launch jobs"


def test_jaccard_exact_values(spark):
    from sift_spark.operators.dedup import jaccard_pairs, word_ngrams

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d x")], ["doc_id", "text"]
    )
    grams = word_ngrams(df, n=2)
    pair = jaccard_pairs(grams, shingle_col="ngram").collect()[0]
    # bigrams doc1: {a b, b c, c d, d e}; doc2: {a b, b c, c d, d x}
    assert pair["n_common"] == 3
    assert pair["jaccard"] == pytest.approx(3 / 5)


def test_simhash_near_duplicates(spark):
    from sift_spark.operators.dedup import simhash_near_duplicates

    base = " ".join(f"token{i}" for i in range(60))
    near = base.replace("token7 ", "token7x ")
    far = " ".join(f"other{i}" for i in range(60))
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far), (4, base)], ["doc_id", "text"]
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_duplicates(df, max_hamming=6).collect()
    }
    assert pairs.get((1, 4)) == 0
    assert (1, 2) in pairs and pairs[(1, 2)] <= 6
    assert not any(3 in pair for pair in pairs)


# ---- similarity -------------------------------------------------------------------


def test_cosine_topk_matches_numpy(spark, embeddings):
    import numpy as np

    from sift_spark.operators.similarity import cosine_topk

    rows = embeddings.collect()
    query = list(rows[0]["embedding"])
    got = cosine_topk(embeddings, query, k=10).collect()

    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    ids = np.array([r["vec_id"] for r in rows])
    qv = np.array(query, dtype=np.float64)
    cos = mat @ qv / (np.linalg.norm(mat, axis=1) * np.linalg.norm(qv))
    order = sorted(zip(-np.round(cos, 6), ids))[:10]
    expected = [(vid, -c) for c, vid in order]
    assert [(r["vec_id"], r["cosine"]) for r in got] == [
        (vid, pytest.approx(c)) for vid, c in expected
    ]
    assert got[0]["vec_id"] == rows[0]["vec_id"]
    assert got[0]["cosine"] == pytest.approx(1.0)


def test_lsh_topk_recall(spark, embeddings):
    from sift_spark.operators.similarity import cosine_topk, lsh_cosine_topk

    query = list(embeddings.first()["embedding"])
    brute = [r["vec_id"] for r in cosine_topk(embeddings, query, k=5).collect()]
    approx = [r["vec_id"]
              for r in lsh_cosine_topk(embeddings, query, k=5).collect()]
    # the query vector itself must always be found
    assert brute[0] in approx
    # sane recall on this small corpus
    assert len(set(brute) & set(approx)) >= 2


def test_embedding_near_duplicates(spark):
    from sift_spark.operators.similarity import embedding_near_duplicates

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.04, 0.0, 0.0]),   # near-dup of 1
        (3, [0.0, 1.0, 0.0, 0.0]),      # orthogonal
        (4, [1.0, 0.0, 0.0, 0.0]),      # exact dup of 1
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {(r["id_a"], r["id_b"]): r["cosine"]
             for r in embedding_near_duplicates(df, dim=4, min_cosine=0.95)
             .collect()}
    assert pairs.get((1, 4)) == pytest.approx(1.0)
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)


def test_semdedup(spark):
    """SemDeDup (Abbas et al. 2023): k-means-clustered semantic dedup.
    Planted near-dup pairs are caught when they share a cluster; the
    min-id keeper leaves one representative per chain; degenerate
    n_clusters=1 equals the exact all-pairs scan (the gate-row form)."""
    from sift_spark.operators.similarity import (
        semdedup,
        semdedup_pairs,
    )

    # two well-separated clusters, each with a planted near-dup
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.9995, 0.01, 0.0, 0.0]),   # near-dup of 1
        (3, [0.0, 0.0, 1.0, 0.0]),
        (4, [0.0, 0.0, 0.9995, 0.01]),   # near-dup of 3
        (5, [0.5, 0.5, 0.5, 0.5]),       # lonely
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    pairs = {(r["id_a"], r["id_b"])
             for r in semdedup_pairs(df, n_clusters=2,
                                     min_cosine=0.99).collect()}
    assert (1, 2) in pairs and (3, 4) in pairs
    assert not any(5 in p for p in pairs)

    kept = {r["vec_id"] for r in semdedup(
        df, n_clusters=2, min_cosine=0.99).collect()}
    assert kept == {1, 3, 5}  # min-id keeper per near-dup chain

    # degenerate one-cluster form == exact all-pairs (the same identity
    # the driver-gate row relies on)
    sem1 = {(r["id_a"], r["id_b"], r["cosine"]) for r in semdedup_pairs(
        df, n_clusters=1, min_cosine=0.99).collect()}
    a = df.alias("a")
    b = df.alias("b")
    from sift_spark.operators.similarity import cosine_col

    brute = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.round(
                cosine_col(
                    F.col("a.embedding").cast("array<double>"),
                    F.col("b.embedding").cast("array<double>"),
                ),
                6,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.99)
        .collect()
    }
    assert sem1 == brute


# ---- textstats --------------------------------------------------------------------


def test_text_profile(spark, docs):
    from sift_spark.operators.textstats import text_profile

    profile = text_profile(docs).cache()
    assert profile.count() == docs.count()
    row = profile.first()
    assert 0.0 <= row["quality_score"] <= 1.0
    assert row["n_tokens"] > 0
    assert len(row["fingerprint"]) == 32

    # fingerprint is a pure function of normalized text: identical texts
    # share fingerprints
    joined = (
        profile.groupBy("fingerprint").count().filter(F.col("count") > 1)
    )
    assert joined.count() >= 0  # smoke: aggregation runs


def test_lang_id_markers(spark):
    from sift_spark.operators.textstats import lang_id_col

    rows = [
        (1, "the cat and the dog went to the park and that is that"),
        (2, "der hund und die katze das ist nicht gut und der rest"),
        (3, "el perro y la casa los gatos que es con de la"),
        (4, "xyzzy plugh qwerty"),
    ]
    df = spark.createDataFrame(rows, ["id", "text"])
    got = {r["id"]: r["lang"] for r in df.select(
        "id", lang_id_col(F.col("text")).alias("lang")).collect()}
    assert got[1] == "en" and got[2] == "de" and got[3] == "es"
    assert got[4] == "und"


def test_winnowing_fingerprints(spark):
    from sift_spark.operators.textstats import winnowing_fingerprints

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog"),
         (3, "entirely different words here")],
        ["doc_id", "text"],
    )
    prints = winnowing_fingerprints(df).collect()
    by_doc = {}
    for r in prints:
        by_doc.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    assert by_doc[1] == by_doc[2]
    assert by_doc[1] != by_doc[3]


# ---- multimodal -------------------------------------------------------------------


def test_media_feature_plumbing(spark):
    from sift_spark.operators.multimodal import (
        build_fake_media_df,
        extract_media_features,
    )

    media = build_fake_media_df(spark, n_rows=12)
    features = extract_media_features(media).collect()
    assert len(features) == 12
    for row in features:
        assert row["error"] is None
        assert len(row["features"]) == 16
        assert row["n_bytes"] > 0

    # determinism: same content -> same features
    again = extract_media_features(build_fake_media_df(spark, n_rows=12)).collect()
    assert sorted((r["media_id"], tuple(r["features"])) for r in features) == \
        sorted((r["media_id"], tuple(r["features"])) for r in again)


def test_media_stub_errors_without_fake(spark):
    """deterministic_fake=False: wav/bmp rows still decode for real via
    the stdlib parsers; formats without a stdlib decoder (video blobs)
    produce honest per-row errors instead of features."""
    from sift_spark.operators.multimodal import (
        build_fake_media_df,
        decode_available,
        extract_media_features,
    )

    if decode_available():  # pragma: no cover
        pytest.skip("real decoder present")
    rows = extract_media_features(
        build_fake_media_df(spark, 12), deterministic_fake=False
    ).collect()
    by_kind = {}
    for r in rows:
        by_kind.setdefault(r["kind"], []).append(r)
    for r in by_kind["image"] + by_kind["audio"]:
        assert r["error"] is None and r["features"] is not None
    for r in by_kind["video"]:
        assert r["features"] is None
        assert "no stdlib decoder" in r["error"]


def test_wav_bmp_stdlib_decoders():
    """Round-trip: the fixture writers produce blobs whose headers parse
    back to the requested parameters (pure functions, no Spark)."""
    from sift_spark.operators.multimodal import (
        make_bmp_bytes,
        make_wav_bytes,
        parse_bmp,
        parse_wav,
        stdlib_features,
    )

    wav = parse_wav(make_wav_bytes(sample_rate=44100, n_channels=2,
                                   duration_ms=500))
    assert wav["sample_rate"] == 44100
    assert wav["n_channels"] == 2
    assert wav["bits_per_sample"] == 16
    assert wav["duration_ms"] == 500
    assert wav["n_frames"] == 22050  # 44100 * 0.5s

    bmp = parse_bmp(make_bmp_bytes(width=17, height=9))
    assert (bmp["width"], bmp["height"], bmp["bit_count"]) == (17, 9, 24)
    assert bmp["top_down"] is False

    feats = stdlib_features(make_wav_bytes())
    assert feats[0] == 1.0 and feats[1] == 8000.0
    feats = stdlib_features(make_bmp_bytes(width=4, height=3))
    assert feats[0] == 2.0 and feats[1:3] == [4.0, 3.0]

    with pytest.raises(ValueError):
        stdlib_features(b"\x89PNG not decodable")
    with pytest.raises(ValueError):
        parse_wav(b"RIFFxxxxWAVE")  # no fmt/data chunks
    with pytest.raises(ValueError):
        parse_bmp(b"BM" + b"\x00" * 30)  # bogus header size


def test_png_gif_jpeg_header_parsers(spark):
    """Header-level dimension/metadata parsing for the three dominant
    web image formats (VERDICT r5 #4), pure stdlib: fixture round-trip,
    feature slots, corrupt-header error ROWS through the Spark path
    (never task failures); pixel decode stays honestly stubbed."""
    from sift_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        extract_media_features,
        make_gif_bytes,
        make_jpeg_bytes,
        make_png_bytes,
        parse_gif,
        parse_jpeg,
        parse_png,
        stdlib_features,
    )

    png = parse_png(make_png_bytes(width=17, height=9))
    assert (png["width"], png["height"]) == (17, 9)
    assert png["bit_depth"] == 8 and png["color_type"] == 2
    assert png["n_chunks"] == 3  # IHDR + IDAT + IEND

    gif = parse_gif(make_gif_bytes(width=31, height=22))
    assert (gif["width"], gif["height"]) == (31, 22)
    assert gif["version"] == "89a" and gif["gct_size"] == 4

    jpg = parse_jpeg(make_jpeg_bytes(width=63, height=41))
    assert (jpg["width"], jpg["height"]) == (63, 41)
    assert jpg["precision"] == 8 and jpg["n_components"] == 3
    assert jpg["progressive"] is False

    for maker, tag in ((make_png_bytes, 3.0), (make_gif_bytes, 4.0),
                       (make_jpeg_bytes, 5.0)):
        feats = stdlib_features(maker(width=6, height=5))
        assert feats[0] == tag and feats[1:3] == [6.0, 5.0]

    # corrupt headers raise ValueError (not struct.error / IndexError)
    with pytest.raises(ValueError):
        parse_png(make_png_bytes()[:20])  # truncated inside IHDR
    with pytest.raises(ValueError):
        parse_png(b"\x89PNG\r\n\x1a\n" + b"\x00" * 30)  # no IHDR dims
    with pytest.raises(ValueError):
        parse_gif(b"GIF89a\x00")  # truncated LSD
    with pytest.raises(ValueError):
        parse_jpeg(b"\xff\xd8\xff\xd9")  # EOI before any SOF
    with pytest.raises(ValueError):
        parse_jpeg(make_jpeg_bytes()[:9])  # truncated segment

    # Spark path: corrupt blobs become error rows alongside good ones
    rows = [
        (1, "image", make_png_bytes(seed=1), "image/png",
         None, None, None),
        (2, "image", make_png_bytes(seed=2)[:20], "image/png",
         None, None, None),
        (3, "image", make_jpeg_bytes(seed=3)[:9], "image/jpeg",
         None, None, None),
        (4, "image", make_gif_bytes(seed=4), "image/gif",
         None, None, None),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r["media_id"]: r for r in extract_media_features(
        media, deterministic_fake=False).collect()}
    assert got[1]["error"] is None and got[1]["features"][0] == 3.0
    assert got[4]["error"] is None and got[4]["features"][0] == 4.0
    assert got[2]["features"] is None and got[2]["error"]
    assert got[3]["features"] is None and got[3]["error"]


def test_lsh_bucket_cap_drops_hot_buckets(spark):
    """The within-bucket quadratic blowup is bounded: identical docs form
    one hot bucket; a cap below the group size removes those candidates
    (exact dedup handles identical content instead)."""
    from sift_spark.operators.dedup import (
        char_shingles,
        lsh_candidate_pairs,
        minhash_signatures,
        oversized_buckets,
    )

    same = "identical boilerplate page content repeated across the crawl"
    rows = [(i, same) for i in range(20)] + [(100, "a unique document here")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sigs = minhash_signatures(char_shingles(df), 32)

    uncapped = lsh_candidate_pairs(sigs, 8).count()
    assert uncapped == 20 * 19 // 2  # full quadratic set

    capped = lsh_candidate_pairs(sigs, 8, max_bucket_size=10).count()
    assert capped == 0  # hot bucket dropped entirely

    hot = oversized_buckets(sigs, max_bucket_size=10)
    assert hot.count() > 0
    assert hot.agg({"n_members": "max"}).first()[0] == 20


def test_simhash_bucket_cap_drops_hot_blocks(spark):
    """SimHash 16-bit blocking has <= 65,536 buckets per chunk index, so
    hot blocks are inevitable at crawl scale; the cap bounds the pair
    blowup and the monitor surfaces what was dropped (route to exact
    dedup, which collapses identical content anyway)."""
    from sift_spark.operators.dedup import (
        simhash_near_duplicates,
        simhash_oversized_blocks,
    )

    same = "identical boilerplate page content repeated across the crawl"
    rows = [(i, same) for i in range(20)] + [(100, "a unique document here")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    uncapped = simhash_near_duplicates(df, max_bucket_size=None).count()
    assert uncapped == 20 * 19 // 2  # full quadratic set

    capped = simhash_near_duplicates(df, max_bucket_size=10).count()
    assert capped == 0  # hot 16-bit blocks dropped entirely

    hot = simhash_oversized_blocks(df, max_bucket_size=10)
    assert hot.count() == 4  # all 4 chunk indexes of the identical hash
    assert hot.agg({"n_members": "max"}).first()[0] == 20


def test_media_decoder_injection_via_job_config(spark, tmp_path):
    """A real decoder is a JOB-CONFIG change: the media job receives a
    'module:function' spec string (the --decoder CLI flag / run_media_job
    kwarg), resolves it, and every feature row comes from that function
    -- no engine edit."""
    from sift_spark.job import media_main
    from sift_spark.operators.multimodal import build_fake_media_df
    from tests.fake_decoder import decode

    media = build_fake_media_df(spark, n_rows=9)
    input_dir = str(tmp_path / "media_in")
    output_dir = str(tmp_path / "media_out")
    media.write.parquet(input_dir)

    media_main([
        "--input", input_dir, "--output", output_dir,
        "--decoder", "tests.fake_decoder:decode", "--strict",
    ])

    out = spark.read.parquet(output_dir).collect()
    assert len(out) == 9
    payloads = {r["media_id"]: bytes(r["payload"])
                for r in media.collect()}
    import numpy as np

    for row in out:
        assert row["error"] is None
        expected = np.asarray(decode(payloads[row["media_id"]]),
                              dtype=np.float32)
        assert np.array_equal(
            np.asarray(row["features"], dtype=np.float32), expected
        )


def test_resolve_decoder_errors():
    from sift_spark.operators.multimodal import resolve_decoder

    with pytest.raises(ValueError):
        resolve_decoder("no-colon-here")
    with pytest.raises(ValueError):
        resolve_decoder("tests.fake_decoder:not_a_function")
    with pytest.raises(ModuleNotFoundError):
        resolve_decoder("no.such.module:fn")
    fn = resolve_decoder("tests.fake_decoder:decode")
    assert fn(b"abc") == fn(b"abc")


def test_bucket_cap_observation_signals_drops(spark, caplog):
    """The default-on cap must not be a SILENT recall loss: attaching a
    bucket_cap_observation records how many banded rows the cap removed
    (piggybacking on the action -- no extra job), and report_bucket_cap
    logs a warning when anything was dropped. When the pipeline result
    is EMPTY, AQE empty-relation propagation prunes CollectMetrics with
    the rest of the subtree -- report then returns None and points at
    the oversized-buckets monitor instead of crashing."""
    import logging

    from sift_spark.operators.dedup import (
        bucket_cap_observation,
        minhash_near_duplicates,
        report_bucket_cap,
        simhash_near_duplicates,
    )

    same = "identical boilerplate page content repeated across the crawl"
    near1 = "the quick brown fox jumps over a lazy dog near the riverbank today"
    near2 = "the quick brown fox jumps over a lazy dog near the riverbank again"
    rows = ([(i, same) for i in range(20)]
            + [(100, near1), (101, near2)])
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    # non-empty result (the near-pair survives): metrics flow
    obs = bucket_cap_observation("minhash_cap")
    assert minhash_near_duplicates(
        df, max_bucket_size=10, min_jaccard=0.5, observation=obs
    ).count() == 1
    with caplog.at_level(logging.WARNING, logger="sift_spark.operators.dedup"):
        metrics = report_bucket_cap(obs)
    assert metrics["n_dropped_rows"] > 0
    assert metrics["largest_bucket"] == 20
    assert any("bucket cap dropped" in r.message for r in caplog.records)

    caplog.clear()
    pair = "two exactly identical docs form a small bucket under the cap"
    df2 = df.union(
        spark.createDataFrame([(200, pair), (201, pair)], ["doc_id", "text"])
    )
    obs2 = bucket_cap_observation("simhash_cap")
    assert simhash_near_duplicates(
        df2, max_bucket_size=10, observation=obs2
    ).count() == 1  # the identical pair (hamming 0) survives the cap
    metrics2 = report_bucket_cap(obs2)
    assert metrics2["n_dropped_rows"] == 20 * 4  # 4 chunks per identical doc
    assert metrics2["largest_bucket"] == 20

    # EMPTY result: AQE prunes the observation -> graceful None
    caplog.clear()
    obs3 = bucket_cap_observation("pruned_cap")
    assert minhash_near_duplicates(
        df.filter("doc_id < 95"), max_bucket_size=10, observation=obs3
    ).count() == 0
    with caplog.at_level(logging.INFO, logger="sift_spark.operators.dedup"):
        m3 = report_bucket_cap(obs3)
    assert m3 is None
    assert any("pruned" in r.message for r in caplog.records)


CAPPED_PATHS = ("lsh_candidate_pairs", "simhash_pairs_from_hashes",
                "minhash_seen_matches", "simhash_seen_matches",
                "embedding_seen_matches")


def _planted_hot_bucket(spark, path):
    """One capped path over a planted hot bucket of 20 rows sharing every
    blocking key, plus one pair whose blocks hold 2 rows. Returns
    (run(max_bucket_size, observation) -> {(id, id)}, the hot bucket's
    pairs, the small pair, hand-counted n_dropped_rows)."""
    from sift_spark.operators import dedup, similarity

    hot = range(20)
    # minhash: 8 hashes in 4 bands, so a hot row fills 4 band buckets;
    # simhash: hash 0 puts a hot row in all 4 chunk blocks of value 0
    hot_sig, pair_sig = [7] * 8, list(range(1, 9))
    pair_hash = 0x0001000100010001  # no chunk of value 0
    sig_schema = "doc_id long, sig array<long>"
    hash_schema = "doc_id long, simhash long"

    def pairs(df):
        return {(r[0], r[1]) for r in df.collect()}

    if path == "lsh_candidate_pairs":
        sigs = spark.createDataFrame(
            [(i, hot_sig) for i in hot]
            + [(100, pair_sig), (101, pair_sig)], sig_schema)
        return (lambda cap, obs: pairs(dedup.lsh_candidate_pairs(
                    sigs, 4, max_bucket_size=cap, n_hashes=8,
                    observation=obs)),
                {(i, j) for i in hot for j in hot if i < j}, (100, 101),
                4 * 20)
    if path == "simhash_pairs_from_hashes":
        hashed = spark.createDataFrame(
            [(i, 0) for i in hot] + [(100, pair_hash), (101, pair_hash)],
            hash_schema)
        return (lambda cap, obs: pairs(dedup.simhash_pairs_from_hashes(
                    hashed, 3, max_bucket_size=cap, observation=obs)),
                {(i, j) for i in hot for j in hot if i < j}, (100, 101),
                4 * 20)
    # seen matchers: the hot bucket is on the SEEN side, which is capped;
    # new doc 1000 matches it, new doc 1001 matches seen doc 200
    hot_pairs, pair = {(1000, i) for i in hot}, (1001, 200)
    if path == "minhash_seen_matches":
        seen = spark.createDataFrame(
            [(i, hot_sig) for i in hot] + [(200, pair_sig)], sig_schema)
        new = spark.createDataFrame(
            [(1000, hot_sig), (1001, pair_sig)], sig_schema)
        return (lambda cap, obs: pairs(dedup.minhash_seen_matches(
                    new, seen, 4, 8, max_bucket_size=cap,
                    observation=obs)),
                hot_pairs, pair, 4 * 20)
    if path == "simhash_seen_matches":
        seen = spark.createDataFrame(
            [(i, 0) for i in hot] + [(200, pair_hash)], hash_schema)
        new = spark.createDataFrame(
            [(1000, 0), (1001, pair_hash)], hash_schema)
        return (lambda cap, obs: pairs(dedup.simhash_seen_matches(
                    new, seen, 3, max_bucket_size=cap, observation=obs)),
                hot_pairs, pair, 4 * 20)
    # embeddings: one bucket per row; opposite vectors differ in every
    # hyperplane sign, so the small pair never shares the hot bucket
    emb_schema = "vec_id long, embedding array<double>"
    seen = spark.createDataFrame(
        [(i, [1.0, 0.0, 0.0, 0.0]) for i in hot]
        + [(200, [-1.0, 0.0, 0.0, 0.0])], emb_schema)
    new = spark.createDataFrame(
        [(1000, [1.0, 0.0, 0.0, 0.0]), (1001, [-1.0, 0.0, 0.0, 0.0])],
        emb_schema)
    return (lambda cap, obs: pairs(similarity.embedding_seen_matches(
                new, seen, dim=4, max_bucket_size=cap, observation=obs)),
            hot_pairs, pair, 20)


@pytest.mark.parametrize("path", CAPPED_PATHS)
def test_bucket_cap_contract(spark, path):
    """Every capped blocking path shares one cap (cap_buckets): a bucket
    over max_bucket_size loses all its pairs, the observation counts the
    dropped rows and the largest bucket exactly, and a falsy
    max_bucket_size drops nothing and never attaches the observation."""
    from sift_spark.operators.dedup import (
        bucket_cap_observation,
        report_bucket_cap,
    )

    run, hot_pairs, pair, n_dropped = _planted_hot_bucket(spark, path)
    obs = bucket_cap_observation(f"{path}_cap")
    assert run(10, obs) == {pair}
    assert report_bucket_cap(obs) == {
        "n_dropped_rows": n_dropped, "largest_bucket": 20,
    }
    for off in (None, 0):
        unused = bucket_cap_observation(f"{path}_off")
        assert run(off, unused) == hot_pairs | {pair}
        assert unused._jo is None
        assert report_bucket_cap(unused) is None


def test_embedding_neardup_lsh_recall_on_planted(spark):
    """LSH near-dup must recover every planted near-duplicate the exact
    all-pairs baseline finds at the same threshold (scaled clones share
    every hyperplane sign, so same-bucket recall is structural)."""
    import random

    from sift_spark.operators.similarity import (
        cosine_col,
        embedding_near_duplicates,
    )

    rng = random.Random(7)
    base = [
        (i, [rng.gauss(0.0, 1.0) for _ in range(16)]) for i in range(30)
    ]
    planted = [(i + 1000, [x * 1.001 for x in v]) for i, v in base[:5]]
    emb = spark.createDataFrame(
        base + planted, "vec_id long, embedding array<double>"
    )

    lsh = embedding_near_duplicates(emb, min_cosine=0.999, dim=16)
    got = {(r["id_a"], r["id_b"]) for r in lsh.collect()}

    a, b = emb.alias("a"), emb.alias("b")
    exact = (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            cosine_col(F.col("a.embedding"), F.col("b.embedding"))
            .alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.999)
    )
    want = {(r["id_a"], r["id_b"]) for r in exact.collect()}
    assert want == {(i, i + 1000) for i in range(5)}
    assert got == want  # 100% recall on planted clones


def test_ivf_topk_recall_and_exact_degenerate(spark, embeddings):
    """IVF ANN: nprobe = n_clusters must reproduce brute force exactly;
    a pruned probe keeps high recall on the top-10."""
    from sift_spark.operators.similarity import cosine_topk, ivf_cosine_topk

    query = list(embeddings.filter(F.col("vec_id") == 0).first()["embedding"])
    brute = [r["vec_id"] for r in cosine_topk(embeddings, query, k=10).collect()]

    full = [r["vec_id"] for r in ivf_cosine_topk(
        embeddings, query, k=10, n_clusters=8, nprobe=8).collect()]
    assert full == brute  # degenerate IVF == exact

    pruned = {r["vec_id"] for r in ivf_cosine_topk(
        embeddings, query, k=10, n_clusters=8, nprobe=3).collect()}
    assert len(pruned & set(brute)) >= 7  # recall@10 >= 0.7 with 3/8 probes


def test_ivf_index_reuse_single_fit(spark, embeddings, monkeypatch):
    """IVF is build-once/probe-many: a prebuilt (assigned, centers)
    index serves many queries with ZERO further k-means fits, and the
    answers match the self-building form exactly."""
    from sift_spark.operators import similarity
    from sift_spark.operators.similarity import ivf_build, ivf_cosine_topk

    q0 = list(embeddings.filter(F.col("vec_id") == 0).first()["embedding"])
    q1 = list(embeddings.filter(F.col("vec_id") == 1).first()["embedding"])
    fresh = [
        [r["vec_id"] for r in ivf_cosine_topk(
            embeddings, q, k=5, n_clusters=8, nprobe=8).collect()]
        for q in (q0, q1)
    ]

    index = ivf_build(embeddings, n_clusters=8)
    index[0].cache().count()

    def no_build(*args, **kwargs):  # any refit is a test failure
        raise AssertionError("ivf_build called despite prebuilt index")

    monkeypatch.setattr(similarity, "ivf_build", no_build)
    reused = [
        [r["vec_id"] for r in ivf_cosine_topk(
            embeddings, q, k=5, nprobe=8, index=index).collect()]
        for q in (q0, q1)
    ]
    assert reused == fresh
    index[0].unpersist()


def test_ivf_save_load_roundtrip(spark, embeddings, tmp_path):
    """An ivf_build index persisted to disk and reloaded serves queries
    identically to the in-memory pair -- the cross-job form of
    build-once/probe-many."""
    from sift_spark.operators.similarity import (
        ivf_build,
        ivf_cosine_topk,
        ivf_load,
        ivf_save,
    )

    q = list(embeddings.filter(F.col("vec_id") == 2).first()["embedding"])
    index = ivf_build(embeddings, n_clusters=8)
    want = [r["vec_id"] for r in ivf_cosine_topk(
        embeddings, q, k=5, nprobe=8, index=index).collect()]

    path = str(tmp_path / "ivf_index")
    ivf_save(index, path)
    loaded = ivf_load(spark, path)
    assert loaded[1] == index[1]  # centers survive JSON exactly
    got = [r["vec_id"] for r in ivf_cosine_topk(
        embeddings, q, k=5, nprobe=8, index=loaded).collect()]
    assert got == want

    # backward compat: an index saved by the earlier driver-local
    # sidecar format (centers.json, no centers/ dir) still loads
    import json
    import shutil

    old = tmp_path / "ivf_old"
    shutil.copytree(tmp_path / "ivf_index" / "assigned", old / "assigned")
    (old / "centers.json").write_text(json.dumps(index[1]))
    legacy = ivf_load(spark, str(old))
    assert legacy[1] == index[1]

    # a missing sidecar raises, never a silent fallback
    bare = str(tmp_path / "ivf_bare")
    index[0].write.mode("overwrite").parquet(bare + "/assigned")
    with pytest.raises(FileNotFoundError):
        ivf_load(spark, bare)


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """checkpoint_dir switches the per-iteration lineage cut from
    localCheckpoint to reliable checkpoint(): same labels through both
    code paths (label propagation AND alternating-star), and checkpoint
    data actually lands in the directory."""
    from sift_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 20)], ["id_a", "id_b"])
    want = {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20}
    for fn, sub in ((connected_components, "cc"),
                    (connected_components_star, "star")):
        ckpt_dir = str(tmp_path / sub)
        got = {r["doc_id"]: r["component_id"]
               for r in fn(pairs, checkpoint_dir=ckpt_dir).collect()}
        assert got == want, sub
        assert any((tmp_path / sub).rglob("*")), sub  # data written

    # invocation isolation in a SHARED directory: each run writes under
    # its own run-uuid subdir, so a second run must not clobber the
    # parquet still backing the first run's lazy result
    shared = str(tmp_path / "shared")
    pairs_b = spark.createDataFrame([(5, 6)], ["id_a", "id_b"])
    r1, rd1 = connected_components(
        pairs, checkpoint_dir=shared, return_run_dir=True)
    r2 = connected_components(pairs_b, checkpoint_dir=shared)
    assert {r["doc_id"]: r["component_id"] for r in r2.collect()} == \
        {5: 5, 6: 5}
    assert {r["doc_id"]: r["component_id"] for r in r1.collect()} == want
    assert len(list((tmp_path / "shared").glob("run-*"))) == 2

    # explicit retention: after consuming a result, its run dir can be
    # purged through the returned handle without touching the other's
    from sift_spark.operators.dedup import clear_checkpoint_run

    import os

    assert os.path.isdir(rd1)
    assert clear_checkpoint_run(spark, rd1) is True
    assert not os.path.exists(rd1)
    assert len(list((tmp_path / "shared").glob("run-*"))) == 1
    assert {r["doc_id"]: r["component_id"] for r in r2.collect()} == \
        {5: 5, 6: 5}  # the other run's result still readable

    # the returned handle survives transformations of the result
    r3, rd3 = connected_components_star(
        pairs_b, checkpoint_dir=shared, return_run_dir=True)
    derived = r3.filter("doc_id > 0")
    assert derived.count() == 2
    assert os.path.isdir(rd3)
    assert clear_checkpoint_run(spark, rd3) is True
    assert not os.path.exists(rd3)


def test_connected_components_clusters_pairs(spark):
    """Duplicate-cluster election: chains, a triangle and a lone pair all
    collapse to min-id components; convergence takes <= diameter rounds
    and the guard raises when the cap is too low."""
    from sift_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),         # chain, diameter 3
         (10, 11), (11, 12), (10, 12),   # triangle
         (20, 21)],                      # lone pair
        ["id_a", "id_b"])
    out = {r["doc_id"]: r["component_id"]
           for r in connected_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1,
                   10: 10, 11: 10, 12: 10,
                   20: 20, 21: 20}

    # starved iteration budget: min-label now FALLS BACK to the star
    # algorithm instead of raising, and still produces the right answer
    fallback = {r["doc_id"]: r["component_id"]
                for r in connected_components(
                    pairs, max_iterations=1).collect()}
    assert fallback == out


def test_connected_components_star_long_chain(spark):
    """A 200-node path graph has diameter 199: min-label propagation
    needs ~100 rounds, but alternating large-star/small-star converges
    in O(log^2 n) -- well under 15 rounds -- and still elects the min id
    (Kiveris et al., SoCC'14). Also: a high-degree hub (star graph) and
    reversed/duplicated edge orientations normalize correctly."""
    from sift_spark.operators.dedup import connected_components_star

    chain = [(i, i + 1) for i in range(5000, 5200)]
    hub = [(9000, 9000 + i) for i in range(1, 40)]
    messy = [(7002, 7001), (7001, 7002), (7001, 7000)]  # dupes + reversed
    pairs = spark.createDataFrame(chain + hub + messy, ["id_a", "id_b"])

    out = {r["doc_id"]: r["component_id"]
           for r in connected_components_star(
               pairs, max_iterations=15).collect()}
    assert {k: v for k, v in out.items() if 5000 <= k <= 5200} == {
        i: 5000 for i in range(5000, 5201)}
    assert {k: v for k, v in out.items() if k >= 9000} == {
        9000 + i: 9000 for i in range(40)}
    assert {k: v for k, v in out.items() if 7000 <= k < 8000} == {
        7000: 7000, 7001: 7000, 7002: 7000}


def test_connected_components_star_matches_label(spark):
    """Both implementations agree on a mixed graph (triangles, chains,
    singleton pairs)."""
    from sift_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21),
         (30, 30)],  # self-pair-only node: must self-label in BOTH impls
        ["id_a", "id_b"])
    label = {(r["doc_id"], r["component_id"])
             for r in connected_components(pairs).collect()}
    star = {(r["doc_id"], r["component_id"])
            for r in connected_components_star(pairs).collect()}
    assert star == label
    assert (30, 30) in star


def test_hash_sample_is_partitioning_invariant(spark, docs):
    """Deterministic sampling must select the SAME rows regardless of
    partition layout (df.sample does not) and track the requested rate."""
    from sift_spark.operators.sampling import hash_sample

    base = sorted(r["doc_id"] for r in
                  hash_sample(docs, 0.3, "doc_id", seed=1).collect())
    repart = sorted(r["doc_id"] for r in
                    hash_sample(docs.repartition(7), 0.3, "doc_id",
                                seed=1).collect())
    assert base == repart
    n = docs.count()
    assert 0.2 * n < len(base) < 0.4 * n  # tracks the rate
    # different seed -> different (but still deterministic) membership
    other = sorted(r["doc_id"] for r in
                   hash_sample(docs, 0.3, "doc_id", seed=2).collect())
    assert other != base

    with pytest.raises(ValueError):
        hash_sample(docs, 1.5, "doc_id")


def test_stratified_hash_sample_rates(spark):
    from sift_spark.operators.sampling import stratified_hash_sample

    rows = [(i, "en" if i % 2 == 0 else "de") for i in range(2000)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    out = stratified_hash_sample(
        df, {"en": 1.0, "de": 0.0}, "lang", "doc_id", default_rate=0.0
    ).collect()
    assert len(out) == 1000
    assert all(r["lang"] == "en" for r in out)

    mixed = stratified_hash_sample(
        df, {"en": 0.5}, "lang", "doc_id", default_rate=0.1
    )
    counts = {r["lang"]: r["n"] for r in
              mixed.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert 400 < counts.get("en", 0) < 600
    assert 50 < counts.get("de", 0) < 160


def test_stratified_hash_sample_many_strata(spark):
    """2,000 listed strata (plus unlisted and null ones) sample exactly
    by the per-row formula: keep iff the first 8 hex chars of
    md5(key ':' seed) < int(rate * 2^32), with default_rate for rows
    whose stratum has no rate."""
    import hashlib

    from sift_spark.operators.sampling import stratified_hash_sample

    rows = [(i, None if i % 97 == 0 else f"s{i % 2500}")
            for i in range(6000)]
    df = spark.createDataFrame(rows, "doc_id long, stratum string")
    rates = {f"s{j}": (j % 11) / 10 for j in range(2000)}
    out = stratified_hash_sample(
        df, rates, "stratum", "doc_id", default_rate=0.3, seed=5)
    got = sorted(r["doc_id"] for r in out.collect())

    def keep(i, stratum):
        bucket = int(hashlib.md5(f"{i}:5".encode()).hexdigest()[:8], 16)
        return bucket < int(rates.get(stratum, 0.3) * (1 << 32))

    assert got == [i for i, stratum in rows if keep(i, stratum)]
    assert 0 < len(got) < len(rows)


def test_temperature_resample(spark):
    """XLM-style temperature rebalancing: alpha=1 keeps everything,
    alpha=0.5 downsamples head strata toward sqrt-flattened shares
    (rate_i = sqrt(n_min/n_i)), the smallest stratum always keeps rate
    1.0, and membership is partition-layout invariant."""
    from sift_spark.operators.sampling import (
        temperature_resample,
        temperature_sampling_rates,
    )

    rows = ([(i, "en") for i in range(3600)]
            + [(10_000 + i, "fr") for i in range(400)])
    df = spark.createDataFrame(rows, ["doc_id", "lang"])

    rates = temperature_sampling_rates(df, "lang", alpha=0.5)
    assert rates["fr"] == 1.0
    assert abs(rates["en"] - (400 / 3600) ** 0.5) < 1e-12  # sqrt(1/9)=1/3

    assert temperature_resample(df, "lang", "doc_id",
                                alpha=1.0).count() == 4000

    out = temperature_resample(df, "lang", "doc_id", alpha=0.5)
    counts = {r["lang"]: r["n"] for r in
              out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert counts["fr"] == 400  # smallest stratum fully kept
    assert 1000 < counts["en"] < 1400  # ~3600/3 expected

    again = {tuple(r) for r in temperature_resample(
        df.repartition(16), "lang", "doc_id", alpha=0.5).collect()}
    assert again == {tuple(r) for r in out.collect()}

    # alpha=0 equalizes expected stratum sizes: en rate = 400/3600
    flat = temperature_sampling_rates(df, "lang", alpha=0.0)
    assert abs(flat["en"] - 400 / 3600) < 1e-12

    # no reserved column names: a caller frame already carrying
    # _stratum/_threshold keeps its schema and values intact
    tricky = df.withColumn("_stratum", F.lit("keep")) \
               .withColumn("_threshold", F.lit(7))
    out2 = temperature_resample(tricky, "lang", "doc_id", alpha=0.5)
    assert out2.columns == tricky.columns
    row = out2.first()
    assert row["_stratum"] == "keep" and row["_threshold"] == 7


def test_temperature_resample_null_stratum(spark):
    """default_rate governs rows with no derived rate (null stratum, or
    values unseen at rate time): 0.0 drops them (the old inner-join
    behavior, now explicit), 1.0 keeps them all, and a fractional rate
    hash-samples them deterministically (ADVICE r5)."""
    from sift_spark.operators.sampling import temperature_resample

    rows = ([(i, "en") for i in range(40)]
            + [(100 + i, None) for i in range(20)])
    df = spark.createDataFrame(rows, "doc_id long, lang string")

    dropped = temperature_resample(df, "lang", "doc_id", alpha=0.5)
    assert dropped.filter(F.col("lang").isNull()).count() == 0
    kept = temperature_resample(df, "lang", "doc_id", alpha=0.5,
                                default_rate=1.0)
    assert kept.filter(F.col("lang").isNull()).count() == 20
    assert kept.filter(F.col("lang").isNotNull()).count() == 40

    # deterministic fractional default: same members on re-run
    half_a = temperature_resample(df, "lang", "doc_id", alpha=0.5,
                                  default_rate=0.5)
    half_b = temperature_resample(df.repartition(8), "lang", "doc_id",
                                  alpha=0.5, default_rate=0.5)
    nulls_a = sorted(r["doc_id"] for r in
                     half_a.filter(F.col("lang").isNull()).collect())
    nulls_b = sorted(r["doc_id"] for r in
                     half_b.filter(F.col("lang").isNull()).collect())
    assert nulls_a == nulls_b and 0 < len(nulls_a) < 20

    # an all-null stratum column: nothing to derive rates from, so
    # default_rate is the only policy (1.0 keeps the corpus)
    all_null = df.withColumn("lang", F.lit(None).cast("string"))
    assert temperature_resample(all_null, "lang", "doc_id").count() == 0
    assert temperature_resample(
        all_null, "lang", "doc_id", default_rate=1.0).count() == 60


def test_kmv_distinct_estimate(spark):
    """KMV sketch: exact below k, ~1/sqrt(k) relative error above it,
    deterministic (md5), and partitioning-invariant."""
    from sift_spark.operators.sketches import kmv_distinct_estimate

    small = spark.range(100).select((F.col("id") % 37).alias("v"))
    row = kmv_distinct_estimate(small, "v", k=256).first()
    assert row["k_used"] == 37 and row["distinct_estimate"] == 37.0

    big = spark.range(100_000).select((F.col("id") % 5000).alias("v"))
    est = kmv_distinct_estimate(big, "v", k=256).first()["distinct_estimate"]
    assert abs(est - 5000) / 5000 < 0.2  # 3 sigma at k=256

    # same estimate regardless of partition layout
    est2 = kmv_distinct_estimate(
        big.repartition(13), "v", k=256
    ).first()["distinct_estimate"]
    assert est == est2


def test_site_boilerplate_detection_and_removal(spark):
    """Chunks on >= ratio of a site's docs are template: detected by
    (site, chunk-hash) frequency, removed by anti-join; small sites are
    skipped (no statistical basis)."""
    from sift_spark.operators.boilerplate import (
        drop_site_boilerplate,
        site_boilerplate_chunks,
    )

    rows = []
    for d in range(10):  # site A: header on all, promo on half
        rows.append(("a.com", d, "copyright footer of a dot com"))
        rows.append(("a.com", d, f"unique article text number {d}"))
        if d < 5:
            rows.append(("a.com", d, "subscribe to our newsletter"))
    rows += [("tiny.org", 0, "repeated"), ("tiny.org", 1, "repeated")]
    chunks = spark.createDataFrame(rows, ["site", "doc_id", "chunk_text"])

    boiler = site_boilerplate_chunks(chunks)
    got = {(r["site"], r["n_docs"], r["ratio"]) for r in boiler.collect()}
    assert ("a.com", 10, 1.0) in got            # footer: every doc
    assert ("a.com", 5, 0.5) in got             # promo: exactly threshold
    assert not any(site == "tiny.org" for site, _, _ in got)  # < min_docs

    cleaned = drop_site_boilerplate(chunks, boiler)
    texts = {r["chunk_text"] for r in cleaned.filter(
        F.col("site") == "a.com").collect()}
    assert texts == {f"unique article text number {d}" for d in range(10)}
    # tiny.org untouched (its chunks were never flagged)
    assert cleaned.filter(F.col("site") == "tiny.org").count() == 2


def test_canonical_url_rules(spark):
    from sift_spark.operators.urlnorm import canonical_url_col

    cases = {
        "HTTP://Example.COM:80/path?b=2&a=1#frag":
            "http://example.com/path?a=1&b=2",
        "https://example.com:443/": "https://example.com/",
        "https://example.com": "https://example.com/",   # path default
        "https://example.com/page?utm_source=x&id=7&fbclid=abc":
            "https://example.com/page?id=7",
        "http://example.com:8080/keep?z=1&y=2":           # non-default port
            "http://example.com:8080/keep?y=2&z=1",
        "https://example.com/?": "https://example.com/",  # empty query
        "not a url": "not a url",                         # pass-through
        "  https://Example.com/path/  ": "https://example.com/path/",
    }
    df = spark.createDataFrame([(u,) for u in cases], ["url"])
    got = {r["url"]: r["c"] for r in df.select(
        "url", canonical_url_col(F.col("url")).alias("c")).collect()}
    for url, want in cases.items():
        assert got[url] == want, url


def test_html_node_table(spark):
    """The exported DOM node table: one row per element with readability
    features, pre-order ids with consistent parent/depth links, scores
    on the scored candidates, and in_article labels matching what the
    extractor actually selected (content in, chrome out)."""
    from sift_spark.operators.extract import html_node_table

    para = ("This paragraph carries enough natural english text to be "
            "scored as article content by the readability heuristics, "
            "with commas, and a decent length overall.")
    html = (
        "<html><head><title>t</title></head><body>"
        '<nav class="menu"><a href="/">Home</a> <a href="/a">A</a></nav>'
        f'<article class="post"><h1>Title</h1><p>{para}</p>'
        f"<p>{para} And a second sentence follows it.</p></article>"
        '<footer class="footer"><a href="/x">links</a></footer>'
        "</body></html>"
    ).encode()
    pages = spark.createDataFrame(
        [("http://n.example/", html), ("http://bad.example/", None),
         # a PDF must yield ZERO rows, not byte-soup pseudo-elements
         ("http://pdf.example/", b"%PDF-1.4 <x>not html</x>")],
        "url string, html binary")
    rows = html_node_table(pages).collect()
    assert all(r["url"] == "http://n.example/" for r in rows)

    by_id = {r["node_id"]: r for r in rows}
    # pre-order ids, root html node first at depth 0
    assert by_id[0]["tag"] == "html" and by_id[0]["depth"] == 0
    for r in rows:
        if r["parent_id"] is not None:
            assert by_id[r["parent_id"]]["depth"] == r["depth"] - 1

    tags = {}
    for r in rows:
        tags.setdefault(r["tag"], []).append(r)
    # the article's paragraphs are selected; the nav/footer chrome not
    assert any(r["in_article"] for r in tags["p"])
    assert not any(r["in_article"] for r in tags.get("nav", []))
    assert not any(r["in_article"] for r in tags.get("footer", []))
    # the scored candidate (the article ancestor) carries a score and
    # real text/link features
    scored = [r for r in rows if r["score"] is not None]
    assert scored and any(r["in_article"] for r in scored)
    art = tags["article"][0]
    assert art["text_len"] > 200 and art["link_density"] < 0.2
    nav = tags["nav"][0]
    assert nav["link_density"] > 0.5  # chrome is link-dense


def test_c4_rules_and_line_clean(spark):
    """C4 heuristics (Raffel et al. 2020 sec 2.2): the doc rules trip on
    lorem ipsum / braces / too few sentences, and the line filter keeps
    exactly the lines that end in terminal punctuation AND carry >= 5
    words, rejoined in order."""
    from sift_spark.operators.textstats import (
        c4_line_clean_col,
        c4_rules_cols,
    )

    good = ("The first sentence is long enough to survive the filter.\n"
            "too short.\n"
            "this line has many words but no terminal punctuation\n"
            "Another proper sentence closes with a question mark?\n"
            "- bullet fragment")
    docs = spark.createDataFrame(
        [(1, good),
         (2, "Fine start. But Lorem Ipsum dolor sit amet. Third one."),
         (3, "A config { nested } block. Two sentences. Three now."),
         (4, "no terminal punctuation at all in this text")],
        ["doc_id", "text"])
    rules = c4_rules_cols(F.col("text"))
    clean = c4_line_clean_col(F.col("text"))
    out = {r["doc_id"]: r for r in docs.select(
        "doc_id",
        *[expr.alias(name) for name, expr in rules.items()],
        clean.alias("c"),
    ).collect()}

    assert out[1]["passes_c4"]
    assert not out[2]["rule_no_lorem"] and not out[2]["passes_c4"]
    assert not out[3]["rule_no_brace"]
    assert out[3]["rule_min_sentences"]
    assert not out[4]["rule_min_sentences"]

    c = out[1]["c"]
    assert c["n_lines"] == 5 and c["n_kept"] == 2
    assert c["text_clean"] == (
        "The first sentence is long enough to survive the filter.\n"
        "Another proper sentence closes with a question mark?")
    # a doc with nothing keepable cleans to the empty string
    assert out[4]["c"]["text_clean"] == "" and out[4]["c"]["n_kept"] == 0

    # CRLF input: '\r' is shed by the split, the terminal check still
    # matches, and the cleaned text carries no stray carriage returns
    # (review r6 pass 4 -- Java vs RE2 '$'/trim semantics diverged)
    crlf = ("A first windows line with enough words here.\r\n"
            "fragment\r\n"
            "The second proper sentence also survives the cut.\r\n")
    row = spark.createDataFrame([(9, crlf)], ["doc_id", "text"]).select(
        c4_line_clean_col(F.col("text")).alias("c")).first()["c"]
    assert row["n_kept"] == 2
    assert "\r" not in row["text_clean"]
    assert row["text_clean"].startswith("A first windows line")

    # lone-CR (classic Mac) terminators split as lines too, and a bare
    # trailing '\r' cannot reach text_clean (review r6 pass 5)
    mac = ("The first mac line has plenty of words right here.\r"
           "The second mac line also has plenty of words here.\r")
    row = spark.createDataFrame([(10, mac)], ["doc_id", "text"]).select(
        c4_line_clean_col(F.col("text")).alias("c")).first()["c"]
    assert row["n_kept"] == 2 and "\r" not in row["text_clean"]


def test_gopher_rules_pass_and_fail(spark):
    """Gopher rules: a healthy English paragraph passes all six; each
    crafted pathology trips exactly its rule."""
    from sift_spark.operators.textstats import gopher_rules_cols

    healthy = ("The pipeline reads pages and extracts the main content "
               "of each document so that training corpora can be built "
               "with clean text. ") * 5  # ~110 words, stopwords present
    short = "too few words here"
    bullets = "\n".join(f"- bullet {i} of the list to have" for i in range(10))
    symbols = " ".join("§§§" for _ in range(60)) + " the of and to be"
    longwords = " ".join("x" * 15 for _ in range(60)) + " the of"

    df = spark.createDataFrame(
        [(1, healthy), (2, short), (3, bullets), (4, symbols),
         (5, longwords)],
        ["doc_id", "text"])
    rules = gopher_rules_cols(F.col("text"))
    out = {r["doc_id"]: r for r in df.select(
        "doc_id", *[e.alias(n) for n, e in rules.items()]).collect()}

    assert out[1]["passes_gopher"]
    assert all(out[1][n] for n in rules)
    assert not out[2]["rule_word_count"]
    assert not out[3]["rule_bullet_lines"]
    assert not out[4]["rule_alpha_words"]
    assert not out[5]["rule_mean_word_len"]
    for d in (2, 3, 4, 5):
        assert not out[d]["passes_gopher"]

    # newline-convention + whitespace portability (review r6 pass 5):
    # CRLF bullet lines with leading tabs still count as bullets, and
    # ellipsis detection survives a '\r' terminator -- via regex
    # tolerance, never trim() (Java and DuckDB trim disagree on
    # control chars)
    crlf_bullets = "\r\n".join(
        f"\t- item {i} in the tabbed crlf list" for i in range(10))
    dots = "\r\n".join(
        f"the line {i} trails off into more dots..." for i in range(10))
    out2 = {r["doc_id"]: r for r in spark.createDataFrame(
        [(1, crlf_bullets), (2, dots)], ["doc_id", "text"]).select(
        "doc_id", *[e.alias(n) for n, e in rules.items()]).collect()}
    assert not out2[1]["rule_bullet_lines"]
    assert not out2[2]["rule_ellipsis_lines"]


def test_repetition_profile_values(spark):
    from sift_spark.operators.textstats import repetition_profile

    rows = [
        (1, "a a a a b"),               # top word 4/5, top bigram 3/4
        (2, "one two three four five"),
        (3, "go go go go go go"),
        (4, "x"),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in repetition_profile(df).collect()}
    assert out[1]["dup_word_frac"] == 0.6
    assert out[1]["top_word_share"] == 0.8
    assert out[1]["top_bigram_share"] == 0.75
    assert out[2]["dup_word_frac"] == 0.0
    assert out[3]["top_word_share"] == 1.0
    assert out[3]["top_bigram_share"] == 1.0
    assert out[4]["top_word_share"] == 1.0
    assert out[4]["top_bigram_share"] == 0.0  # no bigrams in one word
    assert out[5]["top_word_share"] == 0.0    # empty doc never divides by 0


def test_canonical_url_is_idempotent(spark):
    """canonical(canonical(x)) == canonical(x) over a messy generated
    batch -- the property dedup keys depend on."""
    import itertools

    from sift_spark.operators.urlnorm import canonical_url_col

    schemes = ["http", "HTTPS", "ftp"]
    hosts = ["Example.COM", "a.b.c:80", "x.org:443", "y.net:8080"]
    paths = ["", "/", "/p/q", "/p%20q/"]
    queries = ["", "?b=2&a=1", "?utm_source=t&z=9", "?only=", "?"]
    frags = ["", "#f", "#a?b=1"]
    urls = [f"{s}://{h}{p}{q}{f}" for s, h, p, q, f in
            itertools.product(schemes, hosts, paths, queries, frags)]
    urls += ["", "   ", "not a url", "mailto:x@y.z", "//proto-relative"]

    from pyspark.sql import functions as F
    df = spark.createDataFrame([(u,) for u in urls], ["url"])
    once = canonical_url_col(F.col("url"))
    out = df.select(
        once.alias("c1"),
        canonical_url_col(once).alias("c2"),
    ).collect()
    bad = [(r["c1"], r["c2"]) for r in out if r["c1"] != r["c2"]]
    assert not bad, bad[:5]


def test_dedup_exact_passes_null_text_through(spark):
    """md5(null) is null: null-text rows (errored extractions) must pass
    through dedup untouched, and must not form a fake duplicate group.
    A row that repeats its group's minimum id is kept with it, and a
    non-null-text row with a null id is dropped, even as the only row
    of its group."""
    from collections import Counter

    from sift_spark.operators.dedup import dedup_exact, exact_duplicates

    rows = [(1, "same text"), (2, "same text"), (3, None), (4, None),
            (5, "other")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = sorted(r["doc_id"] for r in dedup_exact(df).collect())
    assert kept == [1, 3, 4, 5]  # null rows kept, dup collapsed
    groups = exact_duplicates(df).collect()
    assert all(g["content_hash"] is not None for g in groups)
    assert sum(g["n_dups"] for g in groups) == 3  # nulls excluded

    edge = spark.createDataFrame(
        rows + [(1, "same text"), (None, "other"), (None, "orphan")],
        "doc_id long, text string")
    kept = Counter(r["doc_id"] for r in dedup_exact(edge).collect())
    assert kept == Counter({1: 2, 3: 1, 4: 1, 5: 1})


def test_band_table_validates_band_count(spark):
    from sift_spark.operators.dedup import (
        char_shingles,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    df = spark.createDataFrame([(1, "some text to shingle")],
                               ["doc_id", "text"])
    sigs = minhash_signatures(char_shingles(df, distinct=False), 32)
    with pytest.raises(ValueError, match="evenly divide"):
        lsh_candidate_pairs(sigs, n_bands=6, n_hashes=32)
    with pytest.raises(ValueError, match="evenly divide"):
        lsh_candidate_pairs(sigs, n_bands=64, n_hashes=32)


def test_winnowing_guarantee_survives_alignment_shift(spark):
    """Schleimer's guarantee needs SLIDING windows: a one-character
    prepend shifts every gram position, and the fingerprint sets must
    still overlap heavily (tumbling windows lose this)."""
    from sift_spark.operators.textstats import winnowing_fingerprints

    a = ("the quick brown fox jumps over the lazy dog near the riverbank "
         "while the miller sifts flour into the evening air")
    df = spark.createDataFrame([(1, a), (2, "x" + a)], ["doc_id", "text"])
    fps = winnowing_fingerprints(df).collect()
    s1 = {r["fingerprint"] for r in fps if r["doc_id"] == 1}
    s2 = {r["fingerprint"] for r in fps if r["doc_id"] == 2}
    assert len(s1 & s2) >= 0.8 * len(s1)
    # short doc (< window grams) still gets its single min fingerprint
    short = spark.createDataFrame([(9, "tiny text")], ["doc_id", "text"])
    assert winnowing_fingerprints(short).count() == 1


def test_lsh_multiprobe_hamming2_expands_probes(spark, embeddings):
    from sift_spark.operators.similarity import cosine_topk, lsh_cosine_topk

    query = list(embeddings.first()["embedding"])
    brute = [r["vec_id"] for r in cosine_topk(embeddings, query, k=5).collect()]
    h1 = {r["vec_id"] for r in
          lsh_cosine_topk(embeddings, query, k=5, probe_hamming=1).collect()}
    h2 = {r["vec_id"] for r in
          lsh_cosine_topk(embeddings, query, k=5, probe_hamming=2).collect()}
    # wider probe never loses results and recall is monotone
    assert len(set(brute) & h2) >= len(set(brute) & h1)


def test_as_of_join_semantics(spark):
    """As-of join: latest right row at-or-before each left row per key;
    same-instant right rows count; ties at one timestamp resolve to the
    largest tie value; keys with no prior right row yield nulls."""
    from datetime import datetime

    from sift_spark.operators.asof import as_of_join

    t = lambda s: datetime(2025, 6, 1, 8, 0, s)  # noqa: E731
    clicks = spark.createDataFrame(
        [(1, 100, t(10)), (1, 101, t(30)), (2, 102, t(5)), (1, 103, t(20))],
        "user_id long, event_id long, ts timestamp")
    views = spark.createDataFrame(
        [(1, 200, t(5), 1.0), (1, 201, t(20), 2.0), (1, 202, t(20), 3.0),
         (2, 203, t(50), 9.0)],
        "user_id long, view_id long, ts timestamp, value double")
    out = {r["event_id"]: (r["asof_view_id"], r["asof_value"])
           for r in as_of_join(clicks, views, "user_id", "ts",
                               ["view_id", "value"],
                               tie_col="view_id").collect()}
    assert out[100] == (200, 1.0)   # strictly-prior view
    assert out[101] == (202, 3.0)   # latest of the t20 pair (max tie)
    assert out[102] == (None, None)  # user 2's only view is later
    assert out[103] == (202, 3.0)   # same-instant views count


def test_range_join_points_buckets_and_filters(spark):
    """Bucketized point-in-interval join: exact containment regardless
    of bucket size, no nested-loop join in the plan."""
    from datetime import datetime

    from sift_spark.operators.asof import range_join_points

    from datetime import timedelta

    t = lambda m: datetime(2025, 6, 1, 8, 0, 0) + timedelta(minutes=m)  # noqa: E731
    points = spark.createDataFrame(
        [(1, 100, t(5)), (1, 101, t(30)), (1, 102, t(61)), (2, 103, t(5))],
        "key long, pid long, ts timestamp")
    intervals = spark.createDataFrame(
        [(1, "a", t(0), t(10)), (1, "b", t(20), t(70)), (2, "c", t(40), t(50))],
        "key long, iid string, start timestamp, end timestamp")
    for bucket in (60, 600, 7200):  # minute / 10-min / 2-hour buckets
        got = {(r["pid"], r["iid"]) for r in range_join_points(
            points, intervals, "key", "ts", "start", "end",
            bucket_seconds=bucket).collect()}
        assert got == {(100, "a"), (101, "b"), (102, "b")}, bucket
    with pytest.raises(ValueError):
        range_join_points(points, intervals, "key", "ts", "start", "end",
                          bucket_seconds=0)


# ---- pii / decontamination --------------------------------------------------------


def test_pii_profile_and_redact(spark):
    from sift_spark.operators.pii import pii_profile, redact_pii

    df = spark.createDataFrame(
        [(1, "mail bob.smith+x@corp.example.org or 192.168.1.254 end"),
         (2, "ssn 123-45-6789 card 4111 1111 1111 1111 tel (555) 867-5309"),
         (3, "clean text with numbers 12345 and nothing sensitive"),
         (4, "999.300.1.1 is not an ip, 255.255.255.255 is"),
         (5, "semver 1.2.3.4.5 here")],
        ["doc_id", "text"])
    prof = {r["doc_id"]: r for r in pii_profile(df).collect()}
    assert (prof[1]["n_email"], prof[1]["n_ipv4"]) == (1, 1)
    assert (prof[2]["n_ssn"], prof[2]["n_card"], prof[2]["n_phone"]) == \
        (1, 1, 1)
    assert all(prof[3][c] == 0
               for c in ("n_email", "n_ipv4", "n_ssn", "n_card", "n_phone"))
    # 999.300.1.1 has out-of-range octets; 255.255.255.255 is valid
    assert prof[4]["n_ipv4"] == 1
    # DOCUMENTED false positive: RE2-compatible patterns cannot look
    # ahead, so a dotted version string's first four octets match
    assert prof[5]["n_ipv4"] == 1

    red = {r["doc_id"]: r["text_redacted"] for r in redact_pii(df).collect()}
    assert red[1] == "mail [EMAIL] or [IPV4] end"
    assert red[2] == "ssn [SSN] card [CARD] tel [PHONE]"
    # clean text passes through untouched
    assert red[3] == "clean text with numbers 12345 and nothing sensitive"


def test_redact_order_prevents_remitching(spark):
    """A card number is masked BEFORE the phone pattern runs, so its
    digit groups can never be half-eaten as a phone match."""
    from sift_spark.operators.pii import redact_pii

    df = spark.createDataFrame(
        [(1, "pay 5105 1051 0510 5100 now")], ["doc_id", "text"])
    out = redact_pii(df).collect()[0]["text_redacted"]
    assert out == "pay [CARD] now"


def test_ngram_decontaminate(spark):
    from sift_spark.operators.decontam import (
        ngram_decontaminate,
        remove_contaminated,
    )

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "a quick brown fox jumps over whatever else entirely"),
         (3, "completely unrelated text about spark shuffles"),
         (4, "short doc")],
        ["doc_id", "text"])
    bench = spark.createDataFrame(
        [(100, "quick brown fox jumps over")], ["doc_id", "text"])

    out = {r["doc_id"]: r for r in
           ngram_decontaminate(corpus, bench, n=5).collect()}
    # doc 1: grams of len-5 window; "quick brown fox jumps over" present
    assert out[1]["n_matched_grams"] == 1
    assert out[2]["n_matched_grams"] == 1
    assert 3 not in out and 4 not in out  # clean/short docs absent
    assert out[1]["n_grams"] == 5  # 9 words -> 5 windows
    assert abs(out[1]["contamination"] - 0.2) < 1e-9

    kept = {r["doc_id"] for r in
            remove_contaminated(corpus, bench, n=5).collect()}
    assert kept == {3, 4}




# ---- sequence packing -------------------------------------------------------------


def test_pack_sequences_invariants(spark):
    from sift_spark.operators.packing import pack_sequences, packing_stats

    docs = spark.createDataFrame(
        [(i, "w " * (10 + (i * 7) % 50)) for i in range(100)]
        + [(900, "w " * 300)],  # oversized: 300 words > budget
        ["doc_id", "text"])
    packed = pack_sequences(docs, budget=64, n_shards=4).cache()
    rows = packed.collect()
    assert len(rows) == 101  # every doc assigned exactly once

    # no sequence exceeds the budget except those holding an oversized doc
    fills = {}
    for r in rows:
        key = (r["shard"], r["seq_no"])
        fills[key] = max(fills.get(key, 0), r["offset"] + r["n_tokens"])
        assert r["oversized"] == (r["n_tokens"] > 64)
    for (shard, seq), fill in fills.items():
        over = [r for r in rows
                if (r["shard"], r["seq_no"]) == (shard, seq)
                and r["oversized"]]
        assert fill <= 64 or over, (shard, seq, fill)

    # offsets within a sequence are contiguous next-fit placements
    by_seq = {}
    for r in sorted(rows, key=lambda r: (r["shard"], r["seq_no"],
                                         r["doc_id"])):
        key = (r["shard"], r["seq_no"])
        assert r["offset"] == by_seq.get(key, 0)
        by_seq[key] = r["offset"] + r["n_tokens"]

    stats = {r["shard"]: r for r in packing_stats(packed, 64).collect()}
    assert sum(s["n_sequences"] for s in stats.values()) == \
        len({(r["shard"], r["seq_no"]) for r in rows})
    assert all(0 < s["mean_fill"] <= 1.0 for s in stats.values())


def test_pack_sequences_partition_invariant(spark):
    """The assignment must be a pure function of the rows: identical
    output for 1-partition and 16-partition layouts of the same input
    (resume/determinism contract, same bar as hash_sample)."""
    from sift_spark.operators.packing import pack_sequences

    docs = spark.createDataFrame(
        [(i, "word " * (5 + (i * 13) % 40)) for i in range(200)],
        ["doc_id", "text"])
    one = {tuple(r) for r in
           pack_sequences(docs.coalesce(1), budget=50).collect()}
    many = {tuple(r) for r in
            pack_sequences(docs.repartition(16), budget=50).collect()}
    assert one == many

    with pytest.raises(ValueError, match="budget"):
        pack_sequences(docs, budget=0)


def test_pack_sequences_shard_is_md5_bucket(spark):
    """The one shard hash: every doc lands in
    pmod(sample_bucket_col(doc_id, 0), n_shards), the md5-prefix form
    the pack_sequences oracle re-derives."""
    from sift_spark.operators.packing import pack_sequences
    from sift_spark.operators.sampling import sample_bucket_col

    docs = spark.createDataFrame(
        [(i, "word " * (1 + i % 9)) for i in range(60)],
        ["doc_id", "text"])
    expect = {
        r["doc_id"]: r["shard"] for r in docs.select(
            "doc_id",
            F.pmod(sample_bucket_col("doc_id", 0), F.lit(7)).alias("shard"),
        ).collect()
    }
    got = {r["doc_id"]: r["shard"] for r in
           pack_sequences(docs, budget=20, n_shards=7).collect()}
    assert got == expect
    assert len(set(got.values())) > 1


def test_materialize_packed_sequences_portable(spark):
    """Loader-ready buffers: every sequence is <= budget tokens (unless
    flagged oversized), token ids reproduce the md5-prefix word-id
    formula with an EOD after each document, totals reconcile with the
    corpus, and the layout is partition-invariant."""
    import hashlib

    from sift_spark.operators.packing import materialize_packed_sequences

    texts = {i: "alpha beta gamma delta " * (1 + (i * 3) % 7)
             for i in range(40)}
    texts[900] = "huge " * 150  # oversized at budget 64
    docs = spark.createDataFrame(sorted(texts.items()), ["doc_id", "text"])
    out = materialize_packed_sequences(
        docs, budget=64, n_shards=4, portable_hash=True).collect()

    def wid(w):
        return int(hashlib.md5(w.encode()).hexdigest()[:15], 16)

    total_docs = total_tokens = 0
    for r in out:
        assert r["n_tokens"] == len(r["token_ids"])
        assert r["oversized"] or r["n_tokens"] <= 64
        assert r["token_ids"].count(0) == r["n_docs"]  # one EOD per doc
        total_docs += r["n_docs"]
        total_tokens += r["n_tokens"]
    assert total_docs == len(texts)
    assert total_tokens == sum(
        len(t.split()) + 1 for t in texts.values())

    # exact id stream: each sequence is the doc_id-ordered concat of
    # md5-prefix word ids + EOD -- reconstruct and compare globally
    words_of = {i: [wid(w) for w in t.split()] + [0]
                for i, t in texts.items()}
    emitted = sorted(
        (r["shard"], r["seq_no"], tuple(r["token_ids"])) for r in out)
    # rebuild the expected assignment with the operator itself at the
    # count level, then check the buffers agree with the texts
    from sift_spark.operators.packing import pack_sequences, word_count_col

    counted = docs.withColumn("_n", word_count_col("text") + 1)
    assign = pack_sequences(counted, 64, 4, tokens_col="_n").collect()
    expect = {}
    for a in sorted(assign, key=lambda a: a["doc_id"]):
        expect.setdefault((a["shard"], a["seq_no"]), []).extend(
            words_of[a["doc_id"]])
    assert emitted == sorted(
        (s, q, tuple(ids)) for (s, q), ids in expect.items())

    # partition invariance of the whole materialization
    again = sorted(
        (r["shard"], r["seq_no"], tuple(r["token_ids"]))
        for r in materialize_packed_sequences(
            docs.repartition(16), budget=64, n_shards=4,
            portable_hash=True).collect())
    assert again == emitted


def test_assignment_offsets_index_into_buffers(spark):
    """The pack_assignment_with_eod offsets are exact buffer positions:
    for every document, buffer[offset] is its first token id and
    buffer[offset + n_tokens - 1] is its EOD -- the join contract a
    loader relies on when reading _packed against _tokens."""
    import hashlib

    from sift_spark.operators.packing import (
        materialize_packed_sequences,
        pack_assignment_with_eod,
    )

    texts = {i: "w%d " % i * (3 + i % 9) for i in range(30)}
    docs = spark.createDataFrame(sorted(texts.items()), ["doc_id", "text"])
    assign = pack_assignment_with_eod(
        docs, budget=20, n_shards=3, portable_hash=True).collect()
    buffers = {
        (r["shard"], r["seq_no"]): r["token_ids"]
        for r in materialize_packed_sequences(
            docs, budget=20, n_shards=3, portable_hash=True,
        ).collect()
    }

    def wid(w):
        return int(hashlib.md5(w.encode()).hexdigest()[:15], 16)

    for a in assign:
        buf = buffers[(a["shard"], a["seq_no"])]
        words = texts[a["doc_id"]].split()
        assert a["n_tokens"] == len(words) + 1
        span = buf[a["offset"]: a["offset"] + a["n_tokens"]]
        assert span == [wid(w) for w in words] + [0], a["doc_id"]


def test_materialize_packed_sequences_bpe_vocab(spark):
    """Production path with a real tiktoken-format vocab: buffers carry
    the BPE encoder's ids and round-trip through its decoder."""
    import os

    from sift_spark.core.counters import BPETokenizer
    from sift_spark.operators.packing import materialize_packed_sequences

    vocab = os.path.join(os.path.dirname(__file__), "golden",
                         "tiny_bpe.tiktoken")
    tok = BPETokenizer.from_file(vocab)
    texts = {1: "the cat sat", 2: "on the mat", 3: "the end"}
    docs = spark.createDataFrame(sorted(texts.items()), ["doc_id", "text"])
    out = materialize_packed_sequences(
        docs, budget=1000, n_shards=1, vocab_path=vocab,
        eod_id=-7).collect()
    buffer = []
    for r in sorted(out, key=lambda r: (r["shard"], r["seq_no"])):
        buffer.extend(r["token_ids"])
    expect = []
    for i in sorted(texts):
        expect.extend(tok.encode(texts[i]))
        expect.append(-7)
    assert buffer == expect


def test_curation_job_end_to_end(spark, tmp_path):
    """One spark-submit job composes the full training-data pipeline:
    gates -> PII scrub -> exact dedup -> decontamination -> packing."""
    from sift_spark.job import curate_main

    good = ("the quick brown fox jumps over the lazy dog and that is the "
            "story of the day with plenty of the usual words to pass the "
            "quality gates, including commas and sentences.")
    rows = [
        (1, good + " mail me at bob@example.com for more."),
        (2, good + " mail me at bob@example.com for more."),  # exact dup
        (3, "der hund und die katze das ist nicht gut und der rest von "
            "dem text ist auch nicht englisch hier"),          # wrong lang
        (4, "this is an entirely different english document about the "
            "weather in the mountains, where the snow falls early and "
            "the trails are quiet for most of the season, sentences "
            "flowing naturally with commas and the usual words."),
    ]
    bench_rows = [(100, good)]  # shares 13-grams with docs 1/2
    input_dir = str(tmp_path / "docs_in")
    bench_dir = str(tmp_path / "bench_in")
    output_dir = str(tmp_path / "curated")
    spark.createDataFrame(rows, ["doc_id", "text"]).write.parquet(input_dir)
    spark.createDataFrame(bench_rows, ["doc_id", "text"]).write.parquet(
        bench_dir)

    curate_main([
        "--input", input_dir, "--output", output_dir,
        "--redact-pii", "--benchmark", bench_dir,
        "--pack-budget", "32", "--shards", "2",
        "--mix-stratum", "lang_guess",
    ])

    out = {r["doc_id"]: r for r in spark.read.parquet(output_dir).collect()}
    # doc 3: language gate; docs 1/2: dedup keeps 1, then decontamination
    # removes it (shares the benchmark's 13-grams); doc 4 survives
    assert set(out) == {4}
    assert "[EMAIL]" not in out[4]["text"]  # no pii in doc 4
    assert "bob@example.com" not in out[4]["text"]

    packed = spark.read.parquet(output_dir + "_packed").collect()
    assert {r["doc_id"] for r in packed} == {4}
    assert all(r["offset"] == 0 for r in packed)

    # temperature mix stage between curation and packing: a single
    # stratum keeps rate 1.0, so the mixed sink carries the same doc
    mixed = spark.read.parquet(output_dir + "_mixed").collect()
    assert {r["doc_id"] for r in mixed} == {4}

    # loader-ready buffers: the surviving doc's tokens + its EOD in a
    # single (oversized, since the doc exceeds 32 tokens) sequence
    tokens = spark.read.parquet(output_dir + "_tokens").collect()
    assert sum(r["n_docs"] for r in tokens) >= 1
    assert all(r["n_tokens"] == len(r["token_ids"]) for r in tokens)
    assert sum(r["token_ids"].count(0) for r in tokens) == 1  # one EOD
    assert all(r["oversized"] or r["n_tokens"] <= 32 for r in tokens)

    # the written assignment DESCRIBES the buffers: per-sequence token
    # totals in _packed equal the buffer lengths in _tokens (one
    # packing run feeds both sinks)
    packed_totals = {}
    for r in packed:
        key = (r["shard"], r["seq_no"])
        packed_totals[key] = packed_totals.get(key, 0) + r["n_tokens"]
    assert packed_totals == {
        (r["shard"], r["seq_no"]): r["n_tokens"] for r in tokens}


def test_curate_and_crawl_curate_map_flags_identically(
        spark, tmp_path, monkeypatch):
    """`curate` and `crawl-curate` share one curation flag table: the
    same curation argv yields the same run_curation_job keywords from
    both commands, every keyword is covered, and crawl-curate adds only
    its own extraction keywords."""
    import inspect

    from pyspark.sql import DataFrame

    from sift_spark import job

    snap = str(tmp_path / "snap")
    spark.createDataFrame([(1, "x")], ["doc_id", "text"]).write.parquet(
        snap)
    captured = {}

    def fake_curation(spark_, docs_df, output_dir, **kwargs):
        captured["curate"] = kwargs
        return spark_.createDataFrame([(1,)], ["doc_id"]), {}

    def fake_crawl(spark_, warc_input, output_root, **kwargs):
        captured["crawl-curate"] = kwargs
        return spark_.createDataFrame([(1,)], ["doc_id"]), {}

    curation_keywords = set(
        list(inspect.signature(job.run_curation_job).parameters)[3:])
    monkeypatch.setattr(job, "run_curation_job", fake_curation)
    monkeypatch.setattr(job, "run_crawl_curate_job", fake_crawl)
    flags = [
        "--lang", "de", "--min-quality", "0.25",
        "--lm-model", "lm_dir", "--max-ppl", "900",
        "--clf-model", "clf_dir", "--min-clf-score", "0.3",
        "--dsir-target", snap, "--dsir-k", "7", "--dsir-seed", "3",
        "--redact-pii", "--no-dedup", "--benchmark", snap,
        "--seen", snap, "--write-hashes",
        "--seen-sigs", snap, "--write-sigs", "--sig-jaccard", "0.6",
        "--seen-simhash", snap, "--write-simhash",
        "--simhash-hamming", "2", "--ngram", "8",
        "--pack-budget", "64", "--shards", "4",
        "--span-k", "5",
        "--mix-stratum", "source", "--mix-alpha", "0.3",
        "--mix-default-rate", "1.0", "--vocab", "vocab.tiktoken",
    ]
    job.curate_main(["--input", snap, "--output", "out", *flags])
    job.crawl_curate_main(["--input", "seg.warc", "--output", "out",
                           "--n-parts", "3", *flags])

    def normalized(kwargs):
        return {k: (tuple(sorted(v.inputFiles()))
                    if isinstance(v, DataFrame) else v)
                for k, v in kwargs.items()}

    crawl = dict(captured["crawl-curate"])
    own = {k: crawl.pop(k) for k in
           ("params", "n_parts", "resume", "block_hosts", "block_by")}
    assert own["n_parts"] == 3 and own["resume"] is True
    # the `extract` job's size defaults: whole pages, counted in words
    assert (own["params"].max_units, own["params"].counting_method) == (
        0, "words")
    assert normalized(crawl) == normalized(captured["curate"])
    assert set(crawl) == curation_keywords
    assert crawl["seen_df"] is not None and crawl["dedup"] is False

    # the removed bloom pre-filter flag is an argparse error on both
    for main in (job.curate_main, job.crawl_curate_main):
        with pytest.raises(SystemExit):
            main(["--input", snap, "--output", "out", "--seen", snap,
                  "--seen-bloom"])


def test_entry_points_stop_only_a_session_they_created(monkeypatch):
    """The job entry points share one session runner: a session the
    entry point created is stopped also when the job raises, and a
    session the caller already had is never stopped."""
    from types import SimpleNamespace

    from pyspark.sql import SparkSession

    from sift_spark import job

    class FakeSession:
        def __init__(self):
            self.read = SimpleNamespace(parquet=lambda path: path)
            self.stops = 0

        def stop(self):
            self.stops += 1

    def failing_curation(spark_, docs_df, output_dir, **kwargs):
        raise RuntimeError("curation failed")

    monkeypatch.setattr(job, "run_curation_job", failing_curation)
    for callers_session in (False, True):
        session = FakeSession()
        monkeypatch.setattr(job, "get_spark", lambda **kwargs: session)
        monkeypatch.setattr(
            SparkSession, "getActiveSession",
            lambda: session if callers_session else None)
        with pytest.raises(RuntimeError, match="curation failed"):
            job.curate_main(["--input", "docs", "--output", "out"])
        assert session.stops == (0 if callers_session else 1)


def test_curation_incremental_seen_loop(spark, tmp_path):
    """The weekly-crawl incremental loop at the job level: week 1
    curates with --write-hashes, week 2 feeds that _hashes snapshot
    back via --seen and drops every document whose content already
    shipped (including whitespace/case variants), before exact dedup
    runs within the new batch."""
    from sift_spark.job import run_curation_job

    base = ("a perfectly ordinary english paragraph about the harvest "
            "and the weather, with commas, sentences and the usual "
            "words flowing naturally to pass the quality gates. ")
    week1 = [(i, base + f"week one document number {i} here.")
             for i in range(4)]
    out1_dir = str(tmp_path / "week1")
    spark.createDataFrame(week1, ["doc_id", "text"]).write.parquet(
        str(tmp_path / "w1_in"))
    out1, m1 = run_curation_job(
        spark, spark.read.parquet(str(tmp_path / "w1_in")), out1_dir,
        write_hashes=True)
    assert out1.count() == 4
    hashes = spark.read.parquet(out1_dir + "_hashes")
    assert hashes.columns == ["content_hash"] and hashes.count() == 4

    week2 = [
        (100, base + "week one document number 2 here."),   # re-crawl
        (101, base + "WEEK ONE  document number 3 here."),  # variant
        (102, base + "a genuinely new week two document."),
        (103, base + "another genuinely new week two text."),
    ]
    out2_dir = str(tmp_path / "week2")
    spark.createDataFrame(week2, ["doc_id", "text"]).write.parquet(
        str(tmp_path / "w2_in"))
    out2, m2 = run_curation_job(
        spark, spark.read.parquet(str(tmp_path / "w2_in")), out2_dir,
        seen_df=hashes, write_hashes=True)
    assert m2["after_seen_dedup"] == 2
    assert {r["doc_id"] for r in out2.collect()} == {102, 103}
    # week-2 snapshot covers only the week-2 corpus (compose snapshots
    # by unioning _hashes sinks across runs)
    assert spark.read.parquet(out2_dir + "_hashes").count() == 2


def test_curation_incremental_neardup_loop(spark, tmp_path):
    """The NEAR-dup counterpart of the --seen loop (VERDICT r6 missing
    #2 at the job level): week 1 curates with write_sigs; week 2 feeds
    the _sigs snapshot back and a lightly-EDITED re-crawl (which the
    exact hash loop cannot catch) is dropped, while genuinely new
    content survives."""
    from sift_spark.job import run_curation_job

    base = ("a perfectly ordinary english paragraph about the harvest "
            "and the weather, with commas, sentences and the usual "
            "words flowing naturally to pass the quality gates. ")
    week1 = [(i, base + f"week one document number {i} closes with a "
              "long and distinctive tail of natural prose about the "
              "village markets and the evening rain.")
             for i in range(3)]
    out1_dir = str(tmp_path / "nweek1")
    spark.createDataFrame(week1, ["doc_id", "text"]).write.parquet(
        str(tmp_path / "nw1_in"))
    out1, _ = run_curation_job(
        spark, spark.read.parquet(str(tmp_path / "nw1_in")), out1_dir,
        write_sigs=True)
    assert out1.count() == 3
    sigs = spark.read.parquet(out1_dir + "_sigs")
    assert set(sigs.columns) == {"doc_id", "sig"} and sigs.count() == 3

    week2 = [
        # near-dup: doc 1's text with one word edited mid-stream
        (200, week1[1][1].replace("evening rain", "morning rain")),
        (201, base + "a completely fresh week two article about "
              "volcanic soil chemistry and highland lake acidity, "
              "written in the usual flowing natural english style."),
    ]
    out2_dir = str(tmp_path / "nweek2")
    spark.createDataFrame(week2, ["doc_id", "text"]).write.parquet(
        str(tmp_path / "nw2_in"))
    out2, m2 = run_curation_job(
        spark, spark.read.parquet(str(tmp_path / "nw2_in")), out2_dir,
        seen_sigs_df=sigs, sig_jaccard=0.5)
    assert m2["after_seen_neardup"] == 1
    assert {r["doc_id"] for r in out2.collect()} == {201}
    # 'no silent caps': the hot-band drop count is in the metrics
    assert m2["seen_neardup_capped_band_rows"] == 0


def test_curation_span_sigs_catch_recrawl(spark, tmp_path):
    """review r7: with span_k + write_sigs, the _sigs snapshot must
    also carry PRE-span-excision signatures -- a re-crawl arrives with
    its spans intact and is near-dup-checked against the snapshot
    pre-excision."""
    from sift_spark.job import run_curation_job

    passage = " ".join(
        ["the shared quoted passage continues with plenty of good and "
         "natural english words that clear the quality gates easily"] * 3
    ).split()
    shared = " ".join(passage[:40])
    base = ("this is a perfectly normal english document about the "
            "weather and the mountains with commas, sentences and the "
            "usual words flowing naturally. ")
    doc2 = ("another quite different english text about rivers and "
            "valleys with the usual words and commas, naturally. "
            + shared + " trailing remark here at the end.")
    rows = [(1, base + shared + " and then some closing words here."),
            (2, doc2)]
    w1_in, w1_out = str(tmp_path / "sw1_in"), str(tmp_path / "sw1")
    spark.createDataFrame(rows, ["doc_id", "text"]).write.parquet(w1_in)
    out1, _ = run_curation_job(
        spark, spark.read.parquet(w1_in), w1_out,
        span_k=10, write_sigs=True)
    got1 = {r["doc_id"]: r["text"] for r in out1.collect()}
    assert shared not in got1[2]  # span cut from the non-canonical doc
    sigs = spark.read.parquet(w1_out + "_sigs")
    assert sigs.count() == 4  # 2 post-span + 2 pre-span rows

    # week 2: EXACT re-crawl of doc2's original (spans intact) -- its
    # post-excision form lost ~40 words, so only the pre-span
    # signature rows can catch it
    week2 = [(20, doc2),
             (21, base + "a genuinely new week two article with the "
                  "usual natural english words flowing along nicely.")]
    w2_in, w2_out = str(tmp_path / "sw2_in"), str(tmp_path / "sw2")
    spark.createDataFrame(week2, ["doc_id", "text"]).write.parquet(w2_in)
    out2, m2 = run_curation_job(
        spark, spark.read.parquet(w2_in), w2_out,
        seen_sigs_df=sigs, sig_jaccard=0.7)
    assert m2["after_seen_neardup"] == 1
    assert {r["doc_id"] for r in out2.collect()} == {21}


def test_minhash_against_seen(spark):
    """Incremental NEAR-dup (VERDICT r6 missing #2): a new-batch doc
    that is a near-duplicate of a prior-corpus doc known only through
    its persisted minhash signature table is dropped; genuinely new
    content survives; the match table carries the component-agreement
    jaccard estimate; the seen-side bucket cap disables matching when
    it drops the hot band."""
    from sift_spark.operators.dedup import (
        char_shingles,
        dedup_against_seen_minhash,
        minhash_seen_matches,
        minhash_signatures,
    )

    base = ("the quick brown fox jumps over the lazy dog while the "
            "rain in spain falls mainly on the plain and the cat "
            "sleeps by the fire in the old stone house tonight")
    seen = spark.createDataFrame(
        [(1, base), (2, "an entirely different archived report about "
                        "quarterly grain shipments through the northern "
                        "harbor and its customs ledger entries")],
        ["doc_id", "text"])
    seen_sigs = minhash_signatures(
        char_shingles(seen, 8, distinct=False), n_hashes=16)

    new = spark.createDataFrame(
        [(10, base.replace("tonight", "at night")),  # near-dup of 1
         (11, "completely fresh prose about volcanic soil chemistry "
              "and the measured acidity of highland lakes in spring")],
        ["doc_id", "text"])
    kept = {r["doc_id"] for r in dedup_against_seen_minhash(
        new, seen_sigs, n_hashes=16, n_bands=4,
        min_est_jaccard=0.5).collect()}
    assert kept == {11}

    new_sigs = minhash_signatures(
        char_shingles(new, 8, distinct=False), n_hashes=16)
    matches = minhash_seen_matches(
        new_sigs, seen_sigs, n_bands=4, n_hashes=16,
        min_est_jaccard=0.5).collect()
    assert {(r["new_id"], r["seen_id"]) for r in matches} == {(10, 1)}
    assert all(0.5 <= r["est_jaccard"] <= 1.0 for r in matches)

    # hot seen bucket capped away -> the near-dup is NOT caught (the
    # cap trades recall for boundedness, observable via the metrics)
    hot_seen = spark.createDataFrame(
        [(i, base) for i in range(1, 4)], ["doc_id", "text"])
    hot_sigs = minhash_signatures(
        char_shingles(hot_seen, 8, distinct=False), n_hashes=16)
    kept_capped = {r["doc_id"] for r in dedup_against_seen_minhash(
        new, hot_sigs, n_hashes=16, n_bands=4,
        min_est_jaccard=0.5, max_bucket_size=2).collect()}
    assert kept_capped == {10, 11}

    # a snapshot signed with a different n_hashes must fail when the
    # plan runs, not silently deflate every estimate
    with pytest.raises(Exception, match="share n_hashes"):
        minhash_seen_matches(new_sigs, minhash_signatures(
            char_shingles(seen, 8, distinct=False), n_hashes=8),
            n_bands=4, n_hashes=16).collect()
    # an EMPTY snapshot is a no-op, not a crash
    empty_sigs = seen_sigs.filter("doc_id < 0")
    assert {r["doc_id"] for r in dedup_against_seen_minhash(
        new, empty_sigs, n_hashes=16, n_bands=4).collect()
    } == {10, 11}


def test_minhash_against_seen_mixed_width_snapshot_raises(spark):
    """A snapshot unioned from sinks signed with different n_hashes
    raises when the plan runs, even when its FIRST row has the expected
    width (a one-row probe passes it, and zip_with then null-pads the
    short signatures: at most 8 of 16 components can agree)."""
    from sift_spark.operators.dedup import minhash_seen_matches

    schema = "doc_id long, sig array<long>"
    wide = list(range(16))
    new = spark.createDataFrame([(10, wide)], schema)
    seen = spark.createDataFrame([(1, wide)], schema).coalesce(1).union(
        spark.createDataFrame([(2, wide[:8])], schema).coalesce(1))
    assert len(seen.first()["sig"]) == 16
    with pytest.raises(Exception, match="n_hashes=16"):
        minhash_seen_matches(new, seen, 4, 16).collect()


def test_minhash_against_seen_builds_without_jobs(spark):
    """Building the minhash seen matcher and drop runs zero Spark jobs:
    n_bands and n_hashes come from the caller and the signature widths
    are checked inside the plan, with no driver probe."""
    from sift_spark.operators.dedup import (
        dedup_against_seen_minhash,
        minhash_seen_matches,
    )

    sigs = spark.createDataFrame(
        [(1, list(range(16)))], "doc_id long, sig array<long>")
    docs = spark.createDataFrame([(2, "some text here")], ["doc_id", "text"])
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    minhash_seen_matches(sigs, sigs, 4, 16)
    dedup_against_seen_minhash(docs, sigs, n_hashes=16, n_bands=4)
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert before == after  # plan-building ran zero Spark jobs


@pytest.mark.parametrize("ansi", ["true", "false"])
def test_width_check_null_safe_under_either_ansi_mode(spark, ansi):
    """width_checked passes NULL arrays through and raises on a wrong
    width with ANSI mode on and off (size(NULL) is -1 with it off)."""
    from sift_spark.operators.dedup import width_checked

    df = spark.createDataFrame(
        [(1, [1, 2]), (2, None)], "id long, sig array<long>")
    prior = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        got = df.select(
            "id", width_checked(F.col("sig"), "sig", "n_hashes", 2)
            .alias("sig")).collect()
        assert sorted((r["id"], r["sig"]) for r in got) == [
            (1, [1, 2]), (2, None)]
        with pytest.raises(Exception, match=r"n_hashes=3 \(got 2\)"):
            df.select(width_checked(
                F.col("sig"), "sig", "n_hashes", 3)).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prior)


def test_curation_mix_null_stratum_metric(spark, tmp_path):
    """mix_null_stratum reports how many rows ENTER the temperature mix
    with a null stratum (the rows --mix-default-rate governs), computed
    by an Observation piggybacked on the rate derivation -- and with
    default_rate=1.0 those rows all survive to the mixed sink."""
    from sift_spark.job import run_curation_job

    base = ("a perfectly ordinary english paragraph about the harvest "
            "and the weather, with commas, sentences and the usual "
            "words flowing naturally to pass the quality gates. ")
    rows = [(i, base + f"variant number {i} here.",
             "web" if i < 3 else None) for i in range(5)]
    input_dir = str(tmp_path / "mix_in")
    output_dir = str(tmp_path / "mix_out")
    spark.createDataFrame(rows, ["doc_id", "text", "source"]).write \
        .parquet(input_dir)
    out, metrics = run_curation_job(
        spark, spark.read.parquet(input_dir), output_dir,
        temperature_stratum="source", temperature_default_rate=1.0,
    )
    assert metrics["mix_null_stratum"] == 2
    assert metrics["after_mix"] == 5
    assert out.filter(F.col("source").isNull()).count() == 2


def test_curation_span_dedup_stage(spark, tmp_path):
    """--span-k wires ExactSubstr into the curate funnel: a verbatim
    passage shared by two otherwise-distinct surviving docs is cut
    from the non-canonical one."""
    from sift_spark.job import run_curation_job

    passage = " ".join(
        ["the shared quoted passage continues with plenty of good and "
         "natural english words that clear the quality gates easily"] * 2
    ).split()
    shared = " ".join(passage[:22])
    base = ("this is a perfectly normal english document about the "
            "weather and the mountains with commas, sentences and the "
            "usual words flowing naturally. ")
    rows = [
        (1, base + shared + " and then some closing words here."),
        (2, "another quite different english text about rivers and "
            "valleys with the usual words and commas, naturally. "
            + shared + " trailing remark."),
    ]
    input_dir = str(tmp_path / "span_in")
    output_dir = str(tmp_path / "span_out")
    spark.createDataFrame(rows, ["doc_id", "text"]).write.parquet(input_dir)
    out, metrics = run_curation_job(
        spark, spark.read.parquet(input_dir), output_dir,
        dedup=True, span_k=10,
    )
    got = {r["doc_id"]: r["text"] for r in out.collect()}
    assert set(got) == {1, 2}
    assert shared in got[1]  # canonical occurrence kept
    assert shared not in got[2]  # duplicated span cut
    assert metrics.get("after_span_dedup") == 2


def test_curation_span_snapshot_catches_recrawl(spark, tmp_path):
    """ADVICE r6: with --span-k + --write-hashes, the _hashes snapshot
    must include PRE-span-excision hashes -- an exact re-crawl of a doc
    whose spans were cut last run arrives with the pre-span text, and
    --seen checks that form."""
    from sift_spark.job import run_curation_job

    passage = " ".join(
        ["the shared quoted passage continues with plenty of good and "
         "natural english words that clear the quality gates easily"] * 2
    ).split()
    shared = " ".join(passage[:22])
    base = ("this is a perfectly normal english document about the "
            "weather and the mountains with commas, sentences and the "
            "usual words flowing naturally. ")
    doc2_text = ("another quite different english text about rivers and "
                 "valleys with the usual words and commas, naturally. "
                 + shared + " trailing remark.")
    rows = [(1, base + shared + " and then some closing words here."),
            (2, doc2_text)]
    w1_in, w1_out = str(tmp_path / "w1_in"), str(tmp_path / "w1")
    spark.createDataFrame(rows, ["doc_id", "text"]).write.parquet(w1_in)
    out1, _ = run_curation_job(
        spark, spark.read.parquet(w1_in), w1_out,
        span_k=10, write_hashes=True)
    got1 = {r["doc_id"]: r["text"] for r in out1.collect()}
    assert shared not in got1[2]  # span actually cut
    # snapshot: 2 post-span hashes + doc2's distinct pre-span hash
    # (doc1's pre == post: its canonical occurrence was kept)
    hashes = spark.read.parquet(w1_out + "_hashes")
    assert hashes.count() == 3

    # week 2: exact re-crawl of doc2's ORIGINAL (pre-span) text must be
    # dropped by --seen; a fresh doc survives
    week2 = [(10, doc2_text),
             (11, base + "a genuinely new week two document, with the "
                  "usual english words flowing naturally.")]
    w2_in, w2_out = str(tmp_path / "w2_in"), str(tmp_path / "w2")
    spark.createDataFrame(week2, ["doc_id", "text"]).write.parquet(w2_in)
    out2, m2 = run_curation_job(
        spark, spark.read.parquet(w2_in), w2_out, seen_df=hashes)
    assert m2["after_seen_dedup"] == 1
    assert {r["doc_id"] for r in out2.collect()} == {11}


def test_pii_scrub_to_zero_property():
    """Property: after redaction, the profile counts are zero for every
    class -- over structured compositions of words, PII snippets and
    digit runs (pure-regex check; the Spark expressions use the same
    PII_PATTERNS via the same Java-regex semantics for these ASCII
    patterns)."""
    import re

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from sift_spark.operators.pii import PII_PATTERNS

    words = st.sampled_from(
        ["alpha", "beta", "the", "data", "x9", "v1.2", "2024", "-", "(a)"])
    pii = st.sampled_from([
        "bob@example.org", "a.b+c@mail.co", "10.0.0.1", "255.255.255.255",
        "123-45-6789", "4111 1111 1111 1111", "(555) 867-5309",
        "555-867-5309", "555.867.5309",
    ])
    digit_runs = st.text(alphabet="0123456789- .()", min_size=1,
                         max_size=24)
    token = st.one_of(words, pii, digit_runs)

    def redact(text):
        for name, pattern in PII_PATTERNS:
            text = re.sub(pattern, f"[{name.upper()}]", text)
        return text

    @given(st.lists(token, max_size=12))
    @settings(max_examples=300, deadline=None)
    def check(tokens):
        text = " ".join(tokens)
        scrubbed = redact(text)
        for name, pattern in PII_PATTERNS:
            assert not re.search(pattern, scrubbed), (
                name, text, scrubbed)

    check()


def test_write_token_buffers_manifest(spark, tmp_path):
    """write_token_buffers: size-bounded files (maxRecordsPerFile from
    the budget byte bound) and a one-file _manifest.json whose per-file
    and total counts reconcile exactly with the written parquet; the
    underscore name keeps the directory loadable as plain parquet."""
    import json

    from sift_spark.operators.packing import (
        materialize_packed_sequences,
        write_token_buffers,
    )

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon " * (1 + i % 3))
         for i in range(12)],
        ["doc_id", "text"])
    buffers = materialize_packed_sequences(
        docs, budget=24, n_shards=2, portable_hash=True)
    out_dir = str(tmp_path / "tokens")
    manifest = write_token_buffers(
        spark, buffers, out_dir, budget=24, n_shards=2, max_file_mb=0)

    # max_file_mb=0 floors maxRecordsPerFile at 1 -> one sequence per
    # parquet file, proving the size bound reaches the writer
    assert manifest["max_records_per_file"] == 1
    rows = spark.read.parquet(out_dir).collect()
    assert manifest["totals"]["n_files"] >= len(rows) >= 1
    assert all(f["n_sequences"] == 1 for f in manifest["files"])

    disk = json.loads((tmp_path / "tokens" / "_manifest.json").read_text())
    assert disk == manifest
    assert disk["totals"]["n_sequences"] == len(rows)
    assert disk["totals"]["n_tokens"] == sum(r["n_tokens"] for r in rows)
    assert disk["totals"]["n_docs"] == 12
    assert disk["totals"]["n_oversized_seqs"] == 0
    assert [f["name"] for f in disk["files"]] == sorted(
        f["name"] for f in disk["files"])


def test_pack_sequences_null_text_packs_as_zero(spark):
    """Null-text rows pack as 0-token docs instead of killing the
    grouped kernel (sibling-operator null contract)."""
    from sift_spark.operators.packing import pack_sequences

    docs = spark.createDataFrame(
        [(1, "five words of real text"), (2, None), (3, "more words here")],
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in
            pack_sequences(docs, budget=10, n_shards=2).collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[2]["n_tokens"] == 0 and rows[2]["oversized"] is False


def test_curation_job_stage_metrics(spark, tmp_path):
    """Stage counts ride the staging and sink writes via Observation --
    no extra jobs -- and report the funnel (input -> gates -> dedup)."""
    from sift_spark.job import run_curation_job

    good = ("the quick brown fox jumps over the lazy dog and that is the "
            "story of the day with plenty of the usual words to pass the "
            "quality gates, including commas and sentences.")
    docs = spark.createDataFrame(
        [(1, good), (2, good), (3, "der hund und die katze das ist nicht "
                                   "gut und der rest ist deutsch hier")],
        ["doc_id", "text"])
    out, metrics = run_curation_job(
        spark, docs, str(tmp_path / "curated"))
    assert out.count() == 1
    assert metrics["input"] == 3
    assert metrics["after_gates"] == 2   # german doc gated
    assert metrics["after_dedup"] == 1   # twin collapsed


def _record_parquet_writes(monkeypatch, fail_path=None):
    """Record every DataFrameWriter.parquet target; a write to
    `fail_path` raises instead."""
    from pyspark.sql.readwriter import DataFrameWriter

    written = []
    real_parquet = DataFrameWriter.parquet

    def record(self, path, *args, **kwargs):
        written.append(path)
        if path == fail_path:
            raise RuntimeError("sink write failed")
        return real_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", record)
    return written


def test_curation_staging_is_run_scoped_and_deleted(
        spark, tmp_path, monkeypatch):
    """The gated batch is staged beside the output under a per-run
    uuid: two runs into one output_dir stage to distinct paths, and
    neither leaves its staging directory behind. The second run names
    the output with a trailing slash, which must not put the staging
    directory inside the output the sink overwrites."""
    import glob

    from sift_spark.job import run_curation_job

    good = ("the quick brown fox jumps over the lazy dog and that is the "
            "story of the day with plenty of the usual words to pass the "
            "quality gates, including commas and sentences.")
    docs = spark.createDataFrame([(1, good), (2, good)],
                                 ["doc_id", "text"])
    output_dir = str(tmp_path / "curated")
    written = _record_parquet_writes(monkeypatch)
    for target in (output_dir, output_dir + "/"):
        out, _ = run_curation_job(spark, docs, target)
        assert out.count() == 1
    staged = [p for p in written if p.startswith(output_dir + "_gated-")]
    assert len(staged) == len(set(staged)) == 2
    assert glob.glob(str(tmp_path / "*_gated-*")) == []


def test_curation_staging_deleted_when_sink_write_raises(
        spark, tmp_path, monkeypatch):
    """A failing sink write still deletes the staged batch, and the
    failure reaches the caller."""
    import os

    from sift_spark.job import run_curation_job

    good = ("the quick brown fox jumps over the lazy dog and that is the "
            "story of the day with plenty of the usual words to pass the "
            "quality gates, including commas and sentences.")
    docs = spark.createDataFrame([(1, good)], ["doc_id", "text"])
    output_dir = str(tmp_path / "curated")
    written = _record_parquet_writes(monkeypatch, fail_path=output_dir)
    with pytest.raises(RuntimeError, match="sink write failed"):
        run_curation_job(spark, docs, output_dir)
    staged, sink = written
    assert staged.startswith(output_dir + "_gated-") and sink == output_dir
    assert not os.path.exists(os.path.dirname(staged))


# ---- WARC ingestion ---------------------------------------------------------------


def _http_response(body):
    return (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body)


def test_warc_parse_pure():
    """Pure-python WARC framing: response records become pages, other
    record types are skipped, truncation yields an error row."""
    from sift_spark.sources.warc import build_warc_bytes, iter_warc_pages

    records = [
        ("warcinfo", None, "2024-01-01T00:00:00Z", b"software: test"),
        ("request", "http://a.example/", "2024-01-01T00:00:01Z",
         b"GET / HTTP/1.1\r\n\r\n"),
        ("response", "http://a.example/", "2024-01-01T00:00:01Z",
         _http_response(b"<html><body><p>alpha</p></body></html>")),
        ("response", "http://b.example/x", "2024-01-02T10:30:00Z",
         _http_response(b"<html><body><p>beta</p></body></html>")),
    ]
    for kwargs in ({}, {"compress": True}, {"per_record_gzip": True}):
        pages = list(iter_warc_pages(build_warc_bytes(records, **kwargs)))
        assert [p["url"] for p in pages] == [
            "http://a.example/", "http://b.example/x"]
        assert all(p["error"] is None for p in pages)
        assert b"alpha" in pages[0]["html"]
        assert b"HTTP/1.1" not in pages[0]["html"]  # headers stripped

    truncated = build_warc_bytes(records)[:-40]
    pages = list(iter_warc_pages(truncated, "f.warc"))
    assert pages[-1]["error"] is not None
    assert pages[0]["url"] == "http://a.example/"  # prefix still parsed


def test_read_warc_to_extraction(spark, tmp_path):
    """End-to-end: WARC segment files on disk -> read_warc -> the
    extraction UDF, one task per file, timestamps parsed."""
    from sift_spark.core.pipeline import SiftParams
    from sift_spark.operators.extract import extract_pages
    from sift_spark.sources.warc import build_warc_bytes, read_warc

    warc_dir = tmp_path / "warcs"
    warc_dir.mkdir()
    for i in range(3):
        records = [
            ("response", f"http://site{i}.example/page", 
             f"2024-03-0{i + 1}T12:00:00Z",
             _http_response(
                 (f"<html><body><h1>Title {i}</h1><p>Body text {i} with "
                  f"several words.</p></body></html>").encode())),
            ("metadata", f"http://site{i}.example/page",
             f"2024-03-0{i + 1}T12:00:00Z", b"fetch: ok"),
        ]
        (warc_dir / f"seg-{i}.warc.gz").write_bytes(
            build_warc_bytes(records, per_record_gzip=True))

    pages = read_warc(spark, str(warc_dir))
    rows = pages.collect()
    assert len(rows) == 3
    assert all(r["error"] is None for r in rows)
    assert {r["warc_ts"].day for r in rows} == {1, 2, 3}

    extracted = extract_pages(
        pages.select("url", "html"), SiftParams()).collect()
    by_url = {r["url"]: r["text"] for r in extracted}
    assert "Body text 1" in by_url["http://site1.example/page"]


def test_line_frequency_dedup(spark):
    """CCNet-style boilerplate line removal: a footer repeated across
    docs is dropped, unique prose and empty lines survive, order is
    preserved on reassembly."""
    from sift_spark.operators.dedup import line_frequency_dedup

    footer = "subscribe to our newsletter today"
    docs = spark.createDataFrame(
        [(1, f"unique first line\n\n{footer}\nunique last line"),
         (2, f"different prose here\n{footer}"),
         (3, f"more original words\n{footer.upper()}"),  # case-normalized
         (4, "entirely boilerplate free document")],
        ["doc_id", "text"])
    out = {r["doc_id"]: r for r in
           line_frequency_dedup(docs, min_docs=3).collect()}
    # footer appears (normalized) in 3 docs -> dropped everywhere
    assert out[1]["text_clean"] == \
        "unique first line\n\nunique last line"
    assert out[1]["n_lines"] == 4 and out[1]["n_dropped"] == 1
    assert out[2]["text_clean"] == "different prose here"
    assert out[3]["text_clean"] == "more original words"
    assert out[4]["n_dropped"] == 0
    assert out[4]["text_clean"] == "entirely boilerplate free document"

    # below the threshold nothing is dropped
    loose = {r["doc_id"]: r["n_dropped"] for r in
             line_frequency_dedup(docs, min_docs=4).collect()}
    assert all(v == 0 for v in loose.values())


def test_warc_review_edge_cases(spark, tmp_path):
    """Third-review regressions: folded headers parse, LF-delimited
    HTTP headers split at the earliest blank line, and a fractional or
    malformed WARC-Date becomes a null timestamp, never a job abort
    (ANSI mode is on by default in Spark 4)."""
    from sift_spark.sources.warc import (
        iter_warc_pages,
        read_warc,
        split_http_response,
    )

    # folded header continuation (ISO 28500 / RFC 2822 folding)
    raw = (b"WARC/1.0\r\n"
           b"WARC-Type: response\r\n"
           b"WARC-Target-URI: http://folded.example/a\r\n"
           b" continued-part\r\n"
           b"WARC-Date: 2024-05-01T00:00:00Z\r\n"
           b"Content-Length: 23\r\n"
           b"\r\n"
           b"HTTP/1.1 200 OK\r\n\r\nbody\r\n\r\n")
    pages = list(iter_warc_pages(raw))
    assert pages[0]["url"] == "http://folded.example/a continued-part"
    assert pages[0]["html"] == b"body"

    # bare-LF headers with a CRLF-CRLF later in the body
    payload = (b"HTTP/1.1 200 OK\nContent-Type: text/html\n\n"
               b"<html><p>early</p>\r\n\r\n<p>late</p></html>")
    _status, body = split_http_response(payload)
    assert body.startswith(b"<html><p>early</p>")

    # fractional-second and garbage dates -> timestamp / null, no abort
    from sift_spark.sources.warc import build_warc_bytes

    records = [
        ("response", "http://f.example/", "2024-05-01T00:00:00.123Z",
         b"HTTP/1.1 200 OK\r\n\r\n<p>f</p>"),
        ("response", "http://g.example/", "not-a-date",
         b"HTTP/1.1 200 OK\r\n\r\n<p>g</p>"),
    ]
    p = tmp_path / "edge.warc"
    p.write_bytes(build_warc_bytes(records))
    rows = {r["url"]: r for r in read_warc(spark, str(p)).collect()}
    assert rows["http://f.example/"]["warc_ts"].microsecond == 123000
    assert rows["http://g.example/"]["warc_ts"] is None


def test_warc_incremental_batches(spark, tmp_path):
    """Per-task memory bound: one WARC file streams out as MULTIPLE
    Arrow batches (record-count and byte caps both trigger), with rows
    identical to the eager parse, and read_warc returns the same pages
    regardless of batch size."""
    from sift_spark.sources.warc import (
        _page_batches,
        build_warc_bytes,
        iter_warc_pages,
        read_warc,
    )

    records = [
        ("response", f"http://b{i}.example/", "2024-06-01T00:00:00Z",
         b"HTTP/1.1 200 OK\r\n\r\n<p>page %d body words</p>" % i)
        for i in range(10)
    ]
    data = build_warc_bytes(records, per_record_gzip=True)

    # record-count cap: 10 pages at 3/batch -> 4 batches
    batches = list(_page_batches(data, "f", batch_records=3,
                                 batch_bytes=1 << 30))
    assert [len(b) for b in batches] == [3, 3, 3, 1]
    # byte cap: each body is ~30 bytes, cap at 1 byte -> one page/batch
    assert len(list(_page_batches(data, "f", 1000, batch_bytes=1))) == 10
    # concatenation == eager parse
    import pandas as pd

    streamed = pd.concat(batches, ignore_index=True)
    eager = pd.DataFrame(list(iter_warc_pages(data, "f")),
                         columns=list(streamed.columns))
    assert streamed.equals(eager)

    # e2e through Spark with a tiny batch size: same pages
    p = tmp_path / "batched.warc.gz"
    p.write_bytes(data)
    out = read_warc(spark, str(p), batch_records=2).collect()
    assert sorted(r["url"] for r in out) == sorted(
        f"http://b{i}.example/" for i in range(10))
    assert all(r["error"] is None for r in out)


def test_warc_date_variable_fraction_digits(spark, tmp_path):
    """ADVICE r4: WARC 1.1 allows 1-9 fractional-second digits; widths
    other than 3 parse at second precision instead of becoming null."""
    from sift_spark.sources.warc import build_warc_bytes, read_warc

    records = [
        ("response", "http://d1.example/", "2024-05-01T01:02:03.5Z",
         b"HTTP/1.1 200 OK\r\n\r\n<p>1</p>"),
        ("response", "http://d6.example/", "2024-05-01T01:02:03.123456Z",
         b"HTTP/1.1 200 OK\r\n\r\n<p>6</p>"),
        ("response", "http://d9.example/", "2024-05-01T01:02:03.123456789Z",
         b"HTTP/1.1 200 OK\r\n\r\n<p>9</p>"),
    ]
    p = tmp_path / "frac.warc"
    p.write_bytes(build_warc_bytes(records))
    rows = {r["url"]: r["warc_ts"]
            for r in read_warc(spark, str(p)).collect()}
    for url, ts in rows.items():
        assert ts is not None, url
        assert (ts.year, ts.hour, ts.minute, ts.second) == (2024, 1, 2, 3)


def test_duplicated_span_dedup(spark):
    """ExactSubstr-style span removal: a verbatim 25-word passage
    shared by two docs is cut from the non-canonical occurrence only
    (boundary windows crossing into differing prose don't match, so
    exactly the shared words go); unrelated and short docs pass
    untouched; null text passes through."""
    from sift_spark.operators.dedup import duplicated_span_dedup

    shared = " ".join(f"quote{i}" for i in range(25))
    d1 = f"alpha beta gamma {shared} delta epsilon"
    d2 = f"one two three four five {shared} six seven"
    d3 = " ".join(f"unrelated{i}" for i in range(15))
    docs = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3), (4, "short doc"), (5, None)],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           duplicated_span_dedup(docs, k=10).collect()}
    # doc 1 owns the passage (min (doc, pos)) and keeps everything
    assert out[1]["text_clean"] == d1 and out[1]["n_dropped"] == 0
    # doc 2 loses exactly the 25 shared words
    assert out[2]["text_clean"] == "one two three four five six seven"
    assert out[2]["n_dropped"] == 25
    assert out[2]["n_words"] == 32
    assert out[3]["n_dropped"] == 0 and out[3]["text_clean"] == d3
    assert out[4]["text_clean"] == "short doc"  # < k words, no windows
    assert out[5]["text_clean"] is None and out[5]["n_words"] == 0

    # min_count above the occurrence count disables removal
    loose = {r["doc_id"]: r["n_dropped"] for r in
             duplicated_span_dedup(docs, k=10, min_count=3).collect()}
    assert all(v == 0 for v in loose.values())

    # WITHIN-doc repetition is also deduplicated (ExactSubstr treats
    # all occurrences alike): a period-3 text keeps one period
    rep = ("spam ham eggs " * 8).strip()
    rep_docs = spark.createDataFrame([(9, rep)],
                                     "doc_id long, text string")
    row = duplicated_span_dedup(rep_docs, k=6).first()
    assert row["text_clean"] == "spam ham eggs"
    assert row["n_dropped"] == 21 and row["n_words"] == 24


def test_url_host_domain_and_blocklist(spark):
    """Host extraction (userinfo/port stripped), registered-domain
    heuristic (eTLD+1 with the ccTLD second-level rule), and the
    broadcast blocklist anti-join: by='domain' blocks every subdomain
    of a listed site, by='host' only the exact host."""
    from sift_spark.operators.urlnorm import (
        filter_blocked_hosts,
        registered_domain_col,
        url_host_col,
    )

    rows = [
        (1, "https://Sub.Shop.Example.CO.UK/p?x=1"),
        (2, "http://user:pw@Blog.example.com:8080/post"),
        (3, "https://example.org/page"),
        (4, "https://cdn.example.org/asset.js"),
        (5, "not a url"),
        (6, "https://Blocked.Example.COM./x"),   # trailing-dot FQDN
        (7, "http://[::1]:8080/x"),              # bracketed IPv6
        (8, "http://user@[2001:DB8::1]/y"),      # IPv6 + userinfo
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "url"])
    got = {r["doc_id"]: (r["host"], r["domain"]) for r in docs.select(
        "doc_id",
        url_host_col(F.col("url")).alias("host"),
        registered_domain_col(url_host_col(F.col("url")))
        .alias("domain"),
    ).collect()}
    assert got[1] == ("sub.shop.example.co.uk", "example.co.uk")
    assert got[2] == ("blog.example.com", "example.com")
    assert got[3] == ("example.org", "example.org")
    assert got[4] == ("cdn.example.org", "example.org")
    assert got[5] == ("", "")
    # ADVICE r6: the FQDN trailing dot must not defeat the domain key,
    # and IPv6 literals must key as the whole bracketed literal (the
    # old port-strip at ':' truncated them to '[')
    assert got[6] == ("blocked.example.com", "example.com")
    assert got[7] == ("[::1]", "[::1]")
    assert got[8] == ("[2001:db8::1]", "[2001:db8::1]")

    by_domain = {r["doc_id"] for r in filter_blocked_hosts(
        docs, ["example.org"], by="domain").collect()}
    assert by_domain == {1, 2, 5, 6, 7, 8}  # both org hosts blocked
    by_host = {r["doc_id"] for r in filter_blocked_hosts(
        docs, ["cdn.example.org"], by="host").collect()}
    assert by_host == {1, 2, 3, 5, 6, 7, 8}  # only the exact host

    # the FQDN spelling of a blocked domain is caught (ADVICE r6)
    assert {r["doc_id"] for r in filter_blocked_hosts(
        docs, ["example.com"], by="domain").collect()
    } == {1, 3, 4, 5, 7, 8}

    # DataFrame-shaped blocklist + case-insensitive entries
    bdf = spark.createDataFrame([("EXAMPLE.CO.UK",)], ["host"])
    assert {r["doc_id"] for r in filter_blocked_hosts(
        docs, bdf, by="domain").collect()} == {2, 3, 4, 5, 6, 7, 8}

    with pytest.raises(ValueError):
        filter_blocked_hosts(docs, ["x"], by="path")

    # review r6 regressions: a blank blocklist line must not delete
    # every malformed-url record (url_host_col('') == ''), and an
    # empty programmatic list is a no-op, not a schema-inference crash
    with_blank = {r["doc_id"] for r in filter_blocked_hosts(
        docs, ["example.org", "", "  "], by="domain").collect()}
    assert 5 in with_blank  # the non-url row survives
    assert {r["doc_id"] for r in
            filter_blocked_hosts(docs, []).collect()
            } == {1, 2, 3, 4, 5, 6, 7, 8}


def test_dedup_against_seen(spark):
    """Incremental crawl dedup: new-batch docs whose normalized content
    exists in the prior snapshot's 16-byte hash table are dropped;
    whitespace/case variants match (same normalization as dedup_exact);
    null-text rows pass through; raw-doc seen input works too."""
    from sift_spark.operators.dedup import (
        content_hash_col,
        dedup_against_seen,
    )

    seen_docs = spark.createDataFrame(
        [(1, "the old document body"), (2, "another archived page")],
        "doc_id long, text string")
    snapshot = seen_docs.select(
        content_hash_col("text").alias("content_hash"))

    new_docs = spark.createDataFrame(
        [(10, "THE  old document\nbody"),   # normalized match -> drop
         (11, "a genuinely new document"),
         (12, None),
         (13, "another archived page")],    # exact match -> drop
        "doc_id long, text string")
    kept = {r["doc_id"] for r in
            dedup_against_seen(new_docs, snapshot).collect()}
    assert kept == {11, 12}

    # raw-document seen input computes the hashes on the fly; a
    # null-text seen row hashes to null and matches nothing
    kept2 = {r["doc_id"] for r in dedup_against_seen(
        new_docs, seen_docs, seen_text_col="text").collect()}
    assert kept2 == kept
    seen_with_null = seen_docs.unionByName(spark.createDataFrame(
        [(3, None)], "doc_id long, text string"))
    kept_null = [r["doc_id"] for r in dedup_against_seen(
        new_docs, seen_with_null, seen_text_col="text").collect()]
    assert sorted(kept_null) == [11, 12]

    # a snapshot persisted from exact_duplicates carries lowercase-HEX
    # string hashes under the same column name; they must unhex-match,
    # not silently no-op via Spark's implicit string->binary cast
    # (review r6 finding)
    from sift_spark.operators.dedup import exact_duplicates

    hex_snapshot = exact_duplicates(seen_docs).select("content_hash")
    kept3 = {r["doc_id"] for r in
             dedup_against_seen(new_docs, hex_snapshot).collect()}
    assert kept3 == kept

    # any other dtype is a loud caller error, not a silent miss
    with pytest.raises(ValueError):
        dedup_against_seen(
            new_docs,
            seen_docs.select(F.col("doc_id").alias("content_hash")))


def test_dedup_against_seen_empty_snapshot_keeps_all(spark):
    """An empty snapshot drops nothing: every new row, null text
    included, survives the anti-join."""
    from sift_spark.operators.dedup import (
        content_hash_col,
        dedup_against_seen,
    )

    new_docs = spark.createDataFrame(
        [(100 + i, f"fresh crawl document {i}") for i in range(10)]
        + [(999, None)],
        "doc_id long, text string")
    empty = new_docs.select(
        content_hash_col("text").alias("content_hash")).limit(0)
    kept = {r["doc_id"] for r in dedup_against_seen(
        new_docs, empty).collect()}
    assert kept == {r["doc_id"] for r in new_docs.collect()}


def test_crawl_curate_end_to_end(spark, tmp_path):
    """One-command crawl-to-loader (VERDICT r5 missing #1): multi-record
    .warc.gz segments go straight to a curated corpus + loader-ready
    _tokens buffers in a single invocation, funnel metrics carried
    through, and a re-run resumes extraction (zero new parts)."""
    from sift_spark.job import run_crawl_curate_job
    from sift_spark.sources.warc import build_warc_bytes

    def page(paras):
        body = "".join(f"<p>{p}</p>" for p in paras)
        html = ("<html><head><title>t</title></head><body><article>"
                f"{body}</article></body></html>").encode()
        return (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
                + html)

    prose = ("The river valley settlement grew slowly over many years, "
             "and the people who lived there planted orchards along "
             "the water because the soil was rich and the summers were "
             "long and generous.")
    other = ("A different account of mountain travel follows, with long "
             "descriptions of the weather in the high passes and the "
             "slow work of crossing them before the first snow.")
    third = ("Market day brought the whole town together in the square, "
             "where farmers traded apples and wool while children "
             "chased each other between the stalls until evening.")
    records1 = [
        ("warcinfo", None, "2024-05-01T00:00:00Z", b"software: test"),
        ("response", "http://a.example/story", "2024-05-01T00:00:00Z",
         page([prose, other])),
        ("response", "http://b.example/copy", "2024-05-01T00:01:00Z",
         page([prose, other])),  # byte-identical content: exact dup
    ]
    records2 = [
        ("response", "http://c.example/other", "2024-05-01T00:02:00Z",
         page([third, other[:60] + " entirely new trailing prose here."])),
        # revisit record: the SAME url crawled again in a later segment
        # must collapse to one document, not mint a duplicate doc_id
        ("response", "http://a.example/story", "2024-05-02T00:00:00Z",
         page([prose, other])),
        # a blocklisted site: its bytes must never reach extraction
        ("response", "http://ads.blocked.example/banner",
         "2024-05-01T00:03:00Z", page([prose])),
    ]
    warc_dir = tmp_path / "segments"
    warc_dir.mkdir()
    (warc_dir / "seg1.warc.gz").write_bytes(
        build_warc_bytes(records1, compress=True))
    (warc_dir / "seg2.warc.gz").write_bytes(
        build_warc_bytes(records2, per_record_gzip=True))
    out_root = str(tmp_path / "corpus")

    out, metrics = run_crawl_curate_job(
        spark, str(warc_dir), out_root, n_parts=4, pack_budget=64,
        block_hosts=["blocked.example"])

    # the blocked subdomain was anti-joined out BEFORE extraction
    assert metrics["extracted_docs"] == 4  # incl. the revisit record
    assert metrics["extract_errors"] == 0
    assert metrics["html_bytes_in"] > 0
    # url-level collapse: the revisited url enters curation once
    assert metrics["input"] == 3 and metrics["after_gates"] == 3
    assert metrics["after_dedup"] == 2
    rows = {r["url"]: r["text"] for r in out.collect()}
    assert len(rows) == 2 and "http://c.example/other" in rows
    # exactly one of the duplicate pair survives, with the real prose
    dup_urls = {"http://a.example/story", "http://b.example/copy"}
    survivor = dup_urls & set(rows)
    assert len(survivor) == 1
    assert prose in rows[survivor.pop()]

    # loader-ready buffers exist and cover both curated docs
    tokens = spark.read.parquet(out_root + "_tokens")
    tok_rows = tokens.collect()
    assert len(tok_rows) >= 1
    assert sum(r["n_docs"] for r in tok_rows) == 2
    assert all(len(r["token_ids"]) == r["n_tokens"] for r in tok_rows)

    # the _tokens manifest describes the directory without a scan and
    # cross-checks against packing_stats over the written assignment
    import json

    from sift_spark.operators.packing import packing_stats

    manifest = json.loads(
        (tmp_path / "corpus_tokens" / "_manifest.json").read_text())
    assert manifest["format"] == "sift-spark-packed-tokens-v1"
    assert manifest["budget"] == 64 and manifest["vocab"] == "fallback-hash"
    assert manifest["totals"]["n_docs"] == 2
    assert manifest["totals"]["n_sequences"] == len(tok_rows)
    assert manifest["totals"]["n_tokens"] == sum(
        r["n_tokens"] for r in tok_rows)
    assert sum(f["n_sequences"] for f in manifest["files"]) == \
        manifest["totals"]["n_sequences"]
    stats = packing_stats(
        spark.read.parquet(out_root + "_packed"), 64).collect()
    assert sum(r["n_sequences"] for r in stats) == \
        manifest["totals"]["n_sequences"]

    # second invocation resumes: no new extraction work, same corpus
    out2, metrics2 = run_crawl_curate_job(
        spark, str(warc_dir), out_root, n_parts=4, pack_budget=64,
        block_hosts=["blocked.example"])
    assert metrics2["extracted_docs"] == 0
    assert out2.count() == 2

    # a blocklist GROWN after extraction still applies on resume: the
    # pre-extraction gate never sees completed segments, so the same
    # gate re-runs over the extracted table (review r6)
    out3, metrics3 = run_crawl_curate_job(
        spark, str(warc_dir), out_root, n_parts=4, pack_budget=64,
        block_hosts=["blocked.example", "c.example"])
    assert metrics3["extracted_docs"] == 0  # still fully resumed
    urls3 = {r["url"] for r in out3.collect()}
    assert "http://c.example/other" not in urls3
    assert len(urls3) == 1


def test_crawl_curate_keeps_long_pages_whole(spark, tmp_path):
    """crawl-curate extracts with the `extract` job's defaults (no size
    limit, counted in words): a page far over the reference CLI's
    2500-token non-search limit reaches the curated corpus whole."""
    from sift_spark.job import run_crawl_curate_job
    from sift_spark.sources.warc import build_warc_bytes

    paras = [f"The farmer from village {i} walked to the market early "
             f"and sold apples to the people of the town before noon."
             for i in range(300)]
    paras.append("This closing sentence ends the long page.")
    html = ("<html><head><title>t</title></head><body><article>"
            + "".join(f"<p>{p}</p>" for p in paras)
            + "</article></body></html>").encode()
    record = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
              + html)
    warc = tmp_path / "seg.warc"
    warc.write_bytes(build_warc_bytes(
        [("response", "http://long.example/page", "2024-05-01T00:00:00Z",
          record)]))
    out, _ = run_crawl_curate_job(spark, str(warc),
                                  str(tmp_path / "corpus"), n_parts=2,
                                  min_quality=0.0)
    (text,) = [r["text"] for r in out.collect()]
    assert len(text.split()) == sum(len(p.split()) for p in paras)
    assert text.rstrip().endswith(paras[-1])


def test_crawl_curate_checks_curation_args_before_extraction(spark,
                                                            tmp_path):
    """A bad curation argument raises before any Spark work: no
    `<output>_extracted` directory appears and no job runs. span_k=1,
    a negative pack_budget and packing into 0 shards are refused too
    (each used to fail only after a sink was written), and a removed
    option is a TypeError."""
    import os

    from sift_spark.job import run_crawl_curate_job, run_curation_job
    from sift_spark.sources.warc import build_warc_bytes

    html = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
            b"<html><body><article><p>Some page text.</p></article>"
            b"</body></html>")
    warc = tmp_path / "seg.warc"
    warc.write_bytes(build_warc_bytes(
        [("response", "http://a.example/", "2024-05-01T00:00:00Z", html)]))
    snap = spark.createDataFrame([(1, 0)], "doc_id long, simhash long")
    docs = spark.createDataFrame([(1, "some text")],
                                 "doc_id long, text string")
    bad = [
        (ValueError, dict(span_k=1)),
        (ValueError, dict(lm_model="/nonexistent/lm")),
        (ValueError, dict(clf_model="/nonexistent/clf")),
        (ValueError, dict(dsir_target_df=docs)),
        (ValueError, dict(seen_simhash_df=snap, simhash_max_hamming=4)),
        (ValueError, dict(pack_budget=64, n_shards=0)),
        (ValueError, dict(pack_budget=-1)),
        (TypeError, dict(span_hash_mode="md5")),
    ]
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    out_root = str(tmp_path / "corpus")
    for error, kwargs in bad:
        with pytest.raises(error):
            run_crawl_curate_job(spark, str(warc), out_root, n_parts=2,
                                 **kwargs)
        assert not os.path.exists(out_root + "_extracted"), kwargs
    with pytest.raises(ValueError, match="span_k"):
        run_curation_job(spark, docs, out_root, span_k=1)
    assert set(tracker.getJobIdsForGroup(None)) == before


def test_span_dedup_preserves_whitespace(spark):
    """Only the duplicated characters are excised (ADVICE r5 medium):
    text outside the spans -- newlines, tabs, runs of spaces -- comes
    back byte-identical, and docs with no duplicated spans (including
    sub-k docs) pass through verbatim rather than space-rejoined."""
    from sift_spark.operators.dedup import duplicated_span_dedup

    shared = " ".join(f"q{i}" for i in range(12))
    d1 = f"intro  line\n\twith   tabs\n{shared} and\na coda\n"
    # the shared span sits mid-doc between newline-structured prose
    d2 = f"other\n\nprose here\n{shared} trailing\t text\n"
    d3 = "untouched\tdoc with  odd\n spacing\n"
    docs = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3)], "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           duplicated_span_dedup(docs, k=10).collect()}
    # doc 1 canonical: byte-identical
    assert out[1]["text_clean"] == d1 and out[1]["n_dropped"] == 0
    # doc 2: exactly the span chars + trailing separator cut; all
    # other bytes (newlines, the tab) survive
    assert out[2]["text_clean"] == "other\n\nprose here\ntrailing\t text\n"
    assert out[2]["n_dropped"] == 12
    assert out[3]["text_clean"] == d3

    # a duplicated run ending at the last word consumes the PRECEDING
    # separator (no dangling trailing whitespace)
    tail = " ".join(f"t{i}" for i in range(10))
    t1 = f"alpha beta {tail}"
    t2 = f"gamma delta\n{tail}"
    tdocs = spark.createDataFrame(
        [(1, t1), (2, t2)], "doc_id long, text string")
    tout = {r["doc_id"]: r for r in
            duplicated_span_dedup(tdocs, k=10).collect()}
    assert tout[1]["text_clean"] == t1
    assert tout[2]["text_clean"] == "gamma delta"


def _span_dedup_reference(rows, k):
    """Pure-Python duplicated_span_dedup at min_count 2: windows keyed
    by their exact word tuples (no hashing), the minimum (doc_id, pos)
    occurrence kept, and each run of covered words cut together with
    its trailing separator (the preceding one at the doc end)."""
    import re

    texts = {d: t for d, t in rows if t is not None}
    spans = {d: [m.span() for m in re.finditer(r"[^ \t\r\n\f]+", t)]
             for d, t in texts.items()}
    owned, removed = set(), {d: set() for d in texts}
    for d in sorted(texts):
        words = [texts[d][a:b] for a, b in spans[d]]
        for p in range(len(words) - k + 1):
            key = tuple(words[p:p + k])
            if key in owned:
                removed[d].update(range(p, p + k))
            else:
                owned.add(key)
    out = []
    for d, t in rows:
        if t is None:
            out.append((d, None, 0, 0))
            continue
        cut, n = sorted(removed[d]), len(spans[d])
        clean, prev, i = [], 0, 0
        while i < len(cut):
            j = i
            while j + 1 < len(cut) and cut[j + 1] == cut[j] + 1:
                j += 1
            a, b = cut[i], cut[j]
            if b + 1 < n:
                cs, ce = spans[d][a][0], spans[d][b + 1][0]
            else:
                cs, ce = (spans[d][a - 1][1] if a else 0), len(t)
            clean.append(t[prev:cs])
            prev, i = ce, j + 1
        clean.append(t[prev:])
        out.append((d, "".join(clean), n, len(cut)))
    return sorted(out)


def test_span_dedup_matches_word_tuple_reference(spark):
    """The rolling 64-bit window keys (an O(n) uint64 polynomial over
    xxhash64 word hashes) give the same full output as a pure-Python
    reference keyed by exact word tuples, with ANSI mode on and off:
    a null text passes through as (id, null, 0, 0) either way, though
    size(null) differs between the modes."""
    from sift_spark.operators.dedup import duplicated_span_dedup

    shared = " ".join(f"w{i}" for i in range(30))
    rows = [
        (1, f"alpha beta {shared} gamma"),
        (2, f"one two three {shared} four"),
        (3, ("spam ham eggs " * 9).strip()),     # within-doc period-3
        (4, "short doc"),
        (5, None),
        (6, "x " * 7 + shared),                  # span at doc end
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    try:
        for mode in ("true", "false"):
            spark.conf.set("spark.sql.ansi.enabled", mode)
            for k in (6, 10, 20):
                got = sorted(tuple(r) for r in
                             duplicated_span_dedup(docs, k=k).collect())
                assert got == _span_dedup_reference(rows, k), (mode, k)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)


def test_paragraph_frequency_dedup(spark):
    """sep='\\n\\n' switches the CCNet frequency unit from lines to
    paragraphs: a boilerplate paragraph (with internal newlines) is
    dropped as one unit, while line mode on the same text would only
    drop its individual lines; unique paragraphs keep their internal
    structure."""
    from sift_spark.operators.dedup import line_frequency_dedup

    banner = "accept our cookies\nbefore you continue"
    docs = spark.createDataFrame(
        [(1, f"{banner}\n\nfirst unique prose\nacross two lines"),
         (2, f"{banner}\n\nsecond unique paragraph"),
         (3, "third document\n\nno banner at all")],
        ["doc_id", "text"])
    out = {r["doc_id"]: r for r in
           line_frequency_dedup(docs, min_docs=2, sep="\n\n").collect()}
    assert out[1]["text_clean"] == "first unique prose\nacross two lines"
    assert out[1]["n_lines"] == 2 and out[1]["n_dropped"] == 1
    assert out[2]["text_clean"] == "second unique paragraph"
    assert out[3]["n_dropped"] == 0
    assert out[3]["text_clean"] == "third document\n\nno banner at all"

    # line mode on the same corpus drops the banner's two lines
    by_line = {r["doc_id"]: r for r in
               line_frequency_dedup(docs, min_docs=2).collect()}
    assert by_line[1]["n_dropped"] == 2


def test_line_frequency_dedup_null_text_passthrough(spark):
    """ADVICE r4: null-text documents pass through with text_clean=null
    and zero counts instead of silently vanishing from the output."""
    from sift_spark.operators.dedup import line_frequency_dedup

    docs = spark.createDataFrame(
        [(1, "shared line\nown words one"),
         (2, "shared line\nown words two"),
         (3, None)],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           line_frequency_dedup(docs, min_docs=2).collect()}
    assert set(out) == {1, 2, 3}
    assert out[3]["text_clean"] is None
    assert out[3]["n_lines"] == 0 and out[3]["n_dropped"] == 0
    assert out[1]["text_clean"] == "own words one"
    assert out[1]["n_dropped"] == 1


def test_duplicated_spans_table_planted(spark):
    """Maximal-span report: two docs share a 6-word phrase; with k=3
    the non-canonical doc reports ONE merged [start, start+6) span."""
    from sift_spark.operators.dedup import duplicated_spans_table

    phrase = "alpha beta gamma delta epsilon zeta"
    a = "one two three " + phrase + " four five six"
    b = "seven eight " + phrase + " nine ten eleven twelve"
    docs = spark.createDataFrame(
        [(1, a), (2, b)], "doc_id long, text string"
    )
    rows = duplicated_spans_table(docs, k=3).collect()
    assert len(rows) == 1  # canonical occurrence (doc 1) not reported
    r = rows[0]
    assert r["doc_id"] == 2
    assert r["span_start"] == 2  # after "seven eight"
    assert r["span_end"] == 8
    assert r["span_words"] == 6


def test_duplicated_spans_table_within_doc_and_parity(spark):
    """Within-doc repetition surfaces on the second occurrence, and
    sum(span_words) per doc equals duplicated_span_dedup's n_dropped
    (the table reports EXACTLY what the dedup would excise)."""
    from sift_spark.operators.dedup import (
        duplicated_span_dedup,
        duplicated_spans_table,
    )

    phrase = " ".join(f"w{i}" for i in range(8))
    docs = spark.createDataFrame(
        [
            (1, f"intro {phrase} middle part {phrase} tail words here"),
            (2, f"fresh content without any repeats at all {phrase}"),
            (3, "completely unique text that repeats nothing of note"),
            (4, None),
        ],
        "doc_id long, text string",
    )
    rows = duplicated_spans_table(docs, k=4).collect()
    got = {(r["doc_id"], r["span_start"], r["span_end"]) for r in rows}
    # doc 1: second in-doc occurrence at words 11..19; doc 2: its copy
    # of the phrase at words 7..15 (doc 1's first occurrence at pos 1
    # is canonical)
    assert (1, 11, 19) in got
    assert (2, 7, 15) in got
    assert all(d != 3 for d, _, _ in got)
    per_doc = {}
    for r in rows:
        per_doc[r["doc_id"]] = per_doc.get(r["doc_id"], 0) + r["span_words"]
    dropped = {r["doc_id"]: r["n_dropped"]
               for r in duplicated_span_dedup(docs, k=4).collect()}
    for d in (1, 2, 3):
        assert per_doc.get(d, 0) == dropped[d], d


def test_embedding_against_seen_two_week_loop(spark):
    """The embedding seen-loop (third dedup family next to exact hashes
    and minhash): week-2 vectors near-identical to the week-1 snapshot
    are dropped; fresh directions survive; an empty snapshot is a
    no-op."""
    from sift_spark.operators.similarity import (
        dedup_against_seen_embedding,
        embedding_seen_matches,
    )

    week1 = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    week2 = spark.createDataFrame(
        [
            (10, [1.0, 0.0, 0.0, 0.0]),      # exact re-ship of 1
            (11, [0.0, 0.999, 0.04, 0.0]),   # near-dup of 2
            (12, [0.0, 0.0, 1.0, 0.0]),      # fresh direction
        ],
        "vec_id long, embedding array<float>",
    )
    matches = {
        (r["new_id"], r["seen_id"]): r["cosine"]
        for r in embedding_seen_matches(week2, week1, dim=4).collect()
    }
    assert matches.get((10, 1)) == pytest.approx(1.0)
    assert (11, 2) in matches
    assert not any(n == 12 for n, _ in matches)

    kept = sorted(
        r["vec_id"]
        for r in dedup_against_seen_embedding(
            week2, week1, dim=4
        ).collect()
    )
    assert kept == [12]

    empty = week1.filter(F.col("vec_id") < 0)
    assert sorted(
        r["vec_id"]
        for r in dedup_against_seen_embedding(
            week2, empty, dim=4
        ).collect()
    ) == [10, 11, 12]


def test_embedding_against_seen_width_asserted_in_plan(spark):
    """Width mismatches raise PER ROW inside the plan (review r7 pass
    4: a first-row probe would let a mixed-width unioned snapshot
    silently null-pad cosines and re-admit near-duplicates); null
    embeddings are unmatchable pass-throughs, never crashes."""
    from sift_spark.operators.similarity import (
        dedup_against_seen_embedding,
        embedding_seen_matches,
    )

    new = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None)],
        "vec_id long, embedding array<float>",
    )
    seen = spark.createDataFrame(
        [(3, [1.0, 0.0]), (4, [1.0, 0.0, 0.0])],  # mixed widths
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(Exception, match="embedding width"):
        embedding_seen_matches(new, seen, dim=2).collect()
    # clean widths: the null-vec new row survives (unmatchable)
    clean_seen = seen.filter(F.col("vec_id") == 3)
    kept = sorted(
        r["vec_id"]
        for r in dedup_against_seen_embedding(
            new, clean_seen, dim=2
        ).collect()
    )
    assert kept == [2]  # 1 matched seen 3 exactly; null row kept


def test_embedding_against_seen_lazy_with_dim_and_typed_empty(spark):
    """dim keeps the call fully lazy (no driver probe jobs), for the
    matcher and the drop alike; an empty new batch matches nothing
    through the plan itself, which carries the id column's REAL
    type."""
    from sift_spark.operators.similarity import (
        dedup_against_seen_embedding,
        embedding_seen_matches,
    )

    week1 = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    embedding_seen_matches(week1, week1, dim=4)
    dedup_against_seen_embedding(week1, week1, dim=4)
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert before == after  # plan-building ran zero Spark jobs
    s_new = spark.createDataFrame([], "vec_id string, embedding array<float>")
    s_seen = week1.select(
        F.col("vec_id").cast("string").alias("vec_id"), "embedding"
    )
    out = embedding_seen_matches(s_new, s_seen, dim=4)
    assert out.schema["new_id"].dataType.simpleString() == "string"
    assert out.count() == 0


def test_embedding_against_seen_reports_its_bucket_cap(spark):
    """dedup_against_seen_embedding caps the snapshot's buckets at 1000
    rows and reports what the cap dropped through `observation`: a
    re-shipped vector whose only match sits in a 1001-row bucket
    survives, and the observation says why. The opposite vector's
    small bucket still drops its re-ship (and keeps the match side
    non-empty, so AQE cannot prune the observation)."""
    from sift_spark.operators.dedup import (
        bucket_cap_observation,
        report_bucket_cap,
    )
    from sift_spark.operators.similarity import dedup_against_seen_embedding

    schema = "vec_id long, embedding array<double>"
    hot = F.array(*[F.lit(x) for x in (1.0, 0.0, 0.0, 0.0)])
    seen = spark.range(1001).select(
        F.col("id").alias("vec_id"), hot.alias("embedding")
    ).unionByName(spark.createDataFrame([(9999, [-1.0, 0.0, 0.0, 0.0])],
                                        schema))
    new = spark.createDataFrame(
        [(5000, [1.0, 0.0, 0.0, 0.0]), (5001, [-1.0, 0.0, 0.0, 0.0])],
        schema)
    obs = bucket_cap_observation("embedding_seen_cap")
    kept = dedup_against_seen_embedding(new, seen, dim=4, observation=obs)
    assert [r["vec_id"] for r in kept.collect()] == [5000]
    assert report_bucket_cap(obs) == {
        "n_dropped_rows": 1001, "largest_bucket": 1001,
    }


def test_embedding_against_seen_plan_is_bucket_equijoin(spark):
    """The seen join must be a bucket equi-join, never a cartesian."""
    from sift_spark.operators.similarity import embedding_seen_matches

    emb = spark.createDataFrame(
        [(i, [float(i == j) for j in range(4)]) for i in range(4)],
        "vec_id long, embedding array<float>",
    )
    pairs = embedding_seen_matches(emb, emb, dim=4)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_simhash_against_seen_two_week_loop(spark):
    """The simhash seen-loop (fourth family; cheapest snapshot -- one
    int64 per historical doc): week-2 re-ships and near-identical
    edits are dropped against the persisted hash table; fresh docs
    survive; empty snapshot is a no-op."""
    from sift_spark.operators.dedup import (
        dedup_against_seen_simhash,
        simhash64_udf,
        simhash_seen_matches,
    )

    base = " ".join(f"token{i}" for i in range(60))
    near = base.replace("token7 ", "token7x ")
    fresh = " ".join(f"other{i}" for i in range(60))
    week1 = spark.createDataFrame(
        [(1, base), (2, " ".join(f"w1only{i}" for i in range(40)))],
        ["doc_id", "text"],
    )
    seen = week1.select(
        "doc_id", simhash64_udf(F.col("text")).alias("simhash")
    )
    week2 = spark.createDataFrame(
        [(10, base), (11, near), (12, fresh)], ["doc_id", "text"]
    )
    new_hashed = week2.select(
        "doc_id", simhash64_udf(F.col("text")).alias("simhash")
    )
    matches = {
        (r["new_id"], r["seen_id"]): r["hamming"]
        for r in simhash_seen_matches(
            new_hashed, seen, max_hamming=3
        ).collect()
    }
    assert matches.get((10, 1)) == 0
    assert (11, 1) in matches and matches[(11, 1)] <= 3
    # past the pigeonhole bound the seen boundary refuses (silent
    # recall loss); the in-batch form keeps >3 as approximate mode
    with pytest.raises(ValueError, match="max_hamming"):
        simhash_seen_matches(new_hashed, seen, max_hamming=6)
    assert not any(n == 12 for n, _ in matches)

    kept = sorted(
        r["doc_id"]
        for r in dedup_against_seen_simhash(
            week2, seen, max_hamming=3
        ).collect()
    )
    assert kept == [12]

    empty = seen.filter(F.col("doc_id") < 0)
    assert sorted(
        r["doc_id"]
        for r in dedup_against_seen_simhash(
            week2, empty, max_hamming=3
        ).collect()
    ) == [10, 11, 12]


def test_simhash_against_seen_plan_is_chunk_equijoin(spark):
    from sift_spark.operators.dedup import (
        simhash64_udf,
        simhash_seen_matches,
    )

    docs = spark.createDataFrame(
        [(i, f"text number {i} with words") for i in range(4)],
        ["doc_id", "text"],
    )
    hashed = docs.select(
        "doc_id", simhash64_udf(F.col("text")).alias("simhash")
    )
    pairs = simhash_seen_matches(hashed, hashed, max_hamming=3)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_curation_incremental_simhash_loop(spark, tmp_path):
    """Two-week job-level simhash loop: --write-simhash emits the
    <out>_simhash snapshot; week 2 feeds it back and drops the
    near-identical (whitespace-edited) re-crawl the exact loop would
    miss, keeping fresh docs (stage after_seen_simhash)."""
    from sift_spark.job import run_curation_job

    base = ("the quick brown fox jumps over the lazy dog and the "
            "story continues with plenty of good english words in "
            "sentences that pass the quality gates easily today. "
            ) * 3
    week1 = spark.createDataFrame([(1, base)], ["doc_id", "text"])
    out1 = str(tmp_path / "w1")
    run_curation_job(spark, week1, out1, min_quality=0.0,
                     write_simhash=True)
    snap = spark.read.parquet(out1 + "_simhash")
    assert snap.columns == ["doc_id", "simhash"]
    assert snap.count() == 1

    near = base.replace("quick brown", "quick  brown")  # tiny edit
    fresh = ("completely different content about glacier flow and "
             "satellite imagery collected over seasons by the team "
             "with plenty of good english words in real sentences. "
             ) * 3
    week2 = spark.createDataFrame(
        [(10, near), (11, fresh)], ["doc_id", "text"]
    )
    out2 = str(tmp_path / "w2")
    out, metrics = run_curation_job(
        spark, week2, out2, min_quality=0.0,
        seen_simhash_df=snap, simhash_max_hamming=3)
    assert metrics["after_seen_simhash"] == 1
    assert metrics["seen_simhash_capped_chunk_rows"] == 0
    assert {r["doc_id"] for r in out.collect()} == {11}

    # the chunk blocking is lossless only for hamming <= 3: the job
    # refuses the silent-recall-loss regime (review r7 pass 5)
    with pytest.raises(ValueError, match="hamming"):
        run_curation_job(spark, week2, str(tmp_path / "w3"),
                         min_quality=0.0, seen_simhash_df=snap,
                         simhash_max_hamming=6)
