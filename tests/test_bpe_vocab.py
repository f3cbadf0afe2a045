"""Real-vocab BPE path end-to-end: tiktoken-format loader -> Spark UDFs.

The reference's DEFAULT counting mode is cl100k_base BPE
(/root/reference/cmd/sift/main.go:52-55,
internal/counter/token_counter.go:33-47). The real 1.7 MB asset is not
shippable here, so tests/golden/tiny_bpe.tiktoken (generated by
scripts/make_test_vocab.py, 256 byte tokens + 100 trained merges in
tiktoken's exact rank-file format) exercises the identical code path:
$SIFT_SPARK_CL100K_PATH -> BPETokenizer.from_file -> Counter inside the
Spark UDF closures. Swapping in the real cl100k_base file is a one-step
env change.
"""

import os

import pytest
from pyspark.sql import functions as F

from sift_spark.core.counters import (
    TOKENS,
    BPETokenizer,
    Counter,
    FallbackTokenizer,
    get_tokenizer,
)

VOCAB = os.path.join(os.path.dirname(__file__), "golden", "tiny_bpe.tiktoken")


def test_from_file_loads_tiktoken_format():
    tok = BPETokenizer.from_file(VOCAB)
    assert len(tok.ranks) == 356  # 256 bytes + 100 merges
    assert tok.ranks[b"t"] == ord("t")  # byte tokens at their byte value
    assert all(rank >= 256 for token, rank in tok.ranks.items()
               if len(token) > 1)


def test_bpe_encode_merges_and_roundtrips():
    tok = BPETokenizer.from_file(VOCAB)
    text = "The streaming pipeline can't shuffle 2024 documents, it's ranked."
    ids = tok.encode(text)
    assert all(i >= 0 for i in ids)  # full byte coverage: no unknowns
    assert len(ids) < len(text.encode())  # merges actually happened
    raw = b"".join(tok.decoder[i] for i in ids)
    assert raw.decode() == text  # exact roundtrip
    assert tok.count(text) == len(ids)
    assert tok.count("") == 0


def test_bpe_partial_is_exact_prefix():
    tok = BPETokenizer.from_file(VOCAB)
    text = "the extraction pipeline counts the tokens in the text"
    ids = tok.encode(text)
    for k in (1, 3, len(ids) // 2, len(ids)):
        prefix = tok.partial(text, k)
        assert text.startswith(prefix)
        assert tok.count(prefix) <= k
    assert tok.partial(text, len(ids) + 5) == text
    assert tok.partial(text, 0) == ""


def test_get_tokenizer_path_beats_env_and_caches(monkeypatch):
    monkeypatch.delenv("SIFT_SPARK_CL100K_PATH", raising=False)
    assert isinstance(get_tokenizer(), FallbackTokenizer)
    # bogus path with no env falls back instead of crashing
    assert isinstance(get_tokenizer("/no/such/vocab"), FallbackTokenizer)
    tok = get_tokenizer(VOCAB)
    assert isinstance(tok, BPETokenizer)
    assert get_tokenizer(VOCAB) is tok  # cached per path
    monkeypatch.setenv("SIFT_SPARK_CL100K_PATH", VOCAB)
    assert isinstance(get_tokenizer(), BPETokenizer)


def test_params_capture_vocab_path_on_driver(monkeypatch):
    from sift_spark.core.pipeline import SiftParams

    monkeypatch.setenv("SIFT_SPARK_CL100K_PATH", VOCAB)
    assert SiftParams().cl100k_path == VOCAB
    monkeypatch.delenv("SIFT_SPARK_CL100K_PATH")
    assert SiftParams().cl100k_path is None


def test_real_vocab_counts_through_spark_extract(spark, monkeypatch):
    """extract_pages with TOKENS counting must use the real BPE encoder
    on the WORKERS via the closure-captured path (worker env is never
    consulted -- daemons inherit env from JVM launch)."""
    from sift_spark.core.pipeline import SiftParams
    from sift_spark.operators.extract import extract_pages

    monkeypatch.setenv("SIFT_SPARK_CL100K_PATH", VOCAB)
    params = SiftParams(counting_method=TOKENS, max_units=0)
    assert params.cl100k_path == VOCAB

    # heavy merge-vocabulary so the BPE and fallback counts DIFFER
    # (41 vs 55 on the body): the != assertion below proves which
    # encoder ran on the workers
    html = ("<html><body><div><p>extraction extraction extraction "
            "tokenizer tokenizer pipeline pipeline selection selection "
            "content content streaming streaming documents documents"
            "</p></div></body></html>")
    pages = spark.createDataFrame(
        [("bpe://1", bytearray(html.encode()))], "url string, html binary"
    )
    row = extract_pages(pages, params).collect()[0]
    assert row["error"] is None
    expected = Counter(TOKENS, VOCAB).count(row["text"])
    assert row["n_units"] == expected
    # proves the REAL encoder ran (not the fallback): counts differ
    assert expected != FallbackTokenizer().count(row["text"])


def test_real_vocab_token_budget_through_spark(spark, monkeypatch):
    """max_units budgeting under the real encoder: the truncated output's
    BPE token count must not exceed the budget (and the fallback encoder
    would cut at a different place)."""
    from sift_spark.core.pipeline import SiftParams
    from sift_spark.operators.extract import extract_pages

    monkeypatch.setenv("SIFT_SPARK_CL100K_PATH", VOCAB)
    params = SiftParams(counting_method=TOKENS, max_units=12)

    body = ("The extraction pipeline counts the tokens in the text, "
            "and the selection stage keeps the chunks that fit.")
    html = f"<html><body><div><p>{body}</p></div></body></html>"
    pages = spark.createDataFrame(
        [("bpe://2", bytearray(html.encode()))], "url string, html binary"
    )
    row = extract_pages(pages, params).collect()[0]
    bpe = Counter(TOKENS, VOCAB)
    assert 0 < bpe.count(row["text"]) <= 12
    assert len(row["text"]) < len(body)  # the budget actually truncated


def test_real_vocab_through_chunk_pages(spark, monkeypatch):
    """chunk-table token counting captures the vocab path DRIVER-side
    (SiftParams.cl100k_path, read from the env when the params are
    built) and matches the driver encoder exactly."""
    from sift_spark.core.pipeline import SiftParams
    from sift_spark.operators.chunking import chunk_pages

    monkeypatch.setenv("SIFT_SPARK_CL100K_PATH", VOCAB)
    texts = [
        "the extraction pipeline counts the tokens",
        "shuffle partitions join and broadcast the small side",
        "it's ranked, scored and budgeted in 2024",
    ]
    md = spark.createDataFrame(
        [(f"u{i}", t) for i, t in enumerate(texts)], ["url", "text_md"])
    got = {
        r["chunk_text"]: r["n_units"]
        for r in chunk_pages(md, SiftParams(counting_method=TOKENS))
        .select("chunk_text", "n_units").collect()
    }
    assert set(got) == set(texts)
    bpe = Counter(TOKENS, VOCAB)
    for t in texts:
        assert got[t] == bpe.count(t), t


def test_bpe_roundtrip_property():
    """Full byte coverage (ranks 0-255) means encode->decode is an EXACT
    roundtrip for arbitrary unicode text, and partial(k) is always a
    prefix -- the invariants budgeting depends on."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    tok = BPETokenizer.from_file(VOCAB)

    @given(st.text(max_size=200))
    @settings(max_examples=200, deadline=None)
    def check(text):
        ids = tok.encode(text)
        assert all(i >= 0 for i in ids)
        raw = b"".join(tok.decoder[i] for i in ids)
        assert raw.decode("utf-8") == text
        if ids:
            prefix = tok.partial(text, max(1, len(ids) // 2))
            assert text.startswith(prefix)

    check()


def test_get_tokenizer_missing_path_falls_back_to_env(monkeypatch):
    """Cascade is path -> env -> fallback: a captured driver path that
    does not exist on this node must still honor the env vocab."""
    monkeypatch.setenv("SIFT_SPARK_CL100K_PATH", VOCAB)
    assert isinstance(get_tokenizer("/no/such/file"), BPETokenizer)
    monkeypatch.delenv("SIFT_SPARK_CL100K_PATH")
    assert isinstance(get_tokenizer("/no/such/file"), FallbackTokenizer)


# The real 1.7 MB cl100k_base.tiktoken is absent from this container;
# this test SKIPS until someone drops it at $SIFT_SPARK_CL100K_REAL (or
# the conventional location below), at which point the documented
# one-step swap is PROVEN against known-good cl100k token counts
# (OpenAI cookbook "How to count tokens with tiktoken":
# cl100k_base.encode("tiktoken is great!") == [83, 1609, 5963, 374,
# 2294, 0]).
REAL_CL100K = os.environ.get(
    "SIFT_SPARK_CL100K_REAL", "/root/assets/cl100k_base.tiktoken"
)


@pytest.mark.skipif(
    not os.path.exists(REAL_CL100K),
    reason="real cl100k_base.tiktoken asset not present in this container",
)
def test_real_cl100k_asset_end_to_end(spark, monkeypatch):
    """With the production vocabulary present, the loader and the Spark
    closure path must reproduce cl100k_base's published token ids."""
    from sift_spark.core.pipeline import SiftParams
    from sift_spark.operators.extract import extract_pages

    tok = BPETokenizer.from_file(REAL_CL100K)
    assert len(tok.ranks) >= 100000  # the real table, not a fixture
    assert tok.encode("tiktoken is great!") == [83, 1609, 5963, 374, 2294, 0]
    assert tok.count("hello world") == 2

    monkeypatch.setenv("SIFT_SPARK_CL100K_PATH", REAL_CL100K)
    params = SiftParams(counting_method=TOKENS, max_units=0)
    pages = spark.createDataFrame(
        [("cl100k://1",
          bytearray(b"<html><body><p>tiktoken is great!</p></body></html>"))],
        "url string, html binary",
    )
    row = extract_pages(pages, params).collect()[0]
    assert row["error"] is None
    assert row["n_units"] == tok.count(row["text"])
