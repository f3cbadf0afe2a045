"""BPE vocabulary training (operators/bpe.py): exact parity with the
serial reference trainer, the piece-count limit, tiktoken round-trip,
and the train -> pack e2e loop."""

import importlib.util
import os

import pytest
from pyspark.sql import functions as F

from sift_spark.operators import bpe
from sift_spark.operators.bpe import (
    piece_count_table,
    save_vocab,
    train_bpe,
    train_bpe_vocab,
    vocab_file_bytes,
)

_SCRIPT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "scripts", "make_test_vocab.py",
)


def _serial_trainer():
    spec = importlib.util.spec_from_file_location("mkvocab", _SCRIPT)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_matches_serial_reference_exactly(spark):
    """The driver merge loop reproduces the serial trainer's merge list
    EXACTLY (same pairs, same order) on the reference sample."""
    mod = _serial_trainer()
    serial = mod.train(mod.SAMPLE, 40)
    docs = spark.createDataFrame([(1, mod.SAMPLE)], "doc_id long, text string")
    trained = train_bpe(docs, 40)
    assert [left + right for left, right in trained] == serial


def test_weighted_pieces_match_serial_trainer(spark):
    """Two documents give pieces weights above 1, which the driver
    loop's incremental pair counts multiply in; the serial trainer
    over the concatenated text must agree merge for merge."""
    mod = _serial_trainer()
    half = mod.SAMPLE[: len(mod.SAMPLE) // 2]
    docs = spark.createDataFrame(
        [(1, mod.SAMPLE), (2, half)], "doc_id long, text string",
    )
    trained = train_bpe(docs, 35)
    # the pre-tokenizer splits at the doc boundary either way: SAMPLE
    # ends in a space piece and `half` starts with a letter run
    serial = mod.train(mod.SAMPLE + half, 35)
    assert [left + right for left, right in trained] == serial
    assert len(trained) == 35


def test_refuses_piece_table_over_limit(spark, monkeypatch):
    """A piece table over the driver loop's limit raises instead of
    collecting; the message names the limit and the way out."""
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta")], "doc_id long, text string"
    )
    monkeypatch.setattr(bpe, "_MAX_PIECES", 4)
    with pytest.raises(ValueError, match="more than 4 distinct pieces"
                                         ".*sample of the corpus"):
        train_bpe(docs, 5)
    monkeypatch.setattr(bpe, "_MAX_PIECES", 5)  # 4 words and " "
    assert train_bpe(docs, 5, min_freq=1)


def test_multidoc_equals_concatenation_weights(spark):
    """Pre-tokenization makes training a pure function of the piece
    COUNT table, so splitting the sample across docs (and partitions)
    changes nothing."""
    mod = _serial_trainer()
    half = len(mod.SAMPLE) // 2
    # split on a space so no piece straddles the doc boundary
    cut = mod.SAMPLE.rindex(" ", 0, half) + 1
    docs2 = spark.createDataFrame(
        [(1, mod.SAMPLE[:cut]), (2, mod.SAMPLE[cut:])],
        "doc_id long, text string",
    ).repartition(7)
    one = train_bpe(
        spark.createDataFrame([(1, mod.SAMPLE)],
                              "doc_id long, text string"),
        25,
    )
    two = train_bpe(docs2, 25)
    assert one == two


def test_piece_count_table(spark):
    docs = spark.createDataFrame(
        [(1, "the cat the cat sat"), (2, "the dog")],
        "doc_id long, text string",
    )
    counts = {
        r["piece"]: r["weight"]
        for r in piece_count_table(docs).collect()
    }
    assert counts["the"] == 3
    assert counts[" "] == 5  # whitespace pieces carry their own counts
    assert counts["cat"] == 2


def test_vocab_round_trips_through_encoder(spark, tmp_path):
    """The written rank file loads through BPETokenizer.from_file and
    actually compresses: trained merges mean fewer tokens than bytes."""
    from sift_spark.core.counters import BPETokenizer

    mod = _serial_trainer()
    docs = spark.createDataFrame([(1, mod.SAMPLE)],
                                 "doc_id long, text string")
    path = str(tmp_path / "trained.tiktoken")
    merges = train_bpe_vocab(spark, docs, 256 + 60, path)
    assert len(merges) == 60
    tok = BPETokenizer.from_file(path)
    text = "the extraction pipeline counts the tokens"
    ids = tok.encode(text)
    assert 0 < len(ids) < len(text.encode("utf-8"))
    assert all(i >= 0 for i in ids)  # every byte is covered
    # ranks: 256 bytes + one per merge, contiguous
    assert sorted(tok.ranks.values()) == list(range(256 + 60))


def test_early_stop_below_min_freq(spark):
    docs = spark.createDataFrame(
        [(1, "ab ab cd")], "doc_id long, text string"
    )
    merges = train_bpe(docs, 50, min_freq=2)
    # only ('a','b') reaches freq 2; everything else stops the loop
    assert merges == [(b"a", b"b")]
    with pytest.raises(ValueError):
        train_bpe_vocab(None, docs, 200, "/tmp/x")


def test_trained_vocab_packs_end_to_end(spark, tmp_path):
    """The full loop: train-bpe -> materialize_packed_sequences with
    the trained vocab -> buffers decode back to the corpus text."""
    from sift_spark.core.counters import BPETokenizer
    from sift_spark.operators.packing import (
        materialize_packed_sequences,
    )

    mod = _serial_trainer()
    corpus = spark.createDataFrame(
        [(1, mod.SAMPLE)], "doc_id long, text string"
    )
    path = str(tmp_path / "corpus.tiktoken")
    train_bpe_vocab(spark, corpus, 256 + 40, path)

    docs = spark.createDataFrame(
        [(10, "the extraction pipeline counts tokens"),
         (11, "the selection stage keeps the chunks")],
        "doc_id long, text string",
    )
    packed = materialize_packed_sequences(
        docs, budget=512, n_shards=2, vocab_path=path, eod_id=0
    ).collect()
    assert packed
    tok = BPETokenizer.from_file(path)
    decoded = []
    for row in packed:
        assert row["n_tokens"] == len(row["token_ids"])
        assert not row["oversized"]
        decoded.extend(row["token_ids"])
    # buffers decode to the original text (EOD id 0 maps to a
    # single-byte token we strip)
    raw = b"".join(
        tok.decoder[i] for i in decoded if i != 0
    ).decode("utf-8")
    assert "the extraction pipeline counts tokens" in raw
    assert "the selection stage keeps the chunks" in raw
