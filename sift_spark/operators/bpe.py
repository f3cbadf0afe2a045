"""BPE vocabulary training on a Spark corpus (Sennrich et al. 2016).

The pipeline could already ENCODE with a tiktoken-format vocab
(core/counters.py BPETokenizer, packing's `vocab_path=`); this module
PRODUCES one from the corpus, closing the loop: crawl -> curate ->
train-bpe -> pack with the trained vocab.

Shape:

1. ONE corpus pass builds the weighted DISTINCT PIECE table --
   pre-tokenize natively (`regexp_extract_all` with the same
   engine-portable FALLBACK_PATTERN the encoder uses), explode, and
   groupBy piece.  Everything after runs on this compact table
   (bounded by the corpus's surface vocabulary, not the corpus), which
   is the same trick production trainers (HuggingFace tokenizers,
   SentencePiece) use.
2. The table is collected once and the merge loop runs on the driver
   with incremental pair counts: each merge touches only the pieces
   that contain the winning pair, and no merge starts a Spark job.
   A table over _MAX_PIECES distinct pieces is refused; train on a
   sample of the corpus instead. A Spark job per merge (re-segment
   every piece under the merge list so far, aggregate the pairs)
   measured 30-100x slower per merge at 2M pieces on 4 cores, and
   slower the more merges it had learned.

Determinism: ties break exactly like the serial reference trainer
(scripts/make_test_vocab.py): highest count, then smallest merged
byte-string in the reference's reversed-byte order -- so the trained
merge list == the serial one, asserted in tests/test_bpe.py.

Output is tiktoken's rank-file format (base64(token)<space>rank), the
exact file `BPETokenizer.from_file` / `--vocab` consume.
"""

from __future__ import annotations

import base64

from pyspark.sql import functions as F

from ..core.counters import FALLBACK_PATTERN

# distinct pieces the driver loop accepts: near 2M it measured 0.6 s
# per merge and 1.7 GB of Python driver memory on 4 cores
_MAX_PIECES = 2_000_000


def piece_count_table(docs_df, text_col="text"):
    """(piece, weight): distinct pre-token pieces with corpus counts.
    Native end-to-end -- regexp explode then a map-side-combined
    groupBy; the only corpus-sized stage in BPE training."""
    return (
        docs_df.select(
            F.explode(
                F.regexp_extract_all(
                    F.col(text_col), F.lit(FALLBACK_PATTERN), 0
                )
            ).alias("piece")
        )
        .where(F.col("piece") != "")
        .groupBy("piece")
        .agg(F.count("*").alias("weight"))
    )


def _tie_key(pair):
    """The reference's total-order tie-break over a (left, right) byte
    pair: the smallest merged bytes in reversed-byte order, then the
    smallest left bytes -- two splits of the same merged bytes (a+bc vs
    ab+c) would otherwise tie."""
    left, right = pair
    return ([-x for x in left + right], [-x for x in left])


def _train_bpe_driver(rows, n_merges, min_freq):
    """Driver-side merge loop over the COLLECTED distinct-piece table:
    the exact serial-trainer algorithm (same left-to-right cascade
    scan, same total-order tie-break) with incremental pair-count
    maintenance -- each round touches only the pieces that contain the
    winning pair instead of re-segmenting the whole table. Zero Spark
    jobs per merge; merge-list parity with the serial trainer is
    pinned in tests/test_bpe.py."""
    parts_list = []
    weights = []
    for piece, weight in rows:
        parts_list.append([bytes([b]) for b in str(piece).encode("utf-8")])
        weights.append(int(weight))
    counts = {}
    index = {}
    for idx, parts in enumerate(parts_list):
        w = weights[idx]
        for pair in zip(parts, parts[1:]):
            counts[pair] = counts.get(pair, 0) + w
            index.setdefault(pair, set()).add(idx)

    merges = []
    for _ in range(n_merges):
        if not counts:
            break
        # two-pass argmax: a cheap scan for the top count, then the
        # byte-order tie-break only over the (usually tiny) tied
        # stratum -- building the negated-byte key lists for EVERY
        # live pair every round would dominate at realistic vocab
        # sizes
        cnt = max(counts.values())
        if cnt < min_freq:
            break
        left, right = max(
            (p for p, c in counts.items() if c == cnt), key=_tie_key
        )
        merges.append((left, right))
        merged = left + right
        for idx in sorted(index.get((left, right), ())):
            parts = parts_list[idx]
            w = weights[idx]
            # retract this piece's current pair contributions (count
            # per-occurrence, index per-piece -- a pair can occur twice
            # in one piece), apply the new merge with the reference's
            # cascade scan, then re-add
            occ = {}
            for pair in zip(parts, parts[1:]):
                occ[pair] = occ.get(pair, 0) + 1
            for pair, k in occ.items():
                remaining = counts[pair] - w * k
                if remaining:
                    counts[pair] = remaining
                else:
                    del counts[pair]
                members = index[pair]
                members.discard(idx)
                if not members:
                    del index[pair]
            i = 0
            while i < len(parts) - 1:
                if parts[i] == left and parts[i + 1] == right:
                    parts[i: i + 2] = [merged]
                else:
                    i += 1
            occ = {}
            for pair in zip(parts, parts[1:]):
                occ[pair] = occ.get(pair, 0) + 1
            for pair, k in occ.items():
                counts[pair] = counts.get(pair, 0) + w * k
                index.setdefault(pair, set()).add(idx)
    return merges


def train_bpe(docs_df, n_merges, text_col="text", min_freq=2):
    """Learn `n_merges` merges from the corpus; returns the ordered
    list of (left, right) byte pairs. Stops early when no pair reaches
    `min_freq` (matching the serial trainer).

    The distinct-piece table (the corpus's surface vocabulary) is
    built and collected in ONE pass over the corpus (no persist, no
    separate count), and the merge loop runs on the driver.
    A table over _MAX_PIECES distinct pieces raises ValueError: train
    on a sample of the corpus instead."""
    pieces = piece_count_table(docs_df, text_col)
    # plain tuples: Row objects held through the merge loop measured
    # 1.85 GB of driver memory at 2M pieces against 1.66 GB
    rows = [tuple(r) for r in pieces.limit(_MAX_PIECES + 1).collect()]
    if len(rows) > _MAX_PIECES:
        raise ValueError(
            f"the corpus has more than {_MAX_PIECES:,} distinct pieces "
            "(the driver-side merge loop's limit); train on a sample "
            "of the corpus"
        )
    return _train_bpe_driver(rows, n_merges, min_freq)


def vocab_file_bytes(merges):
    """tiktoken rank-file bytes: the 256 single-byte tokens then one
    token per merge, ranks in training order."""
    lines = [
        base64.b64encode(bytes([rank])) + b" %d" % rank
        for rank in range(256)
    ]
    lines += [
        base64.b64encode(left + right) + b" %d" % (256 + i)
        for i, (left, right) in enumerate(merges)
    ]
    return b"\n".join(lines) + b"\n"


def save_vocab(spark, merges, path):
    """Write the rank file through the Hadoop FileSystem API (local /
    HDFS / s3a alike, same as the packing manifest)."""
    from ..plans.fsio import write_text_file

    write_text_file(
        spark, path, vocab_file_bytes(merges).decode("ascii")
    )


def train_bpe_vocab(spark, docs_df, vocab_size, path,
                    text_col="text", min_freq=2):
    """End-to-end: learn (vocab_size - 256) merges and write the
    tiktoken rank file `--vocab` consumes. Returns the merge list."""
    if vocab_size <= 256:
        raise ValueError("vocab_size must exceed the 256 byte tokens")
    merges = train_bpe(
        docs_df, vocab_size - 256, text_col=text_col, min_freq=min_freq
    )
    save_vocab(spark, merges, path)
    return merges
