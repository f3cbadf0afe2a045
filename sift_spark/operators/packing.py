"""Sequence packing: assemble documents into fixed-token-budget training
sequences -- the step between a curated corpus and an LLM data loader.

Exact global bin-packing is NP-hard and inherently sequential; the
standard practice at corpus scale (e.g. T5 / GPT-NeoX data pipelines)
is GREEDY PACKING WITHIN SHARDS: documents are hash-sharded
deterministically (shard = md5 prefix of the doc id mod n_shards,
sampling.sample_bucket_col, the form the DuckDB oracle re-derives),
then packed next-fit in a canonical order inside each shard. Waste is
bounded (a sequence is only abandoned when the next document cannot
fit) and every shard packs independently -- the
operator is an applyInPandas over shards, embarrassingly parallel, and
the assignment is a pure function of (doc_id, token counts, budget,
n_shards): stable across partition layouts, cluster sizes and re-runs,
which checkpoint/resume requires.

Oversized documents (n_tokens > budget) get a sequence of their own
and are flagged; callers chunk or drop them upstream (partial chunking
in core/counters.py is the usual fix).

The per-shard kernel is next-fit over docs ordered by id:

    fill = 0; seq = 0
    for each doc:  if fill > 0 and fill + n > budget: seq += 1; fill = 0
                   emit (doc, seq, offset=fill); fill += n

-- simple enough that a DuckDB recursive CTE re-derives the exact
assignment (the driver-gate oracle), yet identical in shape to what the
T5 pack_dataset op computes.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .sampling import sample_bucket_col
from .textstats import whitespace_token_count_col

PACKED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_tokens", T.LongType()),
        T.StructField("shard", T.LongType()),
        T.StructField("seq_no", T.LongType()),
        T.StructField("offset", T.LongType()),
        T.StructField("oversized", T.BooleanType()),
    ]
)


def word_count_col(col):
    """Native whitespace word count, the default packing unit when no
    token column is supplied -- delegates to textstats so the
    engine-portable whitespace class lives in ONE place."""
    return whitespace_token_count_col(
        F.col(col) if isinstance(col, str) else col
    ).cast("long")


def pack_sequences(docs_df, budget, n_shards=64, tokens_col=None):
    """(doc_id, n_tokens, shard, seq_no, offset, oversized): next-fit
    packing of documents into sequences of at most `budget` tokens,
    per deterministic hash shard: pmod(sample_bucket_col(doc_id, 0),
    n_shards), the md5 prefix of (id ':0') a SQL oracle reproduces.

    tokens_col: use a precomputed token-count column instead of the
    native word count (e.g. the BPE counts from token_counts)."""
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    n_tokens = (F.col(tokens_col).cast("long") if tokens_col
                else word_count_col("text"))
    shard = F.pmod(sample_bucket_col("doc_id", seed=0), F.lit(n_shards))
    base = docs_df.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        # null text / null counts pack as 0-token docs (sibling
        # operators pass null rows through; a NaN here would kill the
        # grouped kernel's int conversion)
        F.coalesce(n_tokens, F.lit(0)).alias("n_tokens"),
        shard.alias("shard"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id", kind="mergesort")
        seqs, offsets, oversized = [], [], []
        seq = 0
        fill = 0
        for n in pdf["n_tokens"]:
            n = int(n)
            if fill > 0 and fill + n > budget:
                seq += 1
                fill = 0
            seqs.append(seq)
            offsets.append(fill)
            oversized.append(n > budget)
            fill += n
        pdf = pdf.assign(seq_no=seqs, offset=offsets, oversized=oversized)
        return pdf[["doc_id", "n_tokens", "shard", "seq_no", "offset",
                    "oversized"]]

    return base.groupBy("shard").applyInPandas(pack, PACKED_SCHEMA)


PACKED_TOKENS_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.LongType()),
        T.StructField("seq_no", T.LongType()),
        T.StructField("token_ids", T.ArrayType(T.LongType())),
        T.StructField("n_docs", T.LongType()),
        T.StructField("n_tokens", T.LongType()),
        T.StructField("oversized", T.BooleanType()),
    ]
)

_WS_SPLIT = None  # compiled lazily inside the kernels (worker-side)


def _md5_id(piece):
    """Deterministic 60-bit id of a string: the md5 prefix a SQL oracle
    reproduces verbatim as ('0x' || substr(md5(piece), 1, 15))::BIGINT."""
    import hashlib

    return int(hashlib.md5(piece.encode("utf-8")).hexdigest()[:15], 16)


def _portable_word_ids(text):
    """Whitespace words -> md5-prefix ids (:func:`_md5_id`)."""
    import re

    global _WS_SPLIT
    if _WS_SPLIT is None:
        _WS_SPLIT = re.compile(r"[ \t\r\n\f]+")
    return [_md5_id(w) for w in _WS_SPLIT.split(text or "") if w]


def _encoder_for(vocab_path, portable_hash):
    """text -> list[int] token ids. `portable_hash` picks the encoder,
    not the shard hash (shards are always md5): true gives md5-prefix
    whitespace-word ids (SQL-reproducible; the `pack_materialize`
    oracle checks them). Otherwise the from-scratch BPE encoder when a
    tiktoken-format vocab resolves (real cl100k ids), else the
    deterministic fallback tokenizer's spans, each mapped to the same
    md5-prefix id space -- deterministic and collision-safe (60 bits)
    but NOT a trained vocabulary; pass vocab_path for loader-ready
    ids."""
    if portable_hash:
        return _portable_word_ids
    from ..core.counters import BPETokenizer, get_tokenizer

    tok = get_tokenizer(vocab_path)
    if isinstance(tok, BPETokenizer):
        return lambda text: tok.encode(text or "")
    return lambda text: [_md5_id(s) for s in tok.encode_spans(text or "")]


def pack_assignment_with_eod(docs_df, budget, n_shards=64, vocab_path=None,
                             portable_hash=False):
    """The (doc -> shard, seq_no, offset) assignment that DESCRIBES the
    buffers :func:`materialize_packed_sequences` emits: token counts
    come from the same encoder (+1 for the EOD separator), unlike
    :func:`pack_sequences`'s default whitespace word counts. Write this
    next to the buffers so consumers can join offsets against token
    streams without drift."""
    encode = _encoder_for(vocab_path, portable_hash)

    @F.pandas_udf(T.LongType())
    def n_with_eod(text: pd.Series) -> pd.Series:
        return text.map(lambda value: len(encode(value)) + 1)

    counted = docs_df.select(
        F.col("doc_id"), F.col("text").alias("_text")
    ).withColumn("_n_plus_eod", n_with_eod(F.col("_text")))
    return pack_sequences(counted, budget, n_shards, tokens_col="_n_plus_eod")


def materialize_packed_sequences(docs_df, budget, n_shards=64,
                                 eod_id=0, vocab_path=None,
                                 portable_hash=False, assignment=None):
    """Loader-ready packed sequences: (shard, seq_no,
    token_ids array<long>, n_docs, n_tokens, oversized) -- the actual
    token buffers a training data loader consumes, materialized from
    the :func:`pack_sequences` assignment with an end-of-document
    separator (`eod_id`) appended after every document.

    Every document costs len(encode(text)) + 1 tokens (its EOD), and
    the next-fit packing runs over THAT count, so each emitted buffer
    is <= budget tokens except oversized single-document sequences
    (flagged; chunk or drop upstream).

    100 TB shape: two tokenizer passes buy bounded memory. Pass 1 is a
    narrow Arrow UDF computing per-doc token counts; the assignment is
    pack_sequences over those counts (one grouped kernel per hash
    shard, rows are (id, count) only). Pass 2 joins the assignment back
    to the text and encodes per (shard, seq_no) group -- so peak
    per-group memory is ONE sequence (~budget tokens), not one shard,
    at the cost of tokenizing twice. The assignment is a pure function
    of (doc ids, counts, budget, n_shards): stable across partition
    layouts and resumable.

    portable_hash: md5-prefix whitespace-word ids a SQL oracle
    reproduces (driver-gate twin); otherwise BPE ids (vocab_path ->
    tiktoken-format ranks; see _encoder_for for the no-vocab
    fallback). It picks only the encoder: the shard assignment is the
    md5 one of :func:`pack_sequences` either way.

    assignment: a precomputed :func:`pack_assignment_with_eod` frame
    (possibly re-read from a sink) -- pass it when the assignment is
    ALSO being persisted, so the written assignment and the emitted
    buffers are the same packing by construction instead of two
    independent runs."""
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    encode = _encoder_for(vocab_path, portable_hash)
    if assignment is None:
        assignment = pack_assignment_with_eod(
            docs_df, budget, n_shards, vocab_path=vocab_path,
            portable_hash=portable_hash,
        )
    joined = docs_df.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("text").alias("_text"),
    ).join(assignment.select("doc_id", "shard", "seq_no"), "doc_id")

    def encode_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id", kind="mergesort")
        ids = []
        oversized = False
        for text in pdf["_text"]:
            doc_ids = encode(text)
            ids.extend(doc_ids)
            ids.append(eod_id)
            oversized = oversized or (len(doc_ids) + 1 > budget)
        return pd.DataFrame(
            {
                "shard": [int(pdf["shard"].iloc[0])],
                "seq_no": [int(pdf["seq_no"].iloc[0])],
                "token_ids": [ids],
                "n_docs": [len(pdf)],
                "n_tokens": [len(ids)],
                "oversized": [oversized],
            }
        )

    return joined.groupBy("shard", "seq_no").applyInPandas(
        encode_group, PACKED_TOKENS_SCHEMA
    )


def write_token_buffers(spark, packed_df, output_dir, budget, eod_id=0,
                        n_shards=64, vocab_label=None, max_file_mb=256):
    """Write :func:`materialize_packed_sequences` output as a
    loader-ready directory: size-bounded parquet files plus a
    `_manifest.json` (one real file, written through the Hadoop
    FileSystem client so it lands next to the parquet on local/HDFS/
    s3a alike; the underscore prefix keeps parquet readers from
    treating it as data). Returns the manifest dict.

    Size bound without an extra job: every sequence holds <= `budget`
    tokens (oversized single-doc sequences excepted), so
    maxRecordsPerFile = max_file_mb / (budget * 8 bytes) caps the raw
    token payload per file -- parquet encoding only shrinks it.

    The manifest carries the loader's planning facts -- budget, EOD id,
    shard count, vocab identity, global totals and per-file
    sequence/token/doc counts -- so a training loader can size and
    schedule reads WITHOUT scanning the directory. Per-file stats come
    from one column-pruned pass over the written files (token arrays
    never re-read; one output row per FILE, driver-safe)."""
    import json

    from ..plans.fsio import write_text_file

    max_records = max(1, (max_file_mb * 1024 * 1024) // (budget * 8))
    (
        packed_df.write.mode("overwrite")
        .option("maxRecordsPerFile", max_records)
        .parquet(output_dir)
    )
    per_file = (
        spark.read.parquet(output_dir)
        .groupBy(F.input_file_name().alias("file"))
        .agg(
            F.count("*").alias("n_sequences"),
            F.sum("n_tokens").alias("n_tokens"),
            F.sum("n_docs").alias("n_docs"),
            F.sum(F.when(F.col("oversized"), 1).otherwise(0))
            .alias("n_oversized_seqs"),
        )
        .collect()
    )
    files = sorted(
        (
            {
                "name": row["file"].rsplit("/", 1)[-1],
                "n_sequences": row["n_sequences"],
                "n_tokens": int(row["n_tokens"] or 0),
                "n_docs": int(row["n_docs"] or 0),
            }
            for row in per_file
        ),
        key=lambda f: f["name"],
    )
    manifest = {
        "format": "sift-spark-packed-tokens-v1",
        "budget": budget,
        "eod_id": eod_id,
        "n_shards": n_shards,
        "vocab": vocab_label or "fallback-hash",
        "max_records_per_file": max_records,
        "totals": {
            "n_files": len(files),
            "n_sequences": sum(f["n_sequences"] for f in files),
            "n_tokens": sum(f["n_tokens"] for f in files),
            "n_docs": sum(f["n_docs"] for f in files),
            "n_oversized_seqs": sum(
                int(row["n_oversized_seqs"] or 0) for row in per_file
            ),
        },
        "files": files,
    }
    write_text_file(
        spark, output_dir + "/_manifest.json",
        json.dumps(manifest, indent=1, sort_keys=True),
    )
    return manifest


def packing_stats(packed_df, budget):
    """Per-shard packing efficiency: sequences, mean fill ratio, number
    of oversized docs -- the monitor a production packing job logs."""
    per_seq = packed_df.groupBy("shard", "seq_no").agg(
        (F.max(F.col("offset") + F.col("n_tokens"))).alias("seq_fill"),
        F.count("*").alias("n_docs"),
    )
    return per_seq.groupBy("shard").agg(
        F.count("*").alias("n_sequences"),
        F.round(F.avg(F.least(F.col("seq_fill"), F.lit(budget))
                      / F.lit(float(budget))), 6).alias("mean_fill"),
        F.sum(F.when(F.col("seq_fill") > budget, 1).otherwise(0))
        .alias("n_oversized_seqs"),
    )
