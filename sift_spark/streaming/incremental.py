"""Structured Streaming wiring for continuous page ingestion.

The extraction UDF is stateless per row, so the streaming plan is the
batch plan with readStream/writeStream endpoints; exactly-once comes from
the sink checkpoint. No watermark is needed (no event-time aggregation in
the pipeline); late pages are simply processed when they arrive.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..core.pipeline import SiftParams
from ..operators.extract import extract_pages
from ..sources.fixtures import PAGES_SCHEMA


def stream_extract(spark, input_path, output_path, checkpoint_path,
                   params: SiftParams | None = None, file_format="parquet"):
    """readStream(pages parquet dir) -> extraction UDF -> writeStream.

    Returns the StreamingQuery; caller owns awaitTermination/stop."""
    params = params or SiftParams()
    pages = (
        spark.readStream.format(file_format)
        .schema(PAGES_SCHEMA)
        .load(input_path)
    )
    extracted = extract_pages(pages, params)
    return (
        extracted.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_exact_dedup(spark, input_path, output_path, checkpoint_path,
                       watermark="1 hour", id_col="url",
                       file_format="parquet"):
    """Streaming exact dedup over a continuous crawl: md5 content hash +
    dropDuplicatesWithinWatermark keeps ONE row per content hash among
    pages whose event times fall within the watermark horizon.

    State stays bounded: the watermark evicts hash state older than the
    horizon, so a 10^12-page stream holds state proportional to the
    horizon's page rate, not history. (The batch engine's exact dedup --
    operators/dedup.exact_duplicates -- is the full-history form; run it
    periodically for cross-horizon collapse.)"""
    from pyspark.sql import functions as F

    from ..operators.dedup import normalized_text_col
    from ..operators.extract import decode_html_udf
    from ..sources.fixtures import PAGES_SCHEMA

    pages = (
        spark.readStream.format(file_format)
        .schema(PAGES_SCHEMA)
        .load(input_path)
    )
    # charset-sniffed decode (same path as batch extraction): a fixed
    # utf-8 decode hashed non-UTF-8 pages differently than the batch
    # dedup this stream is documented to complement
    hashed = pages.withColumn(
        "content_hash",
        F.md5(normalized_text_col(decode_html_udf(F.col("html")))),
    )
    deduped = (
        hashed.withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["content_hash"])
    )
    return (
        deduped.select(id_col, "warc_ts", "content_hash")
        .writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_curation(spark, input_path, output_path, checkpoint_path,
                    lang="en", min_quality=0.5, watermark="1 hour",
                    file_format="parquet",
                    lm_model=None, max_ppl=0.0,
                    clf_model=None, min_clf_score=0.0):
    """Streaming training-data curation over a continuous document feed:
    the batch job's curation_gates (language + quality score, plus the
    optional model gates) applied stateless per row, then a watermarked
    near-identical drop on the 64-bit SimHash value -- docs whose
    simhash collides inside the horizon are overwhelmingly boilerplate
    twins (identical or whitespace-trivial variants), so ONE survives
    per horizon. State is
    one 8-byte hash per surviving doc within the watermark, not history.
    Full near-dup banding (hamming > 0) needs cross-row joins and stays
    a periodic batch job (operators/dedup.py). lm_model/max_ppl and
    clf_model/min_clf_score switch on the model gates; a model without
    its threshold raises ValueError."""
    from pyspark.sql import functions as F

    from ..job import check_gate_thresholds, curation_gates
    from ..operators.dedup import simhash64_udf

    # before the source is touched: a missing input path must not mask
    # a threshold error
    check_gate_thresholds(lm_model, max_ppl, clf_model, min_clf_score)
    docs = (
        spark.readStream.format(file_format)
        .schema("doc_id long, ts timestamp, text string")
        .load(input_path)
    )
    curated = curation_gates(docs, lang, min_quality, lm_model, max_ppl,
                             clf_model, min_clf_score)
    curated = curated.withColumn("simhash", simhash64_udf(F.col("text")))
    deduped = (
        curated.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["simhash"])
    )
    return (
        deduped.select("doc_id", "ts", "lang_guess", "quality_score",
                       "simhash")
        .writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_warc_extract(spark, input_path, output_path, checkpoint_path,
                        params=None):
    """Continuous crawl ingestion: WARC segment files landing at
    `input_path` stream through the stdlib WARC parser into the
    extraction UDF. One task per segment file (binaryFile rows are
    never split -- sources/warc.py rationale), stateless end to end, so
    exactly-once comes from the file-source offset log + sink manifest;
    a new crawl drop is picked up on the next trigger with no state to
    rebuild."""
    from ..operators.extract import extract_pages
    from ..sources.warc import read_warc

    raw = (
        spark.readStream.format("binaryFile")
        .schema("path string, modificationTime timestamp, "
                "length long, content binary")
        .load(input_path)
    )
    pages = read_warc(spark, raw)
    extracted = extract_pages(
        pages.filter(F.col("error").isNull()).select("url", "html"),
        params or SiftParams(),
    )
    return (
        extracted.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_pii_scrub(spark, input_path, output_path, checkpoint_path,
                     file_format="parquet"):
    """Streaming PII scrub over a continuous document feed: profile
    counts + in-place redaction (operators/pii.py) are stateless narrow
    projections, so the stream needs no watermark and no state store --
    exactly-once comes from the file-sink manifest alone. The scrubbed
    text replaces the raw text in the sink (a training-data feed should
    never persist the unredacted form next to it)."""
    from ..operators.pii import PII_PATTERNS, pii_profile, redact_pii

    docs = (
        spark.readStream.format(file_format)
        .schema("doc_id long, ts timestamp, text string")
        .load(input_path)
    )
    scrubbed = redact_pii(pii_profile(docs)).select(
        "doc_id", "ts",
        F.col("text_redacted").alias("text"),
        *[f"n_{name}" for name, _ in PII_PATTERNS],
    )
    return (
        scrubbed.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_host_rates(spark, input_path, output_path, checkpoint_path,
                      window="5 minutes", watermark="10 minutes",
                      file_format="parquet"):
    """Event-time windowed crawl-rate per host with late-data handling:
    watermarked tumbling-window counts, append mode (a window emits once
    its watermark passes -- the standard streaming-agg shape for crawl
    monitoring)."""
    from pyspark.sql import functions as F

    from ..sources.fixtures import PAGES_SCHEMA

    pages = (
        spark.readStream.format(file_format)
        .schema(PAGES_SCHEMA)
        .load(input_path)
    )
    host = F.regexp_extract(F.col("url"), r"^[a-z]+://([^/]+)", 1)
    counts = (
        pages.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("win"),
                 host.alias("host"))
        .agg(F.count("*").alias("n_pages"),
             F.sum(F.length("html")).alias("bytes_in"))
    )
    return (
        counts.select(F.col("win.start").alias("win_start"),
                      F.col("win.end").alias("win_end"),
                      "host", "n_pages", "bytes_in")
        .writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def fold_session_events(start_us, last_us, n_events, ts_us_sorted, gap_us):
    """Pure session-fold kernel shared by the streaming operator and its
    unit tests: fold a batch-sorted list of event timestamps (us) into
    the open session (start_us may be None for no open session).

    Returns (closed_sessions, open_state). Timestamps are sorted within
    a micro-batch only, so an event may precede last_us (cross-batch
    late arrival): if it is within the gap of the open session's SPAN it
    folds in WITHOUT moving the session end backwards (min/max), instead
    of rewinding last_us and mis-splitting subsequent events. An event
    older than start - gap cannot belong to the open session and closes
    immediately as its own singleton (consecutive very-late events are
    not re-sessionized among themselves -- documented limitation of
    at-most-one-open-session state)."""
    closed = []
    for ts_us in ts_us_sorted:
        if start_us is None:
            start_us, last_us, n_events = ts_us, ts_us, 1
        elif ts_us - last_us > gap_us:
            closed.append((start_us, last_us, n_events))
            start_us, last_us, n_events = ts_us, ts_us, 1
        elif ts_us < start_us - gap_us:
            closed.append((ts_us, ts_us, 1))
        else:
            start_us = min(start_us, ts_us)
            last_us = max(last_us, ts_us)
            n_events += 1
    return closed, (start_us, last_us, n_events)


def stream_sessionize(spark, input_path, output_path, checkpoint_path,
                      gap="30 minutes", file_format="parquet"):
    """Custom stateful streaming operator (applyInPandasWithState):
    event-time sessionization per user with a silence-gap close rule --
    the streaming twin of the batch `sessionize` driver query.

    Per-user state = (session_start_us, last_seen_us, n_events). An
    event further than `gap` after last_seen closes the open session
    (emitting a row) and starts a new one; a processing-time timeout
    flushes sessions for users that stop sending. State is one tiny
    tuple per ACTIVE user -- bounded, like all good streaming state."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupStateTimeout

    gap_us = int(pd.Timedelta(gap).total_seconds() * 1_000_000)

    out_schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
    ])
    state_schema = T.StructType([
        T.StructField("start_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ])

    def close_sessions(key, pdf_iter, state):
        user_id = key[0]
        if state.hasTimedOut:
            start_us, last_us, n_events = state.get
            state.remove()
            yield pd.DataFrame({
                "user_id": [user_id],
                "session_start": [pd.Timestamp(start_us, unit="us")],
                "session_end": [pd.Timestamp(last_us, unit="us")],
                "n_events": [n_events],
            })
            return
        start_us, last_us, n_events = (
            state.get if state.exists else (None, None, 0)
        )
        closed = []
        for pdf in pdf_iter:
            ts_us_sorted = [
                int(pd.Timestamp(ts).value // 1000)
                for ts in sorted(pdf["ts"])
            ]
            batch_closed, (start_us, last_us, n_events) = (
                fold_session_events(
                    start_us, last_us, n_events, ts_us_sorted, gap_us
                )
            )
            closed.extend(batch_closed)
        state.update((start_us, last_us, n_events))
        # flush horizon must be AT LEAST the session gap: a shorter
        # processing-time timeout (the old fixed 60 s vs a 30-min gap)
        # emitted open sessions early and split them when the user's
        # next in-gap event arrived
        state.setTimeoutDuration(max(gap_us // 1000, 60 * 1000))
        if closed:
            yield pd.DataFrame({
                "user_id": [user_id] * len(closed),
                "session_start": [pd.Timestamp(s, unit="us")
                                  for s, _, _ in closed],
                "session_end": [pd.Timestamp(e, unit="us")
                                for _, e, _ in closed],
                "n_events": [n for _, _, n in closed],
            })

    events = (
        spark.readStream.format(file_format)
        .schema("event_id long, user_id long, event_type string, "
                "ts timestamp, value double")
        .load(input_path)
    )
    sessions = events.groupBy(F.col("user_id")).applyInPandasWithState(
        close_sessions, out_schema, state_schema, "append",
        GroupStateTimeout.ProcessingTimeTimeout,
    )
    return (
        sessions.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
