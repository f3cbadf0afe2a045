"""Structured Streaming wiring smoke: availableNow batch-over-stream."""

import time

from pyspark.sql import functions as F

from sift_spark.core.counters import WORDS
from sift_spark.core.pipeline import SiftParams
from sift_spark.sources.fixtures import build_pages_df
from sift_spark.streaming.incremental import stream_extract


def test_stream_extract_available_now(spark, tmp_path):
    input_dir = str(tmp_path / "pages_in")
    output_dir = str(tmp_path / "pages_out")
    checkpoint = str(tmp_path / "ckpt")

    build_pages_df(spark, n_big=6, include_fixtures=False).write.parquet(
        input_dir
    )
    query = stream_extract(
        spark, input_dir, output_dir, checkpoint,
        SiftParams(counting_method=WORDS, max_units=100),
    )
    query.awaitTermination(120)
    query.stop()

    out = spark.read.parquet(output_dir)
    assert out.count() == 6
    assert out.filter(F.col("error").isNull()).count() == 6


def test_stream_exact_dedup_drops_in_horizon_dups(spark, tmp_path):
    from datetime import datetime, timedelta

    from sift_spark.sources.fixtures import PAGES_SCHEMA
    from sift_spark.streaming.incremental import stream_exact_dedup

    t0 = datetime(2025, 6, 1, 12, 0, 0)
    page = "<html><body><p>same content</p></body></html>"
    other = "<html><body><p>different content</p></body></html>"
    rows = [
        (f"http://a.example/{i}", t0 + timedelta(minutes=i),
         (page if i in (0, 3, 4) else other + str(i)).encode(),
         None, "en")
        for i in range(6)
    ]
    input_dir = str(tmp_path / "in")
    output_dir = str(tmp_path / "out")
    spark.createDataFrame(rows, PAGES_SCHEMA).write.parquet(input_dir)

    query = stream_exact_dedup(
        spark, input_dir, output_dir, str(tmp_path / "ckpt"),
        watermark="1 hour",
    )
    query.awaitTermination(120)
    query.stop()

    out = spark.read.parquet(output_dir)
    # rows 3 and 4 duplicate row 0's content within the horizon -> dropped
    assert out.count() == 4
    assert out.select("content_hash").distinct().count() == 4


def test_stream_host_rates_windows_close_at_watermark(spark, tmp_path):
    from datetime import datetime, timedelta

    from sift_spark.sources.fixtures import PAGES_SCHEMA
    from sift_spark.streaming.incremental import stream_host_rates

    t0 = datetime(2025, 6, 1, 12, 0, 0)
    rows = []
    for m in range(0, 30, 2):  # events every 2 minutes over 30 minutes
        host = "a.example" if m % 4 == 0 else "b.example"
        rows.append((f"http://{host}/p{m}", t0 + timedelta(minutes=m),
                     b"<html><body>x</body></html>", None, "en"))
    input_dir = str(tmp_path / "in")
    output_dir = str(tmp_path / "out")
    spark.createDataFrame(rows, PAGES_SCHEMA).write.parquet(input_dir)

    query = stream_host_rates(
        spark, input_dir, output_dir, str(tmp_path / "ckpt"),
        window="5 minutes", watermark="10 minutes",
    )
    query.awaitTermination(120)
    query.stop()

    out = spark.read.parquet(output_dir).collect()
    assert out  # at least the earliest windows closed and emitted
    # first window [12:00, 12:05): events at 0,2,4 min -> a:2 (0,4), b:1 (2)
    first = {r["host"]: r["n_pages"] for r in out
             if r["win_start"] == t0}
    assert first == {"a.example": 2, "b.example": 1}


def test_stream_sessionize_stateful(spark, tmp_path):
    """applyInPandasWithState sessionization: a >30-min silence closes a
    session; closed sessions are emitted with exact bounds and counts."""
    from datetime import datetime, timedelta

    from sift_spark.streaming.incremental import stream_sessionize

    t0 = datetime(2025, 6, 1, 8, 0, 0)
    rows = []
    # user 1: two sessions (3 events, gap 2h, 2 events)
    for i, minutes in enumerate([0, 5, 10, 130, 140]):
        rows.append((i, 1, "click", t0 + timedelta(minutes=minutes), 1.0))
    # user 2: one long session, never closed in-batch
    for i, minutes in enumerate([0, 10, 20]):
        rows.append((10 + i, 2, "view", t0 + timedelta(minutes=minutes), 2.0))

    input_dir = str(tmp_path / "in")
    output_dir = str(tmp_path / "out")
    spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, "
              "ts timestamp, value double"
    ).write.parquet(input_dir)

    query = stream_sessionize(
        spark, input_dir, output_dir, str(tmp_path / "ckpt"),
        gap="30 minutes",
    )
    # the processing-time state timeout makes the engine schedule a
    # no-data batch after every batch, so this availableNow query never
    # terminates by itself and processAllAvailable() never returns: wait
    # for the first batch (it carries every input row) to commit instead
    deadline = time.monotonic() + 180
    while not any(p.numInputRows for p in query.recentProgress):
        assert query.exception() is None, query.exception()
        assert time.monotonic() < deadline, "first micro-batch never committed"
        time.sleep(0.2)
    query.stop()

    out = spark.read.parquet(output_dir).collect()
    # only user 1's FIRST session closed inside the batch (the second and
    # user 2's stay open in state until the processing-time timeout)
    sessions = {(r["user_id"], r["n_events"]) for r in out}
    assert (1, 3) in sessions
    first = [r for r in out if r["user_id"] == 1 and r["n_events"] == 3][0]
    assert first["session_start"] == t0
    assert first["session_end"] == t0 + timedelta(minutes=10)


def test_sessionize_fold_late_event_does_not_rewind_session_end():
    """Cross-batch late arrival: timestamps are sorted per micro-batch
    only, so a later batch can deliver ts < last_seen. The fold kernel
    must merge it into the open session via min/max instead of rewinding
    last_seen (regression: rewinding made the next event look > gap away
    and mis-split it into a spurious session)."""
    from sift_spark.streaming.incremental import fold_session_events

    MIN = 60_000_000  # one minute in microseconds
    gap = 30 * MIN

    # batch 1: events at 0 and 25min -> open session [0, 25], 2 events
    closed, state = fold_session_events(None, None, 0, [0, 25 * MIN], gap)
    assert closed == [] and state == (0, 25 * MIN, 2)

    # batch 2 (sorted within batch): late 10min, then 45min, then 120min.
    # With the fix last stays 25 -> 45 is 20min away (within gap) -> the
    # 4-event session [0, 45] closes when 120 arrives. Pre-fix, last was
    # rewound to 10 -> 45 looked 35min away and split spuriously.
    closed, state = fold_session_events(
        *state, [10 * MIN, 45 * MIN, 120 * MIN], gap
    )
    assert closed == [(0, 45 * MIN, 4)]
    assert state == (120 * MIN, 120 * MIN, 1)

    # an event older than session start extends the session backwards
    closed, state = fold_session_events(
        10 * MIN, 20 * MIN, 2, [5 * MIN], gap
    )
    assert closed == [] and state == (5 * MIN, 20 * MIN, 3)


def test_stream_curation_filters_and_dedups(spark, tmp_path):
    """Streaming curation: language + quality gates stateless, then a
    watermarked exact-simhash drop keeps ONE of the identical twins."""
    from datetime import datetime, timedelta

    from sift_spark.streaming.incremental import stream_curation

    t0 = datetime(2025, 6, 1, 8, 0, 0)
    good = ("the quick brown fox jumps over the lazy dog and that is the "
            "story of the day with plenty of the usual words to pass the "
            "quality gates, including commas and sentences.")
    rows = [
        (1, t0, good),
        (2, t0 + timedelta(minutes=1), good),        # identical twin
        (3, t0 + timedelta(minutes=2), "der hund und die katze das ist "
         "nicht gut und der rest von dem text ist auch nicht englisch"),
        (4, t0 + timedelta(minutes=3), "1 2 3 4 5 6 7 8 9 0 1 2 3 4 5"),
        (5, t0 + timedelta(minutes=4), good.replace("fox", "wolf")),
    ]
    input_dir = str(tmp_path / "in")
    output_dir = str(tmp_path / "out")
    spark.createDataFrame(
        rows, "doc_id long, ts timestamp, text string"
    ).write.parquet(input_dir)

    q = stream_curation(spark, input_dir, output_dir,
                        str(tmp_path / "ckpt"))
    q.awaitTermination(180)
    q.stop()

    out = spark.read.parquet(output_dir).collect()
    kept = sorted(r["doc_id"] for r in out)
    # german (3) and digit-soup (4) filtered; one of the identical twins
    # (1, 2) dropped; the wolf variant (5) differs in >0 simhash bits or
    # collides -- accept either but the twins must collapse to one
    assert 3 not in kept and 4 not in kept
    assert len([d for d in kept if d in (1, 2)]) == 1
    for row in out:
        assert row["lang_guess"] == "en"
        assert row["quality_score"] >= 0.5


def test_sessionize_fold_very_late_event_closes_as_singleton():
    """An event older than start - gap cannot belong to the open session:
    it closes immediately as its own singleton instead of stretching the
    session arbitrarily far into the past."""
    from sift_spark.streaming.incremental import fold_session_events

    MIN = 60_000_000
    gap = 30 * MIN
    # open session [600, 600]; very-late event at 0 (10h earlier)
    closed, state = fold_session_events(
        600 * MIN, 600 * MIN, 1, [0], gap
    )
    assert closed == [(0, 0, 1)]
    assert state == (600 * MIN, 600 * MIN, 1)
    # barely-in-range late event still folds (start - gap boundary)
    closed, state = fold_session_events(
        600 * MIN, 600 * MIN, 1, [(600 - 30) * MIN], gap
    )
    assert closed == []
    assert state == (570 * MIN, 600 * MIN, 2)


def test_stream_pii_scrub(spark, tmp_path):
    """Streaming PII scrub: stateless narrow projections, no state
    store; the sink carries redacted text + per-class counts and never
    the raw form."""
    from datetime import datetime, timedelta

    from sift_spark.streaming.incremental import stream_pii_scrub

    t0 = datetime(2025, 6, 1, 8, 0, 0)
    rows = [
        (1, t0, "reach me at alice@example.com or (555) 867-5309 thanks"),
        (2, t0 + timedelta(minutes=1), "server at 10.1.2.3 is fine"),
        (3, t0 + timedelta(minutes=2), "nothing sensitive in here"),
    ]
    input_dir = str(tmp_path / "in")
    output_dir = str(tmp_path / "out")
    spark.createDataFrame(
        rows, "doc_id long, ts timestamp, text string"
    ).write.parquet(input_dir)

    q = stream_pii_scrub(spark, input_dir, output_dir,
                         str(tmp_path / "ckpt"))
    q.awaitTermination(180)
    q.stop()

    out = {r["doc_id"]: r for r in spark.read.parquet(output_dir).collect()}
    assert out[1]["text"] == "reach me at [EMAIL] or [PHONE] thanks"
    assert (out[1]["n_email"], out[1]["n_phone"]) == (1, 1)
    assert out[2]["text"] == "server at [IPV4] is fine"
    assert out[3]["text"] == "nothing sensitive in here"
    assert all(out[3][c] == 0 for c in
               ("n_email", "n_ipv4", "n_ssn", "n_card", "n_phone"))


def test_stream_warc_extract(spark, tmp_path):
    """Continuous crawl ingestion: .warc.gz segment files -> stdlib WARC
    parse -> extraction UDF -> parquet sink, via the streaming
    binaryFile source (stateless; exactly-once from offsets+manifest)."""
    from sift_spark.sources.warc import build_warc_bytes
    from sift_spark.streaming.incremental import stream_warc_extract

    input_dir = tmp_path / "warc_in"
    input_dir.mkdir()
    for i in range(2):
        records = [
            ("response", f"http://s{i}.example/", "2024-05-01T00:00:00Z",
             (b"HTTP/1.1 200 OK\r\n\r\n<html><body><h1>Doc</h1>"
              b"<p>streaming warc body %d with words.</p></body></html>"
              % i)),
        ]
        (input_dir / f"seg{i}.warc.gz").write_bytes(
            build_warc_bytes(records, per_record_gzip=True))

    q = stream_warc_extract(spark, str(input_dir),
                            str(tmp_path / "out"),
                            str(tmp_path / "ckpt"))
    q.awaitTermination(180)
    q.stop()

    out = {r["url"]: r for r in
           spark.read.parquet(str(tmp_path / "out")).collect()}
    assert set(out) == {"http://s0.example/", "http://s1.example/"}
    assert all(r["error"] is None for r in out.values())
    assert "streaming warc body 0" in out["http://s0.example/"]["text"]


def test_stream_curation_model_gates(spark, tmp_path):
    """The model-based gates compose into the stream: a portable
    classifier (narrow udf scorer) drops the spam-like doc that passes
    the heuristic gates."""
    from datetime import datetime, timedelta

    from sift_spark.operators.textclf import train_text_classifier
    from sift_spark.streaming.incremental import stream_curation

    good = ("the committee published a detailed report on regional "
            "water policy and the projected budget for the decade "
            "while the council heard testimony from the residents.")
    spam = ("click here to buy now with the best cheap prices and "
            "win big money in the casino bonus round you can claim "
            "the free offer now before the deal is gone forever.")
    train = spark.createDataFrame(
        [(i, f"{good} part {i}", 1) for i in range(6)]
        + [(100 + i, f"{spam} lot {i}", 0) for i in range(6)],
        "doc_id long, text string, label int",
    )
    model = train_text_classifier(train, n_buckets=512, n_iter=10)

    t0 = datetime(2025, 6, 1, 8, 0, 0)
    input_dir = str(tmp_path / "in")
    spark.createDataFrame(
        [(1, t0, good), (2, t0 + timedelta(minutes=1), spam)],
        "doc_id long, ts timestamp, text string",
    ).write.parquet(input_dir)
    output_dir = str(tmp_path / "out")
    q = stream_curation(spark, input_dir, output_dir,
                        str(tmp_path / "ckpt"),
                        clf_model=model, min_clf_score=0.5)
    q.awaitTermination(180)
    q.stop()
    kept = sorted(r["doc_id"]
                  for r in spark.read.parquet(output_dir).collect())
    assert kept == [1]  # spam passed heuristics but not the model gate
