"""WARC ingestion: Common-Crawl archive files -> the pages table.

The reference consumes URLs/files one at a time; a crawl-scale pipeline
ingests WARC segment files (ISO 28500). This connector is stdlib-only:

  * record framing: `WARC/1.x` version line, CRLF header block,
    Content-Length payload, CRLF CRLF separator
  * Common Crawl `.warc.gz` stores ONE GZIP MEMBER PER RECORD;
    Python's gzip handles the multi-member stream transparently
  * `response` records carry an HTTP response as payload -- status
    line + headers are split off at the first blank line and the body
    becomes the `html` BINARY column (charset stays undecoded; the
    extraction UDF sniffs it, core/encoding.py)

Distribution model: one task per WARC file via Spark's `binaryFile`
source -- gzip members are not seekable-splittable without an external
index, and Common Crawl ships ~64k segment files per crawl (~1 GB
each), so FILES are the natural parallelism unit at 10^12-document
scale; `maxPartitionBytes` never splits binaryFile rows. Parsing runs
in mapInPandas (Arrow-streamed), one file per row, and malformed
records become error rows rather than task failures (one corrupt
record must not kill a 1 GB segment).
"""

from __future__ import annotations

import gzip
import io

from pyspark.sql import functions as F
from pyspark.sql import types as T

WARC_PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("warc_file", T.StringType()),
        T.StructField("error", T.StringType()),
    ]
)


def iter_warc_records(stream):
    """Yield (headers: dict[str, str], payload: bytes) per WARC record.

    Framing errors raise ValueError with the byte offset context;
    callers decide whether that fails the file or becomes an error
    row."""
    while True:
        version = stream.readline()
        # tolerate the inter-record CRLF CRLF separators
        while version in (b"\r\n", b"\n"):
            version = stream.readline()
        if not version:
            return
        if not version.startswith(b"WARC/"):
            raise ValueError(
                f"expected WARC version line, got {version[:40]!r}"
            )
        headers = {}
        last_name = None
        while True:
            line = stream.readline()
            if not line:
                raise ValueError("EOF inside WARC header block")
            if line in (b"\r\n", b"\n"):
                break
            if line[:1] in (b" ", b"\t") and last_name is not None:
                # RFC-2822-style folded continuation (legal per the
                # ISO 28500 header grammar)
                headers[last_name] += (
                    " " + line.decode("utf-8", "replace").strip()
                )
                continue
            if b":" not in line:
                raise ValueError(f"malformed WARC header {line[:40]!r}")
            name, _, value = line.partition(b":")
            last_name = name.decode("ascii", "replace").strip().lower()
            headers[last_name] = value.decode("utf-8", "replace").strip()
        try:
            length = int(headers["content-length"])
        except (KeyError, ValueError):
            raise ValueError("WARC record without valid Content-Length")
        payload = stream.read(length)
        if len(payload) != length:
            raise ValueError(
                f"truncated WARC payload ({len(payload)}/{length} bytes)"
            )
        yield headers, payload


def split_http_response(payload):
    """HTTP response payload -> (status_line, body bytes). The body
    starts after the EARLIEST blank line in either convention -- bare-LF
    headers with a CRLF-CRLF later in the body must split at the LF-LF
    boundary, not inside the body. A payload without a blank line is
    returned whole (some archives store raw bodies)."""
    found = [
        (idx, sep)
        for sep in (b"\r\n\r\n", b"\n\n")
        if (idx := payload.find(sep)) >= 0
    ]
    if not found:
        return "", payload
    idx, sep = min(found)
    status = payload[: payload.find(b"\n")].rstrip(b"\r").decode(
        "ascii", "replace"
    )
    return status, payload[idx + len(sep):]


def iter_warc_pages(data, warc_file=""):
    """One WARC file's bytes (gz or plain) -> GENERATOR of page dicts
    (url, warc_ts ISO string, html, error). Only `response` records
    produce pages; request/metadata/warcinfo records are skipped.
    A framing error ends the file with one error row after the pages
    already yielded (the stream is unrecoverable past a broken frame).

    Streaming end to end: the gzip reader decompresses member by
    member and each page is yielded as soon as its record is framed,
    so peak memory is one record, not the decompressed segment --
    callers that batch (read_warc) hold at most one output batch on
    top of that."""
    import zlib

    if data[:2] == b"\x1f\x8b":
        stream = gzip.GzipFile(fileobj=io.BytesIO(data))
    else:
        stream = io.BytesIO(data)
    try:
        for headers, payload in iter_warc_records(stream):
            if headers.get("warc-type") != "response":
                continue
            url = headers.get("warc-target-uri")
            if not url:
                continue
            _status, body = split_http_response(payload)
            yield {
                "url": url,
                "warc_ts": headers.get("warc-date"),
                "html": body,
                "warc_file": warc_file,
                "error": None,
            }
    except (ValueError, EOFError, OSError, zlib.error) as exc:
        # zlib.error: valid gzip header but corrupt deflate bytes --
        # raised from the reader mid-record, must become an error row
        # like every other framing failure
        yield {
            "url": None,
            "warc_ts": None,
            "html": None,
            "warc_file": warc_file,
            "error": f"WARC parse error: {exc}",
        }


_PAGE_COLUMNS = ["url", "warc_ts", "html", "warc_file", "error"]
BATCH_BYTES = 64 * 1024 * 1024  # html bytes per Arrow batch, at most


def _page_batches(data, warc_file, batch_records, batch_bytes):
    """Yield pandas DataFrame batches of pages from one WARC file's
    bytes, closing a batch every `batch_records` pages or once the
    accumulated html bytes exceed `batch_bytes` -- whichever first.

    This is the per-task memory bound for crawl-scale segments: a
    Common Crawl segment is ~1 GB gzipped / ~4 GB decompressed, and an
    eager parse would hold every decoded page of the file at once. The
    binaryFile row (compressed bytes) is unavoidable; the decompressed
    copy is capped at one batch."""
    import pandas as pd

    rows, html_bytes = [], 0
    for page in iter_warc_pages(data, warc_file):
        rows.append(page)
        html_bytes += len(page["html"] or b"")
        if len(rows) >= batch_records or html_bytes >= batch_bytes:
            yield pd.DataFrame(rows, columns=_PAGE_COLUMNS)
            rows, html_bytes = [], 0
    if rows:
        yield pd.DataFrame(rows, columns=_PAGE_COLUMNS)


def read_warc(spark, path_or_df, batch_records=1000):
    """WARC files at a path (glob ok; .warc or .warc.gz) -- or an
    already-loaded binaryFile DataFrame -> DataFrame (url, warc_ts,
    html, warc_file, error): the pages-table shape plus provenance. One
    task per file (see module docstring); timestamps parse from
    WARC-Date ISO form natively after the UDF.

    Pages stream out of each file in Arrow batches of at most
    `batch_records` pages / BATCH_BYTES of html (see _page_batches),
    so peak per-task memory is the COMPRESSED file plus one batch --
    not the whole decompressed segment."""
    if isinstance(path_or_df, str):
        raw = spark.read.format("binaryFile").load(path_or_df)
    else:
        raw = path_or_df

    def parse_files(iterator):
        for pdf in iterator:
            for warc_file, content in zip(pdf["path"], pdf["content"]):
                yield from _page_batches(
                    bytes(content), warc_file, batch_records, BATCH_BYTES
                )

    parsed_schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("warc_ts", T.StringType()),
            T.StructField("html", T.BinaryType()),
            T.StructField("warc_file", T.StringType()),
            T.StructField("error", T.StringType()),
        ]
    )
    parsed = raw.select("path", "content").mapInPandas(
        parse_files, parsed_schema
    )
    # try_to_timestamp (not to_timestamp): ANSI mode is on by default in
    # Spark 4, and one nonconforming WARC-Date must become a null, not a
    # job abort. Second pattern covers the common millisecond form of
    # WARC 1.1 fractional seconds exactly; WARC 1.1 allows 1-9 fraction
    # digits, so the third branch strips any other fraction width and
    # parses at second precision rather than returning null.
    ts = F.col("warc_ts")
    ts_nofrac = F.regexp_replace(ts, r"\.\d{1,9}", "")
    return parsed.withColumn(
        "warc_ts",
        F.coalesce(
            F.try_to_timestamp(ts, F.lit("yyyy-MM-dd'T'HH:mm:ssX")),
            F.try_to_timestamp(ts, F.lit("yyyy-MM-dd'T'HH:mm:ss.SSSX")),
            F.try_to_timestamp(ts_nofrac, F.lit("yyyy-MM-dd'T'HH:mm:ssX")),
        ),
    )


def build_warc_bytes(records, compress=False, per_record_gzip=False):
    """Deterministic WARC writer for tests/fixtures: `records` is a
    list of (warc_type, url, date_iso, payload_bytes). per_record_gzip
    reproduces Common Crawl's one-gzip-member-per-record layout."""
    members = []
    for warc_type, url, date_iso, payload in records:
        headers = [
            b"WARC/1.0",
            b"WARC-Type: " + warc_type.encode(),
        ]
        if url:
            headers.append(b"WARC-Target-URI: " + url.encode())
        if date_iso:
            headers.append(b"WARC-Date: " + date_iso.encode())
        headers.append(b"Content-Length: " + str(len(payload)).encode())
        record = (b"\r\n".join(headers) + b"\r\n\r\n" + payload
                  + b"\r\n\r\n")
        members.append(record)
    if per_record_gzip:
        return b"".join(gzip.compress(m) for m in members)
    blob = b"".join(members)
    return gzip.compress(blob) if compress else blob
