"""Minimal PDF text extraction (layout-aware), from scratch.

The north rule lists "PDF/layout parse" alongside HTML boilerplate
stripping. The reference itself has no PDF support, and no PDF libraries
ship in this container, so this implements the genuinely-parseable
subset with stdlib only:

  * object scan (no xref needed): `N G obj ... stream...endstream`
  * FlateDecode via zlib (the overwhelmingly common filter); other
    filters -> routed error
  * content-stream text operators: BT/ET blocks, Tj / TJ / ' / ", with
    Td / TD / T* / Tm line tracking for layout (a Tm/Td that moves the
    baseline down starts a new line; TJ kerning gaps beyond a threshold
    insert a space)
  * literal strings with escapes and <hex> strings

Documents using CID/Type0 composite fonts with nontrivial encodings
come out garbled in ANY extractor without the font's ToUnicode CMap;
those (and encrypted PDFs) are detected and routed to an error rather
than emitting garbage. This mirrors the multimodal-stub policy: the
Spark plumbing is real and tested; the undecodable tail is explicit.
"""

from __future__ import annotations

import re
import zlib

PDF_MAGIC = b"%PDF-"

_STREAM_RE = re.compile(
    rb"<<(?P<dict>.*?)>>\s*stream\r?\n(?P<body>.*?)endstream", re.S
)
_STRING_TOKEN_RE = re.compile(
    rb"""
      (?P<op>BT|ET|Tj|TJ|Td|TD|T\*|Tm|'|")
    | \((?P<lit>(?:\\.|[^\\()])*)\)
    | <(?P<hex>[0-9A-Fa-f\s]*)>
    | \[(?P<arr>(?:\\.|[^\]])*)\]
    | (?P<num>[-+]?\d*\.?\d+)
    """,
    re.VERBOSE | re.S,
)
_ESCAPES = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
    b"(": b"(", b")": b")", b"\\": b"\\",
}


def is_pdf(data):
    return data[:5] == PDF_MAGIC


def extract_pdf_text(data):
    """-> (text, error): paragraphs separated by newlines; error set for
    encrypted / non-Flate / composite-font documents."""
    if not is_pdf(data):
        return "", "not a PDF (missing %PDF- header)"
    if b"/Encrypt" in data:
        return "", "encrypted PDF not supported"

    streams = []
    for match in _STREAM_RE.finditer(data):
        sdict = match.group("dict")
        body = match.group("body")
        if b"/FlateDecode" in sdict:
            try:
                body = zlib.decompress(body)
            except zlib.error:
                # some writers pad the body; retry trimming trailing EOL
                try:
                    body = zlib.decompress(body.rstrip(b"\r\n"))
                except zlib.error:
                    continue
        elif re.search(rb"/Filter", sdict):
            continue  # unsupported filter
        if b"BT" in body and (b"Tj" in body or b"TJ" in body
                              or b"'" in body or b'"' in body):
            streams.append(body)

    if not streams:
        return "", "no decodable text content streams"
    if b"/Type0" in data:
        # composite fonts need CID->Unicode CMap decoding, which this
        # extractor does not implement; even WITH an embedded ToUnicode
        # map, decoding 2-byte CIDs as latin-1 pairs emits garbage --
        # route to the error column instead
        return "", "composite-font (Type0) PDF not supported"

    lines = []
    for stream in streams:
        lines.extend(_extract_stream_text(stream))
    text = "\n".join(line for line in (l.strip() for l in lines) if line)
    if not text:
        return "", "no text extracted"
    return text, None


def _extract_stream_text(stream):
    lines = []
    current = []
    in_text = False
    numbers = []  # sliding numeric operand window
    last_ty = None
    seg_start = 0  # index in `current` where the pending operand began

    def newline():
        if current:
            lines.append("".join(current))
            current.clear()

    for match in _STRING_TOKEN_RE.finditer(stream):
        op = match.group("op")
        if op:
            if op == b"BT":
                in_text = True
                last_ty = None
            elif op == b"ET":
                in_text = False
                newline()
            elif op in (b"Td", b"TD"):
                if len(numbers) >= 1 and numbers[-1] != 0:
                    newline()
                elif len(numbers) >= 2 and numbers[-2] != 0 and current:
                    current.append(" ")
            elif op == b"T*":
                newline()
            elif op == b"Tm":
                ty = numbers[-1] if numbers else None
                if last_ty is not None and ty is not None and ty != last_ty:
                    newline()
                last_ty = ty
            elif op in (b"'", b'"'):
                # PDF semantics: ' / " move to the next line BEFORE
                # showing their string -- but the operand token was
                # already appended (it precedes the operator in the
                # stream), so split it off, break, then re-append
                tail = current[seg_start:]
                del current[seg_start:]
                newline()
                current.extend(tail)
            numbers = []
            seg_start = len(current)
            continue
        num = match.group("num")
        if num is not None:
            try:
                numbers.append(float(num))
            except ValueError:
                pass
            if len(numbers) > 6:
                numbers = numbers[-6:]
            continue
        if not in_text:
            continue
        lit = match.group("lit")
        if lit is not None:
            current.append(_decode_literal(lit))
            continue
        hexstr = match.group("hex")
        if hexstr is not None:
            current.append(_decode_hex(hexstr))
            continue
        arr = match.group("arr")
        if arr is not None:  # TJ array: strings + kerning numbers
            for part in re.finditer(
                rb"\((?P<lit>(?:\\.|[^\\()])*)\)|<(?P<hex>[0-9A-Fa-f\s]*)>"
                rb"|(?P<kern>[-+]?\d*\.?\d+)",
                arr,
            ):
                if part.group("lit") is not None:
                    current.append(_decode_literal(part.group("lit")))
                elif part.group("hex") is not None:
                    current.append(_decode_hex(part.group("hex")))
                else:
                    try:
                        if float(part.group("kern")) < -120:
                            current.append(" ")  # large kern gap = space
                    except ValueError:
                        pass
    newline()
    return lines


def _decode_literal(raw):
    out = []
    i = 0
    n = len(raw)
    while i < n:
        ch = raw[i : i + 1]
        if ch == b"\\" and i + 1 < n:
            nxt = raw[i + 1 : i + 2]
            if nxt in _ESCAPES:
                out.append(_ESCAPES[nxt])
                i += 2
                continue
            if nxt.isdigit():  # octal escape
                octal = raw[i + 1 : i + 4]
                j = 1
                while j < 3 and i + 1 + j < n and raw[i + 1 + j : i + 2 + j].isdigit():
                    j += 1
                try:
                    out.append(bytes([int(raw[i + 1 : i + 1 + j], 8) & 0xFF]))
                except ValueError:
                    pass
                i += 1 + j
                continue
            i += 2
            continue
        out.append(ch)
        i += 1
    return b"".join(out).decode("latin-1")


def _decode_hex(raw):
    cleaned = re.sub(rb"\s", b"", raw)
    if len(cleaned) % 2:
        cleaned += b"0"
    try:
        return bytes.fromhex(cleaned.decode("ascii")).decode("latin-1")
    except ValueError:
        return ""


# ---- deterministic test-PDF writer --------------------------------------------------


def build_simple_pdf(paragraphs, compress=False):
    """Author a minimal valid single-page PDF showing each paragraph on
    its own line (Helvetica, Tj + Td). Deterministic bytes."""
    ops = [b"BT", b"/F1 12 Tf", b"72 720 Td"]
    first = True
    for para in paragraphs:
        if not first:
            ops.append(b"0 -16 Td")
        escaped = (
            para.encode("latin-1", errors="replace")
            .replace(b"\\", b"\\\\")
            .replace(b"(", b"\\(")
            .replace(b")", b"\\)")
        )
        ops.append(b"(" + escaped + b") Tj")
        first = False
    ops.append(b"ET")
    content = b"\n".join(ops)

    if compress:
        body = zlib.compress(content)
        stream_dict = b"<< /Length %d /Filter /FlateDecode >>" % len(body)
    else:
        body = content
        stream_dict = b"<< /Length %d >>" % len(body)

    objects = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>",
        stream_dict + b"\nstream\n" + body + b"\nendstream",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]

    parts = [b"%PDF-1.4\n"]
    offsets = []
    for i, obj in enumerate(objects, start=1):
        offsets.append(sum(len(p) for p in parts))
        parts.append(b"%d 0 obj\n" % i + obj + b"\nendobj\n")
    xref_pos = sum(len(p) for p in parts)
    xref = [b"xref\n0 %d\n" % (len(objects) + 1), b"0000000000 65535 f \n"]
    xref.extend(b"%010d 00000 n \n" % off for off in offsets)
    parts.extend(xref)
    parts.append(
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objects) + 1, xref_pos)
    )
    return b"".join(parts)
