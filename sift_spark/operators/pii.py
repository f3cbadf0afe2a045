"""PII detection and redaction over a document table.

A standard pre-training hygiene pass (the reference has no PII stage --
this is part of the engine's LLM-pipeline extension surface, like
dedup/sampling): count and mask emails, IPv4 addresses, US-style phone
numbers, SSNs and payment-card-shaped digit runs with NATIVE regex
expressions only -- `regexp_extract_all` + `regexp_replace` stay inside
whole-stage codegen, so the pass is a narrow projection with zero
shuffles and scales linearly with the scan.

Pattern portability: every pattern must mean the same thing to Spark's
Java regex and an oracle's RE2 (DuckDB), so
  * NO lookarounds (RE2 has none),
  * NO shorthand classes whose ASCII/Unicode span differs (`\\d`, `\\s`)
    -- explicit `[0-9]` / `[ \\t\\r\\n\\f]` classes only,
  * `\\b` is fine: both engines define it over ASCII word chars.

Redaction applies patterns in a FIXED order (emails before phones
before bare digit runs) so overlapping matches resolve identically
everywhere.

Known (documented) precision trade-off of lookaround-free patterns: the
first four octets of a dotted version string like `1.2.3.4.5` match the
IPv4 pattern -- a `(?!\\.)` guard would fix it but RE2 has no
lookahead. Recall-first is the right default for a scrubbing pass.
"""

from __future__ import annotations

from pyspark.sql import functions as F

_OCTET = r"(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"

# ordered: applied top-to-bottom during redaction
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+"),
    ("ipv4", r"\b" + _OCTET + r"(?:\." + _OCTET + r"){3}\b"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b"),
    ("card", r"\b[0-9]{4}[- ][0-9]{4}[- ][0-9]{4}[- ][0-9]{4}\b"),
    # \(?\b (not \b\(?): there is no word boundary BEFORE "(" -- the
    # optional paren must be consumed first, then the boundary holds
    # between it and the first digit
    ("phone", r"\(?\b[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}\b"),
)


def pii_profile(docs_df):
    """Append per-document PII match counts (n_email, n_ipv4, n_ssn,
    n_card, n_phone) to the frame -- `size(regexp_extract_all(...))`
    per pattern, one narrow pass, all input columns kept (composes with
    redact_pii on the same scan)."""
    out = docs_df
    for name, pattern in PII_PATTERNS:
        # idx=0 (whole match): Spark defaults to capture group 1 and the
        # patterns deliberately use only non-capturing groups
        out = out.withColumn(
            f"n_{name}",
            F.size(
                F.regexp_extract_all(F.col("text"), F.lit(pattern), 0)
            ),
        )
    return out


def redact_pii(docs_df):
    """Mask every PII match with its `[TYPE]` placeholder, applying the
    canonical pattern order (so e.g. the digits of an already-masked
    email can't re-match as a phone). Appends `text_redacted`; all other
    columns pass through."""
    redacted = F.col("text")
    for name, pattern in PII_PATTERNS:
        redacted = F.regexp_replace(
            redacted, pattern, f"[{name.upper()}]"
        )
    return docs_df.withColumn("text_redacted", redacted)
