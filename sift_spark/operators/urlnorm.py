"""URL canonicalization for crawl-scale dedup and grouping.

Two URLs that differ only in scheme/host case, a default port, a
trailing fragment, tracking query parameters, or query-parameter ORDER
are the same resource; canonicalizing before exact/near dedup collapses
the crawl's biggest trivial-duplicate class (RFC 3986 §6 normalization
plus the de-facto tracking-param strip used by web-corpus pipelines).

All native column expressions (regexp + split/sort/filter inside
whole-stage codegen) -- no UDF, and every rule is reproducible in the
DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import functions as F

# query parameters that never change the resource (analytics trackers)
TRACKING_PARAMS = (
    "utm_source", "utm_medium", "utm_campaign", "utm_term", "utm_content",
    "gclid", "fbclid", "msclkid", "ref", "mc_cid", "mc_eid",
)


def canonical_url_col(col):
    """Canonical form: lowercase scheme+host, default ports stripped,
    fragment stripped, tracking params dropped, remaining query params
    sorted; non-absolute inputs pass through untouched."""
    url = F.regexp_replace(F.trim(col), r"#.*$", "")  # fragment first
    scheme = F.lower(
        F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1)
    )
    hostport = F.lower(
        F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?]+)", 1)
    )
    host = F.when(
        (scheme == "http") & hostport.endswith(":80"),
        F.substring(hostport, 1, F.length(hostport) - 3),
    ).when(
        (scheme == "https") & hostport.endswith(":443"),
        F.substring(hostport, 1, F.length(hostport) - 4),
    ).otherwise(hostport)

    path = F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?]+([^?]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)

    query = F.regexp_extract(url, r"\?(.*)$", 1)
    kept = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != "") & ~F.regexp_extract(p, r"^([^=]*)", 1)
            .isin(*TRACKING_PARAMS),
        )
    )
    qstring = F.when(
        F.size(kept) > 0, F.concat(F.lit("?"), F.array_join(kept, "&"))
    ).otherwise(F.lit(""))

    return F.when(
        scheme == "", col  # not an absolute URL: pass through UNTOUCHED
    ).otherwise(F.concat(scheme, F.lit("://"), host, path, qstring))


def url_host_col(col):
    """Lowercase host of an absolute URL -- userinfo and port stripped
    (the form blocklists and per-site grouping key on); empty string
    for non-absolute inputs. A trailing root-label dot is stripped
    ('blocked.example.com.' is the same site as 'blocked.example.com'
    to every browser -- without the strip the FQDN form defeats the
    blocklist key). Bracketed IPv6 literals are captured whole,
    brackets kept, port stripped ('http://[::1]:8080/x' keys as
    '[::1]', not a '[' truncated at the first colon). Native regexp
    (RE2-compatible: no lookarounds), reproducible in the DuckDB
    oracle."""
    raw = F.regexp_extract(
        F.trim(col),
        r"^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?(\[[^\]/?#]*\]|[^/?#:]+)",
        1,
    )
    return F.lower(F.regexp_replace(raw, r"\.$", ""))


# second-level labels under 2-letter ccTLDs that act as TLD extensions
# (example.co.uk's registered domain is example.co.uk, not co.uk)
_CC_SECOND_LEVEL = ("co", "com", "net", "org", "gov", "edu", "ac")


def registered_domain_col(host_col):
    """Registered domain (eTLD+1) of a host by the standard two-rule
    heuristic: last two labels, or last THREE when the TLD is a
    2-letter ccTLD and the second-to-last label is a generic extension
    (co/com/net/org/gov/edu/ac) -- the approximation corpus pipelines
    use when shipping the full Public Suffix List is not worth it (the
    PSL changes monthly; the heuristic covers the dominant co.uk /
    com.au / co.jp class). Hosts with < 3 labels pass through. All
    native array ops, oracle-reproducible."""
    host = F.col(host_col) if isinstance(host_col, str) else host_col
    labels = F.split(host, r"\.")
    n = F.size(labels)
    tld = F.element_at(labels, -1)
    sld = F.element_at(labels, -2)
    use3 = (
        (n >= 3) & (F.length(tld) == 2) & sld.isin(*_CC_SECOND_LEVEL)
    )
    return F.when(n <= 2, host).otherwise(
        F.when(
            use3, F.array_join(F.slice(labels, -3, 3), ".")
        ).otherwise(F.array_join(F.slice(labels, -2, 2), "."))
    )


def filter_blocked_hosts(docs_df, blocked, by="domain"):
    """Drop documents whose url host (by='host') or registered domain
    (by='domain', default -- blocks every subdomain of a listed site)
    appears in a blocklist -- the standard crawl hygiene gate (UT1-class
    adult/spam domain lists) run before any content processing so
    blocked bytes never reach extraction.

    `blocked` is a list of strings or a one-column DataFrame. Plan: the
    list broadcasts (UT1 is ~4M entries / tens of MB -- comfortably
    broadcastable; beyond a few hundred MB switch the left_anti to a
    shuffle join by dropping the broadcast hint) and the anti-join is
    the only operation -- narrow scan side, no shuffle of the corpus."""
    if by not in ("host", "domain"):
        raise ValueError(f"by must be 'host' or 'domain', got {by!r}")
    spark = docs_df.sparkSession
    if not isinstance(blocked, type(docs_df)):
        # explicit schema: an empty programmatic list must be a no-op,
        # not a CANNOT_INFER_EMPTY_SCHEMA crash (review r6, verified)
        blocked_df = spark.createDataFrame(
            [(h,) for h in blocked], "_blocked string"
        )
    else:
        blocked_df = blocked.toDF("_blocked")
    # drop blank entries: a blank line in a hand-edited UT1 file would
    # otherwise equi-join the '' that url_host_col yields for every
    # malformed/non-absolute url and silently delete those records
    # (review r6, verified live)
    blocked_df = blocked_df.select(
        F.lower(F.trim("_blocked")).alias("_blocked")
    ).filter(F.col("_blocked") != "").distinct()
    # materialize the host ONCE before deriving the key: inlining
    # url_host_col into registered_domain_col's CASE branches would
    # re-evaluate the host regexp ~8x per corpus row inside the join
    # key (same CollapseProject behavior the char_shingles two-step
    # guards against)
    with_key = docs_df.withColumn("_bl_host", url_host_col(F.col("url")))
    key = (registered_domain_col(F.col("_bl_host")) if by == "domain"
           else F.col("_bl_host"))
    return with_key.withColumn("_bl_key", key).join(
        F.broadcast(blocked_df),
        F.col("_bl_key") == F.col("_blocked"), "left_anti",
    ).drop("_bl_host", "_bl_key")
