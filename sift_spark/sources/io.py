"""Pages-table IO: Iceberg-first design, parquet evidence in-sandbox.

The production design (north_rule: "over Iceberg tables ... at
10^12-document scale") and its in-sandbox stand-in:

  * TABLE LAYOUT: `pages` partitioned by bucket(N, url) and days(warc_ts)
    -- bucket gives co-located url-keyed work units + shuffle-free
    url-grouped ops; day partitions give crawl-window pruning. DDL below.
  * WRITES: Iceberg snapshot commits make each extraction batch atomic;
    the parquet fallback (plans/lineage.py) emulates this with dynamic
    partition overwrite + ordered lineage commits.
  * READS: predicate pushdown on lang / warc_ts / length(html) reaches
    the scan; column pruning keeps the fat html BINARY out of every stage
    except extraction (verify with df.explain: PushedFilters, ReadSchema).

`iceberg_available()` reports whether the Iceberg runtime is on the
classpath; all operators are storage-agnostic DataFrames.
"""

from __future__ import annotations

PAGES_DDL = """
CREATE TABLE {catalog}.{db}.pages (
    url      STRING NOT NULL,
    warc_ts  TIMESTAMP,
    html     BINARY,
    text     STRING,
    lang     STRING
)
USING iceberg
PARTITIONED BY (bucket({n_buckets}, url), days(warc_ts))
TBLPROPERTIES (
    'write.target-file-size-bytes' = '536870912',
    'write.distribution-mode'      = 'hash',
    'format-version'               = '2'
)
"""

EXTRACTED_DDL = """
CREATE TABLE {catalog}.{db}.extracted (
    url      STRING NOT NULL,
    text     STRING,
    n_chunks INT,
    n_units  INT,
    error    STRING,
    part_id  INT
)
USING iceberg
PARTITIONED BY (part_id)
TBLPROPERTIES ('format-version' = '2')
"""


def iceberg_available(spark):
    """True when the Iceberg runtime is on the JVM classpath.

    py4j attribute access on a MISSING class silently yields a
    JavaPackage (it never raises), so the presence check must force
    actual class loading via Class.forName."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.Schema")
        return True
    except Exception:
        return False

