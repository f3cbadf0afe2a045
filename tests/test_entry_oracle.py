"""Driver-contract self-check: run every queries() entry at sf0.01 and,
where an oracle exists, compare against DuckDB exactly the way the driver
does (columns sorted by name, rows as a multiset, values after rounding).
"""

import math

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for table in TABLES:
        con.execute(
            f"CREATE VIEW {table} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{table}.parquet')"
        )
    yield con
    con.close()


def _normalize(value):
    if value is None:
        return None
    if isinstance(value, float):
        if math.isnan(value):
            return "nan"
        return round(value, 9)
    if isinstance(value, (int, str, bool)):
        return value
    try:  # decimals, dates, timestamps
        return str(value)
    except Exception:
        return repr(value)


def _spark_multiset(df):
    cols = sorted(df.columns)
    rows = df.select(*cols).collect()
    return cols, sorted(
        (tuple(_normalize(row[c]) for c in cols) for row in rows),
        key=repr,  # rows may mix None with ints (as-of misses)
    )


def _duck_multiset(con, sql):
    rel = con.sql(sql)
    cols = list(rel.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = rel.fetchall()
    return sorted(cols), sorted(
        (tuple(_normalize(row[i]) for i in order) for row in rows),
        key=repr,
    )


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"url", "text", "error"} <= set(df.columns)


@pytest.mark.parametrize("name", sorted(entry_mod.oracle_sql().keys()))
def test_oracle_parity(spark, ddb, name):
    query_fn = entry_mod.queries()[name]
    spark_cols, spark_rows = _spark_multiset(query_fn(spark, SF_DIR))
    duck_cols, duck_rows = _duck_multiset(ddb, entry_mod.oracle_sql()[name])

    assert spark_cols == duck_cols, f"{name}: column mismatch"
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    mismatches = [
        (a, b) for a, b in zip(spark_rows, duck_rows) if a != b
    ][:5]
    assert not mismatches, f"{name}: value mismatches {mismatches}"


def test_dedup_components_star_matches_oracle(spark, ddb):
    """The recursive-CTE reachability oracle must be green over BOTH
    connected-components implementations: min-label propagation (the
    registered query) AND alternating large-star/small-star (the
    adversarial-graph scale path, Kiveris et al. SoCC'14)."""
    from sift_spark.operators.dedup import (
        connected_components_star,
        minhash_near_duplicates,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pairs = minhash_near_duplicates(
        docs, n_hashes=16, n_bands=4, min_jaccard=0.5,
        portable_hash=True, max_bucket_size=None,
    )
    spark_cols, spark_rows = _spark_multiset(connected_components_star(pairs))
    duck_cols, duck_rows = _duck_multiset(
        ddb, entry_mod.oracle_sql()["dedup_components"]
    )
    assert spark_cols == duck_cols
    assert spark_rows == duck_rows


@pytest.mark.parametrize("name", sorted(
    set(entry_mod.queries()) - set(entry_mod.oracle_sql())
))
def test_rows_only_queries_run(spark, name):
    df = entry_mod.queries()[name](spark, SF_DIR)
    assert df.count() >= 0  # runs without error; schema is stable
    assert len(df.columns) > 0


def test_rows_only_verification_mapping_in_sync():
    """Every rows-only row must name its stand-in verification tier
    (VERDICT r6 #7), and the mapping must not drift from the registry."""
    rows_only = set(entry_mod.queries()) - set(entry_mod.oracle_sql())
    assert rows_only == set(entry_mod.ROWS_ONLY_VERIFICATION), (
        "update ROWS_ONLY_VERIFICATION when adding/removing a "
        "rows-only query"
    )


def test_registry_fits_driver_gate_cap():
    """The round-3 driver gate silently recorded only 50 of 51
    registered queries; the registry was consolidated to fit. This
    guard turns the next silent truncation into a loud failure: adding
    a query requires folding another below the cap first."""
    assert len(entry_mod.queries()) <= 50, (
        "driver gate caps at 50 rows -- fold queries (see "
        "production_hash_paths / ngram_jaccard precedents) before adding"
    )
