"""As-of join: for each left row, the latest right row at or before it.

Spark has no built-in as-of join (pandas merge_asof exists only in
pandas-on-Spark with its own constraints). The naive formulation -- a
range join `l.key = r.key AND r.ts <= l.ts` + max() -- explodes to
O(left x right-per-key) pairs before aggregating. The scalable
formulation used here is the classic UNION + carry-forward:

  1. tag both inputs and union them (narrow)
  2. window per key ordered by (ts, side, tie-break)
  3. last_value(right payload) IGNORE NULLS carries the most recent
     right row forward onto every left row

-> exactly ONE shuffle on the key, no pair blowup, works at any skew the
window sort survives (salt heavy keys upstream if a single key's
timeline doesn't fit an executor). Right rows at the SAME timestamp as a
left row count as "prior or equal" (sorted before the left row); ties
among right rows at one timestamp resolve to the largest tie-break
value.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F


def range_join_points(points_df, intervals_df, key_col, ts_col,
                      start_col, end_col, bucket_seconds=3600):
    """Point-in-interval join: each point row matched to every interval
    of the same key with start <= ts <= end.

    A plain inequality join plans as a per-key nested loop (O(points x
    intervals-per-key) comparisons). The scalable form BUCKETIZES time:
    each interval explodes into the buckets it spans, points map to
    their bucket, and the join becomes an equi-join on (key, bucket)
    followed by the exact containment filter. Pick bucket_seconds near
    the typical interval length: too small multiplies interval rows,
    too large puts many intervals per bucket."""
    if bucket_seconds <= 0:
        raise ValueError("bucket_seconds must be positive")
    b = F.lit(int(bucket_seconds))
    p_bucket = F.floor(F.unix_timestamp(F.col(ts_col)) / b)
    points_b = points_df.withColumn("_b", p_bucket)
    intervals_b = intervals_df.withColumn(
        "_b",
        F.explode(
            F.sequence(
                F.floor(F.unix_timestamp(F.col(start_col)) / b),
                F.floor(F.unix_timestamp(F.col(end_col)) / b),
            )
        ),
    )
    return (
        points_b.join(intervals_b, [key_col, "_b"])
        .filter(
            (F.col(ts_col) >= F.col(start_col))
            & (F.col(ts_col) <= F.col(end_col))
        )
        .drop("_b")
    )


def as_of_join(left_df, right_df, key_col, ts_col, payload_cols, tie_col):
    """Left rows + `asof_`-prefixed columns of the latest right row with
    right.ts <= left.ts for the same key (null when no prior right row).

    payload_cols: right-side columns to carry (ts is carried
    automatically as `asof_{ts_col}`); tie_col orders right rows
    within one timestamp (largest wins)."""
    carry = [ts_col] + [c for c in payload_cols if c != ts_col]
    left_tagged = left_df.withColumn("_side", F.lit(1)).withColumn(
        "_r", F.lit(None).cast(
            "struct<" + ",".join(
                f"{c}:{right_df.schema[c].dataType.simpleString()}"
                for c in carry
            ) + ">"
        )
    )
    # the tie-break must be a TOP-LEVEL column to order the union (left
    # rows get null via allowMissingColumns)
    right_tagged = right_df.select(
        F.col(key_col),
        F.col(ts_col),
        F.struct(*[F.col(c) for c in carry]).alias("_r"),
        F.col(tie_col).alias("_tie"),
    ).withColumn("_side", F.lit(0))

    # right rows (side 0) sort BEFORE left rows (side 1) at equal ts so
    # "at or before" includes same-instant right rows; the tie-break
    # orders right rows within one timestamp (largest carried last)
    window = (
        Window.partitionBy(key_col)
        .orderBy(F.col(ts_col).asc(), F.col("_side").asc(),
                 F.col("_tie").asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )

    unioned = left_tagged.unionByName(right_tagged, allowMissingColumns=True)
    carried = unioned.withColumn(
        "_carried", F.last("_r", ignorenulls=True).over(window)
    )
    out = carried.filter(F.col("_side") == 1).drop("_side", "_r", "_tie")
    for c in carry:
        out = out.withColumn(f"asof_{c}", F.col(f"_carried.{c}"))
    return out.drop("_carried")
