"""Table diff: row-grain reconciliation between two versions of a
keyed table.

The reference validates loads by re-counting and re-querying after
upload (create_table_and_upload_to_gcs re-checks existence,
pipelines/utils/tasks.py:150-287; the check harness compares stage
row-ratios, pipelines/rj_smtr/constants.py:244-346). A migration or
backfill needs the stronger primitive: WHICH keys were added, removed
or changed between two table states. ``table_diff`` is that operator.

Scale posture: both sides are reduced map-side to (key, fingerprint)
— one 64-bit xxhash64 over the compared columns instead of carrying
full row width through the join — then a single full-outer sort-merge
join on the key partitions both sides once. No broadcast assumption:
either side may be 100 TB. Changed-row detection is a fixed-width
integer compare. The fingerprint is xxhash64, so a hash collision
(~2^-64 per colliding pair) could mask a changed row; callers needing
certainty re-verify flagged-equal keys with a column compare, which
stays proportional to the (tiny) diff, not the table.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: diff_type values, in output order
ADDED, REMOVED, CHANGED = "added", "removed", "changed"


def table_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: Sequence[str],
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Key-level diff ``old → new``: one row per key whose presence or
    compared-column fingerprint differs, with ``diff_type`` in
    {added, removed, changed}.

    ``compare_cols`` defaults to every non-key column present in BOTH
    frames (columns only one side has are ignored — schema evolution
    is not a per-row change).
    """
    keys = list(key_cols)
    if compare_cols is None:
        shared = [c for c in old.columns if c in set(new.columns)]
        compare_cols = [c for c in shared if c not in set(keys)]
    cmp = list(compare_cols)

    def fingerprinted(df: DataFrame, tag: str) -> DataFrame:
        # cast to string first so e.g. int32 vs int64 drift on the same
        # value still fingerprints identically; NULL and the string
        # 'NULL' stay distinct via a sentinel prefix on non-null values
        cols = [
            F.when(F.col(c).isNull(), F.lit("\x00")).otherwise(
                F.concat(F.lit("\x01"), F.col(c).cast("string"))
            )
            for c in cmp
        ]
        fp = F.xxhash64(*cols) if cols else F.lit(0).cast("long")
        return df.select(*keys, fp.alias(f"_fp_{tag}"), F.lit(1).alias(f"_in_{tag}"))

    joined = fingerprinted(old, "old").join(
        fingerprinted(new, "new"), keys, "full_outer"
    )
    diff_type = (
        F.when(F.col("_in_old").isNull(), F.lit(ADDED))
        .when(F.col("_in_new").isNull(), F.lit(REMOVED))
        .when(F.col("_fp_old") != F.col("_fp_new"), F.lit(CHANGED))
    )
    return (
        joined.withColumn("diff_type", diff_type)
        .filter(F.col("diff_type").isNotNull())
        .select(*keys, "diff_type")
    )
