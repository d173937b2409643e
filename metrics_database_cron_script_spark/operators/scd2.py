"""SCD Type-2 dimension maintenance — keep-history upsert.

The reference's upsert (R9, updatescript.py:131 ``replace_one(upsert=True)``)
keeps only the LATEST state per key; the warehouse-grade upgrade keeps the
full validity history: every attribute change closes the current row
(``valid_to`` = change time) and opens a new current one. ``scd2_apply`` is
that merge as a single-pass batch operator:

- history rows (``is_current = false``) pass through untouched — at scale
  they live in closed partitions the merge never rewrites (the
  partition-pruned keep-latest merge that once paired with this is in git
  history at 65b28ee);
- the current slice FULL-OUTER-joins the change batch on the business key —
  ONE shuffle by key (or a broadcast when stats say the batch is small; no
  hint pinned, exactly per the de-pinning rule);
- each joined row emits 0–2 output rows via an array+explode, so there is
  no second pass and no re-join: carried/unchanged rows re-emit as-is,
  changed rows emit the closed-out old version AND the new open version,
  new keys emit just the new open version.

Contract (asserted by tests, not at runtime — the operator is a pure plan
constructor): ``changes`` has at most one row per key (pre-dedup a multi-
change batch to the latest with a row_number window — that is what the
``c_scd2_merge`` gate query does), ``eff_col`` is non-null and ≥ the open
row's ``valid_from``, and dim rows always carry a non-null ``valid_from``.
A no-op change (attributes equal to the open row) leaves the dim untouched.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def scd2_apply(
    dim: DataFrame,
    changes: DataFrame,
    keys: list[str],
    attrs: list[str],
    eff_col: str = "eff_ts",
    start_col: str = "valid_from",
    end_col: str = "valid_to",
    current_col: str = "is_current",
) -> DataFrame:
    """Apply a change batch to an SCD2 dimension snapshot; returns the new
    snapshot with schema ``keys + attrs + [start, end, current]``."""
    out_cols = [*keys, *attrs, start_col, end_col, current_col]
    history = dim.filter(~F.col(current_col)).select(*out_cols)
    current = dim.filter(F.col(current_col)).select(*out_cols)
    batch = changes.select(
        *keys,
        *[F.col(a).alias(f"__new_{a}") for a in attrs],
        F.col(eff_col).alias("__eff"),
    )

    j = current.join(batch, on=list(keys), how="full_outer")
    has_old = F.col(start_col).isNotNull()
    has_new = F.col("__eff").isNotNull()
    changed = (
        has_old
        & has_new
        & ~F.struct(*[F.col(a).alias(a) for a in attrs]).eqNullSafe(
            F.struct(*[F.col(f"__new_{a}").alias(a) for a in attrs])
        )
    )

    end_type = dim.schema[end_col].dataType
    old_row = F.struct(
        *[F.col(a).alias(a) for a in attrs],
        F.col(start_col).alias(start_col),
        F.when(changed, F.col("__eff")).otherwise(F.col(end_col)).alias(end_col),
        (~changed).alias(current_col),
    )
    new_row = F.struct(
        *[F.col(f"__new_{a}").alias(a) for a in attrs],
        F.col("__eff").alias(start_col),
        F.lit(None).cast(end_type).alias(end_col),
        F.lit(True).alias(current_col),
    )
    emitted = F.array_compact(
        F.array(
            F.when(has_old, old_row),
            F.when(changed | (has_new & ~has_old), new_row),
        )
    )
    merged = j.select(*keys, F.explode(emitted).alias("__r")).select(
        *keys, "__r.*"
    )
    return history.unionByName(merged.select(*out_cols))
