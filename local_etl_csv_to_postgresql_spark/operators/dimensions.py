"""Dimension builds + fact preparation.

Reference: D2 distinct-extraction src/transform.py:410-468, fact prep
:591-605.

The dimension frames built here carry natural keys only. Surrogate keys
are assigned at load time by ``Warehouse.load_dimension``, the way the
reference's PostgreSQL SERIAL column assigns them on insert
(sql/schema.sql:84...): ``row_number() OVER (ORDER BY natural_key)``
offset past max(existing), so keys are 1..n in natural-key order on a
fresh load and stay stable across incremental appends.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dates import build_dim_date_from_facts, date_key


def build_dimensions(valid_df: DataFrame) -> dict:
    """D2: one distinct per dimension column.

    Returns the reference's IR contract — dict of 6 frames
    (src/transform.py:619-626): dim_date, dim_category, dim_merchant,
    dim_payment_method, dim_user (+ the caller adds fact_data).

    Scale note: each distinct is a partial-agg shuffle on a single narrow
    column; Catalyst prunes the scan to that column. The four distincts
    run as independent jobs and share the cached flagged frame.
    """
    dims = {}
    dims["dim_date"] = build_dim_date_from_facts(valid_df, "date")
    for name, src_col, nk in [
        ("dim_category", "category", "category_name"),
        ("dim_merchant", "merchant", "merchant_name"),
        ("dim_payment_method", "payment_method", "payment_method_name"),
        ("dim_user", "user_id", "user_id"),
    ]:
        dims[name] = (
            valid_df.select(F.col(src_col).alias(nk))
            .filter(F.col(src_col).isNotNull())
            .distinct()
        )
    return dims


def prepare_fact(valid_df: DataFrame) -> DataFrame:
    """P1 + F8: project the 7 fact-prep columns and encode date_key
    (reference src/transform.py:591-605). Keys are attached at load time
    via broadcast joins (J1) — see warehouse.enrich_fact."""
    return valid_df.select(
        "transaction_id",
        date_key("date").alias("date_key"),
        "category",
        "merchant",
        "payment_method",
        "user_id",
        F.col("amount").cast("decimal(10,2)").alias("amount"),
    )
