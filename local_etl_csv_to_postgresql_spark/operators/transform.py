"""Phase-2 transform orchestration (reference src/transform.py:522-626).

clean (standardize + trim + keep-first dedup) → validate (rule engine)
→ dimension builds → fact prep. Produces the reference's IR contract:
``dict[str, DataFrame]`` with keys fact_data, dim_date, dim_category,
dim_merchant, dim_payment_method, dim_user — plus the per-rule issue
accounting the reference logs.

The cleaned+flagged frame is the only thing persisted; everything
downstream (4 distincts + fact projection) shares that cache so the raw
input is scanned once per run, not once per output. The caller releases
it with ``TransformResult.release()`` when the batch ends: a cache left
behind would answer the next read of the same path with the old rows.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import ValidationConfig
from .dedup import keep_first_dedup
from .dimensions import build_dimensions, prepare_fact
from .standardize import (
    standardize_category,
    standardize_merchant,
    standardize_payment_method,
)
from .validate import ValidationError, ValidationResult, validate_transactions


class TransformError(Exception):
    pass


@dataclass
class TransformResult:
    tables: dict  # fact_data + 5 dims (reference src/transform.py:619-626)
    input_rows: int
    deduped_rows: int
    valid_rows: int
    issue_counts: dict = field(default_factory=dict)
    invalid: "DataFrame | None" = None  # rejects with __failed_rules labels
    cached: "DataFrame | None" = None  # the batch's one persisted frame

    def release(self) -> None:
        if self.cached is not None:
            self.cached.unpersist()
            self.cached = None


def clean_transactions(df: DataFrame) -> DataFrame:
    """Cleaning stage (reference src/transform.py:127-170): trim all
    string columns (F4), standardize category/merchant/payment (F1-F3),
    keep-first dedup on transaction_id (D1). One projection per step:
    a ``withColumn`` chain would re-analyze the growing plan per column."""
    out = df.withColumns(
        {c: F.trim(F.col(c)) for c, dtype in df.dtypes if dtype == "string"}
    ).withColumns({
        "category": standardize_category("category"),
        "merchant": standardize_merchant("merchant"),
        "payment_method": standardize_payment_method("payment_method"),
    })
    return keep_first_dedup(out, ["transaction_id"])


def transform_transactions(
    df: DataFrame | None,
    cfg: ValidationConfig | None = None,
) -> TransformResult:
    """Full phase-2 transform (reference src/transform.py:522-626).

    Raises TransformError on None/empty input (reference :540-551) and
    validate.ValidationError when every row fails validation
    (reference :582-585); that error carries the raw row count as
    ``input_rows``.
    """
    if df is None:
        raise TransformError("Input DataFrame is None")
    # Piggyback the raw-input count on the validation aggregation via an
    # Observation instead of running a separate count() job — at 100 TB
    # that separate count is a full second scan of the source. The
    # observe node sits above the raw scan (before dedup drops rows), so
    # the metric is the true pre-dedup input count.
    from pyspark.sql import Observation

    obs = Observation("raw_input")
    df = df.observe(obs, F.count(F.lit(1)).alias("n"))

    cleaned = clean_transactions(df)
    try:
        result: ValidationResult = validate_transactions(cleaned, cfg)
    except ValidationError as e:
        e.input_rows = int(obs.get["n"])
        raise
    input_rows = int(obs.get["n"])
    if input_rows == 0:
        result.flagged.unpersist()
        raise TransformError("Input DataFrame is empty")
    tables = build_dimensions(result.valid)
    tables["fact_data"] = prepare_fact(result.valid)
    # deduped count: validation saw the post-dedup frame
    return TransformResult(
        tables=tables,
        input_rows=input_rows,
        deduped_rows=result.input_rows,
        valid_rows=result.valid_rows,
        issue_counts=result.issue_counts,
        invalid=result.invalid,
        cached=result.flagged,
    )
