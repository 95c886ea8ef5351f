"""Row-validation rule engine (P2-P8, reference src/transform.py:174-337).

Builds one boolean per rule as a column, accumulates an ``is_valid``
conjunction, and computes the per-rule issue counts the reference logs
(src/transform.py:212-304) in a SINGLE aggregation job over the flagged
frame — not one count() per rule. The valid and invalid frames are
filters over the cached flagged frame, so the input is scanned once;
the caller owns that cache and releases it with ``flagged.unpersist()``.

Rules (executed semantics, which sometimes differ from the declared
constants — see config.py notes):
- nulls:          any of the 7 required fields null            (P2, :208-215)
- amount:         non-numeric | <= 0 | > MAX_AMOUNT            (P3, :222-237)
- date:           unparseable | < MIN_VALID_DATE | > now       (P4, :249-277)
- category:       not in whitelist                             (P5, :285-294)
- payment_method: not in whitelist                             (P6, :297-304)
- user_id:        non-integer                                  (P7, :308-319)

Raises ValidationError when zero rows survive (reference
src/transform.py:582-585).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import ValidationConfig


class ValidationError(Exception):
    #: raw rows before dedup; ``transform_transactions`` sets it
    input_rows: int = 0


@dataclass
class ValidationResult:
    valid: DataFrame  # rows passing all rules, typed columns applied
    invalid: DataFrame  # rows failing >=1 rule, with __failed_rules array
    issue_counts: dict  # rule name -> #rows violating
    input_rows: int
    valid_rows: int
    flagged: DataFrame  # persisted; valid and invalid are filters over it


def _rule_columns(cfg: ValidationConfig) -> dict:
    """rule name -> violation predicate (True = row is invalid)."""
    # try_cast / try_to_date: malformed values coerce to NULL (the
    # reference's pd.to_numeric/to_datetime errors='coerce' semantics).
    # Spark 4 ANSI mode would otherwise raise on the first bad value.
    amount = F.col("amount").try_cast("double")
    parsed_date = F.try_to_date(F.col("date"))
    max_ts = (
        F.lit(cfg.max_valid_ts) if cfg.max_valid_ts is not None else F.current_timestamp()
    )
    rules = {
        "null_required_fields": F.greatest(
            *[F.col(c).isNull() | (F.trim(F.col(c).cast("string")) == "") for c in cfg.required_columns]
        ),
        # executed reference semantics: coercion failure OR <= 0 is one
        # bucket; > max is another (src/transform.py:222-237)
        "invalid_amount": amount.isNull() | (amount <= 0),
        "amount_exceeds_max": amount > F.lit(cfg.max_amount),
        "invalid_date": parsed_date.isNull()
        | (parsed_date < F.lit(cfg.min_valid_date))
        | (parsed_date.cast("timestamp") > max_ts),
        "invalid_user_id": F.col("user_id").try_cast("int").isNull(),
    }
    if cfg.enforce_category_whitelist and cfg.allowed_categories:
        rules["invalid_category"] = ~F.col("category").isin(*cfg.allowed_categories)
    if cfg.enforce_payment_whitelist and cfg.allowed_payment_methods:
        rules["invalid_payment_method"] = ~F.col("payment_method").isin(
            *cfg.allowed_payment_methods
        )
    return rules


def validate_transactions(
    df: DataFrame, cfg: ValidationConfig | None = None
) -> ValidationResult:
    """Apply all rules; return valid/invalid frames + per-rule counts.

    The returned ``valid`` frame has typed columns: date DateType, amount
    double rounded to 2dp (decimal cast happens at fact prep), user_id int.
    """
    cfg = cfg or ValidationConfig()
    rules = _rule_columns(cfg)

    # one projection for the rule flags, one for is_valid over them.
    # A null predicate (e.g. isin on a null) counts as not-violating
    # except for the explicit null rule — coalesce to False.
    flagged = df.withColumns(
        {f"__v_{n}": F.coalesce(pred, F.lit(False)) for n, pred in rules.items()}
    )
    violation_cols = [f"__v_{n}" for n in rules]
    flagged = flagged.withColumn(
        "is_valid", ~F.greatest(*[F.col(c) for c in violation_cols])
    ).persist()

    # ONE job for input count + every rule count + valid count.
    aggs = [F.count(F.lit(1)).alias("__total"), F.sum(F.col("is_valid").cast("long")).alias("__valid")]
    for n in rules:
        aggs.append(F.sum(F.col(f"__v_{n}").cast("long")).alias(n))
    row = flagged.agg(*aggs).first().asDict()
    total, n_valid = int(row.pop("__total")), int(row.pop("__valid") or 0)
    issue_counts = {k: int(v or 0) for k, v in row.items()}

    if total > 0 and n_valid == 0:
        flagged.unpersist()
        raise ValidationError(
            "All rows failed validation — refusing to continue "
            f"(issues: { {k: v for k, v in issue_counts.items() if v} })"
        )

    valid = (
        flagged.filter("is_valid")
        .drop(*violation_cols, "is_valid")
        .withColumns({
            "date": F.try_to_date("date"),
            "amount": F.round(F.col("amount").try_cast("double"), 2),
            "user_id": F.col("user_id").try_cast("int"),
        })
    )
    invalid = (
        flagged.filter(~F.col("is_valid"))
        .withColumn(
            "__failed_rules",
            F.filter(
                F.array(
                    *[
                        F.when(F.col(f"__v_{n}"), F.lit(n)).otherwise(F.lit(None))
                        for n in rules
                    ]
                ),
                lambda x: x.isNotNull(),
            ),
        )
        .drop(*violation_cols, "is_valid")
    )
    return ValidationResult(
        valid=valid,
        invalid=invalid,
        issue_counts=issue_counts,
        input_rows=total,
        valid_rows=n_valid,
        flagged=flagged,
    )
