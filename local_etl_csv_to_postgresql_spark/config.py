"""Engine configuration.

Mirrors the reference's configuration contract (reference
``src/config.py:45-53`` required columns, ``:92`` BATCH_SIZE, and the
validation constants in ``src/transform.py:25-38``) while adding the
Spark-side knobs a cluster deployment needs. Everything is a plain
dataclass so tests can construct variants cheaply.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import date, datetime


# Required CSV columns — the extraction contract
# (reference src/config.py:45-53).
REQUIRED_CSV_COLUMNS: tuple[str, ...] = (
    "transaction_id",
    "date",
    "category",
    "amount",
    "merchant",
    "payment_method",
    "user_id",
)

# Category whitelist (reference src/transform.py:25-28; FIXTURES.md §1).
ALLOWED_CATEGORIES: tuple[str, ...] = (
    "Groceries",
    "Dining",
    "Transportation",
    "Entertainment",
    "Utilities",
    "Shopping",
    "Healthcare",
    "Travel",
)

# Payment-method whitelist (reference src/transform.py:30-32).
ALLOWED_PAYMENT_METHODS: tuple[str, ...] = (
    "Credit Card",
    "Debit Card",
    "Cash",
    "Digital Wallet",
)

# Amount bounds (reference src/transform.py:37-38). NOTE: the executed
# lower-bound check in the reference is `amount <= 0` (transform.py:222),
# not `< MIN_AMOUNT` — we replicate the executed semantics.
MIN_AMOUNT = 0.01
MAX_AMOUNT = 10_000.00

# Date bounds (reference src/transform.py:34-35). MAX is "now" — the
# reference freezes it at import time; we make it injectable (SURVEY §7.4-6).
MIN_VALID_DATE = date(2020, 1, 1)


@dataclass(frozen=True)
class ValidationConfig:
    """Row-validation rule parameters (reference src/transform.py:25-38).

    ``max_valid_ts`` defaults to None meaning "evaluate now() at validation
    time"; tests inject a fixed timestamp for reproducibility.
    """

    required_columns: tuple[str, ...] = REQUIRED_CSV_COLUMNS
    allowed_categories: tuple[str, ...] = ALLOWED_CATEGORIES
    allowed_payment_methods: tuple[str, ...] = ALLOWED_PAYMENT_METHODS
    min_amount: float = MIN_AMOUNT
    max_amount: float = MAX_AMOUNT
    min_valid_date: date = MIN_VALID_DATE
    max_valid_ts: datetime | None = None
    # When whitelists are empty tuples the corresponding rule is skipped —
    # lets the engine validate arbitrary category domains (e.g. event types).
    enforce_category_whitelist: bool = True
    enforce_payment_whitelist: bool = True


@dataclass(frozen=True)
class WarehouseConfig:
    """Where and how the star schema is persisted.

    ``path`` is the warehouse root; each table lives at ``<path>/<table>``
    as parquet. The fact table is flat and range-clustered on date_key,
    so parquet min/max statistics skip files for date-range predicates —
    the Spark replacement for the reference's B-tree date indexes
    (sql/schema.sql:229-242). Every successful load records a snapshot
    manifest (``Warehouse.snapshot``).
    """

    path: str = "/tmp/spark_warehouse"
    fact_table: str = "fact_transactions"
    # JDBC parity mode (reference loads into PostgreSQL). Optional — the
    # engine runs fully on parquet; set url to enable a JDBC sink.
    jdbc_url: str | None = None
    jdbc_properties: dict = field(default_factory=dict)
    jdbc_batchsize: int = 1000  # reference BATCH_SIZE, src/config.py:92


@dataclass(frozen=True)
class EngineConfig:
    validation: ValidationConfig = field(default_factory=ValidationConfig)
    warehouse: WarehouseConfig = field(default_factory=WarehouseConfig)
    # dim_date seeding range (reference sql/populate_dim_date.sql:20-76).
    dim_date_start: date = date(2022, 1, 1)
    dim_date_end: date = date(2026, 12, 31)
    # when set, rows failing validation are appended here as parquet with
    # their failed-rule labels (a scale pipeline never discards rejects
    # silently — quarantine is what makes dirty batches auditable and
    # replayable after a rule fix)
    quarantine_path: str | None = None
