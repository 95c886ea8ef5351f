"""Warehouse load protocol: idempotent appends, surrogate-key stability
across incremental loads, unmatched-key errors, load stats
(reference tests/test_load.py:100-497)."""

from __future__ import annotations

import os
from datetime import datetime

import pytest

from local_etl_csv_to_postgresql_spark.config import ValidationConfig, WarehouseConfig
from local_etl_csv_to_postgresql_spark.operators.transform import transform_transactions
from local_etl_csv_to_postgresql_spark.warehouse import LoadError, Warehouse
from tests.conftest import cache_is_empty, rows_to_df

CFG = ValidationConfig(max_valid_ts=datetime(2024, 1, 1))


@pytest.fixture
def wh(spark, tmp_path):
    return Warehouse(spark, WarehouseConfig(path=str(tmp_path / "wh")))


def _load(spark, wh, rows):
    res = transform_transactions(rows_to_df(spark, rows), CFG)
    try:
        return wh.load_warehouse(res.tables)
    finally:
        res.release()


def test_fresh_load_counts(spark, wh, valid_rows):
    stats = _load(spark, wh, valid_rows)
    assert stats.status == "success"
    assert stats.fact_inserted == 3 and stats.fact_skipped == 0
    assert stats.dims_inserted["dim_category"] == 3
    assert wh.read("fact_transactions").count() == 3
    # the load assigns dense surrogate keys 1..n in natural-key order,
    # as SERIAL does for sorted inserts
    for table, nk, sk in (
        ("dim_category", "category_name", "category_key"),
        ("dim_user", "user_id", "user_key"),
    ):
        pairs = sorted((r[nk], r[sk]) for r in wh.read(table).collect())
        assert [k for _, k in pairs] == list(range(1, len(pairs) + 1)), table


def test_rerun_is_idempotent(spark, wh, valid_rows):
    _load(spark, wh, valid_rows)
    stats = _load(spark, wh, valid_rows)
    assert stats.fact_inserted == 0 and stats.fact_skipped == 3
    assert wh.read("fact_transactions").count() == 3
    # dims unchanged too
    assert wh.read("dim_category").count() == 3


def test_rerun_writes_no_files(spark, wh, valid_rows):
    """A batch that is already loaded appends nothing: every table's
    file set is unchanged and only the new snapshot manifest appears."""
    root = wh.cfg.path

    def files():
        return {
            os.path.relpath(os.path.join(d, f), root)
            for d, _, names in os.walk(root)
            for f in names
        }

    _load(spark, wh, valid_rows)
    before = files()
    stats = _load(spark, wh, valid_rows)
    assert stats.fact_inserted == 0
    assert files() == before | {f"_snapshots/v{stats.snapshot_version}.json"}


def test_incremental_appends_only_new(spark, wh, valid_rows):
    _load(spark, wh, valid_rows)
    new_rows = valid_rows + [
        ["t4", "2023-06-18", "Healthcare", "75.00", "Clinic D", "Digital Wallet", "4"],
    ]
    stats = _load(spark, wh, new_rows)
    assert stats.fact_inserted == 1 and stats.fact_skipped == 3
    assert wh.read("fact_transactions").count() == 4


def test_surrogate_keys_stable_across_loads(spark, wh, valid_rows):
    _load(spark, wh, valid_rows)
    before = {
        r["category_name"]: r["category_key"]
        for r in wh.read("dim_category").collect()
    }
    new_rows = valid_rows + [
        ["t4", "2023-06-18", "Entertainment", "75.00", "Cinema E", "Digital Wallet", "4"],
    ]
    _load(spark, wh, new_rows)
    after = {
        r["category_name"]: r["category_key"]
        for r in wh.read("dim_category").collect()
    }
    for name, key in before.items():
        assert after[name] == key  # existing keys untouched
    assert after["Entertainment"] == max(before.values()) + 1  # offset past max


def test_unmapped_key_raises(spark, wh, valid_rows):
    spark.catalog.clearCache()
    res = transform_transactions(rows_to_df(spark, valid_rows), CFG)
    wh.load_warehouse(res.tables)
    res.release()
    # a fact batch referencing a category no dimension knows
    bad_fact = res.tables["fact_data"].withColumn(
        "category", res.tables["fact_data"].category.substr(1, 2)
    )
    with pytest.raises(LoadError, match="Unmapped"):
        wh.enrich_fact(bad_fact)
    # a direct caller is not left holding the enriched batch's cache
    assert cache_is_empty(spark)


def test_enriched_fact_joins_back(spark, wh, valid_rows):
    res = transform_transactions(rows_to_df(spark, valid_rows), CFG)
    wh.load_warehouse(res.tables)
    wh.register_views()
    joined = spark.sql(
        """
        SELECT c.category_name, f.amount FROM fact_transactions f
        JOIN dim_category c ON f.category_key = c.category_key
        ORDER BY f.transaction_id
        """
    ).collect()
    assert [r["category_name"] for r in joined] == ["Groceries", "Dining", "Transportation"]


def test_verify_schema_report(spark, tmp_path):
    from local_etl_csv_to_postgresql_spark.config import EngineConfig, WarehouseConfig
    from local_etl_csv_to_postgresql_spark.operators.transform import (
        transform_transactions,
    )
    from local_etl_csv_to_postgresql_spark.sources.generator import (
        generate_transactions,
    )
    from local_etl_csv_to_postgresql_spark.warehouse import Warehouse

    cfg = EngineConfig(warehouse=WarehouseConfig(path=str(tmp_path / "wh")))
    raw = spark.createDataFrame(
        [{k: str(v) for k, v in r.items()} for r in generate_transactions(200, 10, 1)]
    )
    wh = Warehouse(spark, cfg.warehouse)
    wh.load_warehouse(transform_transactions(raw, cfg.validation).tables)

    report = {(r["check_type"], r["table_name"]): r["status"]
              for r in wh.verify_schema().collect()}
    # every declared table exists with matching columns
    for t in ("fact_transactions", "dim_date", "dim_category", "dim_merchant",
              "dim_payment_method", "dim_user"):
        assert report[("exists", t)] == "pass"
        assert report[("columns", t)] == "pass"
    # constraints all re-derive as passing queries on a clean load
    assert all(s == "pass" for (c, _), s in report.items()
               if c in ("unique_key", "foreign_key", "check_range"))
    assert ("foreign_key", "fact_transactions->dim_user") in report


def test_verify_schema_reads_the_stored_columns(spark, wh):
    """The columns check compares the declared schema with the files'
    own: a dimension stored with a retyped or a missing column fails it,
    though ``Warehouse.read`` would hand back the declared schema."""
    spark.createDataFrame(
        [(1, "Store A")], "merchant_key int, merchant_name string"
    ).write.parquet(wh._path("dim_merchant"))
    spark.createDataFrame([(1,)], "user_id int").write.parquet(
        wh._path("dim_user")
    )
    report = {(r["check_type"], r["table_name"]): r
              for r in wh.verify_schema().collect()}
    assert report[("columns", "dim_merchant")]["status"] == "fail"
    assert report[("columns", "dim_user")]["status"] == "fail"
    assert "user_key" in report[("columns", "dim_user")]["detail"]
    assert report[("exists", "dim_category")]["status"] == "fail"


def test_read_starts_no_job(spark, wh, valid_rows):
    """Opening a stored table reads no parquet footers: the declared
    schema stands in for inference and equals the inferred one."""
    _load(spark, wh, valid_rows)
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = dag.nextJobId()
    fact = wh.read("fact_transactions")
    dim = wh.read("dim_category")
    assert dag.nextJobId() - before == 0
    assert fact.schema == spark.read.parquet(wh._path("fact_transactions")).schema
    assert dim.schema == spark.read.parquet(wh._path("dim_category")).schema


def test_stored_duplicate_id_is_skipped_once(spark, wh, valid_rows):
    """Each batch row is inserted or skipped exactly once, even when the
    fact table already holds one transaction_id twice: the stored-id
    flag is an existence test, not a join that repeats batch rows."""
    import glob
    import shutil

    _load(spark, wh, valid_rows[:1])
    part = glob.glob(f"{wh._path('fact_transactions')}/*.parquet")[0]
    shutil.copy(part, part.replace("part-", "part-copy-"))
    assert wh.read("fact_transactions").count() == 2  # t1 stored twice

    stats = _load(spark, wh, valid_rows)
    assert (stats.fact_inserted, stats.fact_skipped) == (2, 1)
    ids = [r["transaction_id"] for r in wh.read("fact_transactions").collect()]
    assert sorted(ids) == ["t1", "t1", "t2", "t3"]


def test_compact_fact_merges_per_batch_files(spark, tmp_path):
    """Three incremental loads leave one file each; compaction rewrites
    them into fewer files, still flat, preserving row count and content."""
    from local_etl_csv_to_postgresql_spark.config import (
        EngineConfig,
        WarehouseConfig,
    )
    from local_etl_csv_to_postgresql_spark.pipeline import run_etl_pipeline
    from local_etl_csv_to_postgresql_spark.sources.generator import (
        generate_transactions,
        write_transactions_csv,
    )
    from local_etl_csv_to_postgresql_spark.warehouse import Warehouse

    cfg = EngineConfig(warehouse=WarehouseConfig(path=str(tmp_path / "wh")))
    for i in range(3):
        p = tmp_path / f"tx{i}.csv"
        write_transactions_csv(
            str(p), generate_transactions(200, 10, 1, seed=100 + i)
        )
        res = run_etl_pipeline(spark, str(p), cfg)
        assert res.status == "success"

    wh = Warehouse(spark, cfg.warehouse)
    before_rows = wh.read(cfg.warehouse.fact_table).count()
    stats = wh.compact_fact()
    assert stats["files_after"] < stats["files_before"]
    after = wh.read(cfg.warehouse.fact_table)
    assert after.count() == before_rows
    root = f"{cfg.warehouse.path}/{cfg.warehouse.fact_table}"
    assert not [f for f in os.listdir(root) if f.startswith("year_month=")]


def test_quarantine_captures_rejects_with_rule_labels(spark, tmp_path):
    from local_etl_csv_to_postgresql_spark.config import (
        EngineConfig,
        WarehouseConfig,
    )
    from local_etl_csv_to_postgresql_spark.pipeline import run_etl_pipeline
    from local_etl_csv_to_postgresql_spark.sources.generator import (
        generate_transactions,
        write_transactions_csv,
    )

    rows = generate_transactions(50, 10, 1, seed=5)
    rows[3]["amount"] = "-12.00"      # negative amount
    rows[7]["category"] = "Nonsense"  # bad category
    p = tmp_path / "tx.csv"
    write_transactions_csv(str(p), rows)
    qdir = str(tmp_path / "quarantine")
    cfg = EngineConfig(
        warehouse=WarehouseConfig(path=str(tmp_path / "wh")),
        quarantine_path=qdir,
    )
    res = run_etl_pipeline(spark, str(p), cfg)
    assert res.status == "success"
    q = spark.read.parquet(qdir)
    got = {r["transaction_id"]: r["failed_rules"] for r in q.collect()}
    assert len(got) == 2
    assert any("amount" in v for v in got.values())
    assert any("category" in v for v in got.values())
    # re-run appends (quarantine is an audit log, not a table)
    res2 = run_etl_pipeline(spark, str(p), cfg)
    assert res2.status == "success"
    assert spark.read.parquet(qdir).count() == 4


def test_snapshot_time_travel_across_incremental_loads(spark, tmp_path):
    """Two incremental loads -> two snapshot versions; v1 reads the
    first batch's fact state, v2 both; dims stay readable at both
    versions; file-list reads return the declared columns; and
    compaction prunes the invalidated manifests."""
    import datetime as dt

    from local_etl_csv_to_postgresql_spark.config import (
        EngineConfig,
        WarehouseConfig,
    )
    from local_etl_csv_to_postgresql_spark.operators.transform import (
        transform_transactions,
    )
    from local_etl_csv_to_postgresql_spark.warehouse import LoadError, Warehouse
    from local_etl_csv_to_postgresql_spark.schemas import FACT_TRANSACTIONS_SCHEMA
    from tests.conftest import COLUMNS

    def batch(ids):
        return spark.createDataFrame(
            [
                (f"t{i}", "2023-06-15", "Groceries", "10.00", "M", "Cash", "1")
                for i in ids
            ],
            COLUMNS,
        )

    cfg = EngineConfig(warehouse=WarehouseConfig(path=str(tmp_path / "wh")))
    wh = Warehouse(spark, cfg.warehouse)
    wh.seed_dim_date(dt.date(2023, 1, 1), dt.date(2023, 12, 31))

    stats1 = wh.load_warehouse(transform_transactions(batch(range(3))).tables)
    assert stats1.snapshot_version == 1
    stats2 = wh.load_warehouse(
        transform_transactions(batch(range(3, 8))).tables
    )
    assert stats2.snapshot_version == 2
    assert wh.snapshots() == [1, 2]

    v1 = wh.read_version("fact_transactions", 1)
    v2 = wh.read_version("fact_transactions", 2)
    assert v1.count() == 3
    assert v2.count() == 8
    assert v1.columns == FACT_TRANSACTIONS_SCHEMA.fieldNames()
    assert wh.read_version("dim_category", 1).count() >= 1

    # compaction rewrites the fact layout -> old manifests prune
    res = wh.compact_fact()
    assert set(res["snapshots_pruned"]) == {1, 2}
    with pytest.raises(LoadError, match="No snapshot"):
        wh.read_version("fact_transactions", 1)
    # post-compaction snapshot works again
    v3 = wh.snapshot()
    assert wh.read_version("fact_transactions", v3).count() == 8


def _generated_batch(spark, n, seed):
    from local_etl_csv_to_postgresql_spark.sources.generator import (
        generate_transactions,
    )

    return spark.createDataFrame(
        [{k: str(v) for k, v in r.items()}
         for r in generate_transactions(n, 10, 1, seed=seed)]
    )


def _date_key_ranges(root):
    """(min, max) date_key of each parquet file under ``root``, read
    from the footers' row-group statistics."""
    import glob

    import pyarrow.parquet as pq

    out = []
    for f in sorted(glob.glob(f"{root}/*.parquet")):
        meta = pq.ParquetFile(f).metadata
        col = meta.schema.names.index("date_key")
        stats = [meta.row_group(i).column(col).statistics
                 for i in range(meta.num_row_groups)]
        out.append((min(s.min for s in stats), max(s.max for s in stats)))
    return out


def test_fact_layout_is_date_clustered(spark, wh):
    """Each load appends flat parquet, one file per batch at this scale,
    with no partition directories; a write that spans several files
    gives each its own date_key range, so footer min/max statistics
    can skip files for date-range predicates."""
    import datetime as dt

    from pyspark.sql import functions as F

    wh.seed_dim_date(dt.date(2022, 1, 1), dt.date(2026, 12, 31))
    for seed in (1, 2):
        res = transform_transactions(_generated_batch(spark, 300, seed))
        try:
            wh.load_warehouse(res.tables)
        finally:
            res.release()
    root = wh._path("fact_transactions")
    assert not [f for f in os.listdir(root) if "=" in f]
    assert 1 <= len(_date_key_ranges(root)) <= 2
    rows = sorted(wh.read("fact_transactions").collect())

    # one write over several files: turn off AQE's coalescing so the
    # rewrite keeps every range partition as its own file
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(key, "false")
    try:
        wh.compact_fact()
    finally:
        spark.conf.set(key, "true")
    ranges = sorted(_date_key_ranges(root))
    assert len(ranges) >= 2
    assert all(hi < lo for (_, hi), (lo, _) in zip(ranges, ranges[1:])), ranges
    assert sorted(wh.read("fact_transactions").collect()) == rows
    lo, hi = ranges[1]
    n = wh.read("fact_transactions").where(F.col("date_key").between(lo, hi)).count()
    assert n == sum(lo <= r["date_key"] <= hi for r in rows)


def test_date_key_filter_is_pushed_to_the_fact_scan(spark, wh, valid_rows):
    from pyspark.sql import functions as F

    _load(spark, wh, valid_rows)
    df = wh.read("fact_transactions").where(
        F.col("date_key").between(20230601, 20230616)
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = next(l for l in plan.splitlines() if "PushedFilters" in l)
    assert "GreaterThanOrEqual(date_key,20230601)" in scan
    assert "LessThanOrEqual(date_key,20230616)" in scan
    assert sorted(r["transaction_id"] for r in df.collect()) == ["t1", "t2"]


def test_month_partitioned_fact_is_refused_until_compacted(spark, wh, valid_rows):
    """A fact table written in the old ``year_month=`` layout fails the
    load before anything is written (a flat append next to partition
    directories would drop out of reads), fails verify_schema's columns
    check, and ``compact_fact`` migrates it with every row."""
    import shutil

    from pyspark.sql import functions as F

    from local_etl_csv_to_postgresql_spark.schemas import FACT_TRANSACTIONS_SCHEMA

    _load(spark, wh, valid_rows)
    root = wh._path("fact_transactions")
    stored = spark.createDataFrame(
        wh.read("fact_transactions").collect(), FACT_TRANSACTIONS_SCHEMA
    )
    shutil.rmtree(root)
    stored.withColumn("year_month", (F.col("date_key") / 100).cast("int")).write.partitionBy(
        "year_month"
    ).parquet(root)

    def files():
        return sorted(
            os.path.join(d, f) for d, _, names in os.walk(wh.cfg.path) for f in names
        )

    before = files()
    new_rows = valid_rows + [
        ["t4", "2023-07-18", "Healthcare", "75.00", "Clinic D", "Digital Wallet", "4"],
    ]
    with pytest.raises(LoadError, match=r"month-partitioned.*compact_fact\(\)"):
        _load(spark, wh, new_rows)
    assert files() == before

    report = {(r["check_type"], r["table_name"]): r
              for r in wh.verify_schema().collect()}
    columns = report[("columns", "fact_transactions")]
    assert columns["status"] == "fail" and "year_month" in columns["detail"]

    wh.compact_fact()
    assert not [f for f in os.listdir(root) if f.startswith("year_month=")]
    assert sorted(wh.read("fact_transactions").collect()) == sorted(stored.collect())
    stats = _load(spark, wh, new_rows)
    assert (stats.fact_inserted, stats.fact_skipped) == (1, 3)
    report = {(r["check_type"], r["table_name"]): r["status"]
              for r in wh.verify_schema().collect()}
    assert report[("columns", "fact_transactions")] == "pass"


def test_held_lock_fails_the_load_and_writes_nothing(spark, tmp_path):
    import fcntl

    from local_etl_csv_to_postgresql_spark.config import EngineConfig
    from local_etl_csv_to_postgresql_spark.pipeline import run_etl_pipeline
    from local_etl_csv_to_postgresql_spark.sources.generator import (
        generate_transactions,
        write_transactions_csv,
    )

    csv = str(tmp_path / "tx.csv")
    write_transactions_csv(csv, generate_transactions(100, 10, 1, seed=3))
    cfg = EngineConfig(warehouse=WarehouseConfig(path=str(tmp_path / "wh")))
    os.makedirs(cfg.warehouse.path)
    fd = os.open(os.path.join(cfg.warehouse.path, "_load.lock"), os.O_RDWR | os.O_CREAT)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        res = run_etl_pipeline(spark, csv, cfg)
        assert res.status == "failed"
        assert cfg.warehouse.path in res.error
        assert os.listdir(cfg.warehouse.path) == ["_load.lock"]
    finally:
        os.close(fd)
    res = run_etl_pipeline(spark, csv, cfg)
    assert res.status == "success" and res.loaded_rows == 100


def test_refused_load_writes_no_quarantine_rows(spark, tmp_path):
    """Rejects are quarantined only once the load is accepted: a load
    refused by the held lock writes none, and its rerun writes them
    once."""
    import fcntl

    from local_etl_csv_to_postgresql_spark.config import EngineConfig
    from local_etl_csv_to_postgresql_spark.pipeline import run_etl_pipeline
    from local_etl_csv_to_postgresql_spark.sources.generator import (
        generate_transactions,
        write_transactions_csv,
    )

    rows = generate_transactions(50, 10, 1, seed=5)
    rows[3]["amount"] = "-12.00"
    rows[7]["category"] = "Nonsense"
    csv = str(tmp_path / "tx.csv")
    write_transactions_csv(csv, rows)
    qdir = str(tmp_path / "quarantine")
    cfg = EngineConfig(
        warehouse=WarehouseConfig(path=str(tmp_path / "wh")),
        quarantine_path=qdir,
    )
    os.makedirs(cfg.warehouse.path)
    fd = os.open(os.path.join(cfg.warehouse.path, "_load.lock"), os.O_RDWR | os.O_CREAT)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        res = run_etl_pipeline(spark, csv, cfg)
        assert res.status == "failed"
        assert not os.path.exists(qdir)
    finally:
        os.close(fd)
    res = run_etl_pipeline(spark, csv, cfg)
    assert res.status == "success"
    got = sorted(r["transaction_id"] for r in spark.read.parquet(qdir).collect())
    assert len(got) == 2 and len(set(got)) == 2


def test_concurrent_loads_one_fails_and_no_key_repeats(spark, tmp_path):
    """Two loads of different batches at the same time: one holds the
    warehouse, the other fails at once, and no key is stored twice."""
    import datetime as dt
    import threading

    from pyspark.sql import functions as F

    from local_etl_csv_to_postgresql_spark.schemas import NATURAL_KEYS, SURROGATE_KEYS

    cfg = WarehouseConfig(path=str(tmp_path / "wh"))
    batches = [transform_transactions(_generated_batch(spark, 200, s)) for s in (4, 5)]
    start = threading.Barrier(2)
    outcome: dict = {}

    def load(i):
        start.wait()
        try:
            outcome[i] = Warehouse(spark, cfg).load_warehouse(
                batches[i].tables, seed_dates=(dt.date(2022, 1, 1), dt.date(2026, 12, 31))
            )
        except LoadError as e:
            outcome[i] = e

    threads = [threading.Thread(target=load, args=(i,)) for i in range(2)]
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join()
    finally:
        for b in batches:
            b.release()
    failed = [i for i, o in outcome.items() if isinstance(o, LoadError)]
    assert len(failed) == 1, outcome
    assert cfg.path in str(outcome[failed[0]])
    assert outcome[1 - failed[0]].status == "success"

    wh = Warehouse(spark, cfg)
    unique = {t: (NATURAL_KEYS[t], SURROGATE_KEYS[t]) for t in NATURAL_KEYS}
    unique["dim_date"] = ("date_key",)
    unique["fact_transactions"] = ("transaction_id",)
    for table, keys in unique.items():
        for k in keys:
            n, d = wh.read(table).agg(F.count(k), F.countDistinct(k)).first()
            assert n == d > 0, (table, k)
