"""Query-corpus runner: parser contract + every corpus query executes
against a freshly-loaded warehouse and returns sane results."""

from __future__ import annotations

import pytest

from local_etl_csv_to_postgresql_spark.config import EngineConfig, WarehouseConfig
from local_etl_csv_to_postgresql_spark.run_queries import (
    DEFAULT_CORPUS,
    display_table,
    parse_queries_file,
    run_query,
)
from local_etl_csv_to_postgresql_spark.operators.transform import transform_transactions
from local_etl_csv_to_postgresql_spark.sources.generator import generate_transactions
from local_etl_csv_to_postgresql_spark.warehouse import Warehouse


def test_parse_corpus_contract():
    queries = parse_queries_file(DEFAULT_CORPUS)
    assert len(queries) == 20
    # every query has a purpose line and no trailing semicolon
    for q in queries:
        assert q.description and q.description != "(no description)"
        assert not q.sql.endswith(";")
    assert queries[0].description.startswith("Row counts")
    assert queries[16].sql.upper().startswith("WITH")  # Q17 CTE survives parse


def test_display_table_caps_rows():
    rows = [{"a": i, "b": f"x{i}"} for i in range(150)]
    text = display_table(rows[:100], total_count=150)
    assert "50 more rows" in text and "150 total" in text


@pytest.fixture(scope="module")
def loaded_warehouse(spark, tmp_path_factory):
    wh_path = str(tmp_path_factory.mktemp("wh"))
    cfg = EngineConfig(warehouse=WarehouseConfig(path=wh_path))
    rows = generate_transactions(800, 40, 2)
    raw = spark.createDataFrame(
        [{k: str(v) for k, v in r.items()} for r in rows]
    )
    result = transform_transactions(raw, cfg.validation)
    wh = Warehouse(spark, cfg.warehouse)
    wh.load_warehouse(result.tables)
    wh.register_views()
    return wh


@pytest.mark.slow
def test_all_corpus_queries_execute(spark, loaded_warehouse):
    queries = parse_queries_file(DEFAULT_CORPUS)
    for i, q in enumerate(queries, start=1):
        rows, total = run_query(spark, q)
        # every query returns at least one row on a loaded warehouse
        # except duplicates (Q3) and anomalies (Q19), which may be empty
        if i not in (3, 19):
            assert total > 0, f"query {i} ({q.description}) returned no rows"
    # the session's codegen cache holds every class a pass generates,
    # so running the corpus again compiles no new class
    compiled = (
        spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME()
    )
    before = compiled.getCount()
    for q in queries:
        run_query(spark, q)
    assert compiled.getCount() - before == 0


def test_record_counts_match_tables(spark, loaded_warehouse):
    q1 = parse_queries_file(DEFAULT_CORPUS)[0]
    rows, _ = run_query(spark, q1)
    counts = {r["table_name"]: r["row_count"] for r in rows}
    assert counts["fact_transactions"] == loaded_warehouse.read("fact_transactions").count()
    assert counts["dim_payment_method"] <= 4
