"""ct01 cross-source contamination: the n-gram order is a parameter
of the plan and its DuckDB oracle twin (the registered ct01 runs at
entrypoints.CONTAM_NGRAM = 7; 13 = eval-decontamination parity). Both
are built from the same n, so they must agree at ANY n — verified here
directly at n=13 and at a degenerate n larger than every document."""

from __future__ import annotations

import os

import duckdb
import pytest

from local_etl_csv_to_postgresql_spark.functions.entrypoints import (
    _contamination,
    _contamination_oracle,
)

SF = "/root/testdata/sf0.001"

needs_testdata = pytest.mark.skipif(
    not os.path.isdir(SF), reason="driver testdata not present"
)


def _duck(sql: str):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{SF}/documents.parquet')"
    )
    return con.execute(sql).fetchdf()


@needs_testdata
@pytest.mark.parametrize("n", [13, 3])
def test_contamination_matches_oracle_at_any_ngram_order(spark, n):
    got = sorted(
        tuple(r) for r in _contamination(spark, SF, n=n).collect()
    )
    want = sorted(
        tuple(r) for r in _duck(_contamination_oracle(n)).itertuples(
            index=False
        )
    )
    assert got == want
    assert len(got) > 0  # fingerprint pairs exist at every n


@needs_testdata
def test_contamination_ngram_column_tracks_knob(spark):
    df = _contamination(spark, SF, n=13)
    assert "n_shared_13grams" in df.columns
