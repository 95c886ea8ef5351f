"""Degenerate-input parity harness: the co-purchase graph family run
on graphs the synthetic SFs never produce — a SINGLE-EDGE graph (all
degree 1, zero triangles/wedges) and an EDGELESS graph — asserting no
engine error and full Spark-vs-DuckDB value parity. This pins the
whole ANSI-degenerate class the round-12 advice items exposed one
query at a time (gr10 empty truss, gr11 zero-wedge bucket, tx26
single-type vocabulary, rs02 single-day series, gr08 zero-wedge
clustering): a ratio whose denominator is a structural count can hit
0 on a legal input, where Spark ANSI mode raises DIVIDE_BY_ZERO while
DuckDB's double division yields NULL."""

from __future__ import annotations

import os

import pytest

import __spark_entry__ as ep

QUERIES = ep.queries()
ORACLES = ep.oracle_sql()

#: every query whose input is ONLY the lineitem-derived co-purchase
#: graph (oracle references no other table), swept over both shapes
COPURCHASE_FAMILY = [
    "gr05_adamic_adar_links",
    "gr07_copurchase_communities",
    "gr08_triangle_census",
    "gr09_kcore_summary",
    "gr10_ktruss_summary",
    "gr11_local_clustering",
]

#: (shape name, lineitem rows as (l_orderkey, l_partkey))
SHAPES = [
    # two orders sharing parts {1,2}: ONE edge, all degree 1 — zero
    # wedges, zero triangles
    ("single_edge", [(1, 1), (1, 2), (2, 1), (2, 2)]),
    # one order, one part: no co-purchase pairs at all
    ("edgeless", [(1, 1)]),
]

#: queries that read more than lineitem: gr07 joins the part roster
#: (every referenced part must exist; singletons count as components)
EXTRA_TABLES = {
    "gr07_copurchase_communities": {
        "part": lambda rows: sorted({pk for _, pk in rows}),
    },
}


def _family_available():
    return [n for n in COPURCHASE_FAMILY if n in QUERIES and n in ORACLES]


def test_family_is_registered():
    assert _family_available() == COPURCHASE_FAMILY


@pytest.mark.integration
@pytest.mark.parametrize("shape,rows", SHAPES, ids=[s for s, _ in SHAPES])
@pytest.mark.parametrize("name", COPURCHASE_FAMILY)
def test_copurchase_family_degenerate_parity(
    spark, tmp_path_factory, shape, rows, name
):
    import pandas as pd

    duckdb = pytest.importorskip("duckdb")
    from scripts.check_oracle import compare

    tmp = tmp_path_factory.mktemp(f"degen_{shape}_{name}")
    tables = {"lineitem": pd.DataFrame(
        rows, columns=["l_orderkey", "l_partkey"]
    )}
    for t, builder in EXTRA_TABLES.get(name, {}).items():
        if t == "part":
            tables[t] = pd.DataFrame(
                {"p_partkey": builder(rows)}
            )
    for t, df in tables.items():
        df.to_parquet(os.path.join(tmp, f"{t}.parquet"))
    sdf = QUERIES[name](spark, str(tmp)).toPandas()
    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{tmp}/{t}.parquet'"
            )
        odf = con.execute(ORACLES[name]).fetchdf()
    finally:
        con.close()
    # dtype drift on all-NULL aggregate columns is a pandas
    # representation artifact; the value/row agreement is the pin
    problems = [
        p for p in compare(f"{name}:{shape}", sdf, odf)
        if not p.startswith("dtype ")
    ]
    assert not problems, f"{name} on {shape}: " + "; ".join(problems)


#: ss10 degenerate corpora: (shape, (doc_id, lang, source, n_chars))
#: — every path where the allocation denominator Σw can be 0 (all-sd-0
#: via n==1 strata and via tied lengths) plus the empty corpus
SS10_SHAPES = [
    # one doc per stratum: every sd 0 (n<2 branch), Σw == 0 → alloc 0
    ("singleton_strata", [(0, "en", "s0", 100), (1, "de", "s1", 250)]),
    # one stratum, spread lengths: the whole budget path, alloc=min(n,B)
    ("single_stratum", [(0, "en", "s0", 10), (1, "en", "s0", 90),
                        (2, "en", "s0", 40)]),
    # all docs identical length: sd 0 with n>=2, Σw == 0 → alloc 0
    ("tied_lengths", [(0, "en", "s0", 77), (1, "en", "s0", 77),
                      (2, "de", "s0", 77), (3, "de", "s0", 77)]),
    # empty corpus: zero strata rows out of both engines
    ("empty", []),
]


@pytest.mark.integration
@pytest.mark.parametrize(
    "shape,rows", SS10_SHAPES, ids=[s for s, _ in SS10_SHAPES]
)
def test_ss10_degenerate_parity(spark, tmp_path_factory, shape, rows):
    """ss10's allocation divides by Σ(N_h·sd_h), which is legally 0
    whenever every stratum is a singleton or has tied lengths — the
    same structural-denominator class as the graph family above. Pins
    the tot > 0 guard (alloc 0, not DIVIDE_BY_ZERO/NULL drift) and the
    empty-corpus no-rows case on both engines."""
    import pandas as pd

    duckdb = pytest.importorskip("duckdb")
    from scripts.check_oracle import compare

    name = "ss10_neyman_allocation"
    tmp = tmp_path_factory.mktemp(f"degen_ss10_{shape}")
    pd.DataFrame(
        rows, columns=["doc_id", "lang", "source", "n_chars"]
    ).astype({"doc_id": "int64", "n_chars": "int64"}).to_parquet(
        os.path.join(tmp, "documents.parquet")
    )
    sdf = QUERIES[name](spark, str(tmp)).toPandas()
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{tmp}/documents.parquet'"
        )
        odf = con.execute(ORACLES[name]).fetchdf()
    finally:
        con.close()
    if shape in ("singleton_strata", "tied_lengths"):
        assert (sdf["alloc_n"] == 0).all() and (sdf["sampled_n"] == 0).all()
    if shape == "empty":
        assert len(sdf) == 0
    problems = [
        p for p in compare(f"{name}:{shape}", sdf, odf)
        if not p.startswith("dtype ")
    ]
    assert not problems, f"ss10 on {shape}: " + "; ".join(problems)


#: queries that crashed on a 0-row copy of the one table they read
EMPTY_TABLE_CASES = [
    # the export's read-back found no file to infer a schema from
    ("pk02_packing_export", "documents"),
    # the replay's watermark advancer is max(ts) + 1h, and max(ts) is NULL
    ("st13_left_outer_attribution", "events"),
    # the greedy rounds' seed was the first row of an empty collect;
    # the twin gives one (round, NULL, NULL) row per round
    ("ss09_kcenter_coreset", "embeddings"),
]


@pytest.mark.integration
@pytest.mark.parametrize(
    "name,table", EMPTY_TABLE_CASES, ids=[n for n, _ in EMPTY_TABLE_CASES]
)
def test_empty_table_parity(spark, tmp_path_factory, name, table):
    """A 0-row copy of the sf0.001 table (same footer schema) gives the
    DuckDB twin's answer — no rows, or ss09's all-NULL rounds — instead
    of an engine error."""
    import pyarrow.parquet as pq

    duckdb = pytest.importorskip("duckdb")
    from scripts.check_oracle import compare

    from test_plans import SF as sf

    if not os.path.isdir(sf):
        pytest.skip("driver testdata not present")
    tmp = tmp_path_factory.mktemp(f"degen_empty_{name}")
    src = pq.read_table(f"{sf}/{table}.parquet")
    pq.write_table(src.slice(0, 0), os.path.join(tmp, f"{table}.parquet"))
    sdf = QUERIES[name](spark, str(tmp)).toPandas()
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW {table} AS SELECT * FROM '{tmp}/{table}.parquet'"
        )
        odf = con.execute(ORACLES[name]).fetchdf()
    finally:
        con.close()
    assert len(sdf) == len(odf)
    problems = [
        p for p in compare(f"{name}:empty", sdf, odf)
        if not p.startswith("dtype ")
    ]
    assert not problems, f"{name} on empty {table}: " + "; ".join(problems)
