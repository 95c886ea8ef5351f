"""Round-13 query invariants (waves 79-80): semantic properties
the hash compare alone can't express. Oracle certification runs
in tests/test_oracle_gate.py with every other queries() entry."""

from __future__ import annotations

import hashlib
import math
import os
import re
from collections import Counter

import pytest

import __spark_entry__ as ep

QUERIES = ep.queries()

SF = "/root/testdata/sf0.001"

needs_testdata = pytest.mark.skipif(
    not os.path.isdir(SF), reason="driver testdata not present"
)


def _hash60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


@needs_testdata
@pytest.mark.integration
def test_gr11_python_triangle_replay(spark):
    """Exact Python replay of the per-vertex triangle counts on the
    sf0.001 co-purchase graph: every bucket row's tri_sum/wedge_sum
    must equal brute-force adjacency-set intersection counts pooled by
    the same power-of-two degree bucket, Σ tri_sum == 3·(#triangles),
    and each pooled clustering ratio sits in [0, 1]."""
    from local_etl_csv_to_postgresql_spark.functions.entrypoints import (
        _gr05_copurchase_edges,
    )

    edges = {
        (min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"]))
        for r in _gr05_copurchase_edges(spark, SF).collect()
    }
    adj: dict = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    tv = {
        v: sum(len(adj[v] & adj[w]) for w in adj[v]) // 2 for v in adj
    }
    buckets: dict = {}
    for v, ns in adj.items():
        d = len(ns)
        bk = d.bit_length()
        n_nodes, mx, ts, ws = buckets.get(bk, (0, 0, 0, 0))
        buckets[bk] = (
            n_nodes + 1,
            max(mx, d),
            ts + tv[v],
            ws + d * (d - 1) // 2,
        )
    rows = QUERIES["gr11_local_clustering"](spark, SF).collect()
    assert {r["deg_bucket"] for r in rows} == set(buckets)
    total_tri = 0
    for r in rows:
        n_nodes, mx, ts, ws = buckets[r["deg_bucket"]]
        assert r["n_nodes"] == n_nodes
        assert r["max_degree"] == mx
        assert r["tri_sum"] == ts
        assert r["wedge_sum"] == ws
        total_tri += r["tri_sum"]
        if ws:
            assert 0.0 <= r["bucket_clustering"] <= 1.0
            assert r["bucket_clustering"] == pytest.approx(
                ts / ws, abs=1e-6
            )
    n_triangles = (
        sum(
            len(adj[a] & adj[b])
            for a, b in edges
        )
        // 3
    )
    assert total_tri == 3 * n_triangles


@needs_testdata
@pytest.mark.integration
def test_tx26_python_ols_replay(spark):
    """Exact Python replay of the Zipf fit: tokenize with the same
    regex, rank by (count desc, token asc), integer-scale the logs at
    the declared grain, and re-derive slope/R² from the exact integer
    moments — the query's doubles must match to the rounding grain,
    R² must sit in [0, 1], and the slope must be negative (counts are
    non-increasing in rank by construction)."""
    from local_etl_csv_to_postgresql_spark.functions.entrypoints import (
        TX26_LN_SCALE,
        TX26_TOP,
    )
    from local_etl_csv_to_postgresql_spark.plans.analytics import load

    texts = [
        r["text"] or ""
        for r in load(spark, SF, "documents").select("text").collect()
    ]
    counts = Counter(
        t for txt in texts for t in re.findall(r"[a-z0-9]+", txt.lower())
    )
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    top = ranked[:TX26_TOP]
    xs = [round(math.log(r) * TX26_LN_SCALE) for r in range(1, len(top) + 1)]
    ys = [round(math.log(c) * TX26_LN_SCALE) for _, c in top]
    n = len(top)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    syy = sum(y * y for y in ys)
    num = n * sxy - sx * sy
    denx = n * sxx - sx * sx
    deny = n * syy - sy * sy
    want_slope = round(num / denx, 6)
    want_r2 = round(num * num / (denx * deny), 6)

    row = QUERIES["tx26_zipf_slope"](spark, SF).collect()[0]
    assert row["n_ranks"] == n
    assert row["vocab_total"] == len(counts)
    assert row["token_mass"] == sum(counts.values())
    assert row["top1_count"] == top[0][1]
    assert row["zipf_slope"] == pytest.approx(want_slope, abs=1e-6)
    assert row["zipf_r2"] == pytest.approx(want_r2, abs=1e-6)
    assert row["zipf_slope"] < 0
    assert 0.0 <= row["zipf_r2"] <= 1.0


@needs_testdata
@pytest.mark.integration
def test_ss10_python_allocation_replay(spark):
    """Exact Python replay of the whole Neyman pipeline at sf0.001:
    per-stratum moments, the rounded sd, the integer-scaled weights,
    floor-division allocations, and the hash-ranked member pick must
    all reproduce — plus the budget invariants the floor division
    guarantees (Σ alloc <= BUDGET, alloc <= N_h, sampled == alloc)."""
    from local_etl_csv_to_postgresql_spark.functions.entrypoints import (
        SS10_BUDGET,
        SS10_SD_SCALE,
    )
    from local_etl_csv_to_postgresql_spark.plans.analytics import load

    docs = [
        (r["source"], r["lang"], r["doc_id"], r["n_chars"])
        for r in load(spark, SF, "documents")
        .select("source", "lang", "doc_id", "n_chars")
        .collect()
    ]
    strata: dict = {}
    for s, g, d, x in docs:
        n, sx, sxx, members = strata.get(s, {}).get(g, (0, 0, 0, []))
        strata.setdefault(s, {})[g] = (
            n + 1,
            sx + x,
            sxx + x * x,
            members + [(d, x)],
        )
    flat = {}
    for s, by_lang in strata.items():
        for g, (n, sx, sxx, members) in by_lang.items():
            sd = (
                round(math.sqrt((n * sxx - sx * sx) / (n * (n - 1))), 6)
                if n >= 2
                else 0.0
            )
            flat[(s, g)] = (n, sd, n * round(sd * SS10_SD_SCALE), members)
    tot = sum(w for _, _, w, _ in flat.values())
    want = {}
    for key, (n, sd, w, members) in flat.items():
        alloc = min(n, (SS10_BUDGET * w) // tot) if tot > 0 else 0
        picked = sorted(
            members, key=lambda dx: (_hash60(str(dx[0])), dx[0])
        )[:alloc]
        want[key] = (
            n,
            sd,
            alloc,
            len(picked),
            sum(d for d, _ in picked),
            sum(x for _, x in picked),
        )

    rows = QUERIES["ss10_neyman_allocation"](spark, SF).collect()
    assert {(r["source"], r["lang"]) for r in rows} == set(want)
    total_alloc = 0
    for r in rows:
        n, sd, alloc, n_picked, did_sum, char_sum = want[
            (r["source"], r["lang"])
        ]
        assert r["n_docs"] == n
        assert r["sd_chars"] == pytest.approx(sd, abs=1e-9)
        assert r["alloc_n"] == alloc
        assert r["sampled_n"] == n_picked == alloc
        assert r["sample_docid_sum"] == did_sum
        assert r["sample_char_sum"] == char_sum
        assert r["alloc_n"] <= r["n_docs"]
        total_alloc += r["alloc_n"]
    assert 0 < total_alloc <= SS10_BUDGET


@pytest.mark.integration
def test_tx26_degenerate_single_type_corpus(spark, tmp_path):
    """A corpus with exactly ONE vocabulary type has a 0 OLS
    denominator — the fit is undefined and must be an explicit NULL on
    BOTH engines (Spark ANSI raises on the naive /0; DuckDB's double
    division yields NULL), the same class as gr11's zero-wedge bucket
    and gr10's empty truss."""
    import pandas as pd

    duckdb = pytest.importorskip("duckdb")
    from local_etl_csv_to_postgresql_spark.functions.entrypoints import (
        EXTENSION_ORACLE,
    )
    from scripts.check_oracle import compare

    oracle = EXTENSION_ORACLE["tx26_zipf_slope"]
    pd.DataFrame(
        {
            "doc_id": [0, 1],
            "text": ["spark spark spark", "spark"],
            "lang": ["en", "en"],
            "source": ["s0", "s0"],
            "n_chars": [17, 5],
        }
    ).to_parquet(tmp_path / "documents.parquet")
    sdf = QUERIES["tx26_zipf_slope"](spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"'{tmp_path}/documents.parquet'"
        )
        odf = con.execute(oracle).fetchdf()
    finally:
        con.close()
    row = sdf.iloc[0]
    assert row["n_ranks"] == 1 and row["vocab_total"] == 1
    assert row["token_mass"] == 4 and row["top1_count"] == 4
    assert row["top1_share"] == 1.0
    assert pd.isna(row["zipf_slope"]) and pd.isna(row["zipf_r2"])
    problems = [
        p for p in compare("tx26_degenerate", sdf, odf)
        if not p.startswith("dtype ")
    ]
    assert not problems, "; ".join(problems)


@pytest.mark.integration
def test_ss10_huge_chars_no_bigint_overflow(spark, tmp_path):
    """ss10's moments/weights run in DECIMAL (Spark) and HUGEINT
    (DuckDB): an n_chars around 4e9 makes the per-row x*x exceed
    Long.MAX, which BIGINT arithmetic would raise on under ANSI while
    the oracle succeeded — the r12 ADVICE error-vs-value parity
    ceiling. Pins that both engines now compute it, and agree."""
    import pandas as pd

    duckdb = pytest.importorskip("duckdb")
    from local_etl_csv_to_postgresql_spark.functions.entrypoints import (
        EXTENSION_ORACLE,
    )
    from scripts.check_oracle import compare

    oracle = EXTENSION_ORACLE[
        "ss10_neyman_allocation"
    ]
    xs = [4_000_000_000, 5_000_000_000, 6_000_000_000]  # x*x > Long.MAX
    pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": ["a", "b", "c"],
            "lang": ["en"] * 3,
            "source": ["s0"] * 3,
            "n_chars": xs,
        }
    ).to_parquet(tmp_path / "documents.parquet")
    sdf = QUERIES["ss10_neyman_allocation"](spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"'{tmp_path}/documents.parquet'"
        )
        odf = con.execute(oracle).fetchdf()
    finally:
        con.close()
    n, sx, sxx = len(xs), sum(xs), sum(x * x for x in xs)
    want_sd = round(math.sqrt((n * sxx - sx * sx) / (n * (n - 1))), 6)
    row = sdf.iloc[0]
    assert row["n_docs"] == n
    assert row["sd_chars"] == pytest.approx(want_sd, abs=1e-9)
    assert row["alloc_n"] == n  # sole stratum takes min(n, BUDGET)
    assert row["sample_char_sum"] == sx
    problems = [
        p for p in compare("ss10_overflow", sdf, odf)
        if not p.startswith("dtype ")
    ]
    assert not problems, "; ".join(problems)
