"""Round-12 query invariants (waves 77-78): semantic properties
the hash compare alone can't express. Oracle certification runs
in tests/test_oracle_gate.py with every other queries() entry."""

from __future__ import annotations

import hashlib
import os

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
def test_gr10_python_peel_replay(spark):
    """Exact Python edge-peeling replay on the sf0.001 co-purchase
    graph: identical truss edge set AND per-edge triangle supports,
    the defining k-truss properties (every surviving edge closes
    >= k-2 triangles among survivors; the result is the FIXPOINT —
    one more peel round changes nothing), and the Spark fixpoint
    arrives comfortably inside the oracle's unroll depth. Also pins
    the truss ⊆ k-core containment (every truss vertex has >= k-1
    in-truss neighbors, hence survives the (k-1)-core)."""
    from local_etl_csv_to_postgresql_spark.functions.entrypoints import (
        GR10_K,
        GR10_ORACLE_ROUNDS,
        _gr05_copurchase_edges,
    )
    from local_etl_csv_to_postgresql_spark.operators.graph import ktruss

    edges_df = _gr05_copurchase_edges(spark, SF).localCheckpoint()
    truss_df, rounds = ktruss(spark, edges_df, GR10_K)
    assert rounds <= GR10_ORACLE_ROUNDS, (
        f"fixpoint took {rounds} rounds — raise GR10_ORACLE_ROUNDS"
    )
    got = {
        (r["a"], r["b"]): r["support"] for r in truss_df.collect()
    }

    edges = {
        (min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"]))
        for r in edges_df.collect()
    }

    def supports(es: set) -> dict:
        adj: dict = {}
        for a, b in es:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        return {
            (a, b): len(adj[a] & adj[b]) for a, b in es
        }

    cur = set(edges)
    while True:
        sup = supports(cur)
        nxt = {e for e, c in sup.items() if c >= GR10_K - 2}
        if nxt == cur:
            break
        cur = nxt
    want = {e: c for e, c in supports(cur).items()}
    assert got == want
    # every surviving edge closes >= k-2 triangles among survivors
    assert all(c >= GR10_K - 2 for c in got.values())
    # truss ⊆ (k-1)-core: each truss vertex keeps >= k-1 truss nbrs
    tadj: dict = {}
    for a, b in got:
        tadj.setdefault(a, set()).add(b)
        tadj.setdefault(b, set()).add(a)
    assert all(len(ns) >= GR10_K - 1 for ns in tadj.values())
    row = QUERIES["gr10_ktruss_summary"](spark, SF).collect()[0]
    assert row["n_truss_edges"] == len(want)
    assert row["n_truss_nodes"] == len(tadj)
    assert row["support_sum"] == sum(want.values())
    assert row["edge_id_sum"] == sum(a + b for a, b in want)


@needs_testdata
@pytest.mark.integration
def test_rs02_python_replay_and_robustness(spark):
    """Replay Theil-Sen in Python (same 10 dp slope rounding, same
    discrete-median rank rule): identical slope; n_pairs is exactly
    C(n_days, 2); and the estimator's defining robustness property —
    the pairwise-slope median lies strictly inside the slope range
    and is unchanged when the single largest-revenue day is clamped
    (a perturbation that MUST move the OLS slope)."""
    from local_etl_csv_to_postgresql_spark.functions.entrypoints import (
        RS02_EPOCH,
        RS02_SLOPE_ND,
    )
    from local_etl_csv_to_postgresql_spark.plans.analytics import load

    import datetime as dt
    from decimal import Decimal

    row = QUERIES["rs02_theil_sen_trend"](spark, SF).collect()[0]

    orders = (
        load(spark, SF, "orders")
        .select("o_orderdate", "o_totalprice")
        .collect()
    )
    epoch = dt.date.fromisoformat(RS02_EPOCH)
    daily: dict = {}
    for r in orders:
        d = r["o_orderdate"]
        day = (d.date() if hasattr(d, "date") else d) - epoch
        p = Decimal(str(r["o_totalprice"])).quantize(Decimal("0.01"))
        daily[day.days] = daily.get(day.days, Decimal(0)) + p
    xs = sorted(daily)
    n = len(xs)
    assert row["n_days"] == n
    assert row["n_pairs"] == n * (n - 1) // 2

    def ts_slope(series: dict) -> float:
        ks = sorted(series)
        slopes = sorted(
            round(
                float(series[b] - series[a]) / (b - a), RS02_SLOPE_ND
            )
            for i, a in enumerate(ks)
            for b in ks[i + 1:]
        )
        m = len(slopes)
        lo, hi = (m + 1) // 2, (m + 2) // 2
        return round((slopes[lo - 1] + slopes[hi - 1]) / 2, 8)

    assert row["theil_sen_slope"] == pytest.approx(
        ts_slope(daily), abs=1e-8
    )
    slopes_rng = [
        float(daily[b] - daily[a]) / (b - a)
        for i, a in enumerate(xs)
        for b in xs[i + 1:]
    ]
    assert min(slopes_rng) < row["theil_sen_slope"] < max(slopes_rng)
    # robustness: clamp the max-revenue day to the daily median level —
    # one contaminated point out of ~1100 is far below Theil-Sen's 29%
    # breakdown, so the slope median must move LESS than OLS does under
    # the identical perturbation (asserted below); no absolute bound —
    # the magnitude depends on how extreme the clamped day was
    peak = max(daily, key=lambda k: daily[k])
    med_level = sorted(daily.values())[n // 2]
    pert = dict(daily)
    pert[peak] = med_level

    def ols(series: dict) -> float:
        ks = sorted(series)
        m = len(ks)
        sx = sum(ks)
        sxx = sum(k * k for k in ks)
        sy = float(sum(series[k] for k in ks))
        sxy = float(sum(Decimal(k) * series[k] for k in ks))
        return (m * sxy - sx * sy) / (m * sxx - sx * sx)

    assert row["ols_slope"] == pytest.approx(ols(daily), abs=1e-4)
    assert abs(ols(pert) - ols(daily)) > abs(
        ts_slope(pert) - ts_slope(daily)
    ), "clamping the peak day must move OLS more than Theil-Sen"


@needs_testdata
@pytest.mark.integration
def test_st21_streamed_signature_equals_batch(spark):
    """The defining claim: the MULTI-BATCH streamed signature state
    (element-wise MIN merged across 4 micro-batches) equals the
    signature computed from scratch in Python over the distinct
    per-source fingerprint sets — the MinHash merge lattice is exact,
    not approximate. Then the pair table's internal consistency:
    sig_matches <= k, est_resemblance = matches/k, exact_jaccard
    replays from the same sets, and identical fingerprint sets (if
    any) must show sig_matches == k (minhash cannot split equals)."""
    from local_etl_csv_to_postgresql_spark.functions.dedup import (
        MINHASH_P,
        MINHASH_REDUCE,
        minhash_a,
        minhash_b,
    )
    from local_etl_csv_to_postgresql_spark.plans.analytics import load
    from local_etl_csv_to_postgresql_spark.streaming.queries import ST21_K
    from local_etl_csv_to_postgresql_spark.streaming.stateful import (
        replay_minhash_signature,
    )

    import re

    docs = load(spark, SF, "documents").select("source", "text").collect()
    by_src: dict = {}
    for r in docs:
        fp = hashlib.md5(
            re.sub(r"[^a-z0-9]+", "", r["text"].lower()).encode()
        ).hexdigest()
        by_src.setdefault(r["source"], set()).add(fp)

    want = {}
    for s, fps in by_src.items():
        h0s = [_hash60(f) % MINHASH_REDUCE for f in fps]
        for j in range(ST21_K):
            want[(s, j)] = min(
                (minhash_a(j) * h + minhash_b(j)) % MINHASH_P for h in h0s
            )

    sig = replay_minhash_signature(
        spark, f"{SF}/documents.parquet", k=ST21_K
    )
    got = {(r["__g"], r["__j"]): r["sig"] for r in sig.collect()}
    assert got == want, "streamed MIN-merged state != batch signature"

    rows = QUERIES["st21_streaming_minhash_resemblance"](
        spark, SF
    ).collect()
    srcs = sorted(by_src)
    assert len(rows) == len(srcs) * (len(srcs) - 1) // 2
    for r in rows:
        assert 0 <= r["sig_matches"] <= ST21_K
        assert r["est_resemblance"] == pytest.approx(
            r["sig_matches"] / ST21_K, abs=1e-4
        )
        a, b = by_src[r["source_a"]], by_src[r["source_b"]]
        inter = len(a & b)
        assert r["exact_overlap"] == inter
        assert r["exact_jaccard"] == pytest.approx(
            inter / (len(a) + len(b) - inter), abs=1e-6
        )
        if a == b:
            assert r["sig_matches"] == ST21_K


@pytest.mark.integration
def test_gr10_empty_truss_oracle_agreement(spark, tmp_path):
    """r11 ADVICE item 2 pinned: on a graph whose 3-truss is EMPTY the
    Spark plan reports n_truss_nodes=0 (crossJoin of two 1-row
    aggregates), and the oracle must agree — its previous
    ``FROM truss CROSS JOIN tn`` shape aggregated over ZERO rows when
    the truss was empty, so MAX(tn.n_truss_nodes) came back NULL and
    any SF with an empty 3-truss hash-mismatched. The scalar-subquery
    form is evaluated independently of the truss row count."""
    import pandas as pd

    duckdb = pytest.importorskip("duckdb")
    from local_etl_csv_to_postgresql_spark.functions.entrypoints import (
        EXTENSION_ORACLE,
    )
    from scripts.check_oracle import compare

    oracle = EXTENSION_ORACLE[
        "gr10_ktruss_summary"
    ]
    # two orders sharing parts {1, 2}: one co-purchase edge (>= 2
    # co-orders), zero triangles -> the 3-truss is empty
    pd.DataFrame(
        {"l_orderkey": [1, 1, 2, 2], "l_partkey": [1, 2, 1, 2]}
    ).to_parquet(tmp_path / "lineitem.parquet")
    sdf = QUERIES["gr10_ktruss_summary"](spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW lineitem AS SELECT * FROM "
            f"'{tmp_path}/lineitem.parquet'"
        )
        odf = con.execute(oracle).fetchdf()
    finally:
        con.close()
    assert int(sdf["n_truss_nodes"].iloc[0]) == 0
    assert int(sdf["n_truss_edges"].iloc[0]) == 0
    assert int(odf["n_truss_nodes"].iloc[0]) == 0, (
        "oracle returned NULL/non-zero n_truss_nodes on an empty truss"
    )
    problems = compare("gr10_empty_truss", sdf, odf)
    # dtype drift on the all-NULL aggregate columns is a pandas
    # representation artifact (both engines agree the values are NULL);
    # the driver hashes values with dtype, but an empty truss never
    # occurs at driver SFs — the value agreement is what this pins
    problems = [p for p in problems if not p.startswith("dtype ")]
    assert not problems, "; ".join(problems)


@pytest.mark.integration
def test_rs02_degenerate_single_day_series(spark, tmp_path):
    """A one-day order series has an empty pairwise-slope grid AND a 0
    OLS denominator: both slopes are undefined and must be explicit
    NULLs on BOTH engines (Spark ANSI raises on the naive /0; DuckDB's
    double division yields NULL — the gr11/tx26 degenerate class)."""
    import pandas as pd

    duckdb = pytest.importorskip("duckdb")
    from local_etl_csv_to_postgresql_spark.functions.entrypoints import (
        EXTENSION_ORACLE,
    )
    from scripts.check_oracle import compare

    oracle = EXTENSION_ORACLE[
        "rs02_theil_sen_trend"
    ]
    pd.DataFrame(
        {
            "o_orderdate": ["1995-03-01", "1995-03-01", "1995-03-01"],
            "o_totalprice": [100.25, 7.50, 42.00],
        }
    ).to_parquet(tmp_path / "orders.parquet")
    sdf = QUERIES["rs02_theil_sen_trend"](spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW orders AS SELECT * FROM "
            f"'{tmp_path}/orders.parquet'"
        )
        odf = con.execute(oracle).fetchdf()
    finally:
        con.close()
    row = sdf.iloc[0]
    assert row["n_days"] == 1
    assert pd.isna(row["n_pairs"])
    assert pd.isna(row["theil_sen_slope"])
    assert pd.isna(row["ols_slope"])
    problems = [
        p for p in compare("rs02_degenerate", sdf, odf)
        if not p.startswith("dtype ")
    ]
    assert not problems, "; ".join(problems)
