"""Round-11 query invariants (wave 69): semantic properties
the hash compare alone can't express. Oracle certification runs
in tests/test_oracle_gate.py with every other queries() entry."""

from __future__ import annotations

import hashlib
import math
import os
import re

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
def test_mix01_sweep_invariants(spark):
    """Per α the shares form a distribution (sum 1 within rounding);
    α = 1 reproduces the natural token shares exactly; the effective
    source count is monotone NON-INCREASING in α (smaller α = flatter
    mixture = more effective sources) and bounded by [1, |sources|]."""
    from local_etl_csv_to_postgresql_spark.functions.entrypoints import (
        MIX01_ALPHAS,
    )

    rows = QUERIES["mix01_temperature_sweep"](spark, SF).collect()
    alphas = sorted({r["alpha"] for r in rows})
    assert alphas == sorted(MIX01_ALPHAS)
    by_alpha: dict = {}
    for r in rows:
        by_alpha.setdefault(r["alpha"], []).append(r)
    n_sources = len(by_alpha[alphas[0]])
    for a, grp in by_alpha.items():
        assert len(grp) == n_sources
        assert sum(r["share"] for r in grp) == pytest.approx(
            1.0, abs=1e-3
        )
        effs = {r["eff_sources"] for r in grp}
        assert len(effs) == 1  # one eff value per alpha
        (eff,) = effs
        assert 1.0 <= eff <= n_sources + 1e-9
    # alpha = 1 is natural sampling: share == tokens / total
    nat = by_alpha[1.0]
    total = sum(r["total_tokens"] for r in nat)
    for r in nat:
        assert r["share"] == pytest.approx(
            r["total_tokens"] / total, abs=1e-6
        )
    # flattening monotonicity
    eff_by_alpha = [by_alpha[a][0]["eff_sources"] for a in alphas]
    for lo, hi in zip(eff_by_alpha, eff_by_alpha[1:]):
        assert lo >= hi - 1e-9, (
            "effective source count must not increase with alpha"
        )


@needs_testdata
@pytest.mark.integration
def test_tx25_python_replay(spark):
    """Counting identities (hapax <= types <= tokens, ratios in range)
    on every language, plus an exact pure-Python replay of one
    language's panel from the raw text."""
    from collections import Counter

    from pyspark.sql import functions as F

    from local_etl_csv_to_postgresql_spark.plans.analytics import load

    rows = QUERIES["tx25_lexical_diversity"](spark, SF).collect()
    assert rows
    for r in rows:
        assert 1 <= r["n_types"] <= r["n_tokens"]
        assert 0 <= r["n_hapax"] <= r["n_types"]
        assert 0.0 < r["ttr"] <= 1.0
        assert 0.0 <= r["hapax_share"] <= 1.0
        assert r["guiraud"] == pytest.approx(
            r["n_types"] / math.sqrt(r["n_tokens"]), abs=1e-6
        )
    lang = rows[0]["lang"]
    texts = [
        x["text"]
        for x in load(spark, SF, "documents")
        .filter(F.col("lang") == lang)
        .select("text")
        .collect()
    ]
    counts: Counter = Counter()
    for t in texts:
        counts.update(re.findall(r"[a-z0-9]+", t.lower()))
    assert rows[0]["n_tokens"] == sum(counts.values())
    assert rows[0]["n_types"] == len(counts)
    assert rows[0]["n_hapax"] == sum(1 for c in counts.values() if c == 1)


@needs_testdata
@pytest.mark.integration
def test_gr08_python_replay(spark):
    """Exact brute-force triangle replay on the sf0.001 co-purchase
    graph: the degree-ordered census must equal the classic
    set-intersection count, 3·triangles cannot exceed the wedge count,
    and the clustering coefficient stays in [0, 1]."""
    from local_etl_csv_to_postgresql_spark.functions.entrypoints import (
        _gr05_copurchase_edges,
    )

    row = QUERIES["gr08_triangle_census"](spark, SF).collect()[0]
    edges = {
        (r["id_a"], r["id_b"])
        for r in _gr05_copurchase_edges(spark, SF).collect()
    }
    adj: dict = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    tri = (
        sum(
            len(adj[a] & adj[b])
            for a, b in edges
        )
        // 3
    )
    n_wedges = sum(len(v) * (len(v) - 1) // 2 for v in adj.values())
    assert row["n_nodes"] == len(adj)
    assert row["n_edges"] == len(edges)
    assert row["n_wedges"] == n_wedges
    assert row["n_triangles"] == tri
    assert 3 * row["n_triangles"] <= row["n_wedges"]
    assert 0.0 <= row["global_clustering"] <= 1.0


@needs_testdata
@pytest.mark.integration
def test_ss08_python_replay(spark):
    """Exact A-ES replay for one source: recompute every doc's rank key
    ln(u)/w from the 60-bit hash in pure Python (same 12 dp rounding)
    and confirm the query's sample digests are exactly the top-K; and
    the weighting must visibly tilt the sample toward heavy documents
    (sample mean token mass >= population mean for every source on the
    fixed test corpus)."""
    from pyspark.sql import functions as F

    from local_etl_csv_to_postgresql_spark.functions.entrypoints import (
        SS08_SAMPLE_K,
    )
    from local_etl_csv_to_postgresql_spark.plans.analytics import load

    rows = QUERIES["ss08_weighted_sample"](spark, SF).collect()
    assert rows
    for r in rows:
        assert r["sample_size"] == min(SS08_SAMPLE_K, r["n_docs"])
        assert r["avg_sample_tokens"] >= r["avg_pop_tokens"], (
            f"{r['source']}: weighted sample is lighter than the "
            "population — the sampler is not weighting"
        )
    source = rows[0]["source"]
    docs = (
        load(spark, SF, "documents")
        .filter(F.col("source") == source)
        .select("doc_id", "text")
        .collect()
    )
    keyed = []
    for d in docs:
        w = max(1, len(re.findall(r"\S+", d["text"])))
        h = _hash60(str(d["doc_id"]))
        k = round(math.log((h + 1) / float(1 << 60)) / w, 12)
        keyed.append((-k, d["doc_id"], w))
    keyed.sort()
    top = keyed[:SS08_SAMPLE_K]
    assert rows[0]["sample_docid_sum"] == sum(d for _, d, _ in top)
    assert rows[0]["sample_token_sum"] == sum(w for _, _, w in top)


@needs_testdata
@pytest.mark.integration
def test_st20_streamed_state_invariants(spark):
    """The streamed bottom-k state is REALLY built across micro-batches
    (at least one type emits from >= 2 batches), the final per-type row
    counts every event exactly, and occupied equals min(K, the type's
    true distinct-user count)."""
    from local_etl_csv_to_postgresql_spark.plans.analytics import load
    from local_etl_csv_to_postgresql_spark.streaming.queries import (
        ST20_K,
        st20_streaming_bottomk_sample,
    )
    from local_etl_csv_to_postgresql_spark.streaming.stateful import (
        replay_bottomk_sample,
    )

    import pyspark.sql.functions as F

    rows = st20_streaming_bottomk_sample(spark, SF).collect()
    assert rows
    truth = {
        r["event_type"]: (r["n"], r["d"])
        for r in load(spark, SF, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("d"),
        )
        .collect()
    }
    assert {r["event_type"] for r in rows} == set(truth)
    for r in rows:
        n, d = truth[r["event_type"]]
        assert r["n_events"] == n
        assert r["occupied"] == min(ST20_K, d)
        assert 0 < r["kmv_threshold"] < (1 << 60)
        assert r["distinct_estimate"] > 0
    # multi-batch evidence: the emitted (pre-dedup) table carries more
    # than one emission for at least one type — the availableNow replay
    # really merged state across micro-batch boundaries
    emitted = replay_bottomk_sample(spark, f"{SF}/events.parquet", k=ST20_K)
    per_type = (
        emitted.groupBy("event_type").count().agg(F.max("count")).collect()
    )
    assert per_type[0][0] >= 2


@needs_testdata
@pytest.mark.integration
def test_qf06_python_replay(spark):
    """Full pure-Python replay of one source's repetition panel
    (per-doc top-bigram and duplicated-trigram fractions with the same
    8 dp rounding, aggregated the same way), plus range/counting
    identities on every source."""
    from collections import Counter
    from decimal import Decimal

    from pyspark.sql import functions as F

    from local_etl_csv_to_postgresql_spark.functions.entrypoints import (
        QF06_DUP_TRIGRAM_MAX,
        QF06_TOP_BIGRAM_MAX,
    )
    from local_etl_csv_to_postgresql_spark.plans.analytics import load

    rows = QUERIES["qf06_gopher_repetition"](spark, SF).collect()
    assert rows
    for r in rows:
        assert 0.0 < r["avg_top_bigram_frac"] <= 1.0
        assert 0.0 <= r["avg_dup_trigram_frac"] <= 1.0
        assert 0 <= r["n_flagged"] <= r["n_docs_scored"]
    source = rows[0]["source"]
    texts = [
        x["text"]
        for x in load(spark, SF, "documents")
        .filter(F.col("source") == source)
        .select("text")
        .collect()
    ]
    t2s, d3s, flagged = [], [], 0
    for t in texts:
        ws = re.findall(r"[a-z0-9]+", t.lower())
        bi = Counter(
            " ".join(ws[i : i + 2]) for i in range(len(ws) - 1)
        )
        if not bi:
            continue  # <2 words: no bigram, not scored
        tri = Counter(
            " ".join(ws[i : i + 3]) for i in range(len(ws) - 2)
        )
        n_bi = sum(bi.values())
        t2 = Decimal(str(round(max(bi.values()) / n_bi, 8)))
        n_tri = sum(tri.values())
        dup = sum(c for c in tri.values() if c >= 2)
        d3 = Decimal(str(round(dup / n_tri, 8))) if n_tri else Decimal(0)
        t2s.append(t2)
        d3s.append(d3)
        if float(t2) > QF06_TOP_BIGRAM_MAX or float(d3) > QF06_DUP_TRIGRAM_MAX:
            flagged += 1
    r = rows[0]
    assert r["n_docs_scored"] == len(t2s)
    assert r["n_flagged"] == flagged
    assert r["avg_top_bigram_frac"] == pytest.approx(
        float(sum(t2s)) / len(t2s), abs=2e-6
    )
    assert r["avg_dup_trigram_frac"] == pytest.approx(
        float(sum(d3s)) / len(d3s), abs=2e-6
    )


@needs_testdata
@pytest.mark.integration
def test_ts05_python_replay(spark):
    """Recompute the full scan in Python from the exact daily sums:
    the reported top rows must be the global argmax set (same order),
    every split index is interior, and the statistic column is sorted
    non-increasing."""
    from decimal import Decimal

    from pyspark.sql import functions as F

    from local_etl_csv_to_postgresql_spark.functions.entrypoints import (
        TS05_TOP,
        dec,
    )
    from local_etl_csv_to_postgresql_spark.plans.analytics import load

    rows = QUERIES["ts05_changepoint_scan"](spark, SF).collect()
    assert len(rows) == TS05_TOP
    gs = [r["g_stat"] for r in rows]
    assert gs == sorted(gs, reverse=True)
    daily = (
        load(spark, SF, "orders")
        .groupBy(F.col("o_orderdate").alias("day"))
        .agg(F.sum(dec("o_totalprice")).alias("rev"))
        .orderBy("day")
        .collect()
    )
    n = len(daily)
    s_all = sum(Decimal(str(r["rev"])) for r in daily)
    acc = Decimal(0)
    scan = []
    for t, r in enumerate(daily[:-1], start=1):
        acc += Decimal(str(r["rev"]))
        ml = float(acc) / t
        mr = float(s_all - acc) / (n - t)
        g = math.sqrt(t * (n - t) / n) * abs(ml - mr)
        scan.append((-g, r["day"], t, ml, mr))
    scan.sort()
    for got, (negg, day, t, ml, mr) in zip(rows, scan[:TS05_TOP]):
        assert got["day"] == day
        assert got["split_index"] == t
        assert got["g_stat"] == pytest.approx(-negg, abs=1e-5)
        assert got["mean_left"] == pytest.approx(ml, abs=1e-3)
        assert got["mean_right"] == pytest.approx(mr, abs=1e-3)


@needs_testdata
@pytest.mark.integration
def test_pv02_roundtrip_equals_direct_rollup(spark):
    """The unpivoted long table must equal the direct (priority,
    status) rollup with explicit zero fill — pivot→unpivot loses
    nothing and invents nothing."""
    from pyspark.sql import functions as F

    from local_etl_csv_to_postgresql_spark.plans.analytics import load

    rows = QUERIES["pv02_status_unpivot"](spark, SF).collect()
    orders = load(spark, SF, "orders")
    direct = {
        (r["o_orderpriority"], r["o_orderstatus"]): r["n"]
        for r in orders.groupBy("o_orderpriority", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    prios = {p for p, _ in direct}
    assert len(rows) == len(prios) * 3
    for r in rows:
        assert r["n_orders"] == direct.get(
            (r["priority"], r["status"]), 0
        )
    assert sum(r["n_orders"] for r in rows) == orders.count()


@needs_testdata
@pytest.mark.integration
def test_dq05_verdicts_and_replay(spark):
    """The primary-key determinant must HOLD (o_orderkey functionally
    determines its own header attribute), verdict flags must agree
    with the violation counts, and one false candidate's violation
    census is replayed through an independent distinct-pairs
    formulation."""
    from pyspark.sql import functions as F

    from local_etl_csv_to_postgresql_spark.functions.entrypoints import (
        DQ05_CANDIDATES,
    )
    from local_etl_csv_to_postgresql_spark.plans.analytics import load

    rows = QUERIES["dq05_functional_dependencies"](spark, SF).collect()
    assert len(rows) == len(DQ05_CANDIDATES)
    by_key = {
        (r["table_name"], r["determinant"], r["dependent"]): r
        for r in rows
    }
    pk = by_key[("orders", "o_orderkey", "o_orderpriority")]
    assert pk["holds"] and pk["n_violating_groups"] == 0
    assert pk["max_distinct_dep"] == 1
    for r in rows:
        assert 0 <= r["n_violating_groups"] <= r["n_groups"]
        assert r["holds"] == (r["n_violating_groups"] == 0)
        assert r["max_distinct_dep"] >= 1
        if r["max_distinct_dep"] > 1:
            assert not r["holds"]
    # independent replay of one candidate via distinct pairs
    t, det, dep = "lineitem", "l_orderkey", "l_returnflag"
    pairs = load(spark, SF, t).select(det, dep).distinct()
    per = pairs.groupBy(det).agg(F.count(F.lit(1)).alias("d")).collect()
    row = by_key[(t, det, dep)]
    assert row["n_groups"] == len(per)
    assert row["n_violating_groups"] == sum(1 for r in per if r["d"] > 1)
    assert row["max_distinct_dep"] == max(r["d"] for r in per)


@needs_testdata
@pytest.mark.integration
def test_es20_numpy_replay_and_rayleigh(spark):
    """Replay the power step in numpy (same moment-closure formula) and
    confirm v1 matches; v1 must be unit norm; and the Rayleigh quotient
    must be non-decreasing from v0 to v1 — the defining property of a
    power-iteration step on a PSD covariance."""
    import numpy as np

    from local_etl_csv_to_postgresql_spark.plans.analytics import load

    rows = QUERIES["es20_power_iteration_step"](spark, SF).collect()
    assert len(rows) == 64
    v1 = np.array([r["v1"] for r in sorted(rows, key=lambda r: r["dim"])])
    assert np.linalg.norm(v1) == pytest.approx(1.0, abs=1e-4)
    X = np.array(
        [
            r["embedding"]
            for r in load(spark, SF, "embeddings")
            .select("embedding")
            .collect()
        ],
        dtype=np.float64,
    )
    v0 = np.array([0.125 if i % 2 == 0 else -0.125 for i in range(64)])
    mu = X.mean(axis=0)
    u = (X * (X @ v0)[:, None]).mean(axis=0) - mu * (mu @ v0)
    ref = u / np.linalg.norm(u)
    assert np.abs(v1 - ref).max() < 1e-4
    lam = {r["lambda_proxy"] for r in rows}
    assert len(lam) == 1 and lam.pop() == pytest.approx(
        float(np.linalg.norm(u)), rel=1e-3
    )
    C = np.cov(X, rowvar=False, bias=True)
    def rayleigh(v):
        return float(v @ C @ v) / float(v @ v)
    assert rayleigh(ref) >= rayleigh(v0) - 1e-9


@needs_testdata
@pytest.mark.integration
def test_gr09_python_peel_replay(spark):
    """Exact Python peeling replay on the sf0.001 co-purchase graph:
    identical core membership AND in-core degrees, the defining k-core
    properties (every member has >= k core neighbors; every peeled
    node has < k core neighbors — maximality), and the Spark fixpoint
    arrives comfortably inside the oracle's unroll depth."""
    from local_etl_csv_to_postgresql_spark.functions.entrypoints import (
        GR09_K,
        GR09_ORACLE_ROUNDS,
        _gr05_copurchase_edges,
    )
    from local_etl_csv_to_postgresql_spark.operators.graph import kcore

    edges_df = _gr05_copurchase_edges(spark, SF).localCheckpoint()
    core_df, rounds = kcore(spark, edges_df, GR09_K)
    assert rounds <= GR09_ORACLE_ROUNDS, (
        f"fixpoint took {rounds} rounds — raise GR09_ORACLE_ROUNDS"
    )
    got = {r["u"]: r["core_degree"] for r in core_df.collect()}
    edges = {(r["id_a"], r["id_b"]) for r in edges_df.collect()}
    adj: dict = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    alive = set(adj)
    while True:
        drop = {u for u in alive if len(adj[u] & alive) < GR09_K}
        if not drop:
            break
        alive -= drop
    want = {u: len(adj[u] & alive) for u in alive}
    assert got == want
    for u in alive:
        assert len(adj[u] & alive) >= GR09_K
    for u in set(adj) - alive:
        assert len(adj[u] & alive) < GR09_K  # maximality
    row = QUERIES["gr09_kcore_summary"](spark, SF).collect()[0]
    assert row["n_core_nodes"] == len(alive)
    assert row["degree_sum"] == sum(want.values())
    assert row["n_core_edges"] == sum(want.values()) // 2


@needs_testdata
@pytest.mark.integration
def test_ss09_numpy_replay_and_radius_monotone(spark):
    """Replay the greedy selection in numpy (same 4 dp rounding before
    every comparison): identical center sequence and radii; the
    coverage radius must be non-increasing (adding a center never hurts
    coverage); and every later center must be farther from the chosen
    prefix than any covered point was — the greedy invariant."""
    import numpy as np

    from local_etl_csv_to_postgresql_spark.functions.entrypoints import (
        SS09_CENTERS,
    )
    from local_etl_csv_to_postgresql_spark.plans.analytics import load

    rows = QUERIES["ss09_kcenter_coreset"](spark, SF).collect()
    assert len(rows) == SS09_CENTERS
    radii = [r["coverage_radius"] for r in rows]
    assert radii == sorted(radii, reverse=True) or all(
        a >= b - 1e-9 for a, b in zip(radii, radii[1:])
    )
    data = (
        load(spark, SF, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    )
    ids = np.array([r["vec_id"] for r in data])
    X = np.array([r["embedding"] for r in data], dtype=np.float64)
    order = np.argsort(ids)
    ids, X = ids[order], X[order]
    ci = 0  # lowest vec_id
    md = np.round(((X - X[ci]) ** 2).sum(axis=1), 4)
    want = [(0, int(ids[ci]))]
    want_radii = [float(md.max())]
    for rnd in range(1, SS09_CENTERS):
        # argmax with vec_id tie-break (ids sorted ascending, so the
        # first argmax IS the lowest id)
        j = int(np.argmax(md))
        want.append((rnd, int(ids[j])))
        md = np.minimum(md, np.round(((X - X[j]) ** 2).sum(axis=1), 4))
        want_radii.append(float(md.max()))
    got = [(r["round"], r["center_id"]) for r in rows]
    assert got == want
    for g, w in zip(radii, want_radii):
        assert g == pytest.approx(w, abs=1e-6)


@needs_testdata
@pytest.mark.integration
def test_ij01_proration_replay(spark):
    """Replay one promo window's attribution in pure Python from the
    raw order intervals (same day arithmetic and 6 dp rounding), plus
    the structural invariants: fully-inside orders never exceed
    overlapping orders, and a window's prorated revenue can never
    exceed the plain revenue sum of its overlapping orders."""
    from decimal import Decimal

    from pyspark.sql import functions as F

    from local_etl_csv_to_postgresql_spark.functions.entrypoints import (
        IJ01_PROMO_WINDOWS,
    )
    from local_etl_csv_to_postgresql_spark.plans.analytics import load

    rows = QUERIES["ij01_interval_attribution"](spark, SF).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_fully_inside"] <= r["n_overlapping_orders"]
        assert r["prorated_revenue"] >= 0
    pid, ps, pe = IJ01_PROMO_WINDOWS[0]
    got = next((r for r in rows if r["promo_id"] == pid), None)
    li = load(spark, SF, "lineitem")
    span = {
        r["l_orderkey"]: r["ship_end"]
        for r in li.groupBy("l_orderkey")
        .agg(F.max("l_shipdate").alias("ship_end"))
        .collect()
    }
    import datetime as dt

    psd = dt.date.fromisoformat(ps)
    ped = dt.date.fromisoformat(pe)
    n_over, n_full = 0, 0
    credit = Decimal(0)
    plain = Decimal(0)
    for o in load(spark, SF, "orders").collect():
        if o["o_orderkey"] not in span:
            continue
        s = o["o_orderdate"]
        if hasattr(s, "date"):
            s = s.date()
        e = span[o["o_orderkey"]]
        if hasattr(e, "date"):
            e = e.date()
        ov = (min(e, ped) - max(s, psd)).days + 1
        if ov <= 0:
            continue
        dur = (e - s).days + 1
        n_over += 1
        if ov == dur:
            n_full += 1
        price = Decimal(str(round(o["o_totalprice"], 2)))
        credit += Decimal(str(round(float(price) * ov / dur, 6)))
        plain += price
    if got is None:
        assert n_over == 0
    else:
        assert got["n_overlapping_orders"] == n_over
        assert got["n_fully_inside"] == n_full
        assert got["prorated_revenue"] == pytest.approx(
            float(credit), abs=0.02
        )
        assert got["prorated_revenue"] <= float(plain) + 0.01


@needs_testdata
@pytest.mark.integration
def test_hll04_algebra_and_calibration(spark):
    """Sketch-algebra identities on every pair: the union estimate is
    at least as large as each side's (max-merge can only grow
    registers), the inclusion-exclusion overlap is non-negative by
    construction, and — calibration — the estimated overlap tracks the
    exact overlap within the sketch's error budget scaled to the pair
    size (inclusion-exclusion compounds three ±6.5% estimates)."""
    rows = QUERIES["hll04_cross_source_overlap"](spark, SF).collect()
    assert rows
    for r in rows:
        assert r["est_union"] >= r["est_a"] - 1e-9
        assert r["est_union"] >= r["est_b"] - 1e-9
        assert r["est_overlap"] >= 0.0
        # three compounded 6.5%-std-err estimates: allow 5 sigma of the
        # LARGEST set involved plus a small absolute floor
        budget = 5 * 0.065 * max(r["est_a"], r["est_b"]) + 50
        assert abs(r["est_overlap"] - r["exact_overlap"]) <= budget, (
            f"{r['source_a']}x{r['source_b']}: overlap estimate "
            f"{r['est_overlap']} vs exact {r['exact_overlap']} — "
            "outside the compounded sketch error budget"
        )
