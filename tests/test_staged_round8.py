"""Round-8 query invariants: semantic properties the hash compare
alone can't express. Oracle certification runs in
tests/test_oracle_gate.py with every other queries() entry."""

from __future__ import annotations

import os

import pytest

import __spark_entry__ as ep

QUERIES = ep.queries()

SF = "/root/testdata/sf0.001"

needs_testdata = pytest.mark.skipif(
    not os.path.isdir(SF), reason="driver testdata not present"
)


@needs_testdata
@pytest.mark.integration
def test_mw01_mann_whitney_invariants(spark):
    """AUC is in [0,1]; u2 never exceeds 2*n_a*n_b (U <= n_a*n_b);
    every unordered source pair appears exactly once; the doubled
    statistic is exactly consistent with the reported AUC."""
    out = QUERIES["mw01_mann_whitney_drift"](
        spark, SF
    ).collect()
    assert len(out) >= 1
    seen = set()
    for r in out:
        assert r["source_a"] < r["source_b"]
        assert (r["source_a"], r["source_b"]) not in seen
        seen.add((r["source_a"], r["source_b"]))
        assert 0 <= r["u2"] <= 2 * r["n_a"] * r["n_b"]
        assert 0.0 <= r["auc"] <= 1.0
        assert abs(r["auc"] - r["u2"] / (2.0 * r["n_a"] * r["n_b"])) < 1e-6


@needs_testdata
@pytest.mark.integration
def test_mw01_symmetry_against_flipped_ranks(spark):
    """U(a,b) + U(b,a) = n_a*n_b: recompute the flipped statistic by
    swapping the histogram roles and check the doubled identity —
    catches a cum-vs-count transposition the oracle (built the same
    way) would reproduce rather than reject."""
    from pyspark.sql import functions as F
    from local_etl_csv_to_postgresql_spark.plans.analytics import load

    rows = QUERIES["mw01_mann_whitney_drift"](
        spark, SF
    ).collect()
    docs = load(spark, SF, "documents").select("source", "n_chars")
    pdf = docs.toPandas()
    r = rows[0]
    a = sorted(pdf[pdf.source == r["source_a"]].n_chars.tolist())
    b = sorted(pdf[pdf.source == r["source_b"]].n_chars.tolist())
    # exact O(n^2) reference on the tiny sf0.001 slice
    u2_ref = sum(
        2 if x > y else (1 if x == y else 0) for x in a for y in b
    )
    assert u2_ref == r["u2"]


@needs_testdata
@pytest.mark.integration
def test_tx18_flesch_invariants(spark):
    """Per-lang doc counts partition the corpus; share_easy in [0,1];
    scores are finite (no div-by-zero leak through the guards)."""
    from local_etl_csv_to_postgresql_spark.plans.analytics import load

    out = QUERIES["tx18_flesch_readability"](
        spark, SF
    ).collect()
    n_total = load(spark, SF, "documents").count()
    assert sum(r["n_docs"] for r in out) <= n_total
    assert sum(r["n_docs"] for r in out) > 0
    for r in out:
        assert 0.0 <= r["share_easy"] <= 1.0
        assert r["avg_flesch"] == r["avg_flesch"]  # not NaN


@needs_testdata
@pytest.mark.integration
def test_tx19_lexical_richness_invariants(spark):
    """hapax <= types <= tokens per language; ratios consistent."""
    out = QUERIES["tx19_lexical_richness"](
        spark, SF
    ).collect()
    assert len(out) >= 2
    for r in out:
        # the synthetic corpus is template-generated (31 types/lang,
        # no hapaxes) — the bounds are what the operator guarantees
        assert 0 <= r["n_hapax"] <= r["n_types"] <= r["n_tokens"]
        assert 0.0 < r["ttr"] <= 1.0
        assert 0.0 <= r["hapax_share"] <= 1.0


@needs_testdata
@pytest.mark.integration
def test_qf03_c4_invariants(spark):
    """Conjunction never exceeds any single rule; retention consistent;
    every rule column bounded by n_docs."""
    out = QUERIES["qf03_c4_heuristic_filters"](
        spark, SF
    ).collect()
    assert len(out) >= 2
    rules = [
        "pass_terminal_punct", "pass_min_sentences", "pass_min_words",
        "pass_no_brace", "pass_no_lorem", "pass_word_length",
    ]
    for r in out:
        for c in rules:
            assert 0 <= r[c] <= r["n_docs"]
            assert r["n_pass_all"] <= r[c]
        assert abs(r["retention"] - r["n_pass_all"] / r["n_docs"]) < 1e-6


@needs_testdata
@pytest.mark.integration
def test_ret01_retention_invariants(spark):
    """Offset 0 is 100% by construction (the first-seen week is an
    active week); later offsets never exceed the cohort size; offsets
    are non-negative."""
    out = QUERIES["ret01_weekly_cohort_retention"](
        spark, SF
    ).collect()
    assert len(out) >= 2
    zero = [r for r in out if r["week_offset"] == 0]
    assert zero and all(r["n_active"] == r["cohort_size"] for r in zero)
    for r in out:
        assert r["week_offset"] >= 0
        assert 1 <= r["n_active"] <= r["cohort_size"]
        assert 0.0 < r["retention_pct"] <= 100.0


@needs_testdata
@pytest.mark.integration
def test_zo01_zorder_beats_time_layout_on_user_span(spark):
    """THE claim of the operator: the Morton layout's average per-file
    user span must be strictly narrower than the time layout's (whose
    files contain essentially every user), while both partition the
    same row count."""
    out = {
        r["layout"]: r
        for r in QUERIES["zo01_zorder_locality"](
            spark, SF
        ).collect()
    }
    assert set(out) == {"zorder", "time"}
    assert out["zorder"]["n_rows"] == out["time"]["n_rows"]
    assert (
        out["zorder"]["avg_user_span"] < out["time"]["avg_user_span"]
    ), out
    for r in out.values():
        assert 2 <= r["n_buckets"] <= 16


@needs_testdata
@pytest.mark.integration
def test_ln01_source_conflict_invariants(spark):
    """Pair total equals the verified edge count; lo <= hi; is_cross
    consistent with the key pair."""
    from local_etl_csv_to_postgresql_spark.functions.entrypoints import (
        _neardup_good_edges,
    )

    out = QUERIES["ln01_neardup_source_conflict"](
        spark, SF
    ).collect()
    n_edges = _neardup_good_edges(spark, SF).count()
    assert sum(r["n_pairs"] for r in out) == n_edges
    for r in out:
        assert r["source_lo"] <= r["source_hi"]
        assert r["is_cross"] == (r["source_lo"] != r["source_hi"])
        assert r["n_pairs"] >= 1


@needs_testdata
@pytest.mark.integration
def test_ts03_acf_invariants(spark):
    """Exactly 7 lags; |acf| <= 1; every lag keeps a substantial pair
    count (the daily grid has calendar gaps, so counts wobble rather
    than decrease monotonically — only the floor is guaranteed)."""
    out = QUERIES["ts03_revenue_autocorrelation"](
        spark, SF
    ).collect()
    assert [r["lag"] for r in out] == list(range(1, 8))
    assert all(r["n_pairs"] > 100 for r in out)
    for r in out:
        assert r["acf"] is None or -1.0 <= r["acf"] <= 1.0


@needs_testdata
@pytest.mark.integration
def test_dd16_winnowing_invariants(spark):
    """The winnowing guarantee on a known plant: every doc count is
    positive, shared incidences need >= 2 participating docs, and the
    per-source doc totals never exceed the corpus."""
    out = QUERIES["dd16_winnowing_fingerprints"](
        spark, SF
    ).collect()
    assert len(out) >= 2
    total_shared_docs = sum(r["n_docs_with_shared"] for r in out)
    for r in out:
        assert r["n_docs"] >= 1
        assert r["avg_fingerprints"] >= 1.0
        assert 0 <= r["n_docs_with_shared"] <= r["n_docs"]
        assert r["shared_incidences"] >= r["n_docs_with_shared"]
    # a shared fingerprint always involves >= 2 docs somewhere
    if total_shared_docs:
        assert total_shared_docs >= 2


@needs_testdata
@pytest.mark.integration
def test_dd16_detects_planted_23char_overlap(spark):
    """Winnowing completeness on a controlled corpus: two docs sharing
    an exact 23-char run MUST share a selected fingerprint; two docs
    with disjoint alphabets must not."""
    import pandas as pd

    from local_etl_csv_to_postgresql_spark.functions import entrypoints as ep

    plant = "thequickbrownfoxjumped"  # 22 chars + 1 below
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "source": ["a", "a", "a"],
                "text": [
                    "xxxxxxxxxxxx" + plant + "z" + "qqqqqqqqqqqq",
                    "yyyyyyyyyyyy" + plant + "z" + "wwwwwwwwwwww",
                    "0123456789" * 5,
                ],
                "lang": ["en"] * 3,
                "n_chars": [40, 40, 50],
            }
        )
    )
    import tempfile

    d = tempfile.mkdtemp(prefix="dd16_plant_")
    df.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = ep.dd16_winnowing_fingerprints(spark, d).collect()
    r = out[0]
    assert r["n_docs"] == 3
    assert r["n_docs_with_shared"] == 2  # the two planted docs only


@needs_testdata
@pytest.mark.integration
@pytest.mark.slow
def test_st15_scd_asof_invariants(spark):
    """Versions partition each user's purchase timeline: total enriched
    purchases = purchases at-or-after their user's first signup (inner
    as-of semantics); version numbers are a dense 1..max range."""
    from pyspark.sql import functions as F
    from local_etl_csv_to_postgresql_spark.plans.analytics import load

    out = QUERIES["st15_scd_asof_enrich"](
        spark, SF
    ).collect()
    assert out and [r["version_no"] for r in out] == sorted(
        r["version_no"] for r in out
    )
    assert out[0]["version_no"] == 1
    ev = load(spark, SF, "events")
    first_signup = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("__t0"))
    )
    eligible = (
        ev.filter(F.col("event_type") == "purchase")
        .join(first_signup, "user_id")
        .filter(F.col("ts") >= F.col("__t0"))
        .count()
    )
    assert sum(r["n_purchases"] for r in out) == eligible


@needs_testdata
@pytest.mark.integration
def test_hll03_merge_exact_everywhere(spark):
    """THE claim: shard-built registers merged by bucket-wise MAX are
    digest-identical to the full-corpus build, for every group."""
    from local_etl_csv_to_postgresql_spark.functions.entrypoints import (
        HLL_M,
    )

    out = QUERIES["hll03_hll_mergeability"](
        spark, SF
    ).collect()
    assert len(out) >= 3
    for r in out:
        assert r["merge_exact"] is True
        assert 1 <= r["occupied_full"] <= HLL_M
        assert r["digest_full"] == r["digest_merged"]


@needs_testdata
@pytest.mark.integration
def test_mi01_mutual_information_invariants(spark):
    """Cell doc counts partition the corpus; total MI is non-negative
    (up to the 8-dp per-cell rounding); every |pmi| is finite."""
    from local_etl_csv_to_postgresql_spark.plans.analytics import load

    out = QUERIES[
        "mi01_label_source_mutual_information"
    ](spark, SF).collect()
    n_total = load(spark, SF, "documents").count()
    assert sum(r["n_docs"] for r in out) == n_total
    mi = sum(r["mi_contribution"] for r in out)
    assert mi >= -1e-6
    for r in out:
        assert r["pmi"] == r["pmi"]  # not NaN


@needs_testdata
@pytest.mark.integration
def test_ab01_proportion_drift_invariants(spark):
    """All unordered source pairs exactly once; rates in [0,1]; the
    z statistic recomputes from the reported integers."""
    import math

    out = QUERIES["ab01_proportion_drift"](
        spark, SF
    ).collect()
    srcs = set()
    for r in out:
        srcs.add(r["source_a"])
        srcs.add(r["source_b"])
        assert 0.0 <= r["rate_a"] <= 1.0 and 0.0 <= r["rate_b"] <= 1.0
        ka, kb = r["rate_a"] * r["n_a"], r["rate_b"] * r["n_b"]
        pool = (ka + kb) / (r["n_a"] + r["n_b"])
        var = pool * (1 - pool) * (1 / r["n_a"] + 1 / r["n_b"])
        if var <= 0:
            assert r["z_stat"] is None  # zero pooled variance => NULL
            continue
        z = (r["rate_a"] - r["rate_b"]) / math.sqrt(var)
        assert abs(z - r["z_stat"]) < 1e-3
    s = len(srcs)
    assert len(out) == s * (s - 1) // 2


@needs_testdata
@pytest.mark.integration
def test_gr03_star_cc_equals_dd06_labels(spark):
    """One spec, two algorithms: the star-contraction labels must be
    row-identical to dd06's min-label-propagation clustering."""
    import __spark_entry__ as ep

    star = QUERIES["gr03_cc_star_contraction"](
        spark, SF
    ).collect()
    prop = ep.queries()["dd06_neardup_clusters"](spark, SF).collect()
    assert [tuple(r) for r in star] == [tuple(r) for r in prop]


@needs_testdata
@pytest.mark.integration
def test_en01_entropy_invariants(spark):
    """0 <= H <= log2(alphabet); distinct chars bounded by the
    36-char normalized alphabet; char mass consistent."""
    import math

    out = QUERIES["en01_char_entropy"](spark, SF).collect()
    assert len(out) >= 2
    for r in out:
        assert 1 <= r["n_distinct_chars"] <= 36
        assert r["n_chars_total"] >= r["n_distinct_chars"]
        assert 0.0 <= r["entropy_bits"] <= math.log2(r["n_distinct_chars"]) + 1e-9


@needs_testdata
@pytest.mark.integration
def test_tx20_backoff_invariants(spark):
    """Held-out docs only (odd ids drive the count); the backoff path
    actually fires somewhere (held-out bigrams unseen in training);
    scores are negative log-probabilities-ish (log2 of ratios < 1)."""
    out = QUERIES["tx20_stupid_backoff_scoring"](
        spark, SF
    ).collect()
    assert len(out) >= 2
    assert any(r["backoff_rate"] > 0 for r in out)
    for r in out:
        assert r["n_heldout_docs"] >= 1
        assert 0.0 <= r["backoff_rate"] <= 1.0
        assert r["mean_log2_score"] < 0.0


@needs_testdata
@pytest.mark.integration
def test_ev01_ranking_quality_invariants(spark):
    """10 queries; nDCG and MRR in [0,1]; hits bounded by relevant;
    a query with hits has mrr >= 1/10; perfect-ranking consistency
    (n_hits == 10 and first hit at pos 1 => ndcg == 1 only if all
    positions align — so only the <= bound is universal)."""
    out = QUERIES["ev01_ann_ranking_quality"](
        spark, SF
    ).collect()
    assert len(out) == 10
    for r in out:
        assert r["n_relevant"] == 10
        assert 0 <= r["n_hits"] <= 10
        assert 0.0 <= r["mrr"] <= 1.0
        assert 0.0 <= r["ndcg_at_10"] <= 1.0 + 1e-9
        if r["n_hits"] == 0:
            assert r["mrr"] == 0.0 and r["ndcg_at_10"] == 0.0
        else:
            assert r["mrr"] >= 1.0 / 10.0


@needs_testdata
@pytest.mark.integration
def test_bj01_join_is_exchange_free(spark):
    """The layout claim on THIS query's plan: after the one-time
    bucketed write, the star join runs without any Exchange upstream
    of the join (the aggregate after it may still shuffle)."""
    from local_etl_csv_to_postgresql_spark.functions import entrypoints as ep
    from local_etl_csv_to_postgresql_spark.operators.bucketing import (
        join_is_exchange_free,
    )

    ep.bj01_bucketed_colocated_join(spark, SF)  # ensure tables exist
    import hashlib

    tag = hashlib.md5(SF.encode()).hexdigest()[:8]
    joined = (
        spark.table(f"bj01_orders_{tag}")
        .hint("merge")
        .join(spark.table(f"bj01_lineitem_{tag}"), "o_orderkey")
    )
    assert join_is_exchange_free(joined)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Bucketed: true" in plan


@needs_testdata
@pytest.mark.integration
def test_ss06_kfold_invariants(spark):
    """Exactly 5 folds partitioning the corpus; shares sum to ~100;
    chi-square non-negative."""
    from local_etl_csv_to_postgresql_spark.plans.analytics import load

    out = QUERIES["ss06_kfold_assignment_audit"](
        spark, SF
    ).collect()
    assert [r["fold"] for r in out] == [0, 1, 2, 3, 4]
    n_total = load(spark, SF, "documents").count()
    assert sum(r["n_docs"] for r in out) == n_total
    assert abs(sum(r["share_pct"] for r in out) - 100.0) < 0.01
    for r in out:
        assert r["lang_chi_square"] >= 0.0
