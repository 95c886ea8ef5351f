"""Round-10 query invariants: semantic properties the hash compare
alone can't express. Oracle certification runs in
tests/test_oracle_gate.py with every other queries() entry."""

from __future__ import annotations

import math
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
def test_qf05_tercile_invariants(spark):
    """Buckets partition the scored corpus into NTILE(3) terciles:
    total docs equals the number of scored docs (>= 1 bigram), global
    bucket sizes differ by at most 1, and bucket score ranges are
    ordered (head max <= middle min <= tail min is implied by
    max(b) <= min(b+1) on the GLOBAL bucketing — checked via the
    per-source rows rolled up)."""
    from local_etl_csv_to_postgresql_spark.functions.entrypoints import (
        _bigram_xent_per_doc,
    )

    rows = QUERIES["qf05_ccnet_perplexity_buckets"](spark, SF).collect()
    assert rows
    n_scored = _bigram_xent_per_doc(spark, SF).count()
    assert sum(r["n_docs"] for r in rows) == n_scored
    # global tercile sizes differ by <= 1
    sizes: dict = {}
    for r in rows:
        sizes[r["bucket"]] = sizes.get(r["bucket"], 0) + r["n_docs"]
    assert set(sizes) == {1, 2, 3}
    assert max(sizes.values()) - min(sizes.values()) <= 1
    # bucket ranges are ordered: the worst head score <= best tail score
    hi = {b: max(r["max_cross_entropy"] for r in rows if r["bucket"] == b)
          for b in sizes}
    lo = {b: min(r["min_cross_entropy"] for r in rows if r["bucket"] == b)
          for b in sizes}
    assert hi[1] <= lo[3]
    for r in rows:
        assert r["min_cross_entropy"] <= r["avg_cross_entropy"] <= (
            r["max_cross_entropy"]
        )


@needs_testdata
@pytest.mark.integration
def test_tx24_coverage_python_ref(spark):
    """Replay the coverage curve in pure Python from the raw token
    counts: vocab_needed must match exactly per threshold, and the
    curve must be monotone (higher coverage needs more types)."""
    from pyspark.sql import functions as F

    from local_etl_csv_to_postgresql_spark.functions.entrypoints import (
        _docs_words,
    )

    rows = QUERIES["tx24_vocab_mass_coverage"](spark, SF).collect()
    assert [r["coverage_pct"] for r in rows] == [50, 90, 99]
    counts = (
        _docs_words(spark, SF)
        .select(F.explode("__words").alias("t"))
        .groupBy("t")
        .count()
        .collect()
    )
    ordered = sorted(counts, key=lambda r: (-r["count"], r["t"]))
    mass = sum(r["count"] for r in ordered)
    cum, need = 0, {}
    for i, r in enumerate(ordered, start=1):
        cum += r["count"]
        for p in (50, 90, 99):
            if p not in need and 100 * cum >= p * mass:
                need[p] = i
    prev = 0
    for r in rows:
        assert r["vocab_needed"] == need[r["coverage_pct"]]
        assert r["vocab_total"] == len(ordered)
        assert r["token_mass"] == mass
        assert r["vocab_needed"] >= prev
        prev = r["vocab_needed"]


@needs_testdata
@pytest.mark.integration
def test_dq02_edges_and_counts(spark):
    """One output row per declared FK edge; n_rows matches the child
    table size for row-level FKs; the synthetic warehouse is
    referentially intact (zero orphans) — and the query would catch a
    poisoned edge (checked by probing a fake child frame through the
    same aggregate shape in Python)."""
    from local_etl_csv_to_postgresql_spark.functions.entrypoints import (
        DQ02_FK_EDGES,
    )
    from local_etl_csv_to_postgresql_spark.plans.analytics import load

    rows = QUERIES["dq02_fk_orphan_matrix"](spark, SF).collect()
    assert len(rows) == len(DQ02_FK_EDGES)
    by_edge = {r["fk_edge"]: r for r in rows}
    for child, fk, parent, pk in DQ02_FK_EDGES:
        r = by_edge[f"{child}.{fk}"]
        assert r["references"] == f"{parent}.{pk}"
        assert r["n_rows"] == load(spark, SF, child).count()
        assert r["n_orphan_rows"] == 0
        assert r["orphan_rate"] == 0.0
        assert r["n_distinct_keys"] <= r["n_rows"]


@needs_testdata
@pytest.mark.integration
def test_cal01_calibration_invariants(spark):
    """Bins cover the val split exactly; predicted means are monotone
    in bin (equal-frequency binning orders by p_hat); each bin's Brier
    term respects the calibration decomposition lower bound
    (bin_brier >= (avg_predicted - observed_rate)^2 within rounding)."""
    from pyspark.sql import functions as F

    from local_etl_csv_to_postgresql_spark.plans.analytics import load

    rows = QUERIES["cal01_brier_calibration"](spark, SF).collect()
    assert rows and all(1 <= r["bin"] <= 5 for r in rows)
    li = load(spark, SF, "lineitem")
    n_val = li.filter(~(F.col("l_orderkey") % 5 < 4)).count()
    assert sum(r["n_val"] for r in rows) == n_val
    preds = [r["avg_predicted"] for r in sorted(rows, key=lambda r: r["bin"])]
    assert preds == sorted(preds)
    for r in rows:
        assert 0.0 <= r["observed_rate"] <= 1.0
        gap = (r["avg_predicted"] - r["observed_rate"]) ** 2
        assert r["bin_brier"] >= gap - 1e-6


@needs_testdata
@pytest.mark.integration
def test_sk02_partition_balance_python_ref(spark):
    """Recompute the l_orderkey leg's partition histogram in pure
    Python (hashlib md5, the same 15-hex-digit prefix) — counts,
    extrema, and the simulated-partition population must match."""
    import hashlib

    from local_etl_csv_to_postgresql_spark.functions.entrypoints import (
        SK02_N_PARTITIONS,
    )
    from local_etl_csv_to_postgresql_spark.plans.analytics import load

    rows = {r["key_col"]: r for r in
            QUERIES["sk02_hash_partition_balance"](spark, SF).collect()}
    assert set(rows) == {"l_orderkey", "l_partkey", "l_suppkey"}
    keys = [r["l_orderkey"] for r in
            load(spark, SF, "lineitem").select("l_orderkey").collect()]
    hist: dict = {}
    for k in keys:
        pid = int(hashlib.md5(str(k).encode()).hexdigest()[:15], 16) % (
            SK02_N_PARTITIONS
        )
        hist[pid] = hist.get(pid, 0) + 1
    r = rows["l_orderkey"]
    assert r["n_partitions"] == len(hist)
    assert r["min_rows"] == min(hist.values())
    assert r["max_rows"] == max(hist.values())
    assert r["skew_ratio"] >= 1.0
    assert abs(r["avg_rows"] - len(keys) / len(hist)) < 0.01


@needs_testdata
@pytest.mark.integration
def test_dm02_reweight_invariants(spark):
    """New weights are a probability vector; the exponentiated update
    is monotone (higher excess loss => higher weight); the baseline is
    uniform; each term replays in pure Python from the reported
    excess."""
    from local_etl_csv_to_postgresql_spark.functions.entrypoints import (
        DM02_ETA,
    )

    rows = QUERIES["dm02_domain_reweight_step"](spark, SF).collect()
    assert rows
    n = len(rows)
    assert abs(sum(r["new_weight"] for r in rows) - 1.0) < 1e-5 * n
    for r in rows:
        assert r["new_weight"] > 0
        assert abs(r["baseline_weight"] - round(1.0 / n, 6)) < 1e-9
    by_excess = sorted(rows, key=lambda r: r["excess_loss"])
    weights = [r["new_weight"] for r in by_excess]
    assert weights == sorted(weights)
    terms = [round(math.exp(DM02_ETA * r["excess_loss"]), 10) for r in rows]
    z = sum(terms)
    for r, t in zip(rows, terms):
        assert abs(r["new_weight"] - round(t / z, 6)) < 2e-6


@needs_testdata
@pytest.mark.integration
def test_ts04_decomposition_python_ref(spark):
    """Replay the full decomposition in pure Python from the exact
    daily revenue series: trend windows, detrending, weekday means,
    and remainder magnitudes must match; weekday components must
    (weighted) cancel to ~the detrended mean, which the centered MA
    keeps near zero."""
    from pyspark.sql import functions as F

    from local_etl_csv_to_postgresql_spark.plans.analytics import dec, load

    rows = QUERIES["ts04_seasonal_decomposition"](spark, SF).collect()
    assert [r["iso_dow"] for r in rows] == [1, 2, 3, 4, 5, 6, 7]
    daily = (
        load(spark, SF, "orders")
        .select(F.to_date("o_orderdate").alias("d"),
                dec("o_totalprice").alias("r"))
        .groupBy("d")
        .agg(F.sum("r").alias("r"))
        .orderBy("d")
        .collect()
    )
    revs = [float(x["r"]) for x in daily]
    days = [x["d"] for x in daily]
    detr: dict = {}
    for i in range(3, len(revs) - 3):
        trend = round(sum(revs[i - 3:i + 4]) / 7.0, 6)
        d = round(revs[i] - trend, 6)
        detr.setdefault(days[i].isoweekday(), []).append(d)
    for r in rows:
        vals = detr[r["iso_dow"]]
        assert r["n_days"] == len(vals)
        assert abs(r["seasonal_component"] - round(sum(vals) / len(vals), 6)) < 1e-6
        rem = [abs(round(v - r["seasonal_component"], 6)) for v in vals]
        assert abs(r["mean_abs_remainder"] - round(sum(rem) / len(rem), 6)) < 1e-6
    wsum = sum(r["seasonal_component"] * r["n_days"] for r in rows)
    n = sum(r["n_days"] for r in rows)
    # detrended mean stays near zero RELATIVE to the revenue scale (the
    # centered MA absorbs the level; what's left is noise-sized)
    assert abs(wsum / n) < 0.01 * (sum(revs) / len(revs))


@needs_testdata
@pytest.mark.integration
def test_zo02_pruning_invariants(spark):
    """Both layouts cut the same row count into the same file count;
    the date-sorted layout never scans MORE files than the natural
    layout, and every row matching the predicate lives in a scanned
    file (no false pruning — checked via the raw match count)."""
    from pyspark.sql import functions as F

    from local_etl_csv_to_postgresql_spark.functions.entrypoints import (
        ZO02_FILE_ROWS,
        ZO02_PRED_HI,
        ZO02_PRED_LO,
    )
    from local_etl_csv_to_postgresql_spark.plans.analytics import load

    rows = {r["layout"]: r for r in
            QUERIES["zo02_minmax_pruning_audit"](spark, SF).collect()}
    assert set(rows) == {"natural_orderkey", "sorted_orderdate"}
    n = load(spark, SF, "orders").count()
    expected_files = -(-n // ZO02_FILE_ROWS)
    matching = (
        load(spark, SF, "orders")
        .filter(
            (F.to_date("o_orderdate") >= F.lit(ZO02_PRED_LO))
            & (F.to_date("o_orderdate") < F.lit(ZO02_PRED_HI))
        )
        .count()
    )
    for r in rows.values():
        assert r["n_files"] == expected_files
        assert r["n_files_scanned"] <= r["n_files"]
        assert r["n_rows_scanned"] >= matching
        assert 0.0 <= r["prune_pct"] <= 1.0
    assert (
        rows["sorted_orderdate"]["n_files_scanned"]
        <= rows["natural_orderkey"]["n_files_scanned"]
    )


@needs_testdata
@pytest.mark.integration
def test_rk02_spearman_python_ref(spark):
    """Replay the statistic in pure Python from the exact supplier
    totals: same head, same tie-broken ranks, same rho."""
    from pyspark.sql import functions as F

    from local_etl_csv_to_postgresql_spark.functions.entrypoints import (
        RK02_TOP_K,
    )
    from local_etl_csv_to_postgresql_spark.plans.analytics import dec, load

    row = QUERIES["rk02_spearman_rank_agreement"](spark, SF).collect()[0]
    totals = (
        load(spark, SF, "lineitem")
        .groupBy("l_suppkey")
        .agg(
            F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))
            .alias("rev"),
            F.sum(dec("l_quantity")).alias("qty"),
        )
        .collect()
    )
    head = sorted(totals, key=lambda r: (-r["rev"], r["l_suppkey"]))[
        :RK02_TOP_K
    ]
    rr = {r["l_suppkey"]: i + 1 for i, r in enumerate(head)}
    rq = {
        r["l_suppkey"]: i + 1
        for i, r in enumerate(
            sorted(head, key=lambda r: (-r["qty"], r["l_suppkey"]))
        )
    }
    n = len(head)
    d2 = sum((rr[k] - rq[k]) ** 2 for k in rr)
    assert row["n_suppliers"] == n
    assert row["sum_d2"] == d2
    rho = round(1.0 - 6.0 * d2 / (n * (n * n - 1.0)), 6)
    assert abs(row["spearman_rho"] - rho) < 1e-9
    assert -1.0 <= row["spearman_rho"] <= 1.0


@needs_testdata
@pytest.mark.integration
def test_st17_countmin_inequality(spark):
    """The defining Count-Min property on the streamed sketch: every
    probed estimate >= its true count (cells only ever ADD), and the
    probe covers exactly the top-10 users."""
    rows = QUERIES["st17_streaming_countmin"](spark, SF).collect()
    assert len(rows) == 10
    for r in rows:
        assert r["cm_estimate"] >= r["true_count"]
        assert r["overestimate"] == r["cm_estimate"] - r["true_count"]
    counts = [r["true_count"] for r in rows]
    assert counts == sorted(counts, reverse=True)


@needs_testdata
@pytest.mark.integration
def test_st18_hll_register_bounds(spark):
    """Streamed HLL registers respect the structural bounds: occupancy
    never exceeds the register count nor the true distinct-key count
    per group; every register holds rho >= 1 (rho_sum >= occupied);
    the digest is consistent with its factors."""
    from pyspark.sql import functions as F

    from local_etl_csv_to_postgresql_spark.plans.analytics import load
    from local_etl_csv_to_postgresql_spark.streaming.queries import (
        ST18_HLL_M,
    )

    rows = QUERIES["st18_streaming_hll_registers"](spark, SF).collect()
    assert rows
    truth = {
        r["event_type"]: r["nd"]
        for r in load(spark, SF, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("nd"))
        .collect()
    }
    assert {r["event_type"] for r in rows} == set(truth)
    for r in rows:
        assert 1 <= r["occupied"] <= min(ST18_HLL_M, truth[r["event_type"]])
        assert r["rho_sum"] >= r["occupied"]
        assert r["occupied"] * 1 <= r["bucket_weighted_digest"] <= (
            ST18_HLL_M * r["rho_sum"]
        )


@needs_testdata
@pytest.mark.integration
def test_ss07_reservoir_python_ref(spark):
    """Replay the reservoir in pure Python (hashlib md5 bottom-K per
    language): membership digests and KMV thresholds must match, and
    the reservoir must be growth-stable (recomputing over a PREFIX of
    the corpus keeps every member whose hash beats the new threshold)."""
    import hashlib

    from local_etl_csv_to_postgresql_spark.functions.entrypoints import (
        SS07_RESERVOIR_K,
    )
    from local_etl_csv_to_postgresql_spark.plans.analytics import load

    rows = {r["lang"]: r for r in
            QUERIES["ss07_stratified_reservoir"](spark, SF).collect()}
    docs = load(spark, SF, "documents").select("lang", "doc_id").collect()
    by_lang: dict = {}
    for d in docs:
        h = int(hashlib.md5(str(d["doc_id"]).encode()).hexdigest()[:15], 16)
        by_lang.setdefault(d["lang"], []).append((h, d["doc_id"]))
    assert set(rows) == set(by_lang)
    for lang, pop in by_lang.items():
        res = sorted(pop)[:SS07_RESERVOIR_K]
        r = rows[lang]
        assert r["n_docs"] == len(pop)
        assert r["reservoir_size"] == min(SS07_RESERVOIR_K, len(pop))
        assert r["reservoir_docid_sum"] == sum(i for _, i in res)
        assert r["kmv_threshold"] == max(h for h, _ in res)


@needs_testdata
@pytest.mark.integration
def test_en02_gibbs_inequality(spark):
    """Conditioning never increases entropy (Gibbs): info_gain >= 0
    (within the 6-dp rounding) for every language; both entropies are
    non-negative and bounded by log2(vocab)."""
    from pyspark.sql import functions as F

    from local_etl_csv_to_postgresql_spark.functions.entrypoints import (
        _docs_words,
    )

    rows = QUERIES["en02_bigram_conditional_entropy"](spark, SF).collect()
    assert rows
    vocab_by_lang = {
        r["lang"]: r["v"]
        for r in _docs_words(spark, SF)
        .select("lang", F.explode("__words").alias("t"))
        .groupBy("lang")
        .agg(F.countDistinct("t").alias("v"))
        .collect()
    }
    for r in rows:
        assert r["info_gain"] >= -1e-6
        assert 0.0 <= r["h_conditional"] <= r["h_unigram"] + 1e-6
        assert r["h_unigram"] <= math.log2(vocab_by_lang[r["lang"]]) + 1e-6


@needs_testdata
@pytest.mark.integration
def test_scd02_version_routing(spark):
    """Every lineitem routes to exactly one dimension version (the
    per-cohort line counts partition the fact table); version 2 exists
    only for the re-priced cohort; version-1 lines for that cohort all
    shipped before the cutover."""
    from pyspark.sql import functions as F

    from local_etl_csv_to_postgresql_spark.functions.entrypoints import (
        SCD02_CUTOVER,
    )
    from local_etl_csv_to_postgresql_spark.plans.analytics import load

    rows = QUERIES["scd02_point_in_time_join"](spark, SF).collect()
    li = load(spark, SF, "lineitem")
    assert sum(r["n_lines"] for r in rows) == li.count()
    v2 = [r for r in rows if r["version"] == 2]
    assert v2 and all(r["repriced_cohort"] for r in v2)
    v1_seventh = [
        r for r in rows if r["version"] == 1 and r["repriced_cohort"]
    ]
    expected_pre = li.filter(
        (F.col("l_suppkey") % 7 == 0)
        & (F.to_date("l_shipdate") < F.lit(SCD02_CUTOVER))
    ).count()
    assert sum(r["n_lines"] for r in v1_seventh) == expected_pre


@needs_testdata
@pytest.mark.integration
def test_es18_cell_balance_invariants(spark):
    """Cells partition the embedding set exactly; shares sum to 1;
    every centroid's own vector sits in its own cell at cosine 1.0
    (so each of the 16 cells exists and its min <= 1.0 <= recorded
    bounds hold)."""
    from local_etl_csv_to_postgresql_spark.plans.analytics import load

    rows = QUERIES["es18_ivf_cell_balance"](spark, SF).collect()
    n = load(spark, SF, "embeddings").count()
    assert sum(r["n_vectors"] for r in rows) == n
    assert abs(sum(r["cell_share"] for r in rows) - 1.0) < 1e-4
    assert {r["cell"] for r in rows} == set(range(16))
    for r in rows:
        assert r["min_coherence"] <= r["mean_coherence"] <= 1.0
        assert r["n_vectors"] >= 1  # at least the centroid itself


@needs_testdata
@pytest.mark.integration
def test_dd20_histogram_partitions_corpus(spark):
    """The size histogram partitions the corpus exactly: sum of n_docs
    equals the document count, dedup savings equals docs minus
    clusters, and the histogram matches a direct recompute from the
    shared component labels."""
    from local_etl_csv_to_postgresql_spark.functions.entrypoints import (
        _neardup_components,
    )
    from local_etl_csv_to_postgresql_spark.plans.analytics import load

    rows = QUERIES["dd20_cluster_size_histogram"](spark, SF).collect()
    n_docs = load(spark, SF, "documents").count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    n_clusters = sum(r["n_clusters"] for r in rows)
    assert sum(r["dedup_savings"] for r in rows) == n_docs - n_clusters
    comps = _neardup_components(spark, SF).collect()
    sizes: dict = {}
    for c in comps:
        sizes[c["component"]] = sizes.get(c["component"], 0) + 1
    hist: dict = {}
    for s in sizes.values():
        hist[s] = hist.get(s, 0) + 1
    assert {r["cluster_size"]: r["n_clusters"] for r in rows} == hist
    assert any(r["cluster_size"] >= 2 for r in rows)  # non-vacuous


@needs_testdata
@pytest.mark.integration
def test_ct05_exposure_python_ref(spark):
    """Replay the span-level exposure in pure Python: same tokenizer
    regex, same 7-gram positions, same md5-prefix units, same
    cross-source sharing rule — per-source position counts and
    affected-doc counts must match exactly."""
    import hashlib
    import re

    from local_etl_csv_to_postgresql_spark.functions.entrypoints import (
        CONTAM_NGRAM,
    )
    from local_etl_csv_to_postgresql_spark.plans.analytics import load

    rows = {r["source"]: r for r in
            QUERIES["ct05_span_decontamination_exposure"](spark, SF).collect()}
    docs = load(spark, SF, "documents").select(
        "doc_id", "source", "text"
    ).collect()
    n = CONTAM_NGRAM
    pos: list = []  # (doc_id, source, unit)
    for d in docs:
        words = re.findall(r"[a-z0-9]+", d["text"].lower())
        for i in range(len(words) - n + 1):
            g = " ".join(words[i:i + n])
            u = hashlib.md5(g.encode()).hexdigest()[:15]
            pos.append((d["doc_id"], d["source"], u))
    by_unit: dict = {}
    for _, src, u in pos:
        by_unit.setdefault(u, set()).add(src)
    shared = {u for u, srcs in by_unit.items() if len(srcs) >= 2}
    assert shared  # non-vacuous: cross-source contamination exists
    stats: dict = {}
    per_doc: dict = {}
    for doc_id, src, u in pos:
        t, b = per_doc.get((doc_id, src), (0, 0))
        per_doc[(doc_id, src)] = (t + 1, b + (1 if u in shared else 0))
    for (doc_id, src), (t, b) in per_doc.items():
        s = stats.setdefault(src, [0, 0, 0, 0])  # docs, affected, tot, bad
        s[0] += 1
        s[1] += 1 if b else 0
        s[2] += t
        s[3] += b
    assert set(rows) == set(stats)
    for src, (nd, aff, tot, bad) in stats.items():
        r = rows[src]
        assert r["n_docs"] == nd
        assert r["docs_affected"] == aff
        assert r["total_gram_positions"] == tot
        assert r["contaminated_positions"] == bad
        assert abs(r["redaction_fraction"] - round(bad / tot, 6)) < 1e-9


@needs_testdata
@pytest.mark.integration
def test_st19_bloom_no_false_negatives(spark):
    """The defining Bloom property on the streamed filter: every corpus
    fingerprint's k bit positions are SET in the final word table
    (bitwise-OR merge can only add bits), and each word's bits_set is
    its popcount."""
    import hashlib

    from local_etl_csv_to_postgresql_spark.plans.analytics import load
    from local_etl_csv_to_postgresql_spark.streaming.queries import (
        ST19_K,
        ST19_M_BITS,
    )

    rows = {r["word_index"]: r for r in
            QUERIES["st19_streaming_bloom_filter"](spark, SF).collect()}
    for r in rows.values():
        assert r["bits_set"] == bin(r["word"] & ((1 << 64) - 1)).count("1")
    import re

    docs = load(spark, SF, "documents").select("text").collect()
    for d in docs[:100]:
        fp = hashlib.md5(
            re.sub(r"[^a-z0-9]+", "", d["text"].lower()).encode()
        ).hexdigest()
        for i in range(ST19_K):
            h = int(
                hashlib.md5(f"bf{i}:{fp}".encode()).hexdigest()[:15], 16
            ) % ST19_M_BITS
            widx, bit = h // 32, h % 32
            assert widx in rows and (rows[widx]["word"] >> bit) & 1 == 1


@needs_testdata
@pytest.mark.integration
def test_cm02_width_monotonicity(spark):
    """Wider sketches can only help: mean and max overestimate are
    non-increasing in width (same data, same depth, same hash family),
    and every overestimate is >= 0 (the CM inequality)."""
    rows = sorted(
        QUERIES["cm02_countmin_width_sweep"](spark, SF).collect(),
        key=lambda r: r["width"],
    )
    assert [r["width"] for r in rows] == [128, 512, 2048]
    for r in rows:
        assert r["n_probes"] == 10
        assert r["mean_overestimate"] >= 0.0
        assert r["max_overestimate"] >= 0
    means = [r["mean_overestimate"] for r in rows]
    assert means[0] >= means[1] >= means[2]
    maxes = [r["max_overestimate"] for r in rows]
    assert maxes[0] >= maxes[1] >= maxes[2]


@needs_testdata
@pytest.mark.integration
def test_pk03_curve_consistency(spark):
    """The curve is consistent with pk01 at the shared 512 budget (same
    greedy rule, so total bins match pk01's per-language sum); doubling
    the context can only reduce or keep the bin count; token totals are
    budget-invariant."""
    rows = {r["context_len"]: r for r in
            QUERIES["pk03_context_length_curve"](spark, SF).collect()}
    assert set(rows) == {512, 1024, 2048}
    pk01 = QUERIES["pk01_sequence_packing"](spark, SF).collect()
    assert rows[512]["n_bins"] == sum(r["n_bins"] for r in pk01)
    assert rows[512]["n_bins"] >= rows[1024]["n_bins"] >= rows[2048]["n_bins"]
    totals = {r["total_tokens"] for r in rows.values()}
    assert len(totals) == 1
    for r in rows.values():
        assert 0.0 < r["fill_ratio"] <= 1.0


@needs_testdata
@pytest.mark.integration
def test_dd21_band_nesting(spark):
    """The nested band grid guarantees candidate containment: coarser
    geometries (fewer bands, longer rows) can only produce SUBSETS of
    finer ones — n_candidates is non-decreasing in n_bands, verified
    counts likewise, and precision is non-increasing (looser gates let
    more non-dups through)."""
    rows = sorted(
        QUERIES["dd21_lsh_band_sweep"](spark, SF).collect(),
        key=lambda r: r["n_bands"],
    )
    assert [r["n_bands"] for r in rows] == [2, 4, 8]
    assert [r["rows_per_band"] for r in rows] == [8, 4, 2]
    cands = [r["n_candidates"] for r in rows]
    assert cands == sorted(cands)
    ver = [r["n_verified"] for r in rows]
    assert ver == sorted(ver)
    assert rows[-1]["n_candidates"] > 0  # non-vacuous at 8 bands
    for r in rows:
        assert r["n_verified"] <= r["n_candidates"]


@needs_testdata
@pytest.mark.integration
def test_px02_roundtrip_exactness(spark):
    """Injection accounting is exact: every injected email is found
    (found == injected per source — the scanner provably fires), zero
    residue survives redaction, and the char delta matches the
    replaced-span arithmetic in pure Python."""
    from local_etl_csv_to_postgresql_spark.functions.entrypoints import (
        PX02_EVERY,
    )
    from local_etl_csv_to_postgresql_spark.plans.analytics import load

    rows = QUERIES["px02_pii_injection_roundtrip"](spark, SF).collect()
    assert sum(r["n_injected"] for r in rows) > 0
    docs = load(spark, SF, "documents").select("source", "doc_id").collect()
    expected: dict = {}
    deltas: dict = {}
    for d in docs:
        if d["doc_id"] % PX02_EVERY == 0:
            expected[d["source"]] = expected.get(d["source"], 0) + 1
            email = f"user{d['doc_id']}@example.com"
            deltas[d["source"]] = deltas.get(d["source"], 0) + (
                len(email) - len("[PII]")
            )
    for r in rows:
        assert r["emails_found"] == r["n_injected"] == expected.get(
            r["source"], 0
        )
        assert r["residue_after_redact"] == 0
        assert r["redaction_char_delta"] == deltas.get(r["source"], 0)


@needs_testdata
@pytest.mark.integration
def test_dp02_clip_curve_monotonicity(spark):
    """Looser bounds clip fewer users and retain more mass: per type,
    n_clipped is non-increasing and retained fraction non-decreasing
    in the multiplier; retained == 1.0 exactly when nobody clips."""
    rows = QUERIES["dp02_clip_bound_sweep"](spark, SF).collect()
    by_type: dict = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    assert by_type
    for rs in by_type.values():
        rs.sort(key=lambda r: r["bound_multiplier"])
        assert [r["bound_multiplier"] for r in rs] == [1, 2, 4]
        clipped = [r["n_clipped_users"] for r in rs]
        assert clipped == sorted(clipped, reverse=True)
        retained = [r["retained_mass_fraction"] for r in rs]
        assert retained == sorted(retained)
        for r in rs:
            if r["n_clipped_users"] == 0:
                assert r["retained_mass_fraction"] == 1.0
            else:
                assert r["retained_mass_fraction"] < 1.0


@needs_testdata
@pytest.mark.integration
def test_ret02_retention_python_ref(spark):
    """Replay the fixed-horizon retention in pure Python from the
    distinct (user, day) activity table: cohort sizes, retained counts
    per horizon, and the D1 >= exact-day semantics all match."""
    from pyspark.sql import functions as F

    from local_etl_csv_to_postgresql_spark.functions.entrypoints import (
        RET02_HORIZONS,
    )
    from local_etl_csv_to_postgresql_spark.plans.analytics import load

    rows = {r["cohort_day"].date(): r for r in
            QUERIES["ret02_fixed_horizon_retention"](spark, SF).collect()}
    days = (
        load(spark, SF, "events")
        .select("user_id", F.to_date("ts").alias("d"))
        .distinct()
        .collect()
    )
    by_user: dict = {}
    for r in days:
        by_user.setdefault(r["user_id"], set()).add(r["d"])
    import datetime

    stats: dict = {}
    for u, ds in by_user.items():
        d0 = min(ds)
        s = stats.setdefault(d0, [0] + [0] * len(RET02_HORIZONS))
        s[0] += 1
        for i, h in enumerate(RET02_HORIZONS):
            if d0 + datetime.timedelta(days=h) in ds:
                s[i + 1] += 1
    assert set(rows) == set(stats)
    for d0, s in stats.items():
        r = rows[d0]
        assert r["cohort_size"] == s[0]
        for i, h in enumerate(RET02_HORIZONS):
            assert r[f"d{h}_retained"] == s[i + 1]
            assert 0.0 <= r[f"d{h}_pct"] <= 100.0


@needs_testdata
@pytest.mark.integration
def test_es19_bit_monotonicity(spark):
    """More bits can only reconstruct better: avg and max MSE strictly
    ordered across 2/4/8 bits on real embeddings (non-degenerate
    vectors), and 8-bit matches es07's int8 convention (same levels)."""
    rows = sorted(
        QUERIES["es19_quantization_bit_sweep"](spark, SF).collect(),
        key=lambda r: r["bits"],
    )
    assert [r["bits"] for r in rows] == [2, 4, 8]
    assert [r["levels"] for r in rows] == [1, 7, 127]
    avgs = [r["avg_mse"] for r in rows]
    assert avgs[0] > avgs[1] > avgs[2] >= 0.0
    maxes = [r["max_mse"] for r in rows]
    assert maxes[0] >= maxes[1] >= maxes[2] >= 0.0
    ns = {r["n_vecs"] for r in rows}
    assert len(ns) == 1


@needs_testdata
@pytest.mark.integration
def test_aj03_nearest_python_ref(spark):
    """Replay the nearest-as-of in pure Python: for every purchase the
    chosen click minimizes |gap| within tolerance with the prior-wins
    tie rule; purchases with no click in range stay null; the signed
    gap's sign matches the direction label."""
    from pyspark.sql import functions as F

    from local_etl_csv_to_postgresql_spark.functions.entrypoints import (
        AJ03_TOLERANCE_S,
    )
    from local_etl_csv_to_postgresql_spark.plans.analytics import load

    rows = QUERIES["aj03_asof_nearest_join"](spark, SF).collect()
    assert rows
    ev = load(spark, SF, "events").select(
        "event_id", "user_id", "event_type", F.col("ts").cast("long").alias("t")
    ).collect()
    clicks: dict = {}
    for e in ev:
        if e["event_type"] == "click":
            clicks.setdefault(e["user_id"], []).append((e["t"], e["event_id"]))
    purchases = {e["event_id"]: e for e in ev if e["event_type"] == "purchase"}
    n_matched = 0
    for r in rows:
        p = purchases[r["purchase_id"]]
        cand = [
            (abs(p["t"] - t), 0 if t <= p["t"] else 1,
             -cid if t <= p["t"] else cid, cid, p["t"] - t)
            for t, cid in clicks.get(p["user_id"], [])
            if abs(p["t"] - t) <= AJ03_TOLERANCE_S
        ]
        if not cand:
            assert r["nearest_click_id"] is None
            assert r["direction"] is None
            continue
        n_matched += 1
        best = min(cand)
        assert r["nearest_click_id"] == best[3]
        assert r["signed_gap_seconds"] == -best[4]
        assert r["direction"] == ("prior" if best[1] == 0 else "next")
        if r["direction"] == "prior":
            assert r["signed_gap_seconds"] <= 0
        else:
            assert r["signed_gap_seconds"] > 0
    assert n_matched > 0  # non-vacuous


@needs_testdata
@pytest.mark.integration
def test_cur03_funnel_monotone(spark):
    """Funnel stages only shrink; the perplexity gate keeps exactly the
    head+middle terciles globally (2/3 of scored, within NTILE's ±1);
    the funnel is non-vacuous end-to-end."""
    rows = QUERIES["cur03_perplexity_curation_funnel"](spark, SF).collect()
    assert rows
    for r in rows:
        assert (
            r["n_docs"] >= r["n_scored"] >= r["n_good_ppl"]
            >= r["n_decontaminated"] >= r["n_final"] >= 0
        )
        assert 0.0 <= r["retention"] <= 1.0
    scored = sum(r["n_scored"] for r in rows)
    kept = sum(r["n_good_ppl"] for r in rows)
    q = scored // 3
    expected = scored - q  # buckets 1+2 under NTILE remainder rules
    assert abs(kept - expected) <= 1
    assert sum(r["n_final"] for r in rows) > 0


@needs_testdata
@pytest.mark.integration
def test_gr07_communities_python_ref(spark):
    """Union-find replay over the exact co-purchase edge set: the
    community-size histogram must match, sizes partition the part
    table, and at least one genuine (size >= 2) community exists."""
    from local_etl_csv_to_postgresql_spark.functions.entrypoints import (
        _gr05_copurchase_edges,
    )
    from local_etl_csv_to_postgresql_spark.plans.analytics import load

    rows = QUERIES["gr07_copurchase_communities"](spark, SF).collect()
    parts = [r["p_partkey"] for r in
             load(spark, SF, "part").select("p_partkey").collect()]
    edges = [(r["id_a"], r["id_b"]) for r in
             _gr05_copurchase_edges(spark, SF).collect()]
    parent = {p: p for p in parts}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp_sizes: dict = {}
    for p in parts:
        r = find(p)
        comp_sizes[r] = comp_sizes.get(r, 0) + 1
    hist: dict = {}
    for sz in comp_sizes.values():
        hist[sz] = hist.get(sz, 0) + 1
    assert {r["community_size"]: r["n_communities"] for r in rows} == hist
    assert sum(r["n_parts"] for r in rows) == len(parts)
    assert any(r["community_size"] >= 2 for r in rows)


@needs_testdata
@pytest.mark.integration
def test_mm09_manifest_invariants(spark):
    """Shares form a distribution (sum 1, cumulative ends at 1, ordered
    by byte mass); payload counts partition the corpus; shard counts
    are the exact ceiling of bytes over the budget."""
    from local_etl_csv_to_postgresql_spark.functions.entrypoints import (
        MM09_SHARD_BYTES,
    )
    from local_etl_csv_to_postgresql_spark.plans.analytics import load

    rows = QUERIES["mm09_modality_budget_manifest"](spark, SF).collect()
    assert rows
    assert sum(r["n_payloads"] for r in rows) == (
        load(spark, SF, "documents").count()
    )
    assert abs(sum(r["byte_share"] for r in rows) - 1.0) < 1e-4
    assert abs(rows[-1]["cum_byte_share"] - 1.0) < 1e-6
    masses = [r["total_bytes"] for r in rows]
    assert masses == sorted(masses, reverse=True)
    for r in rows:
        expected = -(-r["total_bytes"] // MM09_SHARD_BYTES)
        assert r["n_shards"] == expected


@needs_testdata
@pytest.mark.integration
def test_inc04_compaction_wins(spark):
    """Compaction strictly helps on every audited axis: fewer files,
    larger mean files, no higher small-file fraction, and no more
    files opened for the one-month predicate; both layouts hold the
    same row mass."""
    from local_etl_csv_to_postgresql_spark.plans.analytics import load

    rows = {r["layout"]: r for r in
            QUERIES["inc04_compaction_audit"](spark, SF).collect()}
    assert set(rows) == {"append_per_batch", "compacted"}
    a, c = rows["append_per_batch"], rows["compacted"]
    n = load(spark, SF, "orders").count()
    for r in (a, c):
        assert abs(r["n_files"] * r["avg_rows_per_file"] - n) < 0.5 * (
            r["n_files"]
        )
        assert 0.0 <= r["small_file_fraction"] <= 1.0
    assert c["n_files"] < a["n_files"]
    assert c["avg_rows_per_file"] > a["avg_rows_per_file"]
    assert c["small_file_fraction"] <= a["small_file_fraction"]
    assert c["files_for_audit_month"] <= a["files_for_audit_month"]
    assert a["files_for_audit_month"] >= 1


@needs_testdata
@pytest.mark.integration
def test_cdc01_classification_replay(spark):
    """The four classes partition the key union, and every count is
    replayed exactly from the snapshot definitions in pure Python:
    deleted = old keys divisible by the purge modulus, updated = common
    keys restated (priority flip OR +1.00 correction), and the price
    delta of the 'updated' class is exactly 1.00 x the restated-price
    rows plus nothing else (priority-only flips contribute 0)."""
    from pyspark.sql import functions as F

    from local_etl_csv_to_postgresql_spark.functions.entrypoints import (
        CDC01_DELETE_MOD,
        CDC01_NEW_CUTOFF,
        CDC01_OLD_CUTOFF,
        CDC01_RESTATE_MOD,
    )
    from local_etl_csv_to_postgresql_spark.plans.analytics import load

    rows = {r["change_type"]: r for r in
            QUERIES["cdc01_snapshot_diff"](spark, SF).collect()}
    assert set(rows) == {"inserted", "deleted", "updated", "unchanged"}

    orders = load(spark, SF, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    ).collect()
    old_keys = {r["o_orderkey"] for r in orders
                if str(r["o_orderdate"]) < CDC01_OLD_CUTOFF}
    new_keys = {r["o_orderkey"] for r in orders
                if str(r["o_orderdate"]) < CDC01_NEW_CUTOFF
                and r["o_orderkey"] % CDC01_DELETE_MOD != 0}
    prio = {r["o_orderkey"]: r["o_orderpriority"] for r in orders}
    common = old_keys & new_keys
    # a restated row is 'updated' ALWAYS: the +1.00 price correction
    # differs even when the priority was already 1-URGENT
    updated = {k for k in common if k % CDC01_RESTATE_MOD == 0}
    assert prio  # keys resolved (guards the collect above)
    assert rows["inserted"]["n_rows"] == len(new_keys - old_keys)
    assert rows["deleted"]["n_rows"] == len(old_keys - new_keys)
    assert rows["updated"]["n_rows"] == len(updated)
    assert rows["unchanged"]["n_rows"] == len(common - updated)
    assert sum(r["n_rows"] for r in rows.values()) == len(
        old_keys | new_keys
    )
    # every updated row contributes exactly +1.00; unchanged exactly 0
    assert rows["updated"]["total_price_delta"] == float(len(updated))
    assert rows["unchanged"]["total_price_delta"] == 0.0
    assert rows["deleted"]["total_price_delta"] < 0


@needs_testdata
@pytest.mark.integration
def test_lr01_matches_numpy_lstsq(spark):
    """Slope/intercept match numpy's least-squares fit per group to
    1e-6, and R^2 is the squared Pearson correlation, in [0, 1]."""
    import numpy as np

    from local_etl_csv_to_postgresql_spark.plans.analytics import load

    rows = QUERIES["lr01_ols_regression"](spark, SF).collect()
    assert len(rows) == 3
    li = load(spark, SF, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    ).collect()
    for r in rows:
        xs = np.array([float(round(v["l_quantity"], 2)) for v in li
                       if v["l_returnflag"] == r["l_returnflag"]])
        ys = np.array([float(round(v["l_extendedprice"], 2)) for v in li
                       if v["l_returnflag"] == r["l_returnflag"]])
        assert r["n_rows"] == len(xs)
        slope, intercept = np.polyfit(xs, ys, 1)
        assert abs(r["slope"] - slope) < 1e-4
        assert abs(r["intercept"] - intercept) < 1e-2
        corr = np.corrcoef(xs, ys)[0, 1]
        assert abs(r["r2"] - corr * corr) < 1e-6
        assert 0.0 <= r["r2"] <= 1.0


@needs_testdata
@pytest.mark.integration
def test_gini01_python_replay(spark):
    """Gini per segment replays exactly from the collected customer
    revenues (same ascending rank formula), lands in [0, 1), and the
    segment customer counts partition the ordering customers."""
    from local_etl_csv_to_postgresql_spark.plans.analytics import load

    rows = QUERIES["gini01_revenue_concentration"](spark, SF).collect()
    assert len(rows) >= 2
    orders = load(spark, SF, "orders").select(
        "o_custkey", "o_totalprice"
    ).collect()
    cust = {r["c_custkey"]: r["c_mktsegment"] for r in
            load(spark, SF, "customer").collect()}
    rev: dict = {}
    for o in orders:
        rev[o["o_custkey"]] = round(
            rev.get(o["o_custkey"], 0.0) + round(o["o_totalprice"], 2), 2
        )
    assert sum(r["n_customers"] for r in rows) == len(rev)
    for r in rows:
        xs = sorted((v, k) for k, v in rev.items()
                    if cust[k] == r["mktsegment"])
        n = len(xs)
        s = sum(v for v, _ in xs)
        w = sum(i * v for i, (v, _) in enumerate(xs, start=1))
        g = 2 * w / (n * s) - (n + 1) / n
        assert r["n_customers"] == n
        assert abs(r["gini"] - g) < 1e-6
        assert 0.0 <= r["gini"] < 1.0


@needs_testdata
@pytest.mark.integration
def test_ses01_python_replay(spark):
    """Replay the gap sessionization in pure Python over the raw
    events: the bucketed session counts, event totals and max
    durations must match exactly, every event lands in exactly one
    session, and every user contributes at least one session."""
    from pyspark.sql import functions as F

    from local_etl_csv_to_postgresql_spark.functions.entrypoints import (
        SES01_GAP_US,
    )
    from local_etl_csv_to_postgresql_spark.plans.analytics import load

    rows = QUERIES["ses01_gap_sessionization"](spark, SF).collect()
    ev = (
        load(spark, SF, "events")
        .select("user_id", "event_id", F.unix_micros("ts").alias("us"))
        .collect()
    )
    by_user: dict = {}
    for e in ev:
        by_user.setdefault(e["user_id"], []).append((e["us"], e["event_id"]))
    sessions = []
    for seq in by_user.values():
        seq.sort()
        cur = [seq[0]]
        for prev, nxt in zip(seq, seq[1:]):
            if nxt[0] - prev[0] > SES01_GAP_US:
                sessions.append(cur)
                cur = []
            cur.append(nxt)
        sessions.append(cur)
    assert sum(len(s) for s in sessions) == len(ev)
    assert len(sessions) >= len(by_user)

    def bucket(n: int) -> str:
        return "1" if n == 1 else "2-3" if n <= 3 else "4-7" if n <= 7 else "8+"

    expect: dict = {}
    for s in sessions:
        b = bucket(len(s))
        n_sess, n_ev, mx = expect.get(b, (0, 0, 0))
        dur = s[-1][0] - s[0][0]
        expect[b] = (n_sess + 1, n_ev + len(s), max(mx, dur))
    assert {r["session_size"] for r in rows} == set(expect)
    for r in rows:
        n_sess, n_ev, mx = expect[r["session_size"]]
        assert r["n_sessions"] == n_sess
        assert r["n_events"] == n_ev
        assert abs(r["max_duration_sec"] - mx / 1e6) < 1e-3


@needs_testdata
@pytest.mark.integration
def test_ar01_rule_identities(spark):
    """Association-rule identities hold on every pair: confidences in
    (0, 1], n_pair bounded by both antecedent counts, the two
    directional confidences agree with lift through the same n_pair
    (lift = conf_ab / (nb / N) = conf_ba / (na / N)), and the pair
    census replayed in pure Python from the (order, brand) sets
    matches exactly."""
    import itertools

    from local_etl_csv_to_postgresql_spark.plans.analytics import load

    rows = QUERIES["ar01_brand_association_rules"](spark, SF).collect()
    assert rows
    li = load(spark, SF, "lineitem").select("l_orderkey", "l_partkey").collect()
    pt = load(spark, SF, "part").select("p_partkey", "p_brand").collect()
    brand_of = {p["p_partkey"]: p["p_brand"] for p in pt}
    baskets: dict = {}
    for l in li:
        baskets.setdefault(l["l_orderkey"], set()).add(brand_of[l["l_partkey"]])
    n_orders = len(baskets)
    brand_n: dict = {}
    pair_n: dict = {}
    for basket in baskets.values():
        for b in basket:
            brand_n[b] = brand_n.get(b, 0) + 1
        for a, b in itertools.combinations(sorted(basket), 2):
            pair_n[(a, b)] = pair_n.get((a, b), 0) + 1
    assert len(rows) == len(pair_n)
    for r in rows:
        np_ = pair_n[(r["brand_a"], r["brand_b"])]
        na, nb = brand_n[r["brand_a"]], brand_n[r["brand_b"]]
        assert r["n_pair"] == np_
        assert 0 < r["confidence_a_b"] <= 1 and 0 < r["confidence_b_a"] <= 1
        assert np_ <= min(na, nb)
        assert abs(r["support"] - np_ / n_orders) < 1e-6
        assert abs(r["confidence_a_b"] - np_ / na) < 1e-6
        assert abs(r["confidence_b_a"] - np_ / nb) < 1e-6
        assert abs(r["lift"] - np_ * n_orders / (na * nb)) < 1e-6


@needs_testdata
@pytest.mark.integration
def test_dq03_benford_shares(spark):
    """Per column: the digit counts cover every source row, observed
    shares sum to 1, the Benford expectation matches math.log10(1+1/d)
    to rounding, chi-square terms are non-negative, and the digit
    census replayed from the raw cents in Python matches exactly."""
    from local_etl_csv_to_postgresql_spark.plans.analytics import load

    rows = QUERIES["dq03_benford_digit_audit"](spark, SF).collect()
    cols = {r["column_name"] for r in rows}
    assert cols == {"lineitem.l_extendedprice", "orders.o_totalprice"}
    table_of = {
        "lineitem.l_extendedprice": ("lineitem", "l_extendedprice"),
        "orders.o_totalprice": ("orders", "o_totalprice"),
    }
    for cname in cols:
        sub = [r for r in rows if r["column_name"] == cname]
        tbl, col = table_of[cname]
        vals = [v[col] for v in load(spark, SF, tbl).select(col).collect()]
        census: dict = {}
        for v in vals:
            d = int(str(int(math.floor(v * 100)))[0])
            census[d] = census.get(d, 0) + 1
        assert sum(r["n_rows"] for r in sub) == len(vals)
        assert abs(sum(r["obs_share"] for r in sub) - 1.0) < 1e-4
        for r in sub:
            assert r["n_rows"] == census[r["digit"]]
            assert abs(
                r["benford_share"] - math.log10(1 + 1 / r["digit"])
            ) < 1e-6
            assert r["chi2_term"] >= 0.0


@needs_testdata
@pytest.mark.integration
def test_pv01_pivot_matches_unpivoted_counts(spark):
    """The pivoted cells must tile the orders table exactly: row sums
    of the three status counts equal the per-priority totals, grand
    total equals the table count, and each cell matches a direct
    filtered aggregate."""
    from pyspark.sql import functions as F

    from local_etl_csv_to_postgresql_spark.plans.analytics import load

    rows = QUERIES["pv01_status_pivot"](spark, SF).collect()
    orders = load(spark, SF, "orders")
    direct = {
        (r["o_orderpriority"], r["o_orderstatus"]): r["n"]
        for r in orders.groupBy("o_orderpriority", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert len(rows) == 5
    grand = 0
    for r in rows:
        for status, col in (("F", "n_f"), ("O", "n_o"), ("P", "n_p")):
            assert r[col] == direct.get((r["priority"], status), 0)
            grand += r[col]
    assert grand == orders.count()


@needs_testdata
@pytest.mark.integration
def test_ewma01_python_replay(spark):
    """Replay the dyadic EWMA in pure Python from the monthly revenue
    table: every smoothed value matches to the cent, n_terms is
    min(month index, W), and the smoother converges toward the raw
    series (full-history months weight the current month by
    2^(W-1)/(2^W - 1) ≈ 1/2)."""
    from pyspark.sql import functions as F

    from local_etl_csv_to_postgresql_spark.functions.entrypoints import (
        EWMA01_WINDOW,
    )
    from local_etl_csv_to_postgresql_spark.plans.analytics import dec, load

    rows = QUERIES["ewma01_revenue_smoothing"](spark, SF).collect()
    monthly = sorted(
        (
            (r["month"], r["rev"])
            for r in load(spark, SF, "orders")
            .groupBy(F.date_trunc("month", F.col("o_orderdate")).alias("month"))
            .agg(F.sum(dec("o_totalprice")).alias("rev"))
            .collect()
        ),
    )
    assert len(rows) == len(monthly)
    series = [float(v) for _, v in monthly]
    for t, r in enumerate(rows):
        assert r["month"] == monthly[t][0]
        lo = max(0, t - EWMA01_WINDOW + 1)
        hist = series[lo : t + 1]
        wts = [2 ** (EWMA01_WINDOW - 1 - i) for i in range(len(hist))][::-1]
        # wts reversed: most recent month gets 2^(W-1)
        num = sum(v * w for v, w in zip(hist, wts))
        den = sum(wts)
        assert r["n_terms"] == len(hist) == min(t + 1, EWMA01_WINDOW)
        assert abs(r["ewma_revenue"] - num / den) < 0.02
        assert abs(r["revenue"] - series[t]) < 0.005


@needs_testdata
@pytest.mark.integration
def test_tm01_migration_marginals(spark):
    """The migration matrix's marginals are consistent: every decile
    pair is within 1..10, origin shares sum to 1 per origin decile,
    the matrix total equals the number of customers active in both
    years, and the 1996 marginal matches a directly computed NTILE
    decile census restricted to the joined population."""
    from pyspark.sql import functions as F

    from local_etl_csv_to_postgresql_spark.plans.analytics import load

    rows = QUERIES["tm01_spend_decile_migration"](spark, SF).collect()
    assert rows
    orders = load(spark, SF, "orders")

    def custs(lo: str, hi: str) -> set:
        return {
            r["o_custkey"]
            for r in orders.filter(
                (F.col("o_orderdate") >= F.lit(lo))
                & (F.col("o_orderdate") < F.lit(hi))
            )
            .select("o_custkey")
            .distinct()
            .collect()
        }

    both = custs("1996-01-01", "1997-01-01") & custs(
        "1997-01-01", "1998-01-01"
    )
    assert sum(r["n_customers"] for r in rows) == len(both)
    shares: dict = {}
    for r in rows:
        assert 1 <= r["decile_1996"] <= 10 and 1 <= r["decile_1997"] <= 10
        shares.setdefault(r["decile_1996"], 0.0)
        shares[r["decile_1996"]] += r["origin_share"]
    for v in shares.values():
        assert abs(v - 1.0) < 1e-3


@needs_testdata
@pytest.mark.integration
def test_se01_merged_read_semantics(spark):
    """The merged read must cover every order exactly once: total rows
    equal the orders count, null-priority rows are exactly the even
    keys (the pre-schema batch), each named priority carries only odd
    keys, and per-priority revenue matches a direct filtered sum."""
    from pyspark.sql import functions as F

    from local_etl_csv_to_postgresql_spark.plans.analytics import dec, load

    rows = QUERIES["se01_schema_evolution_read"](spark, SF).collect()
    orders = load(spark, SF, "orders")
    n_orders = orders.count()
    n_even = orders.filter(F.col("o_orderkey") % 2 == 0).count()
    assert sum(r["n_orders"] for r in rows) == n_orders
    pre = [r for r in rows if r["priority"] == "<pre-schema>"]
    assert len(pre) == 1 and pre[0]["n_orders"] == n_even
    assert pre[0]["n_null_priority"] == n_even
    for r in rows:
        if r["priority"] == "<pre-schema>":
            continue
        assert r["n_null_priority"] == 0
        direct = (
            orders.filter(
                (F.col("o_orderkey") % 2 == 1)
                & (F.col("o_orderpriority") == r["priority"])
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum(dec("o_totalprice")).cast("double"), 2)
                .alias("rev"),
            )
            .collect()[0]
        )
        assert r["n_orders"] == direct["n"]
        assert abs(r["revenue"] - direct["rev"]) < 0.005


@needs_testdata
@pytest.mark.integration
def test_dq04_bands_partition_orders(spark):
    """Every order lands in exactly one band, headless orders are
    counted as no_lines with zero deviation, and a spot replay of the
    recompute (decimal arithmetic in Python) reproduces the banding
    rule for a sample of orders."""
    from decimal import Decimal

    from pyspark.sql import functions as F

    from local_etl_csv_to_postgresql_spark.plans.analytics import load

    rows = QUERIES["dq04_order_total_reconciliation"](spark, SF).collect()
    orders = load(spark, SF, "orders")
    li = load(spark, SF, "lineitem")
    assert sum(r["n_orders"] for r in rows) == orders.count()
    headless = (
        orders.join(
            li.select("l_orderkey").distinct(),
            orders["o_orderkey"] == F.col("l_orderkey"),
            "left_anti",
        ).count()
    )
    no_lines = [r for r in rows if r["band"] == "no_lines"]
    assert sum(r["n_orders"] for r in no_lines) == headless
    for r in no_lines:
        assert r["total_abs_deviation"] == 0.0
        assert r["max_abs_deviation"] == 0.0
    # replay the recompute for the 50 lowest order keys with lines
    sample_keys = [
        x["l_orderkey"]
        for x in li.select("l_orderkey").distinct()
        .orderBy("l_orderkey").limit(50).collect()
    ]
    lines = li.filter(F.col("l_orderkey").isin(sample_keys)).collect()
    hdr = {}
    prio = {}
    for o in orders.filter(F.col("o_orderkey").isin(sample_keys)).collect():
        hdr[o["o_orderkey"]] = Decimal(str(round(o["o_totalprice"], 2)))
        prio[o["o_orderkey"]] = o["o_orderpriority"]
    cent = Decimal("0.01")
    rec: dict = {}
    for x in lines:
        term = (
            Decimal(str(round(x["l_extendedprice"], 2)))
            * (1 - Decimal(str(round(x["l_discount"], 2))))
            * (1 + Decimal(str(round(x["l_tax"], 2))))
        )
        rec[x["l_orderkey"]] = rec.get(x["l_orderkey"], Decimal(0)) + term
    assert rec
    # aggregate the replayed sample per (priority, band) and pin it
    # against the query's full-table rows: every replayed group must
    # exist, with sample count / total / max bounded by the full
    # group's (the sample is a subset and every deviation is >= 0)
    sample_n: dict = {}
    sample_tot: dict = {}
    sample_max: dict = {}
    for k, v in rec.items():
        dev = abs(hdr[k] - v)
        band = (
            "exact" if dev <= cent
            else "cents_off" if dev <= 1 else "divergent"
        )
        g = (prio[k], band)
        sample_n[g] = sample_n.get(g, 0) + 1
        sample_tot[g] = sample_tot.get(g, Decimal(0)) + dev
        sample_max[g] = max(sample_max.get(g, Decimal(0)), dev)
    full = {(r["o_orderpriority"], r["band"]): r for r in rows}
    for g, n in sample_n.items():
        assert g in full, f"replayed group {g} missing from query output"
        assert n <= full[g]["n_orders"]
        # query totals/maxes are rounded (2 dp / 6 dp) — allow that slack
        assert float(sample_tot[g]) <= full[g]["total_abs_deviation"] + 0.01
        assert float(sample_max[g]) <= full[g]["max_abs_deviation"] + 1e-6


@needs_testdata
@pytest.mark.integration
def test_pat01_python_replay(spark):
    """Replay the shadowing rule in pure Python: per-day purchase and
    shadowed counts must match exactly, shares are in [0, 1], and a
    purchase with a concurrent (equal-timestamp) error is NOT
    shadowed (strict precedence)."""
    from pyspark.sql import functions as F

    from local_etl_csv_to_postgresql_spark.functions.entrypoints import (
        PAT01_LOOKBACK_US,
    )
    from local_etl_csv_to_postgresql_spark.plans.analytics import load

    rows = QUERIES["pat01_error_shadowed_purchases"](spark, SF).collect()
    ev = (
        load(spark, SF, "events")
        .select(
            "user_id",
            "event_type",
            F.unix_micros("ts").alias("us"),
            F.date_trunc("day", F.col("ts")).alias("day"),
        )
        .collect()
    )
    errors_by_user: dict = {}
    for e in ev:
        if e["event_type"] == "error":
            errors_by_user.setdefault(e["user_id"], []).append(e["us"])
    per_day: dict = {}
    for e in ev:
        if e["event_type"] != "purchase":
            continue
        n, ns = per_day.get(e["day"], (0, 0))
        shadowed = any(
            e["us"] - PAT01_LOOKBACK_US <= t < e["us"]
            for t in errors_by_user.get(e["user_id"], ())
        )
        per_day[e["day"]] = (n + 1, ns + (1 if shadowed else 0))
    assert len(rows) == len(per_day)
    for r in rows:
        n, ns = per_day[r["day"]]
        assert r["n_purchases"] == n
        assert r["n_shadowed"] == ns
        assert 0.0 <= r["shadowed_share"] <= 1.0


@needs_testdata
@pytest.mark.integration
def test_dt01_python_calendar_replay(spark):
    """Every calendar feature replays from Python's calendar module:
    month_end is the true last day, days_in_month matches
    calendar.monthrange, quarter/ISO week/ISO weekday match
    date.isocalendar and the (month-1)//3+1 rule, and the monthly
    order counts tile the orders table."""
    import calendar as pycal

    from local_etl_csv_to_postgresql_spark.plans.analytics import load

    rows = QUERIES["dt01_calendar_features"](spark, SF).collect()
    assert rows
    n_total = 0
    for r in rows:
        m = r["month"]
        n_total += r["n_orders"]
        dim = pycal.monthrange(m.year, m.month)[1]
        assert r["days_in_month"] == dim
        assert r["month_end"].year == m.year
        assert r["month_end"].month == m.month
        assert r["month_end"].day == dim
        assert r["quarter"] == (m.month - 1) // 3 + 1
        iso = m.date().isocalendar()
        assert r["iso_week_start"] == iso[1]
        assert r["iso_dow_start"] == iso[2]
    assert n_total == load(spark, SF, "orders").count()


@needs_testdata
@pytest.mark.integration
def test_ap01_bounds_and_numpy_parity(spark):
    """All five quantiles sit inside the published rank bound, and the
    exact values match numpy's linear-interpolation percentile to the
    rounding tolerance."""
    import numpy as np

    from local_etl_csv_to_postgresql_spark.plans.analytics import load

    rows = QUERIES["ap01_approx_quantile_calibration"](spark, SF).collect()
    assert [r["p"] for r in rows] == [0.25, 0.5, 0.75, 0.9, 0.99]
    vals = np.array(
        [
            r["o_totalprice"]
            for r in load(spark, SF, "orders").select("o_totalprice").collect()
        ],
        dtype="float64",
    )
    for r in rows:
        assert r["within_bound"] is True
        want = float(np.percentile(vals, 100 * r["p"]))
        assert abs(r["exact_value"] - want) < 1e-3


@needs_testdata
@pytest.mark.integration
def test_dd22_lift_theorem_and_replay(spark):
    """Normalization only merges hash classes: norm_dup_docs >=
    raw_dup_docs on every source (lift_share >= 0), and both censuses
    replay exactly from Python's re module over the raw text."""
    import re

    from local_etl_csv_to_postgresql_spark.plans.analytics import load

    rows = QUERIES["dd22_normalization_lift"](spark, SF).collect()
    assert rows
    docs = load(spark, SF, "documents").select("source", "text").collect()
    per: dict = {}
    for d in docs:
        raw, norm_set, n = per.setdefault(d["source"], (set(), set(), [0]))
        raw.add(d["text"])
        norm_set.add(
            re.sub(r"[^a-z0-9]+", " ", d["text"].lower()).strip()
        )
        n[0] += 1
    assert len(rows) == len(per)
    for r in rows:
        raw, norm_set, n = per[r["source"]]
        assert r["n_docs"] == n[0]
        assert r["raw_dup_docs"] == n[0] - len(raw)
        assert r["norm_dup_docs"] == n[0] - len(norm_set)
        assert r["norm_dup_docs"] >= r["raw_dup_docs"]
        assert r["lift_share"] >= 0.0


@needs_testdata
@pytest.mark.integration
def test_ltv01_python_replay(spark):
    """Replay the cohort curve in pure Python: per-(cohort, offset)
    buyer counts and revenue match to the cent, the cumulative column
    is the running sum of the revenue column, and offsets are
    non-negative (a purchase can't precede its user's first event)."""
    from pyspark.sql import functions as F

    from local_etl_csv_to_postgresql_spark.plans.analytics import load

    rows = QUERIES["ltv01_cohort_revenue_curve"](spark, SF).collect()
    assert rows
    ev = (
        load(spark, SF, "events")
        .select("user_id", "event_type", "ts")
        .collect()
    )
    first: dict = {}
    for e in ev:
        if e["user_id"] not in first or e["ts"] < first[e["user_id"]]:
            first[e["user_id"]] = e["ts"]

    curve: dict = {}
    ev2 = load(spark, SF, "events").select(
        "user_id", "event_type", "ts", "value"
    ).collect()
    for e in ev2:
        if e["event_type"] != "purchase":
            continue
        cd = first[e["user_id"]].date()
        off = (e["ts"].date() - cd).days // 7
        assert off >= 0
        buyers, rev = curve.setdefault((cd, off), (set(), [0.0]))
        buyers.add(e["user_id"])
        rev[0] += round(e["value"], 2)
    assert len(rows) == len(curve)
    running: dict = {}
    for r in rows:
        key = (r["cohort_day"].date(), r["week_offset"])
        buyers, rev = curve[key]
        assert r["n_buyers"] == len(buyers)
        assert abs(r["revenue"] - rev[0]) < 0.05
        running[key[0]] = running.get(key[0], 0.0) + r["revenue"]
        assert abs(r["cum_revenue"] - running[key[0]]) < 0.05


@needs_testdata
@pytest.mark.integration
def test_rfm01_census_properties(spark):
    """The RFM census partitions the customer base: cell counts sum to
    the number of customers with orders, every quintile code is in
    1..5, each single-dimension marginal is balanced (sizes differ by
    at most 1 — the NTILE contract), and segment revenue sums to total
    revenue."""
    from pyspark.sql import functions as F

    from local_etl_csv_to_postgresql_spark.plans.analytics import dec, load

    rows = QUERIES["rfm01_rfm_segmentation"](spark, SF).collect()
    orders = load(spark, SF, "orders")
    n_cust = orders.select("o_custkey").distinct().count()
    assert sum(r["n_customers"] for r in rows) == n_cust
    for dim in ("r", "f", "m"):
        marg: dict = {}
        for r in rows:
            marg[r[dim]] = marg.get(r[dim], 0) + r["n_customers"]
        assert set(marg) == {1, 2, 3, 4, 5}
        assert max(marg.values()) - min(marg.values()) <= 1
    total = orders.agg(
        F.round(F.sum(dec("o_totalprice")).cast("double"), 2).alias("t")
    ).collect()[0]["t"]
    assert abs(sum(r["segment_revenue"] for r in rows) - total) < 1.0


@needs_testdata
@pytest.mark.integration
def test_hhi01_bounds_and_replay(spark):
    """HHI invariants: 10000/n_brands <= hhi <= 10000 (equality on
    the left iff shares are uniform, on the right iff monopoly),
    top_brand_share^2 * 10000 <= hhi, and a pure-Python replay from
    the four-table join reproduces the index to rounding."""
    from pyspark.sql import functions as F

    from local_etl_csv_to_postgresql_spark.plans.analytics import load

    rows = QUERIES["hhi01_brand_concentration"](spark, SF).collect()
    assert rows
    li = load(spark, SF, "lineitem").select(
        "l_orderkey", "l_partkey", "l_extendedprice"
    ).collect()
    brand = {
        p["p_partkey"]: p["p_brand"]
        for p in load(spark, SF, "part").collect()
    }
    cust_of_order = {
        o["o_orderkey"]: o["o_custkey"]
        for o in load(spark, SF, "orders").collect()
    }
    seg_of_cust = {
        c["c_custkey"]: c["c_mktsegment"]
        for c in load(spark, SF, "customer").collect()
    }
    agg: dict = {}
    for x in li:
        seg = seg_of_cust[cust_of_order[x["l_orderkey"]]]
        b = brand[x["l_partkey"]]
        agg[(seg, b)] = agg.get((seg, b), 0.0) + round(
            x["l_extendedprice"], 2
        )
    for r in rows:
        seg = r["mktsegment"]
        revs = [v for (s, _), v in agg.items() if s == seg]
        assert r["n_brands"] == len(revs)
        tot = sum(revs)
        hhi = sum((v / tot) ** 2 for v in revs) * 10000.0
        assert abs(r["hhi"] - hhi) < 0.5
        assert 10000.0 / r["n_brands"] - 0.5 <= r["hhi"] <= 10000.0
        assert r["top_brand_share"] ** 2 * 10000.0 <= r["hhi"] + 0.5
        assert abs(r["top_brand_share"] - max(revs) / tot) < 1e-4


# --- constructed-corpus edge tests: branches the synthetic testdata ------
# never exercises (dq04's exact/cents_off bands, pat01's concurrent-
# timestamp precedence, ses01's tied timestamps) run against tiny
# hand-built parquet corpora through the SAME query functions.


@pytest.fixture(scope="module")
def mini_sf(spark, tmp_path_factory):
    """A tiny hand-built warehouse dir with every dq04 band, a
    concurrent error/purchase pair, and tied event timestamps."""
    import datetime as dt

    root = str(tmp_path_factory.mktemp("mini_sf"))
    orders = [
        # (key, priority, totalprice): exact / cents_off / divergent
        (1, "1-URGENT", 100.00),
        (2, "1-URGENT", 100.50),
        (3, "1-URGENT", 205.00),
        (4, "1-URGENT", 42.00),  # headless: no lines at all
    ]
    spark.createDataFrame(
        orders, "o_orderkey long, o_orderpriority string, o_totalprice double"
    ).write.mode("overwrite").parquet(f"{root}/orders.parquet")
    lines = [
        (1, 100.00, 0.0, 0.0),   # rec = 100.00 → exact
        (2, 100.00, 0.0, 0.0),   # rec = 100.00 vs 100.50 → cents_off
        (3, 200.00, 0.0, 0.0),   # rec = 200.00 vs 205.00 → divergent
    ]
    spark.createDataFrame(
        lines,
        "l_orderkey long, l_extendedprice double, "
        "l_discount double, l_tax double",
    ).write.mode("overwrite").parquet(f"{root}/lineitem.parquet")

    t0 = dt.datetime(2024, 3, 1, 12, 0, 0)
    mins = dt.timedelta(minutes=1)
    events = [
        # user 1: error and purchase at the SAME instant → NOT shadowed
        (1, 1, "error", t0, 1.0),
        (2, 1, "purchase", t0, 5.0),
        # user 2: error 30 min before purchase → shadowed
        (3, 2, "error", t0, 1.0),
        (4, 2, "purchase", t0 + 30 * mins, 5.0),
        # user 3: error 2 h before purchase → outside the 1 h window
        (5, 3, "error", t0, 1.0),
        (6, 3, "purchase", t0 + 120 * mins, 5.0),
        # user 4: purchase with no error history
        (7, 4, "purchase", t0, 5.0),
        # user 5: two events at the SAME timestamp (tie) + one 13 h
        # later → sessions of sizes 2 and 1 under the 12 h gap
        (8, 5, "signup", t0, 0.0),
        (9, 5, "click", t0, 0.0),
        (10, 5, "click", t0 + 780 * mins, 0.0),
    ]
    spark.createDataFrame(
        events,
        "event_id long, user_id long, event_type string, "
        "ts timestamp, value double",
    ).write.mode("overwrite").parquet(f"{root}/events.parquet")
    return root


@pytest.mark.integration
def test_dq04_every_band_fires_on_constructed_corpus(spark, mini_sf):
    """On a corpus built to hit every branch, each band appears with
    the right count and deviation — including the exact and cents_off
    bands the synthetic generator's broken total invariant never
    produces."""
    rows = {
        r["band"]: r
        for r in QUERIES["dq04_order_total_reconciliation"](
            spark, mini_sf
        ).collect()
    }
    assert set(rows) == {"exact", "cents_off", "divergent", "no_lines"}
    for band in rows:
        assert rows[band]["n_orders"] == 1
    assert rows["exact"]["total_abs_deviation"] == 0.0
    assert rows["cents_off"]["total_abs_deviation"] == pytest.approx(0.5)
    assert rows["divergent"]["total_abs_deviation"] == pytest.approx(5.0)
    assert rows["no_lines"]["total_abs_deviation"] == 0.0


@pytest.mark.integration
def test_pat01_concurrent_error_does_not_shadow(spark, mini_sf):
    """Strict precedence: an error at exactly the purchase timestamp
    does NOT shadow it; 30 min before does; 2 h before does not."""
    rows = QUERIES["pat01_error_shadowed_purchases"](spark, mini_sf).collect()
    assert len(rows) == 1  # all purchases on one day
    r = rows[0]
    assert r["n_purchases"] == 4  # users 1-4
    assert r["n_shadowed"] == 1  # only user 2
    assert r["shadowed_share"] == pytest.approx(0.25)


@pytest.mark.integration
def test_ses01_tied_timestamps_share_a_session(spark, mini_sf):
    """Two events with identical timestamps always land in the same
    session (gap 0 < threshold regardless of tie order), and a 13 h
    silence opens a new one under the 12 h default gap."""
    rows = {
        r["session_size"]: r
        for r in QUERIES["ses01_gap_sessionization"](spark, mini_sf).collect()
    }
    # user 5 contributes one 2-event session (the tie) and one
    # singleton; users 1-4 contribute singletons and 2-event sessions
    # depending on their gaps — pin user 5's tie pair via totals:
    # sessions: u1 (err+purch same instant → size 2), u2 (2 within
    # 30 min → size 2), u3 (2 h apart but < 12 h gap → size 2),
    # u4 (1), u5 (tie pair=2, then 13 h later → 1)
    assert rows["2-3"]["n_sessions"] == 4
    assert rows["2-3"]["n_events"] == 8
    assert rows["1"]["n_sessions"] == 2
    assert rows["1"]["n_events"] == 2
