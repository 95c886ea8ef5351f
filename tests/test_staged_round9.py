"""Round-9 query invariants: semantic properties the hash compare
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
def test_mk01_markov_invariants(spark):
    """Per-from_type probabilities sum to 1 (within rounding of the
    bounded row count); transition count equals total events minus the
    number of users with at least one event (each user with n events
    contributes exactly n-1 transitions)."""
    from local_etl_csv_to_postgresql_spark.plans.analytics import load
    from pyspark.sql import functions as F

    rows = QUERIES["mk01_event_markov_transitions"](spark, SF).collect()
    assert rows
    by_from: dict = {}
    for r in rows:
        assert r["n_trans"] >= 1
        assert 0.0 < r["prob"] <= 1.0
        by_from.setdefault(r["from_type"], []).append(r["prob"])
    for ft, probs in by_from.items():
        assert abs(sum(probs) - 1.0) <= 1e-6 * len(probs) + 1e-9, ft
    ev = load(spark, SF, "events")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    assert sum(r["n_trans"] for r in rows) == n_events - n_users


@needs_testdata
@pytest.mark.integration
def test_mk01_transitions_match_pure_python(spark):
    """Recompute the full transition table in pure Python on the tiny
    slice — catches a wrong window ordering (ts ties broken by
    event_id) that a same-shaped oracle would reproduce."""
    from local_etl_csv_to_postgresql_spark.plans.analytics import load

    rows = QUERIES["mk01_event_markov_transitions"](spark, SF).collect()
    ev = load(spark, SF, "events").select(
        "user_id", "ts", "event_id", "event_type"
    ).collect()
    seqs: dict = {}
    for e in ev:
        seqs.setdefault(e["user_id"], []).append(
            (e["ts"], e["event_id"], e["event_type"])
        )
    ref: dict = {}
    for s in seqs.values():
        s.sort()
        for a, b in zip(s, s[1:]):
            ref[(a[2], b[2])] = ref.get((a[2], b[2]), 0) + 1
    got = {(r["from_type"], r["to_type"]): r["n_trans"] for r in rows}
    assert got == ref


@needs_testdata
@pytest.mark.integration
def test_kl01_kl_invariants(spark):
    """KL is non-negative (Gibbs' inequality) for every source;
    vocab_size never exceeds n_tokens; per-source token totals
    partition the corpus token count."""
    from local_etl_csv_to_postgresql_spark.functions.entrypoints import (
        _docs_words,
    )
    from pyspark.sql import functions as F

    rows = QUERIES["kl01_source_unigram_kl"](spark, SF).collect()
    assert rows
    for r in rows:
        assert r["kl_bits"] >= 0.0, r["source"]
        assert 1 <= r["vocab_size"] <= r["n_tokens"]
    corpus_tokens = (
        _docs_words(spark, SF)
        .select(F.explode("__words").alias("t"))
        .count()
    )
    assert sum(r["n_tokens"] for r in rows) == corpus_tokens


@needs_testdata
@pytest.mark.integration
def test_kl01_zero_for_identical_distribution(spark):
    """A single-source corpus has P_s == Q, so KL must be exactly 0 —
    pins the sign/ratio orientation (a p/q ↔ q/p transposition still
    yields non-negative values on real data, but not zero here)."""
    import pandas as pd

    from local_etl_csv_to_postgresql_spark.functions.entrypoints import (
        kl01_source_unigram_kl,
    )

    docs = QUERIES  # noqa: F841 (lookup table unused here)
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": ["alpha beta gamma", "beta gamma", "alpha alpha"],
            "lang": ["en"] * 3,
            "source": ["only"] * 3,
            "n_chars": [16, 10, 11],
        }
    )
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(pdf).write.parquet(f"{tmp}/documents.parquet")
        out = kl01_source_unigram_kl(spark, tmp).collect()
    assert len(out) == 1
    assert out[0]["kl_bits"] == 0.0


@needs_testdata
@pytest.mark.integration
def test_nv01_novelty_invariants_and_python_ref(spark):
    """novelty_pct in [0, 100] and n_novel <= n_val_grams; recompute
    the distinct-5-gram anti-join in pure Python on the tiny slice."""
    from local_etl_csv_to_postgresql_spark.plans.analytics import load

    rows = QUERIES["nv01_ngram_novelty"](spark, SF).collect()
    assert rows
    import re

    docs = load(spark, SF, "documents").select(
        "doc_id", "lang", "text"
    ).collect()
    train: dict = {}
    val: dict = {}
    for d in docs:
        words = re.findall(r"[a-z0-9]+", (d["text"] or "").lower())
        grams = {
            " ".join(words[i : i + 5]) for i in range(len(words) - 4)
        }
        tgt = train if d["doc_id"] % 2 == 0 else val
        tgt.setdefault(d["lang"], set()).update(grams)
    for r in rows:
        assert 0 <= r["n_novel"] <= r["n_val_grams"]
        assert 0.0 <= r["novelty_pct"] <= 100.0
        v = val.get(r["lang"], set())
        t = train.get(r["lang"], set())
        assert r["n_val_grams"] == len(v)
        assert r["n_novel"] == len(v - t)


@needs_testdata
@pytest.mark.integration
def test_wz01_winsorize_invariants_and_python_ref(spark):
    """Thresholds ordered (p01 <= p99); each tail clips at most ~1% of
    rows (type-1 quantile bound); recompute thresholds and clip counts
    in pure Python on the tiny slice."""
    import math

    from local_etl_csv_to_postgresql_spark.plans.analytics import load

    rows = QUERIES["wz01_winsorized_value_stats"](spark, SF).collect()
    assert rows
    ev = load(spark, SF, "events").select("event_type", "value").collect()
    by_type: dict = {}
    for e in ev:
        by_type.setdefault(e["event_type"], []).append(
            round(e["value"], 2)
        )
    for r in rows:
        vs = sorted(by_type[r["event_type"]])
        n = len(vs)
        assert r["n_events"] == n
        p01 = vs[math.ceil(n * 0.01) - 1]
        p99 = vs[math.ceil(n * 0.99) - 1]
        assert abs(r["p01_value"] - p01) < 1e-9
        assert abs(r["p99_value"] - p99) < 1e-9
        assert r["p01_value"] <= r["p99_value"]
        assert r["n_clipped_low"] == sum(1 for v in vs if v < p01)
        assert r["n_clipped_high"] == sum(1 for v in vs if v > p99)
        assert r["n_clipped_low"] <= 0.01 * n
        assert r["n_clipped_high"] <= 0.01 * n + 1
        assert vs[0] <= r["mean_winsorized"] <= vs[-1]


@needs_testdata
@pytest.mark.integration
def test_qf04_gopher_rules_python_ref(spark):
    """Recompute every rule in pure Python; n_pass must equal docs
    failing NO rule (catches an AND/OR transposition the same-shaped
    oracle would reproduce)."""
    import re

    from local_etl_csv_to_postgresql_spark.plans.analytics import load

    rows = QUERIES["qf04_gopher_quality_rules"](spark, SF).collect()
    docs = load(spark, SF, "documents").select("source", "text").collect()
    stops = {"the", "be", "to", "of", "and", "that", "have", "with"}
    agg: dict = {}
    for d in docs:
        text = d["text"] or ""
        w = re.findall(r"[a-z0-9]+", text.lower())
        n = len(w)
        tl = sum(len(x) for x in w)
        nsym = len(re.findall(r"#|\.\.\.", text))
        nalpha = sum(1 for x in w if re.search(r"[a-z]", x))
        nstop = len(set(w) & stops)
        f = {
            "wc": n < 50 or n > 100000,
            "mwl": tl < 3 * n or tl > 10 * n,
            "sym": 10 * nsym > n,
            "alpha": 5 * nalpha < 4 * n,
            "stop": nstop < 2,
        }
        a = agg.setdefault(
            d["source"],
            {"n": 0, "wc": 0, "mwl": 0, "sym": 0, "alpha": 0, "stop": 0, "pass": 0},
        )
        a["n"] += 1
        for k, v in f.items():
            a[k] += int(v)
        a["pass"] += int(not any(f.values()))
    for r in rows:
        a = agg[r["source"]]
        assert r["n_docs"] == a["n"]
        assert r["n_fail_wordcount"] == a["wc"]
        assert r["n_fail_meanwordlen"] == a["mwl"]
        assert r["n_fail_symbolratio"] == a["sym"]
        assert r["n_fail_alphafrac"] == a["alpha"]
        assert r["n_fail_stopwords"] == a["stop"]
        assert r["n_pass"] == a["pass"]


@needs_testdata
@pytest.mark.integration
def test_gr04_copresence_invariants_and_python_ref(spark):
    """n_common <= min(n_a, n_b); jaccard in (0, 1]; unordered pairs
    unique with type_a < type_b; recompute the projection in Python."""
    from local_etl_csv_to_postgresql_spark.plans.analytics import load

    rows = QUERIES["gr04_event_type_copresence"](spark, SF).collect()
    assert rows
    ev = load(spark, SF, "events").select("user_id", "event_type").collect()
    users: dict = {}
    for e in ev:
        users.setdefault(e["event_type"], set()).add(e["user_id"])
    seen = set()
    for r in rows:
        assert r["type_a"] < r["type_b"]
        key = (r["type_a"], r["type_b"])
        assert key not in seen
        seen.add(key)
        a, b = users[r["type_a"]], users[r["type_b"]]
        assert r["n_a"] == len(a) and r["n_b"] == len(b)
        assert r["n_common"] == len(a & b)
        assert 0 < r["n_common"] <= min(len(a), len(b))
        assert 0.0 < r["jaccard"] <= 1.0
        assert abs(r["jaccard"] - round(len(a & b) / len(a | b), 6)) < 1e-9


@needs_testdata
@pytest.mark.integration
def test_es16_equals_brute_force_mips(spark):
    """Threshold-Algorithm exactness: the pruned search must return
    EXACTLY the brute-force dot-product top-10 (same ids, same rounded
    scores, same order) — recomputed in pure Python, independent of
    the oracle's shared construction. scanned_pct must be one global
    value in (0, 100]."""
    from local_etl_csv_to_postgresql_spark.plans.analytics import load

    got = QUERIES["es16_bound_pruned_search"](spark, SF).collect()
    rows = load(spark, SF, "embeddings").collect()
    q = next(r["embedding"] for r in rows if r["vec_id"] == 0)
    scores = sorted(
        (
            (round(sum(a * b for a, b in zip(r["embedding"], q)), 4), r["vec_id"])
            for r in rows
            if r["vec_id"] != 0
        ),
        key=lambda t: (-t[0], t[1]),
    )[:10]
    assert [(r["vec_id"], r["dot_score"]) for r in got] == [
        (vid, s) for s, vid in scores
    ]
    pcts = {r["scanned_pct"] for r in got}
    assert len(pcts) == 1
    assert 0.0 < pcts.pop() <= 100.0


@needs_testdata
@pytest.mark.integration
def test_es16_bound_dominates_exact_scores(spark):
    """Cauchy-Schwarz sanity in pure Python: for every vector, the
    prefix-dot + tail-norm-product upper bound must be >= the true dot
    (within the shared 4-dp rounding) — the inequality the pruning's
    exactness proof rests on."""
    import math

    from local_etl_csv_to_postgresql_spark.plans.analytics import load

    rows = load(spark, SF, "embeddings").collect()
    q = next(r["embedding"] for r in rows if r["vec_id"] == 0)
    qtn = math.sqrt(sum(x * x for x in q[16:]))
    for r in rows:
        if r["vec_id"] == 0:
            continue
        e = r["embedding"]
        dot = sum(a * b for a, b in zip(e, q))
        ub = sum(a * b for a, b in zip(e[:16], q[:16])) + qtn * math.sqrt(
            sum(x * x for x in e[16:])
        )
        assert round(ub, 4) >= round(dot, 4) - 1e-9


@needs_testdata
@pytest.mark.integration
def test_st16_streaming_sketch_equals_batch_histogram(spark):
    """Mergeability, certified end-to-end: quantiles read off the
    sketch maintained by the Structured Streaming replay must equal
    hq01's one-shot batch histogram quantiles row for row."""
    got = QUERIES["st16_streaming_binned_quantiles"](spark, SF).collect()
    batch = QUERIES["hq01_histogram_quantiles"](spark, SF).collect()
    key = lambda r: (  # noqa: E731
        r["event_type"],
        r["n_events"],
        r["p50_bin"],
        r["p95_bin"],
        r["p99_bin"],
    )
    assert sorted(map(key, got)) == sorted(map(key, batch))


@needs_testdata
@pytest.mark.integration
def test_tx21_kneser_ney_normalizes(spark):
    """THE KN property: for a context w1, summing P_KN over the whole
    vocabulary (observed bigrams get the discounted term + backoff,
    unseen ones get backoff mass alone) must equal exactly 1 —
    recomputed in pure Python for the top-3 reported contexts."""
    import re

    from local_etl_csv_to_postgresql_spark.plans.analytics import load

    rows = QUERIES["tx21_kneser_ney_bigrams"](spark, SF).collect()
    assert len(rows) == 20
    docs = load(spark, SF, "documents").select("text").collect()
    big: dict = {}
    for d in docs:
        w = re.findall(r"[a-z0-9]+", (d["text"] or "").lower())
        for a, b in zip(w, w[1:]):
            big[(a, b)] = big.get((a, b), 0) + 1
    c1: dict = {}
    n1f: dict = {}
    n1b: dict = {}
    for (a, b), c in big.items():
        c1[a] = c1.get(a, 0) + c
        n1f[a] = n1f.get(a, 0) + 1
        n1b[b] = n1b.get(b, 0) + 1
    T = len(big)
    vocab_b = set(n1b)
    D = 0.75
    for r in rows[:3]:
        w1 = r["w1"]
        assert r["c12"] == big[(w1, r["w2"])]
        assert r["c1"] == c1[w1]
        assert r["n1p_fwd"] == n1f[w1]
        assert r["n1p_back"] == n1b[r["w2"]]
        lam = D * n1f[w1] / c1[w1]
        total = 0.0
        for w2 in vocab_b:
            c = big.get((w1, w2), 0)
            total += max(c - D, 0.0) / c1[w1] + lam * (n1b[w2] / T)
        assert abs(total - 1.0) < 1e-9, w1
        assert 0.0 < r["p_kn"] < 1.0


@needs_testdata
@pytest.mark.integration
def test_lb01_confusion_matches_numpy_ref(spark):
    """The confusion matrix must partition the corpus (row sums equal
    label counts) and match a numpy nearest-centroid recomputation
    (ties toward the smaller label id) exactly."""
    import numpy as np

    from local_etl_csv_to_postgresql_spark.plans.analytics import load

    rows = QUERIES["lb01_label_confusion_audit"](spark, SF).collect()
    emb = load(spark, SF, "embeddings").collect()
    X = np.array([r["embedding"] for r in emb], dtype=np.float64)
    y = np.array([r["label"] for r in emb])
    labels = np.unique(y)
    cents = np.stack([X[y == l].mean(axis=0) for l in labels])
    d2 = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    pred = labels[np.argmin(d2, axis=1)]  # argmin ties -> first = smallest
    ref: dict = {}
    for t, p in zip(y, pred):
        ref[(int(t), int(p))] = ref.get((int(t), int(p)), 0) + 1
    got = {
        (r["true_label"], r["pred_label"]): r["n_vectors"] for r in rows
    }
    assert got == ref
    row_sums: dict = {}
    for (t, _), n in got.items():
        row_sums[t] = row_sums.get(t, 0) + n
    for l in labels:
        assert row_sums[int(l)] == int((y == l).sum())


@needs_testdata
@pytest.mark.integration
def test_mmd01_matches_numpy_moment_closure(spark):
    """MMD² must be non-negative and equal ‖mean_label − mean_rest‖²
    recomputed with numpy (within the decimal-rounding tolerance)."""
    import numpy as np

    from local_etl_csv_to_postgresql_spark.plans.analytics import load

    rows = QUERIES["mmd01_label_mmd_audit"](spark, SF).collect()
    emb = load(spark, SF, "embeddings").collect()
    X = np.array([r["embedding"] for r in emb], dtype=np.float64)
    y = np.array([r["label"] for r in emb])
    for r in rows:
        assert r["mmd2_linear"] >= 0.0
        m = y == r["label"]
        assert r["n_vectors"] == int(m.sum())
        ref = float(((X[m].mean(axis=0) - X[~m].mean(axis=0)) ** 2).sum())
        assert abs(r["mmd2_linear"] - ref) < 1e-6


@needs_testdata
@pytest.mark.integration
def test_gr05_adamic_adar_python_ref(spark):
    """Recompute AA suggestions in pure Python from the SAME co-purchase
    edge set: no suggested pair may be an existing edge, scores must
    match, and every suggestion must share >= 1 neighbor. The result
    must be NON-EMPTY at sf0.001 — an AA certification over a graph
    with no open wedges (the near-dup clique failure this query was
    rebased away from) would be vacuous."""
    import math

    from local_etl_csv_to_postgresql_spark.functions.entrypoints import (
        _gr05_copurchase_edges,
    )

    rows = QUERIES["gr05_adamic_adar_links"](spark, SF).collect()
    assert rows, "gr05 must produce suggestions at sf0.001"
    edges = {
        (r["id_a"], r["id_b"])
        for r in _gr05_copurchase_edges(spark, SF).collect()
    }
    nbrs: dict = {}
    for a, b in edges:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    ref: dict = {}
    for w, ns in nbrs.items():
        if len(ns) < 2:
            continue
        c = round(1.0 / math.log(len(ns)), 10)
        ns_sorted = sorted(ns)
        for i, u in enumerate(ns_sorted):
            for v in ns_sorted[i + 1 :]:
                if (u, v) in edges:
                    continue
                n, s = ref.get((u, v), (0, 0.0))
                ref[(u, v)] = (n + 1, s + c)
    for r in rows:
        key = (r["id_u"], r["id_v"])
        assert key not in edges
        assert key in ref
        n, s = ref[key]
        assert r["n_common"] == n
        assert abs(r["aa_score"] - round(s, 6)) < 1e-9
    if rows:
        top = max(ref.values(), key=lambda t: t[1])[1]
        assert abs(rows[0]["aa_score"] - round(top, 6)) < 1e-9


@needs_testdata
@pytest.mark.integration
def test_gr05_hub_degree_guard(spark):
    """The wedge hub guard (r8 verdict task 3) actually reaches the
    plan: with spark.graft.gr05.maxHubDegree=1 every shared neighbor
    (deg >= 2 by definition) is capped out and the suggestion set is
    empty; with the default cap the sf0.001 graph is far below the
    knob, so results match the uncapped Python reference above."""
    key = "spark.graft.gr05.maxHubDegree"
    spark.conf.set(key, "1")
    try:
        assert QUERIES["gr05_adamic_adar_links"](spark, SF).count() == 0
    finally:
        spark.conf.unset(key)
    from local_etl_csv_to_postgresql_spark.functions.entrypoints import (
        GR05_MAX_HUB_DEGREE,
        _gr05_oracle_sql,
    )

    # the oracle mirrors the same constant — a drifted cap would
    # certify one engine's semantics against the other's
    assert f"dg <= {GR05_MAX_HUB_DEGREE}" in _gr05_oracle_sql()


@needs_testdata
@pytest.mark.integration
def test_tk01_fertility_invariants(spark):
    """Totals partition the corpus; chars_per_token >= 1 (every token
    has at least one char); tokens_per_doc consistent with totals."""
    from pyspark.sql import functions as F

    from local_etl_csv_to_postgresql_spark.functions.entrypoints import (
        _docs_words,
    )

    rows = QUERIES["tk01_token_fertility"](spark, SF).collect()
    assert rows
    docs = _docs_words(spark, SF)
    n_docs = docs.count()
    n_toks = docs.select(F.explode("__words")).count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    assert sum(r["total_tokens"] for r in rows) == n_toks
    for r in rows:
        assert r["chars_per_token"] >= 1.0
        assert (
            abs(
                r["tokens_per_doc"]
                - round(r["total_tokens"] / r["n_docs"], 4)
            )
            < 1e-9
        )


@needs_testdata
@pytest.mark.integration
def test_tx22_burstiness_python_ref(spark):
    """Recompute VMR over zero-filled per-doc counts in pure Python
    for every reported word — pins the implicit-zeros convention (a
    docs-with-word-only mean would inflate VMR and a same-shaped
    oracle would reproduce it)."""
    import re

    from local_etl_csv_to_postgresql_spark.plans.analytics import load

    rows = QUERIES["tx22_word_burstiness"](spark, SF).collect()
    assert len(rows) == 20
    docs = load(spark, SF, "documents").select("doc_id", "text").collect()
    N = len(docs)
    counts: dict = {}
    for d in docs:
        for t in re.findall(r"[a-z0-9]+", (d["text"] or "").lower()):
            counts.setdefault(t, {})
            counts[t][d["doc_id"]] = counts[t].get(d["doc_id"], 0) + 1
    for r in rows:
        per = counts[r["word"]]
        s1 = sum(per.values())
        s2 = sum(c * c for c in per.values())
        assert r["total_count"] == s1
        assert r["n_docs_with"] == len(per)
        mean = s1 / N
        var = s2 / N - mean * mean
        assert abs(r["vmr"] - round(var / mean, 6)) < 1e-6


@needs_testdata
@pytest.mark.integration
def test_imb02_weights_invariants(spark):
    """Weights sum to 1 (within per-row rounding), are all positive,
    and order INVERSELY with class size (the reweighting's point);
    recompute the effective-number formula in pure Python."""
    import math

    rows = QUERIES["imb02_effective_number_weights"](spark, SF).collect()
    assert rows
    assert abs(sum(r["weight"] for r in rows) - 1.0) <= 1e-7 * len(rows)
    beta = 0.999
    raw = {
        r["label"]: round(
            (1 - beta) / (1 - round(beta ** float(r["n_vectors"]), 12)), 10
        )
        for r in rows
    }
    tot = sum(raw.values())
    for r in rows:
        assert r["weight"] > 0
        assert abs(r["weight"] - round(raw[r["label"]] / tot, 8)) < 1e-9
    by_n = sorted(rows, key=lambda r: r["n_vectors"])
    for a, b in zip(by_n, by_n[1:]):
        if a["n_vectors"] < b["n_vectors"]:
            assert a["weight"] >= b["weight"]


@needs_testdata
@pytest.mark.integration
def test_mm08_bucketing_improves_utilization(spark):
    """Buckets partition the corpus; per-bucket utilization is in
    (0, 100]; and the bucketed weighted utilization must BEAT padding
    everything to the single global max canvas — the claim aspect
    bucketing exists to deliver."""
    from local_etl_csv_to_postgresql_spark.functions.multimodal import (
        documents_as_media,
        resize_images,
    )
    from local_etl_csv_to_postgresql_spark.plans.analytics import load

    rows = QUERIES["mm08_aspect_bucket_packing"](spark, SF).collect()
    assert rows
    dims = resize_images(
        documents_as_media(load(spark, SF, "documents"))
    ).collect()
    n_total = len(dims)
    assert sum(r["n_images"] for r in rows) == n_total
    for r in rows:
        assert 0.0 < r["pixel_util_pct"] <= 100.0
    gw = max(d["width"] for d in dims)
    gh = max(d["height"] for d in dims)
    pixels = sum(d["width"] * d["height"] for d in dims)
    global_util = 100.0 * pixels / (n_total * gw * gh)
    bucketed_util = (
        sum(r["pixel_util_pct"] * r["n_images"] for r in rows) / n_total
    )
    assert bucketed_util > global_util


@needs_testdata
@pytest.mark.integration
def test_sv01_kaplan_meier_python_ref(spark):
    """Recompute the KM estimator in pure Python (risk sets, censoring,
    absorbed-zero day) — survival must be non-increasing in (0, 1],
    match the reference at every reported day, and hit exactly 0 if
    and when a day converts its whole risk set."""
    import math

    from local_etl_csv_to_postgresql_spark.plans.analytics import load

    rows = QUERIES["sv01_conversion_survival_curve"](spark, SF).collect()
    assert rows
    ev = load(spark, SF, "events").select(
        "user_id", "ts", "event_type"
    ).collect()
    per: dict = {}
    for e in ev:
        u = per.setdefault(e["user_id"], {"first": None, "last": None, "p": None})
        u["first"] = e["ts"] if u["first"] is None else min(u["first"], e["ts"])
        u["last"] = e["ts"] if u["last"] is None else max(u["last"], e["ts"])
        if e["event_type"] == "purchase":
            u["p"] = e["ts"] if u["p"] is None else min(u["p"], e["ts"])
    d: dict = {}
    c: dict = {}
    for u in per.values():
        if u["p"] is not None:
            t = (u["p"].date() - u["first"].date()).days
            d[t] = d.get(t, 0) + 1
        else:
            t = (u["last"].date() - u["first"].date()).days
            c[t] = c.get(t, 0) + 1
    n = len(per)
    s = 1.0
    lnsum = 0.0
    ref: dict = {}
    absorbed = False
    at_risk = n
    for t in sorted(set(d) | set(c)):
        dt = d.get(t, 0)
        if dt > 0:
            if at_risk == dt:
                absorbed = True
            else:
                lnsum += round(math.log((at_risk - dt) / at_risk), 10)
            ref[t] = (
                at_risk,
                dt,
                0.0 if absorbed else round(math.exp(lnsum), 6),
            )
        at_risk -= dt + c.get(t, 0)
    prev = 1.0
    for r in rows:
        got = (r["n_at_risk"], r["n_converted"], r["survival"])
        assert got == ref[r["day_lag"]], r["day_lag"]
        assert 0.0 <= r["survival"] <= prev + 1e-12
        prev = r["survival"]


@needs_testdata
@pytest.mark.integration
def test_tx23_pmi_python_ref(spark):
    """Recompute PMI for every reported pair; support floor respected;
    reported pairs are the global top-20 by (pmi desc, w1, w2)."""
    import math
    import re

    from local_etl_csv_to_postgresql_spark.plans.analytics import load

    rows = QUERIES["tx23_pmi_collocations"](spark, SF).collect()
    assert rows
    docs = load(spark, SF, "documents").select("text").collect()
    uni: dict = {}
    big: dict = {}
    N = 0
    for dd in docs:
        w = re.findall(r"[a-z0-9]+", (dd["text"] or "").lower())
        N += len(w)
        for t in w:
            uni[t] = uni.get(t, 0) + 1
        for a, b in zip(w, w[1:]):
            big[(a, b)] = big.get((a, b), 0) + 1
    scored = sorted(
        (
            (
                -round(math.log2(N * c / (uni[a] * uni[b])), 8),
                a,
                b,
                c,
            )
            for (a, b), c in big.items()
            if c >= 5
        )
    )[:20]
    assert [(r["w1"], r["w2"], r["c12"], r["pmi"]) for r in rows] == [
        (a, b, c, -negp) for negp, a, b, c in scored
    ]


@needs_testdata
@pytest.mark.integration
def test_dd18_sketch_sweep_python_ref(spark):
    """Recompute all three estimators in pure Python (md5-based hash
    family, prefix-k signatures) on the SAME candidate pairs — and pin
    that the k=32 estimator is no worse than k=8 on mean absolute
    error (the reason sketch size is worth paying for)."""
    import hashlib
    import re

    from local_etl_csv_to_postgresql_spark.functions.entrypoints import (
        _lsh_base,
    )

    rows = QUERIES["dd18_minhash_k_sweep"](spark, SF).collect()
    assert [r["sketch_k"] for r in rows] == [8, 16, 32]
    docs, _sigs, pairs = _lsh_base(spark, SF)
    sh = {
        r["doc_id"]: set(r["__sh"]) for r in docs.select("doc_id", "__sh").collect()
    }
    pair_list = [(r["id_a"], r["id_b"]) for r in pairs.collect()]
    n_pairs = len(pair_list)
    for r in rows:
        assert r["n_pairs"] == n_pairs

    def sig(shingles, k):
        out = []
        for j in range(k):
            best = None
            for s in shingles:
                h0 = int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % (
                    1 << 31
                )
                v = ((2 * j + 3) * h0 + (5 * j + 7)) % 2147483647
                best = v if best is None else min(best, v)
            out.append(best)
        return out

    sigs32 = {d: sig(s, 32) for d, s in sh.items() if s}
    ref = {}
    for k in (8, 16, 32):
        errs = []
        ests = []
        exacts = []
        for a, b in pair_list:
            eq = sum(
                1 for x, y in zip(sigs32[a][:k], sigs32[b][:k]) if x == y
            )
            est = eq / k
            exact = round(
                len(sh[a] & sh[b]) / len(sh[a] | sh[b]), 6
            )
            ests.append(est)
            exacts.append(exact)
            errs.append(round(abs(est - exact), 6))
        ref[k] = (
            round(sum(ests) / n_pairs, 6),
            round(sum(exacts) / n_pairs, 6),
            round(sum(errs) / n_pairs, 6),
        )
    for r in rows:
        me, mx, err = ref[r["sketch_k"]]
        assert abs(r["mean_est"] - me) < 1e-6
        assert abs(r["mean_exact"] - mx) < 1e-6
        assert abs(r["mean_abs_err"] - err) < 1e-6
    by_k = {r["sketch_k"]: r["mean_abs_err"] for r in rows}
    assert by_k[32] <= by_k[8] + 1e-9


@needs_testdata
@pytest.mark.integration
def test_es17_nprobe_monotone_and_es04_consistent(spark):
    """Candidate counts and recall are non-decreasing in nprobe;
    recall ∈ [0,1]; and the nprobe=1 leg's recall equals the overlap
    of es04's top-10 (the query's own cell IS its nearest centroid)
    with the exact top-10."""
    rows = QUERIES["es17_ivf_nprobe_sweep"](spark, SF).collect()
    assert [r["nprobe"] for r in rows] == [1, 2, 4]
    for a, b in zip(rows, rows[1:]):
        assert a["n_candidates"] <= b["n_candidates"]
        assert a["recall_at_10"] <= b["recall_at_10"] + 1e-9
    for r in rows:
        assert 0.0 <= r["recall_at_10"] <= 1.0
    es04_ids = {r["vec_id"] for r in QUERIES["es04_ivf_ann"](spark, SF).collect()}
    exact_ids = {
        r["vec_id"] for r in QUERIES["es01_cosine_topk"](spark, SF).collect()
    }
    assert rows[0]["recall_at_10"] == round(
        len(es04_ids & exact_ids) / 10.0, 4
    )


@needs_testdata
@pytest.mark.integration
def test_ct04_monotone_in_ngram_order_and_ct01_consistent(spark):
    """Affected-pair counts are non-increasing in n (a shared 13-gram
    implies shared 7- and 5-grams); the n=7 row must agree exactly
    with ct01's pair table (same kernel, same default order)."""
    rows = QUERIES["ct04_contamination_ngram_sensitivity"](
        spark, SF
    ).collect()
    assert [r["ngram_order"] for r in rows] == [5, 7, 13]
    for a, b in zip(rows, rows[1:]):
        assert a["n_pairs_affected"] >= b["n_pairs_affected"]
    for r in rows:
        assert 0 <= r["max_pair_shared"] <= r["total_shared_grams"]
    ct01 = QUERIES["ct01_cross_source_contamination"](spark, SF).collect()
    n7_affected = sum(1 for r in ct01 if r["n_shared_7grams"] > 0)
    n7_total = sum(r["n_shared_7grams"] for r in ct01)
    n7_max = max((r["n_shared_7grams"] for r in ct01), default=0)
    mid = rows[1]
    assert mid["n_pairs_affected"] == n7_affected
    assert mid["total_shared_grams"] == n7_total
    assert mid["max_pair_shared"] == n7_max
