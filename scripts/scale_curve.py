"""Measured scaling curves: wall-clock vs scale factor for one query
per plan-shape family — the empirical backing for SCALE.md's "would
this survive 100x" claims. For each probe query, run at
sf0.001 / 0.01 / 0.1 (best-of-N, warmed session) and report the
10x-data marginal ratio T(0.1)/T(0.01) next to the fixed-overhead
estimate T(0.001).

A ratio near 1 means the wall is still fixed-overhead-dominated (the
query costs the same at 10x the data — scheduling, not data, is the
bill); a ratio near 10 means the data term dominates and the plan is
scaling linearly. Ratios far above 10 are the red flag the probe
exists to catch (super-linear blowup: fan-out joins, quadratic
windows).

Run:  python scripts/scale_curve.py            # all probes
Writes scripts/scale_curve.json (name -> {sf: sec, ratio_10x}).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

OUT = os.path.join(REPO, "scripts", "scale_curve.json")
SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]
RUNS = int(os.environ.get("SPARK_GRAFT_CURVE_RUNS", "2"))

#: one probe per plan-shape family
PROBES = [
    ("q00_pricing_summary", "scan + partial-agg rollup"),
    ("q12_supplier_customer_reach", "star join (broadcast dims)"),
    ("q17_mom_growth", "calendar window (LAG over bounded frame)"),
    ("rw01_rolling_user_rate", "fact-sized entity window (range frame)"),
    ("q26_revenue_deciles", "distributed two-phase ranking"),
    ("dd03_minhash_lsh_pairs", "MinHash-LSH candidate join"),
    ("gr03_cc_star_contraction", "iterative connected components"),
    ("dq04_order_total_reconciliation", "co-keyed fact-fact reconcile"),
    # round-10 shapes
    ("ses01_gap_sessionization", "single-shuffle sessionization (LAG+sum+rollup)"),
    ("rfm01_rfm_segmentation", "three-pass two-phase ranking census"),
    ("st17_streaming_countmin", "streaming sketch maintenance (availableNow)"),
    # round-11 / round-12 shapes
    ("gr09_kcore_summary", "iterative vertex peeling (k-core fixpoint)"),
    ("gr10_ktruss_summary", "iterative edge peeling (per-round triangle enumeration)"),
    ("rs02_theil_sen_trend", "calendar-bounded pair grid + rank selection"),
    ("st21_streaming_minhash_resemblance", "multi-batch streamed sketch (MIN lattice)"),
    # round-13 shapes
    ("gr11_local_clustering", "one-shot triangle enumeration + vertex explode rollup"),
    ("tx26_zipf_slope", "rank-cut to bounded table + integer-scaled OLS moments"),
    ("ss10_neyman_allocation", "bounded-strata allocation + per-stratum variable-k pick"),
    # round-14 shapes
    ("pv03_dynamic_lang_pivot", "dynamic-values pivot (distinct scan + bounded groupBy)"),
    ("fi01_heavy_hitter_tokens", "mergeable per-partition sketch + exact candidate recount"),
]


def main() -> None:
    import __spark_entry__ as entry
    from local_etl_csv_to_postgresql_spark.functions.entrypoints import (
        reset_shared_intermediates,
    )
    from local_etl_csv_to_postgresql_spark.session import get_spark

    registry = entry.queries()
    spark = get_spark("scale_curve")
    # warm the JVM/session so probe 1 doesn't pay session start
    registry["q00_pricing_summary"](spark, SFS[0]).collect()

    out: dict = {}
    for name, shape in PROBES:
        fn = registry[name]
        walls: dict[str, float] = {}
        for sf in SFS:
            best = None
            for _ in range(RUNS):
                reset_shared_intermediates()
                t0 = time.time()
                fn(spark, sf).collect()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            walls[sf.rsplit("/sf", 1)[1]] = round(best, 3)
        ratio = round(walls["0.1"] / walls["0.01"], 2)
        out[name] = {"shape": shape, "walls_sec": walls, "ratio_10x": ratio}
        print(f"{name:36s} {walls}  10x-ratio {ratio}")
    with open(OUT, "w") as fh:
        json.dump(
            {"runs_best_of": RUNS, "loadavg": os.getloadavg()[0], "probes": out},
            fh,
            indent=1,
        )
    print("wrote", OUT)


if __name__ == "__main__":
    main()
