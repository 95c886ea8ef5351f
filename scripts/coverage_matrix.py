"""Generate COVERAGE_MATRIX.md — the query → certification mapping as a
checked-in, regenerable artifact (r8 verdict task 6: with 250+ queries
the coverage story must be emitted from the registries plus the driver's
CORRECTNESS_r*.json records, not hand-maintained in prose).

Deterministic by construction: no timestamps, no environment probes —
the output is a pure function of the registries and a PINNED list of
correctness records. The record list the matrix was generated from is
stamped into the file itself (the ``Records:`` line), and `--check`
regenerates against THAT stamped list, so a driver CORRECTNESS file
that lands after the builder's last commit can never make the committed
matrix "stale" (r10 verdict task 2 — the suite must not start a round
red). Newly-landed records that the stamp does not cover are reported
separately as a non-blocking staleness note on stdout.

Run:  python scripts/coverage_matrix.py          # rewrite COVERAGE_MATRIX.md
      python scripts/coverage_matrix.py --check  # exit 1 if stale
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

OUT_PATH = os.path.join(REPO, "COVERAGE_MATRIX.md")

#: family prefix → SURVEY §2 / §2.11 grouping, for the by-family rollup.
#: A query's family is its name up to the first digit run (tx21 → tx).
FAMILY_LABELS = {
    "q": "§2.9 declared query contract + relational extensions",
    "json": "§2 JSON/semi-structured",
    "std": "F1–F4 standardization",
    "scd": "warehouse SCD",
    "sync": "warehouse replica reconciliation",
    "zo": "warehouse layout (Z-order)",
    "bj": "warehouse bucketed co-located join",
    "st": "§2.10 streaming",
    "prof": "A12 profiling",
    "inc": "incremental loads",
    "aj": "as-of joins",
    "rj": "range joins",
    "fn": "funnels/sessionization",
    "win": "window/gap-fill ops",
    "rw": "rolling windows",
    "ret": "cohort retention",
    "dd": "deduplication (exact/MinHash/SimHash/semantic)",
    "bf": "Bloom prefilter",
    "ln": "near-dup lineage",
    "xl": "cross-lingual near-dup",
    "gr": "near-dup graph analytics",
    "tc": "graph triangles",
    "es": "embedding similarity / ANN",
    "ev": "retrieval evaluation",
    "rrf": "hybrid rank fusion",
    "ii": "inverted index",
    "bm": "BM25 retrieval",
    "rk": "rank agreement",
    "tx": "text analysis / language modeling",
    "tk": "tokenization economics",
    "kl": "distribution divergence",
    "nv": "novelty/memorization",
    "qf": "quality filtering",
    "rep": "repetition stats",
    "uf": "URL filtering",
    "zipf": "Zipf diagnostics",
    "px": "PII scanning",
    "pa": "privacy audits (k-anon/l-div/t-close)",
    "dp": "differential-privacy preprocessing",
    "ct": "contamination",
    "sl": "split leakage",
    "ss": "sampling/splits",
    "sp": "stratified/mixture sampling",
    "pk": "sequence packing",
    "dm": "domain mixture",
    "wm": "token mass stats",
    "len": "length histograms",
    "lc": "linear counting",
    "hll": "HyperLogLog",
    "cm": "Count-Min sketch",
    "hq": "mergeable histograms/quantiles",
    "ir": "importance resampling",
    "imb": "label imbalance",
    "wz": "winsorization",
    "mm": "multimodal",
    "sa": "skew salting",
    "sk": "skew detection",
    "ks": "drift (KS)",
    "cs": "drift (chi-square)",
    "psi": "drift (PSI)",
    "mw": "drift (Mann-Whitney)",
    "ab": "drift (proportion z-test)",
    "mi": "mutual information",
    "en": "entropy",
    "mk": "Markov transitions",
    "mmd": "MMD distribution shift",
    "lb": "label-noise audit",
    "sv": "survival analysis",
    "src": "source divergence",
    "ia": "inter-arrival stats",
    "ts": "time-series QA",
    "fd": "functional dependencies",
    "fs": "record linkage (Fellegi-Sunter)",
    "fz": "fuzzy matching",
    "rs": "robust stats",
    "cr": "correlation",
    "dq": "data-quality expectations",
    "cur": "curation funnels",
    "hll0": "HyperLogLog",
}


def _family(name: str) -> str:
    head = name.split("_", 1)[0]
    fam = head.rstrip("0123456789")
    return fam or head


def records_on_disk() -> list[str]:
    """Basenames of every driver correctness record present, sorted."""
    return sorted(
        os.path.basename(p)
        for p in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))
    )


def stamped_records(matrix_text: str) -> list[str] | None:
    """Parse the ``Records:`` stamp out of a generated matrix. Returns
    None when the committed file predates the stamp (pre-r11 format)."""
    for line in matrix_text.splitlines():
        if line.startswith("Records: "):
            body = line[len("Records: "):].strip()
            return [t.strip() for t in body.split(",") if t.strip()]
    return None


def collect(record_files: list[str] | None = None) -> str:
    """Render the matrix from the registries plus exactly
    ``record_files`` (basenames; default = every record on disk). The
    certification window shown is recomputed from the SAME pinned list
    via the executable policy, so the output is a pure function of
    (registries, record_files) — byte-reproducible regardless of what
    the driver has landed since."""
    import __spark_entry__ as ep

    if record_files is None:
        record_files = records_on_disk()

    live = ep.queries()
    oracles = ep.oracle_sql()

    last_green: dict[str, int] = {}
    ever_failed: dict[str, int] = {}
    policy_failed: dict[str, int] = {}
    for base in sorted(record_files):
        path = os.path.join(REPO, base)
        rnd = int(path.rsplit("_r", 1)[1].split(".")[0])
        with open(path) as fh:
            recs = json.load(fh)
        for name, rec in recs.items():
            ok = (
                rec.get("rows_match")
                and rec.get("schema_match")
                and rec.get("hash_match") in (True, None)
            )
            if ok:
                last_green[name] = rnd
            else:
                ever_failed[name] = rnd
                policy_failed[name] = max(policy_failed.get(name, 0), rnd)

    window = set(
        ep._window_order(
            list(live), set(oracles), history=(last_green, policy_failed)
        )[:50]
    )

    walls_path = os.path.join(REPO, "scripts", "staged_sf01_walls.json")
    walls = {}
    if os.path.exists(walls_path):
        with open(walls_path) as fh:
            walls = json.load(fh)

    lines = [
        "# Coverage matrix",
        "",
        "Generated by `scripts/coverage_matrix.py` from the live registry",
        "(`__spark_entry__.queries()`/`oracle_sql()`) and the driver",
        "`CORRECTNESS_r*.json` records named on the",
        "`Records:` line below. Do not edit by hand —",
        "`tests/test_entry.py::test_coverage_matrix_fresh` asserts this",
        "file regenerates byte-identical AGAINST THAT PINNED RECORD LIST",
        "(a driver record landing after the last regeneration is reported",
        "by `--check` as a non-blocking note, never a failure).",
        "",
        "Records: " + ", ".join(sorted(record_files)),
        "",
        f"- **Live queries:** {len(live)}"
        f" ({sum(1 for n in live if n in oracles)} with a DuckDB oracle"
        " twin; the remainder are rows-only by design)",
        f"- **Driver-certified green (any round):** "
        f"{sum(1 for n in live if n in last_green)}",
        f"- **In the current 50-slot certification window:** "
        f"{sum(1 for n in live if n in window)}",
        "",
        "Legend — oracle: `hash` = full rows+schema+value-hash twin;"
        " `rows` = rows-only by design (no SQL-expressible twin)."
        " last-green: the most recent driver CORRECTNESS round whose row"
        " was fully green; `pending` = awaiting first driver"
        " window.",
        "",
    ]

    fams: dict[str, list[str]] = {}
    for name in sorted(live):
        fams.setdefault(_family(name), []).append(name)

    lines += ["| query | family | oracle | last green | sf0.1 wall (s) |",
              "|---|---|---|---|---|"]
    for fam in sorted(fams):
        label = FAMILY_LABELS.get(fam, fam)
        for name in fams[fam]:
            oracle = "hash" if name in oracles else "rows"
            if name in last_green:
                green = f"r{last_green[name]}"
            else:
                green = "pending (in window)" if name in window else "pending"
            wall = walls.get(name, {}).get("sec")
            wall_s = f"{wall:.2f}" if wall is not None else ""
            lines.append(
                f"| {name} | {label} | {oracle} | {green} | {wall_s} |"
            )

    lines += [
        "",
        "Ever-failed rows (later re-certified unless marked otherwise):",
        "",
    ]
    if ever_failed:
        for name in sorted(ever_failed):
            fixed = last_green.get(name)
            status = (
                f"failed r{ever_failed[name]}, re-certified r{fixed}"
                if fixed is not None and fixed >= ever_failed[name]
                else f"failed r{ever_failed[name]}, NOT re-certified"
            )
            lines.append(f"- {name}: {status}")
    else:
        lines.append("- none")
    lines.append("")
    return "\n".join(lines)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        description="Regenerate COVERAGE_MATRIX.md, or check it is fresh."
    )
    ap.add_argument(
        "--check",
        action="store_true",
        help="exit 1 if the committed matrix is stale; write nothing",
    )
    args = ap.parse_args(argv)
    if args.check:
        try:
            with open(OUT_PATH) as fh:
                current = fh.read()
        except OSError:
            current = ""
        pinned = stamped_records(current)
        if pinned is None:
            sys.stderr.write(
                "COVERAGE_MATRIX.md has no Records: stamp — rerun "
                "python scripts/coverage_matrix.py\n"
            )
            return 1
        missing = sorted(set(pinned) - set(records_on_disk()))
        if missing:
            # a stamped record deleted from disk must surface as the
            # clean stale diagnostic, not an uncaught FileNotFoundError
            # from collect(pinned) (r11 ADVICE item 3)
            sys.stderr.write(
                "COVERAGE_MATRIX.md is stale — its Records: stamp names "
                "driver records no longer on disk ("
                + ", ".join(missing)
                + "); rerun python scripts/coverage_matrix.py\n"
            )
            return 1
        if current != collect(pinned):
            sys.stderr.write(
                "COVERAGE_MATRIX.md is stale — rerun "
                "python scripts/coverage_matrix.py\n"
            )
            return 1
        unseen = sorted(set(records_on_disk()) - set(pinned))
        if unseen:
            # non-blocking by design: a freshly-landed driver record is
            # the driver's business, not a committed-state defect
            print(
                "note: driver records newer than the stamped matrix: "
                + ", ".join(unseen)
                + " — rerun python scripts/coverage_matrix.py to fold"
                " them in"
            )
        return 0
    content = collect()
    with open(OUT_PATH, "w") as fh:
        fh.write(content)
    print(f"wrote {OUT_PATH}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
