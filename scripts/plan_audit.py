"""Plan-quality audit: one row of physical-plan properties per library
query, written to PLAN_AUDIT.md.

This automates the ".explain() and iterate" discipline the repo builds
on: for every ``__spark_entry__.queries()`` entry it records the
scale-relevant plan properties — shuffle (Exchange) count, broadcast vs
sort-merge join mix, BroadcastNestedLoopJoin / CartesianProduct
occurrences (cross-checked against the pytest allowlist), single-
partition exchanges, whole-stage-codegen span count, whether the
parquet scan carries pushed filters, and how many scans read rows
parallelized from a Python list (``Scan ExistingRDD`` over
``applySchemaToPythonRDD`` — each one runs a Python-worker job;
driver-held rows belong in ``frames.local_frame``) — so a refactor that silently
degrades a plan shows up as a table diff, not a slow bench three rounds
later. Streaming replays are skipped (their plan is per-micro-batch).

Usage:
      python scripts/plan_audit.py [sf_dir]          # regenerate
      python scripts/plan_audit.py --check [sf_dir]  # exit 1 if stale
  (sf_dir defaults to sf0.001)
"""

from __future__ import annotations

import argparse
import contextlib
import difflib
import io
import os
import re
import sys

sys.path.insert(0, ".")

import __spark_entry__ as entrypoint  # noqa: E402
from local_etl_csv_to_postgresql_spark.session import get_spark  # noqa: E402


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def audit(plan: str) -> dict:
    return {
        "exchanges": len(re.findall(r"\bExchange ", plan)),
        "single_part": plan.count("Exchange SinglePartition"),
        "bhj": len(re.findall(r"\bBroadcastHashJoin\b", plan)),
        "smj": len(re.findall(r"\bSortMergeJoin\b", plan)),
        "bnlj": len(re.findall(r"\bBroadcastNestedLoopJoin\b", plan)),
        "cartesian": len(re.findall(r"\bCartesianProduct\b", plan)),
        "pushed": bool(re.search(r"PushedFilters: \[[^\]]", plan)),
        "py_rdd": len(
            re.findall(r"Arguments: .*applySchemaToPythonRDD.*ExistingRDD", plan)
        ),
    }


REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_PATH = os.path.join(REPO, "PLAN_AUDIT.md")


def build(spark, sf: str) -> str:
    """The PLAN_AUDIT.md text for every batch query over ``sf``."""
    rows = []
    for name, fn in entrypoint.queries().items():
        if name.startswith("st") and name[2:3].isdigit():
            continue  # streaming replay: plan is per-micro-batch
        try:
            rows.append((name, audit(plan_of(fn(spark, sf)))))
        except Exception as e:  # noqa: BLE001
            rows.append((name, {"error": str(e).split("\n")[0][:80]}))
    out = [
        "# PLAN_AUDIT — physical-plan properties per query",
        "",
        f"Generated by scripts/plan_audit.py over `{sf}`. Columns:",
        "shuffles (Exchange count), 1-part (SinglePartition exchanges —",
        "bounded-metadata rollups only), BHJ/SMJ (broadcast vs sort-merge",
        "joins), BNLJ (broadcast-nested-loop — allowlisted bounded sides",
        "only, see tests/test_plans.py), CART (cartesian — must be 0),",
        "pushed (parquet filter pushdown present), pyRDD (scans of rows",
        "parallelized from a Python list — each runs a Python-worker job;",
        "must be 0, see frames.local_frame). Whole-stage-codegen",
        "spans are not visible pre-execution under AQE, so they are not",
        "audited here; tests/test_plans.py pins them where load-bearing.",
        "",
        "| query | shuffles | 1-part | BHJ | SMJ | BNLJ | CART | pushed "
        "| pyRDD |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    for name, a in rows:
        if "error" in a:
            out.append(f"| {name} | ERROR: {a['error']} | | | | | | | |")
            continue
        out.append(
            f"| {name} | {a['exchanges']} | {a['single_part']} | {a['bhj']} "
            f"| {a['smj']} | {a['bnlj']} | {a['cartesian']} "
            f"| {'y' if a['pushed'] else ''} | {a['py_rdd']} |"
        )
    cart = [n for n, a in rows if a.get("cartesian")]
    py_rdd = [n for n, a in rows if a.get("py_rdd")]
    out.append("")
    out.append(
        f"Totals: {len(rows)} batch queries audited; "
        f"CartesianProduct present in {len(cart)} ({cart or 'none'}); "
        f"Python-list scans in {len(py_rdd)} ({py_rdd or 'none'})."
    )
    return "\n".join(out) + "\n"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        description="Regenerate PLAN_AUDIT.md, or check it is fresh."
    )
    ap.add_argument(
        "--check",
        action="store_true",
        help="exit 1 and print the differing rows if the committed "
        "audit is stale; write nothing",
    )
    ap.add_argument(
        "sf_dir", nargs="?", default="/root/testdata/sf0.001",
        help="table directory the plans are built over (default sf0.001)",
    )
    args = ap.parse_args(argv)
    spark = get_spark("plan_audit")
    try:
        content = build(spark, args.sf_dir)
    finally:
        spark.stop()
    if args.check:
        try:
            with open(OUT_PATH) as fh:
                current = fh.read()
        except OSError:
            current = ""
        if current == content:
            return 0
        diff = difflib.unified_diff(
            current.splitlines(), content.splitlines(),
            "PLAN_AUDIT.md (committed)", "PLAN_AUDIT.md (built)",
            lineterm="", n=0,
        )
        sys.stderr.write(
            "\n".join(diff) + "\nPLAN_AUDIT.md is stale — rerun "
            "python scripts/plan_audit.py\n"
        )
        return 1
    with open(OUT_PATH, "w") as fh:
        fh.write(content)
    print(f"wrote {OUT_PATH}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
