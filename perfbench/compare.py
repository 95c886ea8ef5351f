"""Compare two sets of benchmark records, per workload and metric.

    python3 perfbench/compare.py SET_A [SET_B]

Each set is a directory of records written by ``run.py --out``. For each
workload and metric the table gives every set's run count, first
quartile, median and third quartile, and the spread (quartile distance
as a share of the median). With two sets it adds how much worse B's
median is than A's. End-to-end metrics are judged against their
``BENCHMARK.json`` bound: a spread (except ``setup_s``'s) or a worsening
beyond the bound prints ``FAIL`` and makes the exit code 1.
"""

from __future__ import annotations

import json
import sys
from collections import defaultdict
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from stats import quartiles, spread, worse_by  # noqa: E402


def load_set(path: str) -> dict:
    """{(workload, trace): {metric: [values]}} from a record directory."""
    out: dict = defaultdict(lambda: defaultdict(list))
    files = sorted(Path(path).glob("*.json"))
    if not files:
        raise SystemExit(f"no records in {path}")
    for f in files:
        rec = json.loads(f.read_text())
        prov = rec["provenance"]
        key = (prov["workload"], prov["trace"])
        for name, m in rec["result"]["metrics"].items():
            out[key][name].append(m["value"])
        out[key]["(failed ops)"].append(rec["result"]["failed"])
    return out


def main(argv: list[str]) -> int:
    if not 1 <= len(argv) <= 2:
        print(__doc__, file=sys.stderr)
        return 2
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    sets = [load_set(p) for p in argv]
    bad = 0
    header = f"{'metric':<32}" + "".join(
        f"{'n':>4}{'q1':>12}{'median':>12}{'q3':>12}{'spread':>8}" for _ in sets
    )
    if len(sets) == 2:
        header += f"{'B worse':>9}{'bound':>7}"
    for key in sorted(set().union(*sets)):
        print(f"\n== workload {key[0]}  trace={key[1]}")
        print(header)
        names = sorted(set().union(*(s[key].keys() for s in sets if key in s)))
        for name in names:
            line = f"{name:<32}"
            meds = []
            problems = []
            bound = e2e[name]["bound"] if name in e2e and key[1] == 0 else None
            for s in sets:
                vals = s.get(key, {}).get(name, [])
                if not vals:
                    line += f"{'-':>4}" + " " * 44
                    meds.append(None)
                    continue
                q1, med, q3 = quartiles(vals)
                sp = spread(vals)
                meds.append(med)
                line += f"{len(vals):>4}{q1:>12.4g}{med:>12.4g}{q3:>12.4g}{sp:>8.3f}"
                if bound is not None and name != "setup_s" and sp > bound:
                    problems.append(f"spread {sp:.3f} > {bound}")
            if len(sets) == 2 and None not in meds:
                better = e2e[name]["better"] if name in e2e else "lower"
                w = worse_by(meds[0], meds[1], better) if meds[0] else 0.0
                line += f"{w:>+9.3f}"
                if bound is not None:
                    line += f"{bound:>7}"
                    if w > bound:
                        problems.append(f"B worse by {w:.3f} > {bound}")
            if problems:
                bad += 1
                line += "  FAIL: " + "; ".join(problems)
            print(line)
    print(f"\n{bad} end-to-end metric(s) outside their bound")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
