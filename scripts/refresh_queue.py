"""Report the certification-window rotation buckets.

Since round 10 the policy itself is EXECUTABLE inside
``__spark_entry__`` (``_driver_history`` / ``_window_order``): the
driver certifies the FIRST 50 entries of ``queries()``, and ``queries()``
recomputes its ordering from the checked-in ``CORRECTNESS_r*.json``
records at call time —

1. any live query whose most recent driver row FAILED;
2. queries that have NEVER been driver-certified (new queries — a
   stale green row beats no row at all), name-ascending;
3. the remaining slots by OLDEST last-green round, name-ascending
   within a round.

This script is the human-readable view of those buckets.

Run:  python scripts/refresh_queue.py            # print the computed queue
      python scripts/refresh_queue.py --refresh-only   # only bucket 3

``tests/test_entry.py::test_window_refresh_slots_are_oldest_first`` pins
the window's refresh tail against bucket 3, and
``test_window_covers_all_never_certified_queries`` pins bucket 2 inside
the window.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

WINDOW = 50


def history() -> tuple[dict[str, int], dict[str, int]]:
    """(last_green_round, last_failed_round) per query name — delegated
    to the single executable policy in ``__spark_entry__``."""
    import __spark_entry__ as ep

    return ep._driver_history()


def buckets() -> tuple[list[str], list[str], list[str]]:
    """(failed, never_certified, refresh_queue) over the LIVE registry,
    each in its in-window order (the same ordering ``queries()`` uses)."""
    import __spark_entry__ as ep

    # rows-only-by-design queries (no oracle twin — hll01) can never
    # hash-certify, so they are outside the rotation policy entirely
    oracles = set(ep.oracle_sql())
    live = [n for n in ep.queries() if n in oracles]
    last_green, last_failed = history()
    ordered = ep._window_order(live, oracles)
    failed = [
        n for n in ordered
        if n in last_failed and last_failed[n] >= last_green.get(n, -1)
    ]
    never = [n for n in ordered if n not in last_green and n not in failed]
    refresh = [n for n in ordered if n in last_green and n not in failed]
    return failed, never, refresh


def main() -> int:
    failed, never, refresh = buckets()
    if "--refresh-only" not in sys.argv[1:]:
        print(f"# bucket 1 — last row FAILED ({len(failed)}):")
        for n in failed:
            print(f"  {n}")
        print(f"# bucket 2 — never driver-certified ({len(never)}):")
        for n in never:
            print(f"  {n}")
    slots = max(0, WINDOW - len(failed) - len(never))
    print(f"# bucket 3 — refresh queue, oldest first (next {slots} fit):")
    last_green, _ = history()
    for n in refresh[: slots if slots else len(refresh)]:
        print(f"  {n}  (last green r{last_green[n]})")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
