"""Driver contract surface: entry() smoke + queries()/oracle_sql() key
coverage (the full value-equivalence gate runs in scripts/check_oracle.py)."""

from __future__ import annotations

import os
from collections import Counter

import pytest

import __spark_entry__ as ep

SF = "/root/testdata/sf0.001"


@pytest.mark.skipif(not os.path.isdir(SF), reason="driver testdata not present")
def test_entry_returns_rows(spark):
    df = ep.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns


# rows-only by design: engine-specific results with no cross-engine twin
# (HLL sketch estimates; its deterministic sibling lc01 carries the
# hash-certified check). es06 left this set in round 5 when its Spark ML
# trainer was swapped for the oracle-reproducible Lloyd's loop.
NO_ORACLE = {"hll01_distinct_users_sketch"}


def test_every_query_has_oracle():
    q, o = ep.queries(), ep.oracle_sql()
    assert set(o) == set(q) - NO_ORACLE
    assert len(q) >= 35


def test_no_name_in_two_registries():
    """queries() merges the three registries with dict.update, so a
    name registered twice would silently shadow one of the queries."""
    from local_etl_csv_to_postgresql_spark.functions.entrypoints import (
        EXTENSION_QUERIES,
    )
    from local_etl_csv_to_postgresql_spark.plans.analytics import (
        RELATIONAL_QUERIES,
    )
    from local_etl_csv_to_postgresql_spark.streaming.queries import (
        STREAMING_QUERIES,
    )

    registries = [RELATIONAL_QUERIES, EXTENSION_QUERIES, STREAMING_QUERIES]
    seen = Counter(["q00_pricing_summary"])
    for reg in registries:
        seen.update(list(reg))
    assert [n for n, c in seen.items() if c > 1] == []
    assert len(ep.queries()) == len(seen)


@pytest.mark.skipif(not os.path.isdir(SF), reason="driver testdata not present")
@pytest.mark.parametrize("name", ["q01_record_counts", "q17_mom_growth", "dd01_exact_dedup"])
def test_query_smoke(spark, name):
    df = ep.queries()[name](spark, SF)
    assert df.count() > 0


def test_certification_priority_names_resolve():
    """Every name in the certification-priority window must exist in
    queries() — a typo would silently burn one of the driver's 50
    certification slots — and the window must cover all never-certified
    queries within the first 50 entries."""
    q = ep.queries()
    missing = [n for n in ep._CERTIFICATION_PRIORITY if n not in q]
    assert missing == []
    prio = ep._CERTIFICATION_PRIORITY
    assert len(prio) == len(set(prio)), "duplicate names waste window slots"
    assert len(prio) == 50, "window must fill exactly the driver's 50 slots"
    first50 = set(list(q)[:50])
    assert set(prio) <= first50


def test_window_covers_all_never_certified_queries():
    """Policy test (round-4 rotation rule): a query that has NEVER
    received a green driver hash-row must occupy one of the 50
    certification slots — a stale green row beats no row, so
    never-certified outranks refresh. Reads every CORRECTNESS_r*.json
    the driver has produced so far."""
    import glob
    import json

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    reports = sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json")))
    if not reports:
        pytest.skip("no driver correctness reports yet")
    green: set = set()
    for path in reports:
        with open(path) as f:
            for name, row in json.load(f).items():
                if row.get("hash_match") is True:
                    green.add(name)
    q = ep.queries()
    oracles = ep.oracle_sql()
    window = set(list(q)[:50])
    stranded = [
        n for n in q
        if n in oracles and n not in green and n not in window
    ]
    assert stranded == [], (
        "never-certified queries left outside the 50-slot window: "
        f"{stranded}"
    )


def test_readme_counts():
    """README registry counts are generated-not-hand-counted (r7 verdict
    task 6): the bolded counts line must match the computed registry
    size exactly, so a query added without a README update fails the
    suite instead of shipping a stale count."""
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(here, "README.md")) as fh:
        readme = fh.read()
    expected = f"**{len(ep.queries())} live queries**"
    assert expected in readme, (
        f"README counts line out of date: expected {expected!r}"
    )
    # the Correctness section's oracle coverage sentence, in its
    # line-wrapped form
    flat = " ".join(readme.split())
    n_oracles = len(set(ep.oracle_sql()) & set(ep.queries()))
    expected = (
        f"a DuckDB twin for {n_oracles} of the {len(ep.queries())} live queries"
    )
    assert expected in flat, (
        f"README oracle coverage out of date: expected {expected!r}"
    )


def test_coverage_matrix_fresh():
    """COVERAGE_MATRIX.md is a generated artifact (r8 verdict task 6):
    it must regenerate byte-identical from the registries plus the
    record list STAMPED INTO THE FILE (r10 verdict task 2), so any
    staging wave or promotion that forgets to rerun
    scripts/coverage_matrix.py fails the suite — while a driver
    CORRECTNESS record landing AFTER the builder's last regeneration
    does not (that is `--check`'s non-blocking staleness note, not a
    committed-state defect; the r9/r10 rounds both started red on
    exactly that race)."""
    import scripts.coverage_matrix as cm

    with open(cm.OUT_PATH) as fh:
        committed = fh.read()
    pinned = cm.stamped_records(committed)
    assert pinned is not None, (
        "COVERAGE_MATRIX.md predates the Records: stamp — rerun "
        "python scripts/coverage_matrix.py"
    )
    assert committed == cm.collect(pinned), (
        "COVERAGE_MATRIX.md is stale — rerun python scripts/coverage_matrix.py"
    )
    # every stamped record must still exist (a deleted record silently
    # weakens the pinned history)
    missing = set(pinned) - set(cm.records_on_disk())
    assert missing == set(), f"stamped records missing from disk: {missing}"


def test_window_refresh_slots_are_oldest_first():
    """The rotation policy is executable (scripts/refresh_queue.py):
    the committed window's refresh slots — everything in the 50-slot
    head that HAS a green driver row — must be exactly the head of the
    computed oldest-first refresh queue, in order. A hand-curated
    window that skips an older row in favor of a newer one fails here
    instead of drifting silently."""
    import glob

    import scripts.refresh_queue as rq

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if not glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        pytest.skip("no driver correctness reports yet")
    failed, never, refresh = rq.buckets()
    window = list(ep.queries())[:50]
    window_refresh = [n for n in window if n in set(refresh)]
    assert window_refresh == refresh[: len(window_refresh)], (
        "window refresh slots are not the oldest-first queue head"
    )
    # and bucket-2 members in the window must cover ALL never-certified
    # live queries (the stranded test's invariant, restated here against
    # the computed buckets)
    assert set(never) <= set(window)


def test_coverage_matrix_stamp_pins_record_list():
    """The matrix's Records: stamp is the freshness contract (r10
    verdict task 2): collect() must be a pure function of the record
    list it is given, so (a) the stamp round-trips through the parser,
    (b) regenerating with a strict subset of records yields a DIFFERENT
    stamp (a silently-dropped record cannot produce a byte-identical
    matrix), and (c) the driver landing a new record changes NOTHING
    about the committed file's check — that race is a note, not a
    failure (the r9 and r10 rounds both started red on it)."""
    import scripts.coverage_matrix as cm

    on_disk = cm.records_on_disk()
    assert on_disk, "no driver records — driver contract violated"
    full = cm.collect(on_disk)
    assert cm.stamped_records(full) == sorted(on_disk)
    if len(on_disk) > 1:
        subset = on_disk[:-1]
        sub = cm.collect(subset)
        assert cm.stamped_records(sub) == sorted(subset)
        assert sub != full
    # a matrix with no stamp (pre-r11 format) parses to None, which
    # --check treats as stale
    assert cm.stamped_records("# Coverage matrix\n\nno stamp here\n") is None


@pytest.mark.parametrize("argv", [["--chek"], ["--help"]])
def test_coverage_matrix_bad_or_help_argument_writes_nothing(argv, capsys):
    """Only a bare run regenerates: a typo exits non-zero and --help
    exits after printing usage, both leaving the matrix byte-identical."""
    import scripts.coverage_matrix as cm

    with open(cm.OUT_PATH, "rb") as fh:
        before = fh.read()
    with pytest.raises(SystemExit) as exc:
        cm.main(argv)
    assert (exc.value.code != 0) == (argv == ["--chek"])
    out = capsys.readouterr()
    assert "--check" in out.out + out.err  # usage names the one flag
    with open(cm.OUT_PATH, "rb") as fh:
        assert fh.read() == before


@pytest.mark.parametrize("argv", [["--chek"], ["--help"]])
def test_plan_audit_bad_or_help_argument_writes_nothing(argv, capsys):
    """The plan audit's CLI: a typo exits non-zero and --help exits
    after printing usage, both before any plan is built and leaving
    PLAN_AUDIT.md byte-identical."""
    import scripts.plan_audit as pa

    with open(pa.OUT_PATH, "rb") as fh:
        before = fh.read()
    with pytest.raises(SystemExit) as exc:
        pa.main(argv)
    assert (exc.value.code != 0) == (argv == ["--chek"])
    out = capsys.readouterr()
    assert "--check" in out.out + out.err
    with open(pa.OUT_PATH, "rb") as fh:
        assert fh.read() == before


def test_plan_audit_check_prints_differing_rows(monkeypatch, capsys):
    """`--check` against a built table that differs in one row exits 1,
    names that row on both sides, and writes nothing; an identical
    table exits 0."""
    import types

    import scripts.plan_audit as pa

    with open(pa.OUT_PATH) as fh:
        committed = fh.read()
    row = next(ln for ln in committed.splitlines() if ln.startswith("| es18"))
    built = committed.replace(row, row + " drift")
    monkeypatch.setattr(
        pa, "get_spark", lambda name: types.SimpleNamespace(stop=lambda: None)
    )
    monkeypatch.setattr(pa, "build", lambda spark, sf: built)
    assert pa.main(["--check"]) == 1
    err = capsys.readouterr().err
    assert f"-{row}\n" in err and f"+{row} drift\n" in err
    with open(pa.OUT_PATH) as fh:
        assert fh.read() == committed
    monkeypatch.setattr(pa, "build", lambda spark, sf: committed)
    assert pa.main(["--check"]) == 0


def test_coverage_matrix_check_reports_deleted_pinned_record(
    monkeypatch, capsys
):
    """r11 ADVICE item 3 pinned: `--check` with a Records:-stamped
    record deleted from disk must emit the clean stale diagnostic and
    exit 1, not crash with an uncaught FileNotFoundError from
    collect(pinned)."""
    import sys as _sys

    import scripts.coverage_matrix as cm

    with open(cm.OUT_PATH) as fh:
        pinned = cm.stamped_records(fh.read())
    assert pinned, "matrix has no stamp — regenerate it first"
    on_disk = cm.records_on_disk()
    monkeypatch.setattr(
        cm, "records_on_disk", lambda: [r for r in on_disk if r != pinned[0]]
    )
    monkeypatch.setattr(_sys, "argv", ["coverage_matrix.py", "--check"])
    rc = cm.main()
    err = capsys.readouterr().err
    assert rc == 1
    assert "no longer on disk" in err
    assert pinned[0] in err
