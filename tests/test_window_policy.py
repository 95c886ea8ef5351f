"""Unit tests for the executable certification-window policy
(__spark_entry__._window_order) on SYNTHETIC histories — the committed
tripwires (test_entry.py) pin the policy against the real driver
records; these pin the policy LOGIC itself, so a refactor cannot
silently change a bucket rule without a red test."""

from __future__ import annotations

import __spark_entry__ as ep


def order(live, oracles, green, failed):
    return ep._window_order(
        list(live), set(oracles), history=(dict(green), dict(failed))
    )


def test_failed_outranks_everything():
    got = order(
        live=["a", "b", "c", "d"],
        oracles={"a", "b", "c", "d"},
        green={"a": 3, "b": 1, "d": 2},
        failed={"a": 4},  # a failed AFTER its last green -> bucket 1
    )
    assert got[0] == "a"
    assert got[1] == "c"  # never-certified next
    assert got[2:] == ["b", "d"]  # oldest green first


def test_failure_cleared_by_later_green():
    # a failed in r2 but went green in r3 -> it is a refresh row, not
    # a bucket-1 row
    got = order(
        live=["a", "b"],
        oracles={"a", "b"},
        green={"a": 3, "b": 1},
        failed={"a": 2},
    )
    assert got == ["b", "a"]


def test_never_certified_names_come_in_name_order():
    got = order(
        live=["y", "w", "z", "x"],  # registry order is not name order
        oracles={"w", "x", "y", "z"},
        green={},
        failed={},
    )
    assert got == ["w", "x", "y", "z"]


def test_refresh_is_oldest_first_name_asc_within_round():
    got = order(
        live=["p", "q", "r", "s"],
        oracles={"p", "q", "r", "s"},
        green={"p": 2, "q": 1, "r": 2, "s": 1},
        failed={},
    )
    assert got == ["q", "s", "p", "r"]


def test_rows_only_queries_sit_outside_the_rotation():
    # no oracle twin -> excluded from the ordering entirely (the
    # hll01 rule); _ordered appends them in registry order afterwards
    got = order(
        live=["a", "hll", "b"],
        oracles={"a", "b"},
        green={"a": 1, "b": 2},
        failed={},
    )
    assert got == ["a", "b"]


def test_hash_absent_counts_as_green_rows_only_check():
    # the driver records hash_match null for rows-only checks; history
    # treats rows+schema green with hash null as green (weaker check,
    # same rotation slot) — pinned here via _driver_history's contract
    # by synthesizing what it would produce: the caller passes history
    # directly, so this documents the upstream convention instead of
    # re-parsing JSON
    green, failed = ep._driver_history()
    # the real history must never list a name in neither dict with a
    # record present — smoke the shape on whatever records exist
    for d in (green, failed):
        for name, rnd in d.items():
            assert isinstance(name, str) and isinstance(rnd, int)


def test_live_window_matches_policy_end_to_end():
    """The production path: list(queries())[:50] must equal the policy
    ordering computed from the same inputs — i.e. _ordered really is
    _window_order applied to the registry."""
    q = ep.queries()
    oracles = set(ep.oracle_sql())
    want = ep._window_order(list(q), oracles)
    got = [n for n in q if n in oracles]
    assert got == want


def test_corrupt_record_warns_instead_of_silent_skip(tmp_path, monkeypatch):
    """A truncated/unreadable CORRECTNESS file must not silently
    reshuffle the certification window (r10 ADVICE item 1): the
    history loader emits a RuntimeWarning naming the file and still
    folds in every readable record."""
    import json
    import warnings

    good = {"qx": {"rows_match": True, "schema_match": True,
                   "hash_match": True}}
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps(good))
    (tmp_path / "CORRECTNESS_r02.json").write_text('{"trunca')  # corrupt
    monkeypatch.setattr(ep, "_REPO", str(tmp_path))
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        green, failed = ep._driver_history()
    assert green == {"qx": 1} and failed == {}
    msgs = [str(w.message) for w in caught
            if issubclass(w.category, RuntimeWarning)]
    assert any("CORRECTNESS_r02.json" in m for m in msgs), (
        "corrupt record skipped with no warning"
    )
