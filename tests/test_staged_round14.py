"""Round-14 query invariants (wave 81): semantic properties the hash
compare alone can't express. Oracle certification runs in
tests/test_oracle_gate.py (sf0.001) and in
tests/test_staged_round7.py's driver-scale harness (sf0.01)."""

from __future__ import annotations

import os
import re
from collections import Counter

import pytest

import __spark_entry__ as ep

QUERIES = ep.queries()

SF = "/root/testdata/sf0.001"

needs_testdata = pytest.mark.skipif(
    not os.path.isdir(SF), reason="driver testdata not present"
)


def _tokens(text: str) -> list[str]:
    return re.findall(r"[a-z0-9]+", text.lower())


@needs_testdata
@pytest.mark.integration
def test_pv03_python_pivot_replay(spark):
    """Exact Python replay of the dynamic pivot at sf0.001: every
    (source, lang) cell's count and char mass must equal a pandas
    groupby over the raw parquet, the contract covers every lang in
    the data (nothing silently dropped by the projection), and row
    totals re-add to the corpus."""
    import pandas as pd

    from local_etl_csv_to_postgresql_spark.functions.entrypoints import (
        PV03_LANGS,
    )

    raw = pd.read_parquet(
        os.path.join(SF, "documents.parquet"),
        columns=["source", "lang", "n_chars"],
    )
    assert set(raw["lang"].unique()) <= set(PV03_LANGS)
    cells = raw.groupby(["source", "lang"])["n_chars"].agg(["count", "sum"])
    rows = {
        r["source"]: r
        for r in QUERIES["pv03_dynamic_lang_pivot"](spark, SF).collect()
    }
    assert set(rows) == set(raw["source"].unique())
    for src, r in rows.items():
        for lg in PV03_LANGS:
            if (src, lg) in cells.index:
                want_n = int(cells.loc[(src, lg), "count"])
                want_c = int(cells.loc[(src, lg), "sum"])
            else:
                want_n = want_c = 0
            assert r[f"n_{lg}"] == want_n, (src, lg)
            assert r[f"chars_{lg}"] == want_c, (src, lg)
    total_n = sum(r[f"n_{lg}"] for r in rows.values() for lg in PV03_LANGS)
    assert total_n == len(raw)


@pytest.mark.integration
def test_pv03_absent_language_materializes_zero_column(spark, tmp_path):
    """A degenerate single-language corpus still produces the full
    10-column contract: the languages the dynamic pivot never saw
    come back as all-zero columns (the schema fix-up path), and the
    one live language carries the real numbers."""
    import pandas as pd

    pd.DataFrame(
        {
            "doc_id": [0, 1],
            "text": ["a b", "c"],
            "lang": ["en", "en"],
            "source": ["s0", "s0"],
            "n_chars": [3, 1],
        }
    ).to_parquet(tmp_path / "documents.parquet")
    rows = QUERIES["pv03_dynamic_lang_pivot"](spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_en"] == 2 and r["chars_en"] == 4
    for lg in ("de", "es", "fr", "zh"):
        assert r[f"n_{lg}"] == 0 and r[f"chars_{lg}"] == 0


@needs_testdata
@pytest.mark.integration
def test_fi01_python_heavy_hitter_replay(spark):
    """Exact Python replay at sf0.001: the output must be EXACTLY the
    tokens whose true count clears n/(K+1) — the sketch is a
    candidate pre-filter whose possible false positives are removed
    by the exact recount, and the Misra-Gries guarantee means no
    false negatives. Counts and shares replay to the digit. The
    synthetic corpus's template vocabulary sits BELOW the counter
    budget, so this pass certifies the batch-merge path; the eviction
    path is pinned by test_fi01_eviction_path_parity on a >10·K-type
    corpus."""
    import pandas as pd

    from local_etl_csv_to_postgresql_spark.functions.entrypoints import (
        FI01_K,
    )

    raw = pd.read_parquet(
        os.path.join(SF, "documents.parquet"), columns=["text"]
    )
    counts: Counter = Counter()
    for text in raw["text"]:
        counts.update(_tokens(text))
    n = sum(counts.values())
    want = {
        t: c for t, c in counts.items() if c * (FI01_K + 1) > n
    }
    rows = QUERIES["fi01_heavy_hitter_tokens"](spark, SF).collect()
    assert {r["token"] for r in rows} == set(want)
    prev = None
    for r in rows:
        assert r["cnt"] == want[r["token"]]
        assert r["share"] == pytest.approx(
            round(r["cnt"] / n, 6), abs=1e-12
        )
        if prev is not None:  # ordered desc by cnt, ties by token
            assert (prev["cnt"], ) >= (r["cnt"], )
        prev = r


@pytest.mark.integration
def test_fi01_eviction_path_parity(spark, tmp_path):
    """The Misra-Gries EVICTION branch (vocabulary far above the K
    counter budget, so every partition's summary repeatedly subtracts
    its (K+1)-st largest count and drops the tail) on a planted-skew
    corpus: 5 heavy tokens at ~9% mass each over a >10·K-type tail.
    The final output must still be the EXACT heavy-hitter set — the
    sketch may only ever add false candidates, never lose a true one
    — checked against a Python replay AND the DuckDB oracle."""
    import random

    import pandas as pd

    duckdb = pytest.importorskip("duckdb")
    from local_etl_csv_to_postgresql_spark.functions.entrypoints import (
        EXTENSION_ORACLE,
        FI01_K,
    )
    from scripts.check_oracle import compare

    rng = random.Random(81)
    heavy = [f"hh{i}" for i in range(5)]
    tail = [f"t{i}" for i in range(2400)]
    tokens = heavy * 800 + [t for t in tail for _ in (0, 1)] + [
        rng.choice(tail) for _ in range(200)
    ]
    rng.shuffle(tokens)
    docs = [" ".join(tokens[i::50]) for i in range(50)]
    pd.DataFrame(
        {
            "doc_id": range(50),
            "text": docs,
            "lang": ["en"] * 50,
            "source": ["s0"] * 50,
            "n_chars": [len(d) for d in docs],
        }
    ).to_parquet(tmp_path / "documents.parquet")

    counts: Counter = Counter(tokens)
    n = sum(counts.values())
    assert len(counts) > 10 * FI01_K  # the eviction branch must run
    want = {t: c for t, c in counts.items() if c * (FI01_K + 1) > n}
    assert set(want) == set(heavy)

    sdf = QUERIES["fi01_heavy_hitter_tokens"](spark, str(tmp_path)).toPandas()
    assert dict(zip(sdf["token"], sdf["cnt"])) == want
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"'{tmp_path}/documents.parquet'"
        )
        odf = con.execute(
            EXTENSION_ORACLE["fi01_heavy_hitter_tokens"]
        ).fetchdf()
    finally:
        con.close()
    problems = [
        p for p in compare("fi01_eviction", sdf, odf)
        if not p.startswith("dtype ")
    ]
    assert not problems, "; ".join(problems)


@pytest.mark.integration
def test_fi01_degenerate_corpora(spark, tmp_path):
    """Single-type and empty corpora: one token type owns the whole
    mass (share 1.0, survives any K), and an empty corpus yields zero
    rows on both the sketch and recount passes rather than an error."""
    import pandas as pd

    base = tmp_path / "one"
    base.mkdir()
    pd.DataFrame(
        {
            "doc_id": [0, 1],
            "text": ["spark spark", "spark"],
            "lang": ["en", "en"],
            "source": ["s0", "s0"],
            "n_chars": [11, 5],
        }
    ).to_parquet(base / "documents.parquet")
    rows = QUERIES["fi01_heavy_hitter_tokens"](spark, str(base)).collect()
    assert len(rows) == 1
    assert rows[0]["token"] == "spark"
    assert rows[0]["cnt"] == 3 and rows[0]["share"] == 1.0

    empty = tmp_path / "empty"
    empty.mkdir()
    pd.DataFrame(
        {
            "doc_id": pd.Series([], dtype="int64"),
            "text": pd.Series([], dtype="string"),
            "lang": pd.Series([], dtype="string"),
            "source": pd.Series([], dtype="string"),
            "n_chars": pd.Series([], dtype="int64"),
        }
    ).to_parquet(empty / "documents.parquet")
    assert QUERIES["fi01_heavy_hitter_tokens"](spark, str(empty)).count() == 0
