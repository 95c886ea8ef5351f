"""Parametrized-knob contracts for the LSH families (advice r1 #8/#9):
MinHash banding and sign-LSH blocking must stay correct at ANY (k,
bands) / (nbits, n_tables) setting — verified against pure-Python
reference implementations, plus the invariant that exact duplicates
are candidates at every setting (banding recall is 1.0 at s = 1)."""

from __future__ import annotations

import hashlib
import itertools

import pytest
from pyspark.sql import functions as F

from local_etl_csv_to_postgresql_spark.functions import dedup as dd
from local_etl_csv_to_postgresql_spark.functions.similarity import (
    neardup_pairs,
    sign_bucket,
)

P = 2_147_483_647
REDUCE = 2_147_483_648


def _hash60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _py_minhash(shingle_set: set[str], k: int) -> list[int]:
    base = [_hash60(s) % REDUCE for s in shingle_set]
    return [
        min(((2 * j + 3) * h + (5 * j + 7)) % P for h in base) for j in range(k)
    ]


def _py_band_keys(sig: list[int], k: int, bands: int) -> list[str]:
    r = k // bands
    return [
        hashlib.md5(",".join(str(m) for m in sig[b * r:(b + 1) * r]).encode()).hexdigest()
        for b in range(bands)
    ]


DOCS = [
    (0, "the quick brown fox jumps over the lazy dog again and again"),
    (1, "the quick brown fox jumps over the lazy dog again and again"),  # exact dup of 0
    (2, "the quick brown fox leaps over the lazy dog again and again"),  # near dup
    (3, "completely different text with no overlap whatsoever here now"),
    (4, "another unrelated document about spark query engines at scale"),
]


@pytest.mark.parametrize("k,bands", [(16, 4), (32, 8), (8, 2)])
def test_lsh_candidates_match_python_reference(spark, k, bands):
    docs = spark.createDataFrame(DOCS, ["doc_id", "text"]).withColumn(
        "__sh", dd.shingles(F.split("text", " "))
    )
    sigs = dd.minhash_signatures_agg(docs, "doc_id", "__sh", k=k)
    got = {
        (r["id_a"], r["id_b"])
        for r in dd.lsh_candidate_pairs(sigs, "doc_id", "signature", k=k, bands=bands).collect()
    }
    py_sigs = {}
    for i, text in DOCS:
        w = text.split(" ")
        sh = {" ".join(w[j:j + 3]) for j in range(len(w) - 2)}
        py_sigs[i] = _py_band_keys(_py_minhash(sh, k), k, bands)
    want = {
        (a, b)
        for a, b in itertools.combinations(sorted(py_sigs), 2)
        if any(x == y for x, y in zip(py_sigs[a], py_sigs[b]))
    }
    assert got == want
    assert (0, 1) in got  # exact dups always collide, at every setting


@pytest.mark.parametrize("nbits,n_tables", [(4, 4), (8, 2), (4, 1)])
def test_sign_lsh_candidates_match_python_reference(spark, nbits, n_tables):
    import random

    rnd = random.Random(7)
    vecs = [(i, [rnd.uniform(-1, 1) for _ in range(32)]) for i in range(30)]
    vecs.append((30, list(vecs[0][1])))  # identical twin of vec 0
    emb = spark.createDataFrame(vecs, ["vec_id", "embedding"])

    got = {
        (r["id_a"], r["id_b"])
        for r in neardup_pairs(
            emb, threshold=-1.0, nbits=nbits, n_tables=n_tables
        ).collect()
    }

    def bucket(v, t):
        return sum(
            (1 << i) for i in range(nbits) if v[t * nbits + i] > 0
        )

    want = {
        (a, b)
        for (a, va), (b, vb) in itertools.combinations(vecs, 2)
        if any(bucket(va, t) == bucket(vb, t) for t in range(n_tables))
    }
    assert got == want
    assert (0, 30) in got  # identical vectors always pair, every setting


def test_sign_bucket_offset_slices_disjoint_dims(spark):
    df = spark.createDataFrame(
        [(1, [1.0, -1.0, 1.0, 1.0, -1.0, 1.0, -1.0, -1.0])], ["id", "e"]
    )
    r = df.select(
        sign_bucket(F.col("e"), 4, offset=0).alias("b0"),
        sign_bucket(F.col("e"), 4, offset=4).alias("b1"),
    ).collect()[0]
    assert r["b0"] == 0b1101  # dims 1-4: +,-,+,+ -> bits 0,2,3
    assert r["b1"] == 0b0010  # dims 5-8: -,+,-,- -> bit 1
