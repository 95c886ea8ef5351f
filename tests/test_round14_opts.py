"""Round-14 optimization invariants.

The dd13 vectorized pair kernel (kernels.dd13_pair_dots) must be
BIT-identical to the certified join+fold shape it replaced: same pair
set, same raw dot and norm-product doubles (the per-dimension Gram
accumulation reproduces the fold's left-to-right order). The
mapInArrow centroid assignment must pick the fold's winner on every
row.
"""

from __future__ import annotations

import struct

from pyspark.sql import functions as F

from local_etl_csv_to_postgresql_spark.functions import similarity as sim
from local_etl_csv_to_postgresql_spark.functions.entrypoints import SEMDEDUP_K
from local_etl_csv_to_postgresql_spark.functions.kernels import (
    dd13_pair_dots,
    pq_kernel,
)
from local_etl_csv_to_postgresql_spark.plans.analytics import load


def _bits(x: float) -> int:
    return struct.unpack("<Q", struct.pack("<d", x))[0]


SF = "/root/testdata/sf0.001"


def test_dd13_pair_kernel_bit_identical_to_fold(spark):
    emb = load(spark, SF, "embeddings")
    ed = emb.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
            "__v"
        ),
    )
    cents = sim.lloyd_centroids(emb, n_centroids=SEMDEDUP_K, n_iter=2)
    assigned = sim.assign_to_centroids(ed, cents, "vec_id", "__v").select(
        "__cid", "vec_id", "__v"
    ).localCheckpoint()

    # reference: the r12-certified join + interpreted-fold shape,
    # emitting the same RAW doubles the kernel emits
    normed = assigned.select(
        "__cid", "vec_id", "__v", sim.norm(F.col("__v")).alias("__n")
    )
    a = normed.select(
        "__cid",
        F.col("vec_id").alias("__ida"),
        F.col("__v").alias("__va"),
        F.col("__n").alias("__na"),
    )
    b = normed.select(
        "__cid",
        F.col("vec_id").alias("__idb"),
        F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"),
    )
    ref = {
        (r["__cid"], r["__ida"], r["__idb"]): (r["__dot"], r["__den"])
        for r in a.join(b, "__cid")
        .filter(F.col("__ida") < F.col("__idb"))
        .select(
            "__cid",
            "__ida",
            "__idb",
            sim.dot(F.col("__va"), F.col("__vb")).alias("__dot"),
            (F.col("__na") * F.col("__nb")).alias("__den"),
        )
        .collect()
    }

    got = {}
    for pdf in (
        assigned.toPandas().groupby("__cid", sort=False)
    ):
        out = dd13_pair_dots(pdf[1])
        ids = sorted(pdf[1]["vec_id"].tolist())
        # reconstruct ida from the triu order the kernel emits
        import numpy as np

        n = len(ids)
        ia, ib = np.triu_indices(n, k=1)
        for k in range(len(out)):
            key = (
                int(out["__cid"].iloc[k]),
                int(ids[ia[k]]),
                int(out["__idb"].iloc[k]),
            )
            got[key] = (
                float(out["__dot"].iloc[k]),
                float(out["__den"].iloc[k]),
            )

    assert set(got) == set(ref)
    for key, (d_ref, den_ref) in ref.items():
        d_got, den_got = got[key]
        assert _bits(d_got) == _bits(d_ref), key
        assert _bits(den_got) == _bits(den_ref), key


def test_assignment_arrow_kernel_matches_fold(spark):
    """The r14 mapInArrow assignment strategy must reproduce the fold's
    winner on every row — including ties, zero-norm vectors, NULL
    elements, ragged lengths, NULL vectors, and negative components."""
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(DoubleType())),
        ]
    )
    rows = [
        (1, [1.0, 2.0, -3.0, 0.5]),
        (2, [1.0, 2.0, -3.0, 0.5]),          # exact duplicate (ties)
        (3, [0.0, 0.0, 0.0, 0.0]),           # zero norm -> lowest cid
        (4, [2.0, 4.0, -6.0, 1.0]),          # colinear with row 1 (tie by sim)
        (5, [1.0, None, 2.0, 3.0]),          # NULL element -> lowest cid
        (6, [1.0, 2.0]),                     # ragged length -> lowest cid
        (7, None),                           # NULL vector -> lowest cid
        (8, [-1.0, -2.0, 3.0, -0.5]),        # antipode
        (9, [1e-300, 2e-300, -3e-300, 5e-301]),
    ]
    cents_rows = [
        (10, [1.0, 2.0, -3.0, 0.5]),
        (11, [2.0, 4.0, -6.0, 1.0]),         # colinear with cid 10
        (12, [-1.0, 1.0, 0.0, 2.0]),
    ]
    df = spark.createDataFrame(rows, schema)
    cents = spark.createDataFrame(
        cents_rows,
        StructType(
            [
                StructField("__cid", LongType()),
                StructField("__cvec", ArrayType(DoubleType())),
            ]
        ),
    )
    from local_etl_csv_to_postgresql_spark.functions.similarity import (
        _assign_via_arrow,
        _assign_via_fold,
    )

    got = {
        r["vec_id"]: r["__cid"]
        for r in _assign_via_arrow(df, cents, "vec_id", "embedding").collect()
    }
    ref = {
        r["vec_id"]: r["__cid"]
        for r in _assign_via_fold(df, cents, "vec_id", "embedding").collect()
    }
    assert got == ref
    # empty centroid panel -> empty result on both strategies
    empty = cents.filter("__cid < 0")
    assert _assign_via_arrow(df, empty, "vec_id", "embedding").count() == 0
    assert _assign_via_fold(df, empty, "vec_id", "embedding").count() == 0


def test_pq_kernel_regular_batch_of_another_width_takes_the_fold_answer():
    """A batch whose subvectors are all one width (so the vectorized
    path is taken) but not the codebook's width: the fold gives every
    candidate sim NULL, so each row takes the lowest cid with a NULL
    error; a batch of the codebook's width still scores normally."""
    import pyarrow as pa

    codebooks = {(0, 3): [1.0, 0.0], (0, 5): [0.0, 1.0]}

    def run(vectors):
        batch = pa.record_batch(
            [
                pa.array(range(len(vectors)), pa.int64()),
                pa.array([0] * len(vectors), pa.int32()),
                pa.array([0] * len(vectors), pa.int32()),
                pa.array(vectors, pa.list_(pa.float64())),
            ],
            names=["vec_id", "label", "__m", "__sv"],
        )
        (out,) = list(pq_kernel(codebooks, True)([batch]))
        return list(zip(out.column(4).to_pylist(), out.column(5).to_pylist()))

    assert run([[0.0, 1.0, 2.0], [3.0, 0.0, 0.0]]) == [(3, None), (3, None)]
    assert run([[0.0, 2.0], [3.0, 0.0]]) == [(5, 1.0), (3, 4.0)]
