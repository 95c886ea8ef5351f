"""The vector queries' Python-worker kernels (functions/kernels.py).

Workers get these functions by value, so they must run in an
interpreter that cannot import the package; the PQ kernel's codeword
and RAW reconstruction error must equal the JVM fold's bits; dd13's
pair scorer must name NULL, ragged and NaN inputs.
"""

from __future__ import annotations

import json
import os
import struct
import subprocess
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from pyspark import cloudpickle
from pyspark.sql import functions as F

from local_etl_csv_to_postgresql_spark.functions import kernels
from local_etl_csv_to_postgresql_spark.functions.similarity import (
    _assign_via_fold,
)

SF = "/root/testdata/sf0.001"

_LOAD_AND_CALL = """
import json, sys
import pandas as pd
import pyarrow as pa
from pyspark import cloudpickle

with open(sys.argv[1], "rb") as fh:
    assign, pq, dd13, assign_in, pq_in, dd13_in = cloudpickle.load(fh)
(a,) = list(assign([assign_in]))
(p,) = list(pq([pq_in]))
d = dd13(dd13_in)
print(json.dumps({
    "assign": a.column(2).to_pylist(),
    "pq": [p.column(4).to_pylist(), p.column(5).to_pylist()],
    "dd13": d.to_dict("list"),
    "package_imported": any(
        m.startswith("local_etl_csv_to_postgresql_spark") for m in sys.modules
    ),
}))
"""


def _bits(x: float) -> int:
    return struct.unpack("<Q", struct.pack("<d", x))[0]


def test_worker_functions_run_without_the_package(tmp_path):
    """Each worker function, pickled the way Spark ships it, loads and
    runs in a fresh interpreter whose working directory and path hold
    no copy of the package — and never imports it."""
    cids = np.array([3, 7], dtype=np.int64)
    cmat = np.array([[1.0, 0.0], [0.0, 1.0]])
    assign_in = pa.record_batch(
        [pa.array([1, 2], pa.int64()), pa.array([[0.1, 2.0], [3.0, 0.5]])],
        names=["vec_id", "embedding"],
    )
    pq_in = pa.record_batch(
        [
            pa.array([1, 2], pa.int64()),
            pa.array([0, 0], pa.int32()),
            pa.array([0, 0], pa.int32()),
            pa.array([[0.0, 2.0], [3.0, 0.0]], pa.list_(pa.float64())),
        ],
        names=["vec_id", "label", "__m", "__sv"],
    )
    dd13_in = pd.DataFrame(
        {
            "__cid": [4, 4, 4],
            "vec_id": [9, 5, 6],
            "__v": [np.array(v) for v in ([1.0, 0.0], [1.0, 1.0], [0.0, 2.0])],
        }
    )
    fns = (
        kernels.centroid_assigner(cids, cmat),
        kernels.pq_kernel({(0, 3): [1.0, 0.0], (0, 5): [0.0, 1.0]}, True),
        kernels.dd13_pair_dots,
    )
    payload = tmp_path / "fns.pkl"
    payload.write_bytes(cloudpickle.dumps((*fns, assign_in, pq_in, dd13_in)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _LOAD_AND_CALL, str(payload)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    got = json.loads(proc.stdout)
    assert got["package_imported"] is False
    assert got["assign"] == [7, 3]
    assert got["pq"] == [[5, 3], [1.0, 4.0]]
    assert got["dd13"] == fns[2](dd13_in).to_dict("list")
    assert got["dd13"]["__idb"] == [6, 9, 9]


def test_pq_kernel_bits_match_the_fold(spark):
    """Per subspace, the PQ kernel's codeword equals
    ``_assign_via_fold``'s and its raw error has the bits of the JVM
    per-dimension fold against that codeword, on the sf0.001
    subvectors plus a tie row (the codebook holds a colinear pair), a
    zero-norm row and an irregular row. The regular rows run as one
    batch (vectorized path); the irregular row shares a second batch
    with regular rows (per-row path)."""
    if not os.path.isdir(SF):
        pytest.skip("sf0.001 testdata not present")
    import pyarrow.parquet as pq

    width = 32
    emb = pq.read_table(f"{SF}/embeddings.parquet").sort_by("vec_id")
    vecs = [[float(x) for x in v] for v in emb.column("embedding").to_pylist()]
    ids = emb.column("vec_id").to_pylist()
    codebooks = {
        (m, ids[j]): vecs[j][m * width : (m + 1) * width]
        for m in range(2)
        for j in range(16)
    }
    codebooks[(0, 10_000)] = [2.0 * x for x in codebooks[(0, ids[0])]]
    rows = [
        (i, m, v[m * width : (m + 1) * width])
        for i, v in enumerate(vecs)
        for m in range(2)
    ]
    n = len(rows)
    # tie between cid ids[0] and its double 10_000 -> ids[0]
    rows.append((n, 0, list(codebooks[(0, ids[0])])))
    # zero norm -> lowest cid, err = |c|²
    rows.append((n + 1, 1, [0.0] * width))
    mixed = rows[:5] + [(n + 2, 0, [1.0] * 5)]  # ragged

    def batch(part):
        return pa.record_batch(
            [
                pa.array([r[0] for r in part], pa.int64()),
                pa.array([0] * len(part), pa.int32()),
                pa.array([r[1] for r in part], pa.int32()),
                pa.array([r[2] for r in part], pa.list_(pa.float64())),
            ],
            names=["vec_id", "label", "__m", "__sv"],
        )

    got = {}
    for part in (rows, mixed):
        for out in kernels.pq_kernel(codebooks, True)([batch(part)]):
            for rid, m, cid, err in zip(
                out.column(0).to_pylist(),
                out.column(2).to_pylist(),
                out.column(4).to_pylist(),
                out.column(5).to_pylist(),
            ):
                got[(rid, m)] = (cid, err)
    assert len(got) == len(rows) + 1

    ref = {}
    for m in range(2):
        cents = spark.createDataFrame(
            [(cid, vec) for (mm, cid), vec in codebooks.items() if mm == m],
            "__cid long, __cvec array<double>",
        )
        df = spark.createDataFrame(
            [(r[0], r[2]) for r in rows + mixed[-1:] if r[1] == m],
            "rid long, __sv array<double>",
        )
        err = F.aggregate(
            F.zip_with("__sv", "__cvec", lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        for r in (
            _assign_via_fold(df, cents, "rid", "__sv")
            .join(cents, "__cid")
            .select("rid", "__cid", err.alias("__err"))
            .collect()
        ):
            ref[(r["rid"], m)] = (r["__cid"], r["__err"])

    assert set(got) == set(ref)
    assert got[(n, 0)][0] == ids[0]
    assert got[(n + 2, 0)] == (ids[0], None)
    for key, (cid, err) in ref.items():
        assert got[key][0] == cid, key
        if err is None:
            assert got[key][1] is None, key
        else:
            assert _bits(got[key][1]) == _bits(err), key


@pytest.mark.parametrize(
    "vectors,cause",
    [
        ([[1.0, 2.0], None, [0.5, 0.5]], "NULL embedding vector"),
        ([[1.0, 2.0], [1.0], [0.5, 0.5]], "ragged"),
        ([[1.0, 2.0], [float("nan"), 1.0], [0.5, 0.5]], "NaN"),
        ([[1.0, 2.0], [None, 1.0], [0.5, 0.5]], "NULL or NaN"),
    ],
    ids=["null_vector", "ragged", "nan_component", "null_component"],
)
def test_dd13_pair_kernel_names_bad_vectors(vectors, cause):
    """A cluster holding a NULL, ragged or NaN vector raises a
    ValueError naming dd13 and the cause (pandas hands a NULL element
    over as NaN)."""
    pdf = pd.DataFrame(
        {
            "__cid": [0] * len(vectors),
            "vec_id": list(range(len(vectors))),
            "__v": [
                None if v is None else np.array(v, dtype=float)
                for v in vectors
            ],
        }
    )
    with pytest.raises(ValueError, match=rf"dd13 pair kernel: .*{cause}"):
        kernels.dd13_pair_dots(pdf)
