"""Python-worker kernels of the vector queries: the centroid argmax
(``similarity.assign_to_centroids``' Arrow strategy), the PQ subspace
assignment (es12/es13) and the dd13 in-cluster pair scorer.

Every sum here reproduces the JVM fold it replaces bit-for-bit: the
fold computes ``((0.0 + p_0) + p_1) + ...`` one dimension at a time,
so every dot, norm² and squared distance accumulates PER DIMENSION
from 0.0 over whole columns (``dim_dots``, ``dim_norms``,
``dim_sq_dist``). The argmax is the fold's comparator: candidates in
ascending id order, a STRICTLY larger sim replaces the incumbent (ties
keep the lower id), NULL sims (zero norm product) lose to any non-NULL
one, and an all-NULL row keeps the lowest id.

The module imports nothing from the package: it registers itself with
cloudpickle by value (last line), so Spark ships these functions to
Python workers whole and a worker never imports the package — the
queries run from any working directory without ``PYTHONPATH``.
"""

from __future__ import annotations

import math
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyspark.cloudpickle


def dim_dots(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """``(n, d) × (k, d) → (n, k)`` dot products, each summed one
    dimension at a time from 0.0 (the dim-i product joins every pair's
    partial sum: the fold's left-to-right order)."""
    out = np.zeros((a.shape[0], b.shape[0]), dtype=np.float64)
    for i in range(a.shape[1]):
        out += np.multiply.outer(a[:, i], b[:, i])
    return out


def dim_norms(m: np.ndarray) -> np.ndarray:
    """Row norms of ``(n, d)``: ``sqrt`` of the per-dimension sum of
    squares from 0.0 (the norm fold's order)."""
    acc = np.zeros(m.shape[0], dtype=np.float64)
    for i in range(m.shape[1]):
        x = m[:, i]
        acc += x * x
    return np.sqrt(acc)


def dim_sq_dist(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise squared L2 distance of two ``(n, d)`` matrices, summed
    per dimension from 0.0 (the reconstruction-error fold)."""
    acc = np.zeros(a.shape[0], dtype=np.float64)
    for i in range(a.shape[1]):
        x = a[:, i] - b[:, i]
        acc += x * x
    return acc


def regular_matrix(arr: pa.Array, d: int | None = None):
    """A non-empty Arrow list array as ``(n, d)`` float64, or ``None``
    when a row is NULL, holds a NULL element, or the rows are ragged
    (or not ``d`` wide, when ``d`` is given)."""
    flat = arr.flatten()
    if arr.null_count or flat.null_count:
        return None
    span = pc.min_max(pc.list_value_length(arr))
    width = span["min"].as_py()
    if width != span["max"].as_py() or (d is not None and width != d):
        return None
    return (
        flat.to_numpy(zero_copy_only=False)
        .astype(np.float64, copy=False)
        .reshape(len(arr), width)
    )


def cosine_argmax(
    vmat: np.ndarray, cmat: np.ndarray, cnorm: np.ndarray
) -> np.ndarray | None:
    """Winner position (into ``cmat``'s ascending-id rows) of every
    row of ``vmat`` under the fold's comparator, or ``None`` when a
    sim is non-finite (NaN needs Spark's NaN-largest order: use
    ``cosine_argmax_row``)."""
    den = np.multiply.outer(dim_norms(vmat), cnorm)
    valid = den != 0.0
    with np.errstate(all="ignore"):
        sims = np.where(
            valid, dim_dots(vmat, cmat) / np.where(valid, den, 1.0), 0.0
        )
    if not np.isfinite(sims[valid]).all():
        return None
    best = np.zeros(len(vmat), dtype=np.int64)
    best_sim = np.full(len(vmat), -np.inf)
    has = np.zeros(len(vmat), dtype=bool)
    for j in range(len(cmat)):
        take = valid[:, j] & (~has | (sims[:, j] > best_sim))
        best[take] = j
        best_sim[take] = sims[take, j]
        has |= valid[:, j]
    return best


def cosine_argmax_row(v, cmat: np.ndarray, cnorm: np.ndarray) -> int | None:
    """The fold's winner position for one Python row, with Spark's
    comparator in full (NaN sims rank largest). ``None`` for an
    irregular row — NULL, a NULL element, or not ``d`` wide — whose
    every sim is NULL in the fold (zip_with pads with NULL), so the
    lowest id wins with nothing to score."""
    if v is None or len(v) != cmat.shape[1] or any(e is None for e in v):
        return None
    row = np.array([v], dtype=np.float64)
    with np.errstate(all="ignore"):
        den = dim_norms(row)[0] * cnorm
        dots = dim_dots(row, cmat)[0]
        best, best_sim = 0, None
        for j in range(len(cmat)):
            if den[j] == 0.0:
                continue  # NULL sim loses to anything
            s = dots[j] / den[j]
            if (
                best_sim is None
                or (math.isnan(s) and not math.isnan(best_sim))
                or (not math.isnan(best_sim) and s > best_sim)
            ):
                best, best_sim = j, s
    return best


def centroid_assigner(cids: np.ndarray, cmat: np.ndarray):
    """The ``mapInArrow`` function of ``assign_to_centroids``: batches
    of (id, vector) gain ``__cid``, the winner among the ascending
    ``cids`` with ``(k, d)`` finite vectors ``cmat``."""
    cnorm = dim_norms(cmat)

    def _assign(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            va = batch.column(1)
            vmat = regular_matrix(va, cmat.shape[1])
            best = None if vmat is None else cosine_argmax(vmat, cmat, cnorm)
            if best is None:
                best = [
                    cosine_argmax_row(v, cmat, cnorm) or 0
                    for v in va.to_pylist()
                ]
            yield pa.record_batch(
                [batch.column(0), va, pa.array(cids[best], type=pa.int64())],
                names=[*batch.schema.names, "__cid"],
            )

    return _assign


def pq_kernel(codebooks: dict, extra_err: bool):
    """The ``mapInArrow`` function of ``_pq_assigned``: each
    (vec_id, label, __m, __sv) subvector gets the argmax-cosine
    codeword of subspace ``__m`` under ``codebooks`` ((m, cid) ->
    vector), plus the RAW squared reconstruction error against the
    winner when ``extra_err`` (rounded JVM-side). Rows of a subspace
    with no codebook are dropped. An irregular subvector takes the
    lowest cid with a NULL error (the fold's all-NULL-sims answer); a
    non-finite codebook, subvector or sim raises."""
    per_m: dict[int, list] = {}
    for (m, cid), vec in sorted(codebooks.items()):
        per_m.setdefault(int(m), []).append(
            (int(cid), [float(x) for x in vec])
        )
    mats = {}
    for m, lst in per_m.items():
        cmat = np.array([v for _, v in lst], dtype=np.float64)
        if not np.isfinite(cmat).all():
            raise ValueError("PQ codebook contains non-finite values")
        cids = np.array([c for c, _ in lst], dtype=np.int64)
        mats[m] = (cids, cmat, dim_norms(cmat))

    def _kernel(batches):
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            ms = batch.column(2).to_numpy(zero_copy_only=False)
            sv = batch.column(3)
            vmat = regular_matrix(sv)
            if vmat is not None and not np.isfinite(vmat).all():
                raise ValueError("PQ subvector contains non-finite values")
            sv_rows = None  # per-row values, built on first use
            out_cid = np.zeros(n, dtype=np.int64)
            keep = np.zeros(n, dtype=bool)
            out_err = np.full(n, np.nan)
            for m, (cids_m, cmat, cn) in mats.items():
                rows = np.nonzero(ms == m)[0]
                if len(rows) == 0:
                    continue
                keep[rows] = True
                if vmat is not None and vmat.shape[1] == cmat.shape[1]:
                    vsub = vmat[rows]
                    best = cosine_argmax(vsub, cmat, cn)
                    if best is None:
                        raise ValueError("PQ sims overflowed to non-finite")
                    out_cid[rows] = cids_m[best]
                    if extra_err:
                        out_err[rows] = dim_sq_dist(vsub, cmat[best])
                    continue
                if sv_rows is None:
                    sv_rows = sv.to_pylist()
                for r in rows:
                    j = cosine_argmax_row(sv_rows[r], cmat, cn)
                    out_cid[r] = cids_m[j or 0]
                    if extra_err and j is not None:
                        row = np.array([sv_rows[r]], dtype=np.float64)
                        out_err[r] = dim_sq_dist(row, cmat[[j]])[0]
            arrays = [
                batch.column(0),
                batch.column(1),
                batch.column(2),
                sv,
                pa.array(out_cid, type=pa.int64()),
            ]
            names = ["vec_id", "label", "__m", "__sv", "__cid"]
            if extra_err:
                # NaN marks "no error": the row was dropped or irregular
                arrays.append(
                    pa.array(out_err, type=pa.float64(), from_pandas=True)
                )
                names.append("__err")
            rb = pa.record_batch(arrays, names=names)
            if not keep.all():
                rb = rb.filter(pa.array(keep))
            yield rb

    return _kernel


def dd13_pair_dots(pdf):
    """dd13's in-cluster pair scorer (``applyInPandas``): one pandas
    group per cluster in, the (idb, raw dot, raw norm product) of every
    ida < idb pair out; the NULLIF division, rounding and threshold
    stay JVM-side. The Gram matrix is ``dim_dots(V, V)``, so every
    pair adds the fold's products in the fold's order. NULL, ragged
    and NaN inputs raise: pandas turns a NULL element into NaN, and the
    Arrow return path cannot keep NaN apart from NULL."""
    import pandas as pd

    if len(pdf) < 2:
        return pd.DataFrame(
            {
                "__cid": pd.Series(dtype="int64"),
                "__idb": pd.Series(dtype="int64"),
                "__dot": pd.Series(dtype="float64"),
                "__den": pd.Series(dtype="float64"),
            }
        )
    pdf = pdf.sort_values("vec_id", ignore_index=True)
    vecs = pdf["__v"].tolist()
    if any(v is None for v in vecs):
        raise ValueError("dd13 pair kernel: NULL embedding vector")
    if len({len(v) for v in vecs}) != 1:
        raise ValueError("dd13 pair kernel: ragged embedding vectors")
    v = np.array(vecs, dtype=np.float64)
    if np.isnan(v).any():
        raise ValueError(
            "dd13 pair kernel: NULL or NaN embedding component — the Arrow "
            "return path cannot preserve NaN vs NULL bit semantics"
        )
    g = dim_dots(v, v)
    norms = dim_norms(v)
    den = np.multiply.outer(norms, norms)
    ia, ib = np.triu_indices(len(v), k=1)
    return pd.DataFrame(
        {
            "__cid": np.repeat(np.int64(pdf["__cid"].iloc[0]), len(ia)),
            "__idb": pdf["vec_id"].to_numpy()[ib],
            "__dot": g[ia, ib],
            "__den": den[ia, ib],
        }
    )


pyspark.cloudpickle.register_pickle_by_value(sys.modules[__name__])
