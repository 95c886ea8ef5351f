"""Similarity search over embedding columns (array<float>).

- Brute-force cosine top-k: the exactness baseline. zip_with dot
  product in double precision — all JVM-side higher-order functions, no
  Python. O(n) per query; at cluster scale the query vector broadcasts
  and the scan parallelizes over partitions.
- Sign-LSH bucketed ANN: the scale path. Bucket key = sign bits of the
  first ``nbits`` dimensions (a fixed, deterministic hyperplane set);
  search only the query's bucket. Recall trades off with nbits; the
  point is that candidate generation becomes an equi-join on the bucket
  key instead of a full scan.

Cosines are rounded (4 dp) before any ordering so Spark and the DuckDB
oracle order identically despite float-association differences.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..frames import local_frame
from . import kernels


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column, nd: int = 4) -> Column:
    return F.round(dot(a, b) / F.nullif(norm(a) * norm(b), F.lit(0.0)), nd)


def sign_bucket(a: Column, nbits: int = 8, offset: int = 0) -> Column:
    """LSH bucket id from the sign bits of dims
    ``[offset+1, offset+nbits]`` (1-based). Distinct ``offset`` values
    give independent hash tables over disjoint hyperplane sets."""
    out = None
    for i in range(nbits):
        bit = F.when(
            F.element_at(a, offset + i + 1) > 0, F.lit(1 << i)
        ).otherwise(F.lit(0))
        out = bit if out is None else out + bit
    return out.cast("int")


def neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.35,
    nbits: int = 8,
    n_tables: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via multi-table sign-LSH
    blocking.

    All-pairs cosine is O(n²) — a non-starter at corpus scale. Blocking
    on sign-LSH buckets turns candidate generation into a bucket
    equi-self-join (one shuffle keyed on (table, bucket), pairs only
    form within a bucket), then exact cosine scores the distinct
    survivors.

    Recall/volume tradeoff, explicitly: a pair at cosine ``s`` agrees
    on one hyperplane with probability p = 1 - arccos(s)/π, on a whole
    ``nbits``-bit table with p^nbits, and survives ``n_tables``
    independent tables with 1 - (1 - p^nbits)^n_tables. Candidate
    volume scales as n_tables * n²/2^nbits (uniform signs). Size the
    knobs to the OPERATING THRESHOLD: at s = 0.35 (p ≈ 0.61) only
    coarse buckets see anything — (4 bits × 4 tables) predicts ≈ 0.46
    recall (measured 0.50 on the driver corpus, whose near-dups sit at
    0.35-0.6) where (8 bits × 2) drops to ≈ 0.04; at s = 0.9
    (p ≈ 0.856) the same formula says (16 bits × 8) keeps ≈ 0.49
    recall at 65k-bucket granularity — high-threshold dedup earns fine
    buckets, low-threshold similarity mining cannot use them. Tables
    here use disjoint dim slices (table t = signs of dims
    [t*nbits+1, (t+1)*nbits]); the embedding must carry
    nbits*n_tables dims.

    ``id_a < id_b`` keeps each unordered pair once; a pair found by
    several tables is deduped BEFORE scoring, so each candidate pays
    one cosine. Norms are computed once per VECTOR before the
    self-join, not once per candidate pair.
    """
    buckets = F.array(
        *[
            sign_bucket(F.col(vec_col), nbits, offset=t * nbits)
            for t in range(n_tables)
        ]
    )
    banded = embeddings.select(
        F.col(id_col).alias("__id"), F.posexplode(buckets)
    ).select(
        F.col("__id"), F.col("pos").alias("__table"), F.col("col").alias("__bucket")
    )
    a = banded.select(F.col("__id").alias("id_a"), "__table", "__bucket")
    b = banded.select(F.col("__id").alias("id_b"), "__table", "__bucket")
    cand = (
        a.join(b, ["__table", "__bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    wv = embeddings.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__e"),
        norm(F.col(vec_col)).alias("__n"),
    )
    sim = F.round(
        dot(F.col("__ea"), F.col("__eb"))
        / F.nullif(F.col("__na") * F.col("__nb"), F.lit(0.0)),
        4,
    )
    return (
        cand.join(
            wv.select(
                F.col("__id").alias("id_a"),
                F.col("__e").alias("__ea"),
                F.col("__n").alias("__na"),
            ),
            "id_a",
        )
        .join(
            wv.select(
                F.col("__id").alias("id_b"),
                F.col("__e").alias("__eb"),
                F.col("__n").alias("__nb"),
            ),
            "id_b",
        )
        .select("id_a", "id_b", sim.alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )


def cosine_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact top-k by cosine against the embedding of ``query_vec_id``.

    The 1-row query side is broadcast; the scan side never shuffles —
    ordering the k smallest is a TakeOrdered, not a global sort.
    """
    q = embeddings.filter(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("__q")
    )
    return (
        embeddings.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != query_vec_id)
        .select(
            id_col,
            cosine(F.col(vec_col), F.col("__q")).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), id_col)
        .limit(k)
    )


def bucketed_ann_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nbits: int = 8,
    n_tables: int = 2,
) -> DataFrame:
    """Approximate top-k: only candidates sharing the query's sign-LSH
    bucket in AT LEAST ONE of ``n_tables`` hash tables are scored
    (distinct union of per-table buckets — see ``neardup_pairs`` for
    the recall math). The (table, bucket) equi-join replaces the full
    scan; the query's bucket list is a broadcast ``n_tables``-row
    frame."""
    buckets = F.array(
        *[
            sign_bucket(F.col(vec_col), nbits, offset=t * nbits)
            for t in range(n_tables)
        ]
    )
    banded = embeddings.select(
        F.col(id_col), F.col(vec_col), F.posexplode(buckets)
    ).select(
        F.col(id_col),
        F.col(vec_col),
        F.col("pos").alias("__table"),
        F.col("col").alias("__bucket"),
    )
    q = banded.filter(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("__q"), "__table", "__bucket"
    )
    return (
        banded.join(F.broadcast(q), ["__table", "__bucket"])
        .filter(F.col(id_col) != query_vec_id)
        .select(
            id_col,
            cosine(F.col(vec_col), F.col("__q")).alias("cosine_sim"),
        )
        .distinct()
        .orderBy(F.desc("cosine_sim"), id_col)
        .limit(k)
    )


def ivf_assign(
    embeddings: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantization with deterministic centroids.

    Centroids are the ``n_centroids`` lowest-id vectors (a deterministic
    stand-in for k-means — at production scale swap in Spark ML KMeans;
    the assignment/search plumbing below is unchanged). Every vector is
    assigned to its highest-cosine centroid via a broadcast cross join +
    per-vector argmax; ties break on centroid id, so assignment is
    deterministic and oracle-reproducible.

    Returns (assigned, centroids): ``assigned`` adds ``__centroid`` to
    each embedding row.
    """
    cents = (
        embeddings.orderBy(id_col)
        .limit(n_centroids)
        .select(
            F.col(id_col).alias("__cid"), F.col(vec_col).alias("__cvec")
        )
    )
    assigned = assign_to_centroids(embeddings, cents, id_col, vec_col).select(
        id_col, vec_col, F.col("__cid").alias("__centroid")
    )
    return assigned, cents


def ivf_kmeans_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_centroids: int = 16,
    seed: int = 42,
    max_iter: int = 5,
) -> DataFrame:
    """IVF ANN with REAL Spark ML KMeans coarse quantization (the
    production form of ``ivf_topk``'s deterministic stand-in): train
    k-means on the embedding column (fixed seed — deterministic within
    an engine version, but no cross-engine oracle, so the driver check
    is rows-only), assign every vector to its cluster, then score only
    the query's cell (nprobe=1). Training is a handful of Spark jobs
    over the corpus; assignment is ``model.transform`` — a broadcast of
    the k centroid vectors, map-only. At cluster scale, write the index
    partitioned by the prediction column so a query's cell is a
    partition-pruned scan.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = embeddings.withColumn(
        "__feat", array_to_vector(F.col(vec_col).cast("array<double>"))
    )
    model = KMeans(
        k=n_centroids,
        seed=seed,
        maxIter=max_iter,
        featuresCol="__feat",
        predictionCol="__centroid",
    ).fit(feats)
    assigned = model.transform(feats).drop("__feat")
    q = assigned.filter(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("__q"), "__centroid"
    )
    return (
        assigned.join(F.broadcast(q), "__centroid")
        .filter(F.col(id_col) != query_vec_id)
        .select(
            id_col,
            cosine(F.col(vec_col), F.col("__q")).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), id_col)
        .limit(k)
    )


def assign_to_centroids(
    df: DataFrame,
    cents: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """THE centroid-assignment rule, shared by every trainer/consumer
    (lloyd_centroids, lloyd_ivf_topk, ivf_assign, dd13, es18): score
    every (vector, centroid) pair by cosine, keep the argmax with ties
    broken on centroid id (``desc_nulls_last`` sim, asc cid — a
    zero-norm vector lands on the lowest cid). This rule is
    certification-load-bearing — the DuckDB oracles mirror it verbatim
    (entrypoints._lloyd_assign_cte) — so it lives in exactly one place.
    Returns ``id_col``, ``vec_col`` and the winner's ``__cid``; a
    consumer that needs the winner's vector or sim joins the (bounded)
    centroid frame back on ``__cid``.

    Two execution strategies for the SAME rule:

    - degenerate centroids (non-long cid, NULL/non-finite components,
      ragged panel) → the broadcast-array FOLD: one packed row,
      map-side ``aggregate()`` argmax, zero shuffles (see
      _assign_via_fold for the comparator-equivalence argument).
    - otherwise → a ``mapInArrow`` kernel (guide §4.2): the k·d
      centroid panel collects to the driver (the same bounded-metadata
      class the Lloyd trainer already round-trips every iteration) and
      each Arrow batch scores vectorized in numpy
      (``kernels.centroid_assigner``) with PER-DIMENSION accumulation
      — dot and norm² accumulate from 0.0 one dimension at a time,
      reproducing the fold's ((0.0 + p0) + p1) + ... IEEE sequence
      bit-for-bit — followed by the identical strict-> cid-ascending
      argmax (null sims lose, all-null keeps the lowest cid, NaN ranks
      largest like Spark's `>`). Still zero shuffles, still one corpus
      pass, but the 64·k multiply-adds per vector run in vectorized
      native code instead of one interpreted lambda frame per element.
      Bit-equality vs the fold is pinned by tests/test_round14_opts.py
      and every consumer's oracle hash.
    """
    return _assign_via_arrow(df, cents, id_col, vec_col)


def _assign_via_fold(
    df: DataFrame,
    cents: DataFrame,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The broadcast-array fold strategy (kept for degenerate centroid
    panels, and as the reference the Arrow kernel is tested against).

    Plan shape: the centroid frame collapses to ONE broadcast row
    carrying a cid-sorted array of (cid, cvec, norm) structs; every
    vector picks its winner with a map-side fold over that array.
    This replaces the former k-way crossJoin fan-out + per-vector
    window (k×n rows through an Exchange + sort) with ZERO shuffles.
    The comparator is the identical total order: the array ascends by
    cid, the fold seeds with a null-cid sentinel that the first
    element always replaces, and only a STRICTLY better sim replaces
    the incumbent — so ties keep the lowest cid, null sims lose to
    any non-null, and an all-null row keeps the lowest cid — exactly
    (sim DESC NULLS LAST, cid ASC). (Spark's `>` on doubles, like its
    sort order, treats NaN as the largest value, so NaN sims also
    rank identically.)

    Expression discipline (measured 2.6× at sf0.1): the candidate
    array is referenced exactly ONCE (scoring happens inside the
    merge lambda, not in a separate transform() the fold would read
    twice), and the empty-centroid filter tests size(__cands) — not
    the fold result — so no row evaluates the fold more than once
    per output reference. The accumulator carries (cid, sim) scalars
    only, never the d-dim centroid array.
    """

    def _merge(acc, c):
        s = (
            dot(F.col(vec_col), c["__cvec"])
            / F.nullif(F.col("__vn") * c["__cn"], F.lit(0.0))
        )
        cand = F.struct(c["__cid"].alias("__cid"), s.alias("__sim"))
        take = acc["__cid"].isNull() | (
            cand["__sim"].isNotNull()
            & (acc["__sim"].isNull() | (cand["__sim"] > acc["__sim"]))
        )
        return F.when(take, cand).otherwise(acc)

    packed = cents.agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("__cid"),
                    F.col("__cvec"),
                    norm(F.col("__cvec")).alias("__cn"),
                )
            )
        ).alias("__cands")
    )
    seed = F.struct(
        F.lit(None).cast(cents.schema["__cid"].dataType).alias("__cid"),
        F.lit(None).cast("double").alias("__sim"),
    )
    best = F.aggregate(F.col("__cands"), seed, _merge)
    return (
        df.crossJoin(F.broadcast(packed))
        # empty centroid frame -> empty result (the crossJoin-fanout
        # behavior), checked WITHOUT evaluating the fold
        .filter(F.size("__cands") > 0)
        .withColumn("__vn", norm(F.col(vec_col)))
        .withColumn("__best", best)
        .select(id_col, vec_col, F.col("__best.__cid").alias("__cid"))
    )


def _assign_via_arrow(
    df: DataFrame,
    cents: DataFrame,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Vectorized strategy for assign_to_centroids — see its docstring
    for the bit-exactness argument. Falls back to the fold when the
    centroid panel is degenerate (non-long cid, NULL / non-finite
    components, ragged) so the kernel only ever sees shapes whose IEEE
    arithmetic it replicates exactly."""
    import math

    import numpy as np
    from pyspark.sql.types import LongType, StructField, StructType

    if not isinstance(cents.schema["__cid"].dataType, LongType):
        return _assign_via_fold(df, cents, id_col, vec_col)

    # k·d bounded driver metadata — the same class the Lloyd trainer
    # collects every iteration (and ivf_assign's panel is k rows).
    rows = cents.select("__cid", "__cvec").collect()
    src = df.select(id_col, vec_col)
    if not rows:
        # empty centroid frame -> empty result (the fold's
        # size(__cands) > 0 behavior)
        return src.filter(F.lit(False)).withColumn(
            "__cid", F.lit(None).cast("long")
        )
    if any(
        r["__cid"] is None
        or r["__cvec"] is None
        or any(x is None or not math.isfinite(x) for x in r["__cvec"])
        for r in rows
    ) or len({len(r["__cvec"]) for r in rows}) != 1:
        return _assign_via_fold(df, cents, id_col, vec_col)
    cand_list = sorted(
        (int(r["__cid"]), [float(x) for x in r["__cvec"]]) for r in rows
    )
    out_schema = StructType(
        [
            src.schema[id_col],
            src.schema[vec_col],
            StructField("__cid", LongType(), True),
        ]
    )
    return src.mapInArrow(
        kernels.centroid_assigner(
            np.array([c for c, _ in cand_list], dtype=np.int64),
            np.array([v for _, v in cand_list], dtype=np.float64),
        ),
        out_schema,
    )


def lloyd_means(assigned: DataFrame, *keys: str, vec_col: str) -> DataFrame:
    """The Lloyd centroid update over ``assigned`` rows grouped by
    ``keys``: per-dimension mean where the SUM runs on DECIMAL(25,12)
    casts (order-independent under shuffle), divided in double and
    rounded to 6 dp, gathered in dimension order as ``__newvec``.

    The mean stays the posexplode -> (keys, dim) keyed aggregate: an
    A/B of the per-dimension COLUMN aggregate (d decimal sum buffers
    in one hash aggregate) measured 1.6-3.7x SLOWER — Spark's
    high-precision decimal aggregation buffers are variable-length, so
    wide many-buffer rows pay per-update copying the one-buffer
    exploded shape never does."""
    return (
        assigned.select(*keys, F.posexplode(vec_col).alias("__dim", "__x"))
        .groupBy(*keys, "__dim")
        .agg(
            F.sum(F.col("__x").cast("decimal(25,12)")).alias("__s"),
            F.count(F.lit(1)).alias("__n"),
        )
        .select(
            *keys,
            "__dim",
            F.round(F.col("__s").cast("double") / F.col("__n"), 6).alias(
                "__mean"
            ),
        )
        .groupBy(*keys)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__dim", "__mean"))),
                lambda s: s["__mean"],
            ).alias("__newvec")
        )
    )


def lloyd_centroids(
    embeddings: DataFrame,
    n_centroids: int = 16,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic fixed-iteration Lloyd's k-means over an embedding
    column — the cross-engine-reproducible form of ``ivf_kmeans_topk``'s
    Spark ML training step.

    Determinism discipline (the es05/es09 pattern):

    - init = the ``n_centroids`` lowest-id vectors (no RNG);
    - assignment = argmax cosine with ties broken on centroid id;
    - centroid update = ``lloyd_means`` (decimal-exact sums, 6-dp
      means) — so both engines hold bit-identical centroid arrays
      going into the next iteration;
    - a centroid that loses every member keeps its previous position.

    Each iteration is one corpus pass (broadcast k·d centroid state,
    map-side assignment, one groupBy) — the same cost shape per pass as
    Spark ML KMeans, but hash-certifiable against a DuckDB twin. Like
    the ML-lib trainer, the k·d centroid state round-trips through the
    driver between passes (bounded metadata — k·d doubles regardless
    of corpus size, the quantile.py/ranking.py collect class); that
    keeps each pass's lineage one job deep instead of compounding all
    prior iterations into the final plan.
    Returns (``__cid``, ``__cvec``) with array<double> centroids.
    """
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    sess = embeddings.sparkSession
    schema = StructType(
        [
            StructField("__cid", LongType()),
            StructField("__cvec", ArrayType(DoubleType())),
        ]
    )
    ed = embeddings.select(
        id_col,
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
    )
    state = [
        (int(r["__cid"]), list(r["__cvec"]))
        for r in ed.orderBy(id_col)
        .limit(n_centroids)
        .select(F.col(id_col).alias("__cid"), F.col("__v").alias("__cvec"))
        .collect()
    ]
    for _ in range(n_iter):
        cents = local_frame(sess, state, schema)
        assigned = assign_to_centroids(ed, cents, id_col, "__v")
        means = lloyd_means(assigned, "__cid", vec_col="__v")
        # O(k·d) driver metadata: the new centroid positions
        new = {
            int(r["__cid"]): list(r["__newvec"]) for r in means.collect()
        }
        state = [(cid, new.get(cid, vec)) for cid, vec in state]
    return local_frame(sess, state, schema)


def lloyd_ivf_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_centroids: int = 16,
    n_iter: int = 2,
) -> DataFrame:
    """IVF ANN (nprobe=1) over ``lloyd_centroids`` — real iterated
    k-means coarse quantization with a cross-engine oracle. Same search
    plumbing as ``ivf_topk``/``ivf_kmeans_topk``: broadcast the final
    centroids, map-only assignment, then score only the query's cell.
    """
    cents = lloyd_centroids(embeddings, n_centroids, n_iter, id_col, vec_col)
    # two consumers (query-row probe + cell join): the zero-shuffle
    # assignment fold has no Exchange for Spark to reuse across them,
    # so materialize the pass once (EAGER checkpoint — the r13 batch-3
    # A/B measured the lazy variant ~25% slower on the loop queries)
    assigned = assign_to_centroids(embeddings, cents, id_col, vec_col).select(
        id_col, vec_col, F.col("__cid").alias("__centroid")
    ).localCheckpoint()
    q = assigned.filter(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("__q"), "__centroid"
    )
    return (
        assigned.join(F.broadcast(q), "__centroid")
        .filter(F.col(id_col) != query_vec_id)
        .select(
            id_col,
            cosine(F.col(vec_col), F.col("__q")).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), id_col)
        .limit(k)
    )


def ivf_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_centroids: int = 16,
) -> DataFrame:
    """IVF ANN: score only vectors in the query's centroid cell
    (nprobe=1). Candidate generation is an equi-join on ``__centroid``
    — the scan never touches other cells, which at cluster scale means
    partition-pruned input if the index is written partitioned by
    centroid.
    """
    assigned, _ = ivf_assign(embeddings, n_centroids, id_col, vec_col)
    # two consumers of the zero-shuffle assignment pass (see
    # lloyd_ivf_topk): materialize once
    assigned = assigned.localCheckpoint()
    q = assigned.filter(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("__q"), "__centroid"
    )
    return (
        assigned.join(F.broadcast(q), "__centroid")
        .filter(F.col(id_col) != query_vec_id)
        .select(
            id_col,
            cosine(F.col(vec_col), F.col("__q")).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), id_col)
        .limit(k)
    )
