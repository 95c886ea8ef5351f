"""Distributed global ranking without a single-partition window.

``Window.orderBy(...)`` with no (or low-cardinality) PARTITION BY is the
classic Spark scale trap: the whole frame funnels through one task per
window partition (Spark itself warns "Moving all data to a single
partition"). The reference engine never hits this — PostgreSQL sorts on
one node anyway (sql/queries.sql:131-136 NTILE, :214-220 PERCENT_RANK) —
but at 100 TB it is the difference between a plan that finishes and one
that does not.

``attach_global_row_number`` implements the standard two-phase
distributed rank (the same mechanism a distributed sort / Spark's own
``zipWithIndex`` uses, expressed over DataFrames):

1. range-partition the frame on (partition_by + order_by) —
   ``repartitionByRange`` samples boundaries, so partition ids ascend
   with the sort order;
2. per-partition ``row_number`` — an in-partition sort of N/P rows;
3. collect O(P × G) per-(partition, group) counts to the driver (G =
   distinct partition_by groups — MUST be low-cardinality, it is driver
   metadata), turn them into rank offsets and group totals;
4. broadcast-join the offsets back and add.

No task ever sorts more than N/P rows, and the only driver-side data is
the count matrix — the same scale of information AQE already collects
per shuffle. Equal order_by keys are co-located by the range
partitioner (it compares the full key), so tie-sensitive ranks
(``rank``, ``cume_dist``) can be derived in-partition from the attached
row number with zero extra shuffles.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from ..frames import local_frame

__all__ = ["attach_global_row_number", "exact_ntile"]

_PID = "__rk_pid"
_RN = "__rk_rn"
_OFFSET = "__rk_offset"
_TOTAL = "__rk_group_total"
_SOFF = "__rk_sum_offset"

# Hard bound on the collected (partition, group) offset matrix: this is
# driver metadata (same scale AQE collects per shuffle), and the
# low-cardinality contract on partition_by keeps it tiny. The guard
# turns a contract violation into a clear error instead of a driver OOM.
_MAX_OFFSET_ROWS = 100_000


def attach_global_row_number(
    df: DataFrame,
    order_by: Sequence[Column | str],
    partition_by: Sequence[str] = (),
    rn_col: str = "global_rn",
    total_col: str | None = None,
    partitions: int | None = None,
    running_sum_of: str | Sequence[str] | None = None,
    running_sum_col: str | Sequence[str] = "running_sum",
    materialize_input: bool = False,
) -> DataFrame:
    """Attach a global (or per-``partition_by``-group) 1-based row
    number ordered by ``order_by``, computed with range partitioning +
    per-partition row_number + broadcast offsets — never a
    single-partition window.

    ``partition_by`` must be low-cardinality (priorities, statuses —
    NOT user ids): the offset frame has one row per (range partition,
    group). ``total_col``, when set, also attaches each group's total
    row count (the ``n`` of NTILE / percent_rank denominators).

    ``running_sum_of`` turns the same two-phase mechanism into a
    DISTRIBUTED PREFIX SUM: ``running_sum_col`` gets the inclusive
    running total of an integral column in ``order_by`` order (per
    group) — ``SUM(x) OVER (PARTITION BY g ORDER BY o)`` without the
    single-task-per-group sort. In-partition cumulative sums ride the
    same window as the row number; prior-partition subtotals join in
    with the same O(P × G) broadcast. Integral columns only: offsets
    are exact int64 driver arithmetic (token budgets, byte quotas —
    the prefix-sum consumers — are counts, and double offsets would
    silently lose exactness past 2^53). Pass a sequence of columns
    (with a matching sequence of output names) to compute several
    prefix sums in the SAME shuffle + window — e.g. the two cumulative
    sample counts of a two-sample CDF comparison.

    When ``order_by`` does not include a unique tie-break, row numbers
    among equal keys are arbitrary but equal keys always share a range
    partition, so ``min/max(rn) over (partition_by + order key)``
    in-partition windows recover exact ``rank``/``cume_dist``.

    ``materialize_input``: ``repartitionByRange`` evaluates its input
    TWICE (the range partitioner's boundary-sampling job computes the
    full lineage, then the shuffle map stage computes it again).
    Setting this localCheckpoints the input first so an expensive
    lineage (a trained-model scorer, a multi-join) runs once; leave it
    off when the input is a cheap scan — re-scanning beats
    materializing.
    """
    spark = df.sparkSession
    if materialize_input:
        df = df.localCheckpoint()
    if partitions is None:
        partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    partition_by = list(partition_by)
    if running_sum_of is None:
        rs_cols: list[str] = []
        rs_names: list[str] = []
    elif isinstance(running_sum_of, str):
        rs_cols = [running_sum_of]
        rs_names = [
            running_sum_col
            if isinstance(running_sum_col, str)
            else list(running_sum_col)[0]
        ]
    else:
        rs_cols = list(running_sum_of)
        rs_names = (
            [running_sum_col]
            if isinstance(running_sum_col, str)
            else list(running_sum_col)
        )
        if len(rs_names) != len(rs_cols):
            raise ValueError(
                "running_sum_col must name one output per running_sum_of "
                f"column: got {len(rs_names)} names for {len(rs_cols)} columns"
            )
    order_exprs = [F.col(c) if isinstance(c, str) else c for c in order_by]
    sort_key = [F.col(c) for c in partition_by] + order_exprs

    # localCheckpoint (lazy: materializes on the counts action below)
    # rather than persist: the partition-id tag MUST NOT be recomputed
    # (repartitionByRange re-samples boundaries on recompute, which
    # would desync rows from the already-collected offsets), and
    # checkpoint blocks are released by the ContextCleaner when the
    # frame is garbage-collected — persist() entries would accumulate
    # in the cache manager for the session lifetime.
    tagged = (
        df.repartitionByRange(partitions, *sort_key)
        .withColumn(_PID, F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, c in enumerate(rs_cols):
        aggs.append(F.sum(F.col(c).cast("long")).alias(f"__s{i}"))
    counts = tagged.groupBy(_PID, *partition_by).agg(*aggs).collect()
    if len(counts) > _MAX_OFFSET_ROWS:
        raise ValueError(
            f"attach_global_row_number: offset matrix has {len(counts)} "
            f"(partition, group) rows > bound {_MAX_OFFSET_ROWS}; "
            "partition_by must be low-cardinality (it is collected to "
            "the driver as metadata). Use a window function or a "
            "composite approach for high-cardinality groups."
        )
    # offsets: rows of the same group in lower-id partitions (range
    # partition ids ascend with the sort key, so lower id == earlier)
    by_group: dict[tuple, list[tuple]] = {}
    for r in counts:
        key = tuple(r[c] for c in partition_by)
        sums = tuple((r[f"__s{i}"] or 0) for i in range(len(rs_cols)))
        by_group.setdefault(key, []).append((r[_PID], r["__n"], sums))
    rows = []
    for key, pid_counts in by_group.items():
        pid_counts.sort()
        total = sum(n for _, n, _ in pid_counts)
        offset = 0
        sum_offsets = [0] * len(rs_cols)
        for pid, n, sums in pid_counts:
            rows.append((pid, *key, offset, total, *sum_offsets))
            offset += n
            sum_offsets = [a + b for a, b in zip(sum_offsets, sums)]
    part_fields = [df.schema[c] for c in partition_by]
    schema = StructType(
        [StructField(_PID, IntegerType(), False)]
        + [StructField(f.name, f.dataType, f.nullable) for f in part_fields]
        + [
            StructField(_OFFSET, LongType(), False),
            StructField(_TOTAL, LongType(), False),
        ]
        + [
            StructField(f"{_SOFF}{i}", LongType(), False)
            for i in range(len(rs_cols))
        ]
    )
    offsets = local_frame(spark, rows, schema)

    w = Window.partitionBy(_PID, *partition_by).orderBy(*order_exprs)
    # Null-safe join on the group keys: a plain equi-join would drop
    # every row whose partition_by key is NULL (null != null), silently
    # diverging from window-function semantics. _PID is never null, but
    # group keys can be; rename the offset side and use eqNullSafe.
    off = offsets
    for c in [_PID, *partition_by]:
        off = off.withColumnRenamed(c, "__rk_j_" + c)
    cond = F.col(_PID) == F.col("__rk_j_" + _PID)
    for c in partition_by:
        cond = cond & F.col(c).eqNullSafe(F.col("__rk_j_" + c))
    out = (
        tagged.withColumn(_RN, F.row_number().over(w))
        .join(F.broadcast(off), cond)
        .drop(*["__rk_j_" + c for c in [_PID, *partition_by]])
        .withColumn(rn_col, (F.col(_RN) + F.col(_OFFSET)).cast("long"))
    )
    if rs_cols:
        wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        for i, (c, name) in enumerate(zip(rs_cols, rs_names)):
            out = out.withColumn(
                name,
                (
                    F.sum(F.col(c).cast("long")).over(wsum)
                    + F.col(f"{_SOFF}{i}")
                ).cast("long"),
            )
    if total_col is not None:
        out = out.withColumn(total_col, F.col(_TOTAL))
    return out.drop(
        _RN, _OFFSET, _TOTAL, *[f"{_SOFF}{i}" for i in range(len(rs_cols))]
    )


def exact_ntile(rn: Column, n: Column, tiles: int | Column) -> Column:
    """SQL NTILE(tiles) from a 1-based row number ``rn`` and group size
    ``n``, as a pure expression: the first ``n % tiles`` buckets get
    ``n div tiles + 1`` rows, the rest ``n div tiles`` — exactly the
    engine semantics, so results hash-match window-function NTILE
    (property-swept vs ``F.ntile`` in tests/test_properties.py).
    """
    q = (n / tiles).cast("long")  # floor for non-negative
    r = n - q * tiles
    big = r * (q + 1)  # rows covered by the (q+1)-sized buckets
    return (
        F.when(q == 0, rn)  # fewer rows than tiles: bucket == rn
        .when(rn <= big, ((rn - 1) / (q + 1)).cast("long") + 1)
        .otherwise(r + ((rn - big - 1) / q).cast("long") + 1)
        .cast("int")
    )
