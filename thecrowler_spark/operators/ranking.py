"""Distributed global ranking — no single-task sorts.

A global ``row_number()/ntile()`` window (``Window.orderBy(...)`` with
no partitionBy) collapses the whole input into ONE task — fine for a
dimension table, a scale-killer on anything event-sized. The classic
two-phase alternative implemented here:

1. ``repartitionByRange`` on the sort keys — a distributed range sort;
   partition *i* holds the *i*-th contiguous key range — then
   ``sortWithinPartitions`` (each task sorts only its slice).
2. Per-partition row numbers WITHOUT a window:
   ``monotonically_increasing_id()`` encodes (partition id << 33) +
   in-partition record number, assigned in the sorted row order — so
   the local rank is a narrow bitmask, not a ``Window.partitionBy``
   (which would force a second full hash exchange on the partition id
   right after the range exchange).
3. Per-partition counts (one row per partition) → prefix-sum offsets
   (a window over #partitions rows, trivially single-task) →
   broadcast-join back: ``global_rn = offset + local_rn``.

ONE shuffle of the data (the range exchange) plus an O(#partitions)
count agg; zero global sorts; scales by raising ``num_partitions``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def global_row_number(
    df: DataFrame,
    order_by: list[Column],
    out_col: str = "rn",
    num_partitions: int | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Append a 1-based global row number under ``order_by`` (which must
    be a deterministic TOTAL order — include a unique tie-break key).

    ``materialize`` localCheckpoints the ranked partitions: the table is
    consumed twice here (per-partition counts + final join) and callers
    like ntile_distributed add a third consumer, so without it the
    INPUT plan executes 3× — ruinous when the input is itself an
    expensive chain (e.g. lm_buckets' corpus scoring). It also pins the
    monotonically_increasing_id assignment to one physical execution.
    """
    if num_partitions:
        part = df.repartitionByRange(num_partitions, *order_by)
    else:
        part = df.repartitionByRange(*order_by)
    part = part.sortWithinPartitions(*order_by)
    mid = F.monotonically_increasing_id()
    local = (
        part.withColumn("_mid", mid)
        .withColumn("_pid", F.shiftright(F.col("_mid"), 33).cast("int"))
        .withColumn("_lrn", F.col("_mid").bitwiseAND(F.lit((1 << 33) - 1)) + 1)
        .drop("_mid")
    )
    if materialize:
        local = local.localCheckpoint(eager=True)
    counts = local.groupBy("_pid").agg(F.count("*").alias("_n"))
    woff = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn(
        "_off", F.coalesce(F.sum("_n").over(woff), F.lit(0))
    ).select("_pid", "_off")
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(out_col, (F.col("_off") + F.col("_lrn")).cast("long"))
        .drop("_pid", "_lrn", "_off")
    )


def ntile_distributed(
    df: DataFrame,
    k: int,
    order_by: list[Column],
    out_col: str = "bucket",
    num_partitions: int | None = None,
) -> DataFrame:
    """``ntile(k) OVER (ORDER BY ...)`` without the single-task global
    window: two-phase global row number, then the SQL-standard ntile
    arithmetic (first ``n % k`` buckets get ``n//k + 1`` rows, the rest
    ``n//k``) from (rn, total). ``total`` is a 1-row broadcast.
    Bit-identical to the native window given a total order.
    """
    rn = global_row_number(df, order_by, out_col="_rn", num_partitions=num_partitions)
    total = rn.groupBy().agg(F.count("*").alias("_total"))
    qd = F.floor(F.col("_total") / k).cast("long")
    r = (F.col("_total") % k).cast("long")
    big = r * (qd + 1)  # rows covered by the (q+1)-sized buckets
    tile = F.when(
        qd == 0, F.col("_rn")
    ).when(
        F.col("_rn") <= big, F.floor((F.col("_rn") - 1) / (qd + 1)) + 1
    ).otherwise(r + F.floor((F.col("_rn") - big - 1) / qd) + 1)
    return (
        rn.join(F.broadcast(total))
        .withColumn(out_col, tile.cast("int"))
        .drop("_rn", "_total")
    )


def lag_range_partitioned(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    lag_cols: list[str],
    num_partitions: int | None = None,
) -> DataFrame:
    """``LAG(c) OVER (PARTITION BY group ORDER BY order)`` for every
    ``c`` in ``lag_cols`` WITHOUT a single-task window when one group
    dominates (or when the group key is constant — e.g. a dimensionless
    global metric in :mod:`metricsderive`'s change detection).

    ``order_cols`` must be a per-group TOTAL order (include a unique
    tie-break key) — the same precondition the native window needs for
    a deterministic lag.

    Two-phase (the :func:`global_row_number` range-partition pattern
    applied to lag):

    1. ``repartitionByRange`` on (group ∪ order) — a distributed range
       sort; a hot group spans a CONTIGUOUS run of partition ids, so no
       partition exceeds the range-split size regardless of group skew;
    2. local lag per (_pid, group) — the window's exchange hashes on
       (_pid, group), so the hot group's chunks spread across reducers
       and the largest window partition is bounded by the range-split
       size, not the group size;
    3. boundary carry-in: the last row of each (_pid, group) chunk
       (one ``max_by`` partial-agg row per chunk — a tiny table) hands
       its lag values to the FIRST row of the group's next chunk via a
       broadcast join; the carry lookup is itself a lag over the tiny
       chunk table, bounded by chunks-per-group ≤ #partitions.

    Returns ``df`` + ``_lag_<c>`` columns; lag values are identical to
    the native window's (same per-group total order).
    """
    order = [F.col(c) for c in order_cols]
    keys = [F.col(c) for c in group_cols]
    if num_partitions:
        part = df.repartitionByRange(num_partitions, *keys, *order)
    else:
        part = df.repartitionByRange(*keys, *order)
    local = (
        part.sortWithinPartitions(*keys, *order)
        .withColumn("_pid", F.shiftright(F.monotonically_increasing_id(), 33).cast("int"))
        # pin the partition-id assignment to one physical execution:
        # the table is consumed twice (chunk-last aggregation + main)
        .localCheckpoint(eager=True)
    )
    w_local = Window.partitionBy("_pid", *group_cols).orderBy(*order)
    out = local.withColumn("_lrn", F.row_number().over(w_local))
    for c in lag_cols:
        out = out.withColumn(f"_lag_{c}", F.lag(c).over(w_local))
    lasts = local.groupBy("_pid", *group_cols).agg(
        F.max_by(
            F.struct(*[F.col(c).alias(c) for c in lag_cols]), F.struct(*order)
        ).alias("_lastvals")
    )
    w_carry = Window.partitionBy(*group_cols).orderBy("_pid")
    # the carry join is null-safe on the group keys: the native window
    # treats a NULL group as one partition, so its carry must match too
    ckeys = {c: f"_carry_{c}" for c in ["_pid", *group_cols]}
    carry = lasts.withColumn("_carry", F.lag("_lastvals").over(w_carry)).select(
        "_carry", *[F.col(c).alias(a) for c, a in ckeys.items()]
    )
    on = [F.col(c).eqNullSafe(F.col(a)) for c, a in ckeys.items()]
    out = out.join(F.broadcast(carry), on, "left").drop(*ckeys.values())
    for c in lag_cols:
        out = out.withColumn(
            f"_lag_{c}",
            F.when(F.col("_lrn") == 1, F.col("_carry").getField(c)).otherwise(
                F.col(f"_lag_{c}")
            ),
        )
    return out.drop("_pid", "_lrn", "_carry")
