"""Distributed global row numbering — the scale-safe replacement for
``row_number() OVER (ORDER BY ...)`` with no PARTITION BY.

A partition-less window makes Spark plan an Exchange SinglePartition:
one task sorts the whole input. Fine at sf0.1, a wall at 100 TB. The
two-level construction here keeps every stage parallel:

1. ``repartitionByRange`` on the total-order keys — a range shuffle;
   partition p holds a contiguous key range, ranges ascending in p.
2. per-range ``row_number`` — a window PARTITIONED by the range id,
   so it parallelizes (one hash exchange on the range id).
3. per-range counts (a ~num_partitions-row aggregate) get an exclusive
   prefix sum on a single partition — legitimately: the table has one
   row per range, not per input row.
4. offsets broadcast-join back: global rn = range_offset + rn_in_range.

The same construction as text_pack_chunks' block prefix sum
(functions/packing.py), generalized to an arbitrary sort order where no
pre-existing block key exists. Range boundaries come from sampling and
are not deterministic, but the produced ranks are: they depend only on
the total order, which the caller must make total (include a tie-break
key). Cost: 2 shuffles of the input + a broadcast, vs. the
single-partition wall.

The offsets branch and the numbered branch both hang off the same
Exchange rangepartitioning node; Spark's ReuseExchange rule (on by
default, AQE-compatible) materializes that shuffle once, so both sides
observe identical range boundaries. The oracle-parity suite pins the
result against the naive global window, so a reuse regression would
surface as a rank mismatch, not silent corruption.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W, functions as F

_RANGE_ID = "__range_id"
_RN_IN = "__rn_in_range"
_OFFSET = "__range_offset"


def with_global_row_number(
    df: DataFrame,
    order_cols: list[Column],
    out: str = "rn",
    total_out: str | None = None,
    num_partitions: int | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Add a 1-based global row number ``out`` over the total order given
    by ``order_cols`` (use F.asc/F.desc columns; include a unique
    tie-break). Optionally also attach the total row count as
    ``total_out`` (free: it is the last range's offset + count).

    ``materialize`` (default on) checkpoints the input first: the
    construction consumes it through two pruning-divergent branches
    (windowed rows + per-range counts), so without materialization the
    whole upstream subtree evaluates twice — and chained constructions
    (rfm_segmentation's three ranks) compound exponentially (16 source
    scans at the round-3 audit). Callers passing an already-materialized
    frame set it False."""
    if materialize:
        df = df.localCheckpoint(eager=True)
    parted = (
        df.repartitionByRange(num_partitions, *order_cols)
        if num_partitions
        else df.repartitionByRange(*order_cols)
    )

    parted = parted.withColumn(_RANGE_ID, F.spark_partition_id())
    w_in = W.partitionBy(_RANGE_ID).orderBy(*order_cols)
    numbered = parted.withColumn(_RN_IN, F.row_number().over(w_in))

    counts = parted.groupBy(_RANGE_ID).agg(F.count(F.lit(1)).alias("__cnt"))
    w_off = W.orderBy(_RANGE_ID).rowsBetween(W.unboundedPreceding, -1)
    offsets = counts.select(
        _RANGE_ID,
        F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)).alias(_OFFSET),
        F.sum("__cnt").over(W.orderBy(_RANGE_ID).rangeBetween(W.unboundedPreceding, W.unboundedFollowing)).alias("__total"),
    )

    joined = numbered.join(F.broadcast(offsets), _RANGE_ID)
    result = joined.withColumn(out, (F.col(_OFFSET) + F.col(_RN_IN)).cast("bigint"))
    if total_out is not None:
        result = result.withColumn(total_out, F.col("__total"))
    return result.drop(_RANGE_ID, _RN_IN, _OFFSET, "__total")


def with_prefix_max(
    df: DataFrame,
    order_cols: list[Column],
    value: str,
    out: str = "prefix_max",
    num_partitions: int | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Add the EXCLUSIVE running max of ``value`` over the total order
    given by ``order_cols`` (NULL for the global first row) — the
    prefix-extreme sibling of :func:`with_global_row_number`, built on
    the same two-level range construction so no stage ever sorts the
    whole input on one partition:

    1. range-shuffle on the order; 2. per-range exclusive running max
    (window PARTITIONED by the range id); 3. per-range maxima (one row
    per range); 4. exclusive prefix max across the tiny range table;
    5. broadcast back, combine with ``greatest`` (null-skipping).

    The order must be total per the caller's semantics for ROWS frames
    to be deterministic; for prefix-max specifically, ties in the order
    keys beyond ``value`` itself cannot change the result, since every
    ordering of equal keys yields the same running maximum once the
    value column is part of the key set. ``materialize`` as in
    :func:`with_global_row_number` — one upstream evaluation, not two.
    """
    if materialize:
        df = df.localCheckpoint(eager=True)
    parted = (
        df.repartitionByRange(num_partitions, *order_cols)
        if num_partitions
        else df.repartitionByRange(*order_cols)
    )

    parted = parted.withColumn(_RANGE_ID, F.spark_partition_id())
    w_in = (
        W.partitionBy(_RANGE_ID)
        .orderBy(*order_cols)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    within = parted.withColumn("__within_excl", F.max(value).over(w_in))

    rmax = parted.groupBy(_RANGE_ID).agg(F.max(value).alias("__rmax"))
    w_off = W.orderBy(_RANGE_ID).rowsBetween(W.unboundedPreceding, -1)
    offsets = rmax.select(
        _RANGE_ID, F.max("__rmax").over(w_off).alias("__range_excl")
    )

    joined = within.join(F.broadcast(offsets), _RANGE_ID)
    return joined.withColumn(
        out, F.greatest(F.col("__within_excl"), F.col("__range_excl"))
    ).drop(_RANGE_ID, "__within_excl", "__range_excl")


def ntile_from_rank(rn: Column, n: Column, k: int) -> Column:
    """Exact SQL-standard NTILE(k) bucket from a global 1-based rank
    ``rn`` out of ``n`` rows — larger buckets first, sizes differing by
    at most one — as a pure row-local expression (codegen-resident).

    With q = n div k, r = n mod k: the first r buckets have q+1 rows.
    rn <= r*(q+1)  ->  ceil(rn / (q+1))
    otherwise      ->  r + ceil((rn - r*(q+1)) / q)
    (q = 0 degenerates to bucket = rn, covered by the first branch.)
    """
    q = F.floor(n / F.lit(k)).cast("bigint")
    r = (n % F.lit(k)).cast("bigint")
    cut = r * (q + F.lit(1))
    first = F.floor((rn + q) / (q + F.lit(1)))  # ceil(rn/(q+1))
    rest = r + F.floor((rn - cut + q - F.lit(1)) / q)
    return F.when(rn <= cut, first).otherwise(rest).cast("int")


def with_prefix_sum(
    df: DataFrame,
    order_cols: list[Column],
    values: list[str],
    suffix: str = "_cum",
    num_partitions: int | None = None,
    materialize: bool = True,
    total_suffix: str | None = None,
) -> DataFrame:
    """Add the EXCLUSIVE running sum of each column in ``values`` over
    the total order given by ``order_cols`` (0 for the global first
    row), as ``<value><suffix>`` — the prefix-additive sibling of
    :func:`with_prefix_max`, same two-level range construction: no
    stage ever sorts or sums the whole input on one partition.

    All ``values`` ride ONE range shuffle and ONE broadcast offset
    table (|ranges| rows × |values| sums). Sums are computed with
    ``sum`` as-is — callers needing exactness pass integer columns
    (the engine's cents/micro-units discipline). ``materialize`` as in
    :func:`with_global_row_number`.

    ``total_suffix``: when set, each value also gets its GLOBAL sum as
    ``<value><total_suffix>`` — free off the per-range offsets table
    (last offset + last range sum), riding the same broadcast. Callers
    that previously ran a separate 1-row total aggregate + crossJoin
    per query drop that extra job entirely (measured r12: the fused
    form beats the separate-total form on every prefix consumer)."""
    if materialize:
        df = df.localCheckpoint(eager=True)
    parted = (
        df.repartitionByRange(num_partitions, *order_cols)
        if num_partitions
        else df.repartitionByRange(*order_cols)
    )

    parted = parted.withColumn(_RANGE_ID, F.spark_partition_id())
    w_in = (
        W.partitionBy(_RANGE_ID)
        .orderBy(*order_cols)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    within = parted
    for v in values:
        within = within.withColumn(
            f"__within_{v}", F.coalesce(F.sum(v).over(w_in), F.lit(0))
        )

    rsum = parted.groupBy(_RANGE_ID).agg(
        *[F.sum(v).alias(f"__rsum_{v}") for v in values]
    )
    w_off = W.orderBy(_RANGE_ID).rowsBetween(W.unboundedPreceding, -1)
    offsets = rsum.select(
        _RANGE_ID,
        *[
            F.coalesce(F.sum(f"__rsum_{v}").over(w_off), F.lit(0)).alias(
                f"__off_{v}"
            )
            for v in values
        ],
        *(
            [
                F.sum(f"__rsum_{v}")
                .over(
                    W.orderBy(_RANGE_ID).rangeBetween(
                        W.unboundedPreceding, W.unboundedFollowing
                    )
                )
                .alias(f"{v}{total_suffix}")
                for v in values
            ]
            if total_suffix is not None
            else []
        ),
    )

    joined = within.join(F.broadcast(offsets), _RANGE_ID)
    for v in values:
        joined = joined.withColumn(
            f"{v}{suffix}", F.col(f"__within_{v}") + F.col(f"__off_{v}")
        )
    drop = [_RANGE_ID] + [f"__within_{v}" for v in values] + [f"__off_{v}" for v in values]
    return joined.drop(*drop)
