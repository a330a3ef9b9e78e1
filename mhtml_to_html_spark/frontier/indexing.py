"""Distributed total-order index assignment.

``Window.orderBy`` with no ``partitionBy`` funnels every row through
ONE task — the classic Spark scale-killer. This module assigns the
identical global index with the zipWithIndex two-pass trick, fully
distributed:

1. ``repartitionByRange`` on the ordering key (partition i's rows all
   sort before partition i+1's) + ``sortWithinPartitions``;
2. one ``mapInPandas`` pass numbers rows within each partition
   (0..n_p-1) and tags the partition id;
3. the per-partition counts (one tiny row per partition) come to the
   driver, cumulative offsets go back as a broadcast join;
4. ``index = partition_offset + within_partition_position``.

The total order is byte-identical to the window version as long as
``order_cols`` is a TOTAL order (no ties) — every crawl ordering
qualifies: (depth, host_rank, disc_seq) has a unique disc_seq,
(parent_pos, child_idx) and the feeder's (parent fetch order, child
index) are unique by construction, and recrawl's (host, rk) is
unique because rk is a per-host row number.

:func:`index_rows` is the crawl's ONE adaptive rule between the two
shapes (batch fetch positions, discovery and recrawl sequence numbers,
the streaming feeder's discovery numbering), and
:data:`DISTRIBUTED_ROWS` is its one threshold — the batch crawl's
salted priority repartition reads it too. Tests force the distributed
path by monkeypatching that constant to 0.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

# Row count from which a crawl ordering goes distributed. Below it the
# rows are few by definition and one partitionless window task is
# cheaper than the two-pass index's range-sampling and offsets jobs;
# above it that one task would funnel budget x hosts (or fanout x
# fetched) rows.
DISTRIBUTED_ROWS = 50_000


def distributed(size: int) -> bool:
    """True once ``size`` (the caller's estimate of the rows it orders)
    reaches :data:`DISTRIBUTED_ROWS`, read at call time."""
    return size >= DISTRIBUTED_ROWS


def index_rows(
    df: DataFrame,
    order_cols: list[str],
    out_col: str,
    size: int,
    start: int = 0,
    n_rows: int | None = None,
    num_partitions: int | None = None,
) -> tuple[DataFrame, int | None]:
    """Add ``out_col`` = ``start`` + the 0-based rank under the tie-free
    total order ``order_cols``; returns ``(df, count)``. Distributed
    (:func:`assign_global_index`, whose offsets job yields the count)
    when :func:`distributed` holds for ``size``, else one partitionless
    ``row_number`` window, which launches no job: its count is
    ``n_rows`` — a number the caller already has, or None."""
    if distributed(size):
        return assign_global_index(
            df, order_cols, out_col=out_col, start=start,
            num_partitions=num_partitions, return_count=True,
        )
    w = Window.orderBy(*order_cols)
    return df.withColumn(
        out_col, (F.row_number().over(w) - 1 + F.lit(start)).cast("long")
    ), n_rows


def _local_index_batches(batches):
    import pandas as pd  # noqa: F401  (worker-side import)
    from pyspark import TaskContext

    pid = TaskContext.get().partitionId()
    i = 0
    for pdf in batches:
        pdf = pdf.copy()
        pdf["_pid"] = pd.Series([pid] * len(pdf), dtype="int32")
        pdf["_ppos"] = pd.Series(range(i, i + len(pdf)), dtype="int64")
        i += len(pdf)
        yield pdf


def assign_global_index(
    df: DataFrame,
    order_cols: list[str],
    out_col: str = "pos",
    start: int = 0,
    num_partitions: int | None = None,
    return_count: bool = False,
):
    """Add ``out_col`` = the 0-based rank of each row under the total
    order ``order_cols`` (+ ``start``), with no single-partition
    exchange anywhere in the plan. ``order_cols`` must be tie-free.
    With ``return_count`` returns ``(df, n_rows)`` — the total falls
    out of the offsets pass for free."""
    spark = df.sparkSession
    n = num_partitions or max(spark.sparkContext.defaultParallelism, 4)
    parted = df.repartitionByRange(n, *order_cols).sortWithinPartitions(*order_cols)

    out_schema = StructType(
        parted.schema.fields
        + [StructField("_pid", IntegerType()), StructField("_ppos", LongType())]
    )
    # localCheckpoint pins partition boundaries: the counts job and the
    # final projection must see the SAME range partitioning (range
    # boundary sampling is not otherwise guaranteed stable across jobs).
    # Lazy: the counts job right below is the first materialization and
    # persists the blocks — eager would spend a whole extra job per
    # call on a loop-iterated path (driver job latency is the
    # width-independent term that caps scaling efficiency)
    indexed = parted.mapInPandas(_local_index_batches, schema=out_schema).localCheckpoint(
        eager=False
    )
    counts = sorted(
        (r["_pid"], r["n"])
        for r in indexed.groupBy("_pid").agg(F.count("*").alias("n")).collect()
    )
    offsets, acc = [], int(start)
    for pid, cnt in counts:
        offsets.append((pid, acc))
        acc += cnt
    off_df = spark.createDataFrame(offsets, "_pid int, _off long")
    out = (
        indexed.join(F.broadcast(off_df), "_pid")
        .withColumn(out_col, (F.col("_ppos") + F.col("_off")).cast("long"))
        .drop("_pid", "_ppos", "_off")
    )
    if return_count:
        return out, acc - int(start)
    return out


def assign_prefix_sum(
    df: DataFrame,
    order_cols: list[str],
    weight_col: str,
    out_col: str = "cum_before",
    num_partitions: int | None = None,
) -> DataFrame:
    """Add ``out_col`` = the EXCLUSIVE prefix sum of ``weight_col``
    under the total order ``order_cols`` (sum of all strictly-preceding
    rows' weights), with the same two-pass distributed shape as
    :func:`assign_global_index` — a partitionless
    ``Window.orderBy().rowsBetween(unboundedPreceding, -1)`` computes
    the identical column through ONE task; this never does.
    ``order_cols`` must be tie-free; weights must be integral."""
    spark = df.sparkSession
    n = num_partitions or max(spark.sparkContext.defaultParallelism, 4)
    parted = df.repartitionByRange(n, *order_cols).sortWithinPartitions(*order_cols)

    out_schema = StructType(
        parted.schema.fields
        + [StructField("_pid", IntegerType()), StructField("_pcum", LongType())]
    )

    def _local_prefix_batches(batches):
        import pandas as pd
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        acc = 0
        for pdf in batches:
            pdf = pdf.copy()
            w = pdf[weight_col].astype("int64")
            pdf["_pid"] = pd.Series([pid] * len(pdf), dtype="int32")
            pdf["_pcum"] = (w.cumsum() - w + acc).astype("int64")
            acc += int(w.sum())
            yield pdf

    # localCheckpoint pins the sampled range boundaries (see
    # assign_global_index) so the totals job and the projection agree
    indexed = parted.mapInPandas(_local_prefix_batches, schema=out_schema).localCheckpoint(
        eager=True
    )
    sums = sorted(
        (r["_pid"], int(r["s"] or 0))
        for r in indexed.groupBy("_pid").agg(F.sum(weight_col).alias("s")).collect()
    )
    offsets, acc = [], 0
    for pid, s in sums:
        offsets.append((pid, acc))
        acc += s
    off_df = spark.createDataFrame(offsets, "_pid int, _off long")
    return (
        indexed.join(F.broadcast(off_df), "_pid")
        .withColumn(out_col, (F.col("_pcum") + F.col("_off")).cast("long"))
        .drop("_pid", "_pcum", "_off")
    )
