"""Two-pass global prefix scan / ranking - the distributed replacement
for the unpartitioned-Window antipattern.

A global ``row_number() OVER (ORDER BY ...)`` or running-sum window with
no PARTITION BY forces Spark to move the ENTIRE input through one task
(`Exchange SinglePartition`): correct at any size, but a serial
bottleneck that dies at 100 TB. The textbook fix is the two-pass scheme
every distributed sort-rank implementation uses:

  pass 1: range-partition the input on the order key (parallel sort
          shuffle), count/sum each partition, collect the per-partition
          SUBTOTALS to the driver (one tiny row per partition);
  driver: exclusive-prefix the subtotals into per-partition OFFSETS
          (num_partitions values - bytes, not data);
  pass 2: rank/prefix-sum WITHIN each partition (parallel, partition-
          local window) and add the broadcast offset.

The result is bit-identical to the single-partition window whenever the
order key is a total order (callers must include a unique tie-break
column, same contract the global window already required): every row's
global rank is (rows in earlier ranges) + (local rank), independent of
where the range boundaries land. Prefix SUMS are restricted to integral
(or scale-0 decimal) columns - float addition is not associative, so a
re-grouped float prefix sum would not be bit-stable, and scaled
decimals would be truncated by the integer offset accumulation;
integer sums are exact under any grouping.

Cost at scale: one range shuffle of the data (parallel), one
O(partitions)-row collect, one broadcast join of the offsets, one
partition-local sort. No stage touches more than 1/P of the data.
Extends the reference's single-process pandas semantics
(`/root/reference/etl/03_transform_and_load.py` has no windows at all) the way a
1000-executor cluster has to.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_frame

ROW_COL = "_grow"      # global 1-based row number in order_by order
SUM_COL = "_gsum"      # inclusive global prefix sum of sum_col


def global_prefix(df: DataFrame, order_by: list[Column],
                  sum_col: str | None = None,
                  num_partitions: int | None = None,
                  ) -> tuple[DataFrame, int, int]:
    """Attach a global row number (``_grow``) and optionally an inclusive
    integer prefix sum (``_gsum`` over ``sum_col``) to ``df``, ordered by
    ``order_by`` (which MUST be a total order - include a tie-break).

    Returns ``(frame, n_rows, total_sum)``; the totals are exact Python
    ints computed from the pass-1 subtotals (free - no extra job), which
    lets callers fold global counts (ntile bucket math, PPS step sizes)
    into the plan as literals instead of a second global window.

    The frame is localCheckpoint-materialized once (pass 1 and pass 2
    share the range-partitioned layout instead of recomputing the
    lineage twice); at cluster scale the same role is played by the
    shuffle files themselves.
    """
    spark = df.sparkSession
    np_ = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions"))
    ranged = (df.repartitionByRange(np_, *order_by)
              .withColumn("_pid", F.spark_partition_id())
              .localCheckpoint())

    aggs = [F.count(F.lit(1)).alias("_cnt")]
    if sum_col is not None:
        dt = dict(df.dtypes)[sum_col]
        if not (dt in ("tinyint", "smallint", "int", "bigint")
                or (dt.startswith("decimal") and dt.endswith(",0)"))):
            raise ValueError(
                f"prefix sum over non-integral column {sum_col}:{dt}: "
                "floats are order-dependent and scaled decimals would be "
                "truncated by the long offset accumulation; scale the "
                "values to integers (cents, micros) first")
        aggs.append(F.sum(sum_col).alias("_s"))
    sub = ranged.groupBy("_pid").agg(*aggs).orderBy("_pid").collect()

    rows, row_off, sum_off = [], 0, 0
    for r in sub:
        rows.append((r["_pid"], row_off, sum_off))
        row_off += r["_cnt"]
        if sum_col is not None:
            sum_off += int(r["_s"] or 0)
    off = local_frame(spark, rows, "_pid int, _rowoff long, _sumoff long")

    w = Window.partitionBy("_pid").orderBy(*order_by)
    out = (ranged.join(F.broadcast(off), "_pid")
           .withColumn(ROW_COL,
                       F.row_number().over(w) + F.col("_rowoff")))
    if sum_col is not None:
        wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        out = out.withColumn(
            SUM_COL, F.sum(sum_col).over(wsum).cast("long")
            + F.col("_sumoff"))
    return (out.drop("_pid", "_rowoff", "_sumoff"), row_off, sum_off)


def ntile_from_rank(rank_col: str, n_buckets: int, n_rows: int) -> Column:
    """SQL NTILE(n) reconstructed from a global 1-based rank and the
    total row count: the first ``n_rows mod n`` buckets take
    ``ceil(n_rows/n)`` rows, the rest ``floor(n_rows/n)`` - the ANSI
    distribution Spark and DuckDB both implement. Pure integer
    arithmetic (DIV), so it is engine-exact; with ``n_rows`` known from
    :func:`global_prefix`'s subtotals it folds into the plan as
    literals, replacing the single-partition NTILE window entirely."""
    q, rem = divmod(n_rows, n_buckets)
    thr = rem * (q + 1)
    # q == 0 (fewer rows than buckets): every row its own bucket; the
    # ELSE branch is unreachable and its DIV 0 yields NULL, never an
    # error, on both engines.
    return F.expr(
        f"CASE WHEN {rank_col} <= {thr} "
        f"THEN ({rank_col} - 1) DIV {q + 1} + 1 "
        f"ELSE {rem} + ({rank_col} - {thr} - 1) DIV {q} + 1 END")


def single_partition_window_ops(df: DataFrame) -> list[str]:
    """Window operators in the executed plan that run on a single
    partition (their input is an ``Exchange SinglePartition``) - the
    scale-killer the two-pass scheme removes. Returns the offending
    Window plan lines so tests can assert emptiness or inspect the
    survivors (a window over a bounded aggregate, e.g. 10 decile rows,
    is legitimate)."""
    lines = df._jdf.queryExecution().executedPlan().toString().splitlines()
    hits = []
    for i, line in enumerate(lines):
        if "Window" not in line:
            continue
        # the window's input subtree starts on the next line; a Sort
        # typically sits between the Window and its Exchange
        for nxt in lines[i + 1:i + 4]:
            if "Exchange SinglePartition" in nxt:
                hits.append(line.strip())
                break
    return hits
