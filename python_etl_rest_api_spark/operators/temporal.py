"""Temporal join operators: as-of join and time-band (interval) join.

Neither exists in the reference (its only join is the equi-join
sql/02_view.sql:9-10) nor as a single Spark primitive; both are built as
compositions of DataFrame ops so Catalyst still plans the heavy lifting:

- as-of join = union both sides tagged, ONE shuffle on the key, a single
  ordered window pass carrying the right side's last-seen values forward.
  No range explosion, no per-row lookup; at 100 TB this is one sort-shuffle
  per key, the same cost class as a sort-merge join.
- band join = bucket event-time into band-width bins, equi-join on
  (key, bin) with each left row exploded to its 3 adjacent bins, then exact
  band filter. Candidate pairs are bounded by bucket co-residency, never the
  per-key cross product, and the join stays a hash equi-join Catalyst can
  shuffle-partition (AQE splits skewed buckets).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import _cache


def asof_join(left: DataFrame, right: DataFrame, key: str, ts: str,
              right_cols: list[str], prefix: str = "r_") -> DataFrame:
    """For each left row, attach the most recent right row (right.ts <=
    left.ts, same key). Equal timestamps match (right sorts first).

    Output: all left columns + ``prefix<col>`` for each of right_cols
    (null when no right row precedes the left row).
    """
    lcols = left.columns
    tagged_r = right.select(
        F.col(key), F.col(ts),
        F.lit(0).alias("_side"),
        *[F.lit(None).alias(f"_l_{c}") for c in lcols if c not in (key, ts)],
        *[F.col(c).alias(f"{prefix}{c}") for c in right_cols],
    )
    tagged_l = left.select(
        F.col(key), F.col(ts),
        F.lit(1).alias("_side"),
        *[F.col(c).alias(f"_l_{c}") for c in lcols if c not in (key, ts)],
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"{prefix}{c}")
          for c in right_cols],
    )
    w = (Window.partitionBy(key).orderBy(ts, "_side")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    carried = tagged_r.unionByName(tagged_l).select(
        key, ts, "_side",
        *[F.col(f"_l_{c}") for c in lcols if c not in (key, ts)],
        *[F.last(f"{prefix}{c}", ignorenulls=True).over(w).alias(f"{prefix}{c}")
          for c in right_cols],
    )
    out_left = [F.col(c) if c in (key, ts) else F.col(f"_l_{c}").alias(c)
                for c in lcols]
    return (carried.filter(F.col("_side") == 1)
            .select(*out_left, *[f"{prefix}{c}" for c in right_cols]))


def time_band_pairs(events: DataFrame, key: str, ts: str, id_col: str,
                    band_seconds: int) -> DataFrame:
    """Self band-join: pairs of rows with the same key whose timestamps lie
    within ``band_seconds`` of each other (id_a < id_b to emit each pair
    once). Blocking bins make it an equi-join; the exact |dt| filter runs
    on the candidates only.

    The binned base feeds both join sides, so it is cached through
    opcache: it is released when the calling thread's unit of work
    ends, so long-lived sessions never accumulate stale blocks. A
    caller outside any catalog entry or request ends its work with
    ``opcache.own(spark)``.
    """
    band_us = F.lit(int(band_seconds) * 1_000_000)
    base = _cache(events.select(
        F.col(key).alias("_k"),
        F.col(id_col).alias("_id"),
        F.unix_micros(F.col(ts)).alias("_us"),
    ).withColumn("_bin", F.floor(F.col("_us") / band_us)))
    probe = base.withColumn(
        "_bin", F.explode(F.array(F.col("_bin") - 1, F.col("_bin"),
                                  F.col("_bin") + 1)))
    a = probe.select(F.col("_k"), F.col("_bin"),
                     F.col("_id").alias("id_a"), F.col("_us").alias("us_a"))
    b = base.select(F.col("_k"), F.col("_bin"),
                    F.col("_id").alias("id_b"), F.col("_us").alias("us_b"))
    return (a.join(b, ["_k", "_bin"])
            .filter((F.col("id_a") < F.col("id_b"))
                    & (F.abs(F.col("us_b") - F.col("us_a")) <= band_us))
            .select(F.col("_k").alias(key), "id_a", "id_b",
                    ((F.col("us_b") - F.col("us_a")) / F.lit(1_000_000.0))
                    .alias("gap_seconds")))
