"""The reference's transform stage as composable DataFrame operators.

Replicates reference etl/03_transform_and_load.py:33-94 (rename -> lenient
casts -> normalize -> guards -> critical split with reason codes -> imputation)
as a declarative plan. Everything is native expressions - a single scan, a
narrow (shuffle-free) critical split, and one window for the order-dependent
imputation. Golden contract: on the reference's own CSV this yields exactly
10,000 raw / 9,986 clean / 14 critical rows, value-identical to the
committed df_clean.csv / df_critical.csv (reference readme.md:124-130).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.cleaning import (
    is_missing,
    lenient_amount,
    lenient_timestamp,
    normalize_str,
    reason_codes,
    sentinel_to_null,
)
from ..sources.csv_source import ROW_ID

# source -> warehouse column names (reference etl/03_transform_and_load.py:36-39)
RENAMES = {"name": "company_name", "paid_at": "updated_at"}

CRITICAL_FLAG = "_is_critical"
CRITICAL_REASON = "_critical_reason"


def standardize(df: DataFrame,
                timestamp_formats: tuple[str, ...] | None = None) -> DataFrame:
    """Rename + lenient type coercion + normalization (steps 2-4).

    One narrow projection; every expression codegen-friendly. Order matters
    and mirrors the reference: casts happen on the RAW strings, then the id
    /status strings are normalized (trim+lower), then amount guards apply
    (folded into lenient_amount).

    ``timestamp_formats`` defaults to the reference's strict pandas-3.0
    behavior (one inferred format, mismatches -> NaT -> quarantine); pass
    schemas.LENIENT_TIMESTAMP_FORMATS for the engine's multi-format mode.
    """
    from ..schemas import REFERENCE_PANDAS_FORMATS
    fmts = timestamp_formats or REFERENCE_PANDAS_FORMATS
    df = df.withColumnsRenamed(RENAMES)
    return df.withColumns({
        "amount": lenient_amount("amount"),
        "updated_at": lenient_timestamp("updated_at", fmts),
        "created_at": lenient_timestamp("created_at", fmts),
        "id": normalize_str("id"),
        "company_id": normalize_str("company_id"),
        "status": normalize_str("status"),
    })


# Critical-split rules in reference declaration order
# (etl/03_transform_and_load.py:56-81): (column predicate, reason code).
def _critical_rules(df: DataFrame) -> list[tuple]:
    return [
        (is_missing("id"), "missing_id"),
        (is_missing("company_id"), "missing_company_id"),
        (F.col("amount").isNull(), "invalid_amount"),
        (F.col("created_at").isNull(), "missing_created_at"),
        (is_missing("status"), "missing_status"),
    ]


def flag_critical(df: DataFrame) -> DataFrame:
    """Attach the split flag + pipe-joined reason codes in one pass.

    The reference materializes five boolean masks and ORs them
    (etl/03_transform_and_load.py:56-83); here the disjunction and the
    reason string are computed in the same projection so the split needs a
    single scan (cache the result before filtering both ways).

    The flag is ANDed with an always-true non-deterministic guard
    (``monotonically_increasing_id() >= -1``, value-preserving): a filter
    over a column whose defining projection contains a non-deterministic
    expression cannot be pushed through it, so the tier filters downstream
    reference the flag AS A COLUMN instead of having the full lenient-
    cast/3-format-parse chain substituted into their conditions and
    evaluated a second time per row. A bare barrier FILTER does not give
    this guarantee - it references no columns, so Catalyst legally sinks
    it below every deterministic projection and the substitution happens
    anyway (observed on etl_clean_scaled: the whole derivation chain
    duplicated into the pre-projection filter).

    PLAN-WIDE SIDE EFFECT consumers must know: because Catalyst refuses
    to push ANY predicate through a projection whose project list holds a
    non-deterministic expression, the pin blocks pushdown for EVERY
    downstream filter - including cheap selective ones on columns this
    projection never touched (date, company), which lose parquet
    row-group pruning. That is the right trade for this pipeline (the
    coercion chain dominates, and the split consumes ~all rows), but if
    you filter the output on raw columns, do it BEFORE calling
    flag_critical - or materialize the split once with
    :func:`split_critical_materialized`, whose re-read tiers start at a
    plain deterministic scan and regain full pushdown.
    """
    rules = _critical_rules(df)
    any_critical = rules[0][0]
    for cond, _ in rules[1:]:
        any_critical = any_critical | cond
    pin = F.monotonically_increasing_id() >= F.lit(-1)
    return df.withColumns({
        CRITICAL_FLAG: any_critical & pin,
        CRITICAL_REASON: reason_codes(rules),
    })


def split_critical(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(clean, critical) pair (reference etl/03_transform_and_load.py:72,86).

    Returns two filters over the same flagged plan; callers that consume
    both should ``.cache()`` the flagged frame (bench does) so the scan +
    coercion run once. Clean drops the audit columns; critical keeps
    ``_critical_reason``.
    """
    # flag_critical's non-deterministic pin keeps the tier filters above
    # the flag projection (see its docstring), so the lenient-cast/parse
    # chain runs once per row. The split keeps ~97% of rows in `clean`,
    # so filter-before-shuffle would save nothing here anyway.
    flagged = flag_critical(df)
    clean = flagged.filter(~F.col(CRITICAL_FLAG)).drop(CRITICAL_FLAG, CRITICAL_REASON)
    critical = flagged.filter(F.col(CRITICAL_FLAG)).drop(CRITICAL_FLAG)
    return clean, critical


def split_critical_materialized(df: DataFrame, path: str
                                ) -> tuple[DataFrame, DataFrame]:
    """(clean, critical) as MATERIALIZED silver tables: one write pass,
    then both tiers re-read from storage.

    The in-plan split (:func:`split_critical`) deliberately pins its
    flag behind a non-deterministic guard so the coercion chain parses
    once - at the cost of blocking Catalyst pushdown for EVERY
    downstream filter, including cheap selective ones on columns the
    pipeline never touched (see flag_critical's docstring). That trade
    is right when the split is consumed exactly once. When consumers
    re-filter the tiers (the dashboard-on-silver pattern), the 100 TB
    answer is not a cleverer lineage - it is to stop carrying the
    lineage: write the flagged frame ONCE partitioned by the tier flag
    (a single pass over the data, so the parse-once guarantee becomes
    trivially true), and hand consumers parquet-backed frames whose
    plans start at a plain deterministic scan. Tier selection is
    partition pruning (zero data read for the other tier); downstream
    filters on any column regain parquet row-group pruning and column
    pruning (plan-asserted in test_plans).
    """
    flagged = flag_critical(df)
    (flagged.write.mode("overwrite")
     .partitionBy(CRITICAL_FLAG).parquet(path))
    # partition-column values come back as strings unless inference is
    # on for booleans (it is not); compare textually so the tier filter
    # stays a pure partition predicate Spark can prune with
    stored = df.sparkSession.read.parquet(path)
    clean = (stored.filter(F.col(CRITICAL_FLAG) == "false")
             .drop(CRITICAL_FLAG, CRITICAL_REASON))
    critical = (stored.filter(F.col(CRITICAL_FLAG) == "true")
                .drop(CRITICAL_FLAG))
    return clean, critical


def impute_company_name(df: DataFrame, order_col: str = ROW_ID) -> DataFrame:
    """Group-wise first-valid fill, then constant fallback (G1+G2).

    Replicates pandas ``fillna(groupby('company_id')['company_name']
    .transform('first')).fillna('unknown')`` (reference
    etl/03_transform_and_load.py:90-94): sentinels to null, then the first
    NON-NULL name per company_id in FILE ORDER fills the gaps, then
    'unknown'. File order = ``order_col`` (stable _row_id from the source),
    which makes the fill deterministic under any partitioning.

    The fill value is a CONSTANT per group (the group's first valid name),
    so it is computed as ``min_by(name, order_col)`` aggregation + join
    back rather than a whole-table window: the agg is map-side
    combinable (partial per partition, one row per group shuffles).
    The previous window form shuffled the WHOLE table on company_id and
    serialized each group into one partition chain - measured 4.3x
    superlinear on the 30x scaled corpus, whose generator pins
    cardinality at 5 companies.

    The join back is an EXPLICIT broadcast (r13, guide section 3.1):
    ``firsts`` is one row per company - dim cardinality by construction
    - but Catalyst cannot estimate an aggregate's output size, so the
    declarative plan chose SortMergeJoin and shuffled + sorted the FULL
    clean tier on company_id (plan-read at the 100x point: a 15M-row
    full-width Exchange + Sort on the main branch). AQE cannot rescue
    it: under adaptive execution both child stages are submitted
    concurrently, so the big shuffle has already been written by the
    time the runtime sees that the agg side is tiny. The hint removes
    that exchange outright (measured at 100x, same-session interleaved
    A/B: full entry 9.2 -> 7.2 s min; plan diff: main-branch
    Exchange + Sort + SortMergeJoin -> BroadcastHashJoin).

    Null-key nuance, matching pandas exactly: pandas ``groupby`` drops
    NaN keys, so null-company_id rows are never filled from each other
    and fall through to 'unknown' - an inner-groupBy + null-rejecting
    join reproduces that (a window PARTITION BY would instead pool all
    null keys into one group and fill across them - subtly wrong vs the
    reference). In the ETL pipeline the clean tier has no null
    company_id by construction (m_cid rows are quarantined first).
    """
    name = sentinel_to_null("company_name")
    firsts = (df.select("company_id", name.alias("_valid_name"),
                        F.col(order_col))
              .filter(F.col("_valid_name").isNotNull()
                      & F.col("company_id").isNotNull())
              .groupBy("company_id")
              .agg(F.min_by("_valid_name", F.col(order_col))
                   .alias("_first_valid_name")))
    cols = df.columns
    return (df.join(F.broadcast(firsts), "company_id", "left")
            .withColumn(
                "company_name",
                F.coalesce(name, F.col("_first_valid_name"),
                           F.lit("unknown")))
            .select(*cols))


def clean_pipeline(raw: DataFrame, order_col: str = ROW_ID,
                   keep_order_col: bool = False,
                   timestamp_formats: tuple[str, ...] | None = None,
                   ) -> tuple[DataFrame, DataFrame]:
    """Full transform: raw charges CSV frame -> (clean, critical).

    Column sets mirror the reference's outputs: clean has the 7 curated
    columns, critical additionally carries ``_critical_reason``.
    ``order_col`` is the stable file-order column driving the
    order-dependent imputation (and, with ``keep_order_col``, the
    first-seen-wins dim load downstream). The standardized frame is not
    cached: at 100x data the cached form measured slower (see
    catalog_etl.etl_clean_scaled).
    """
    staged = standardize(raw, timestamp_formats)
    clean, critical = split_critical(staged)
    clean = impute_company_name(clean, order_col=order_col)
    cols = ["id", "company_name", "company_id", "amount", "status",
            "created_at", "updated_at"]
    clean_cols = cols + ([order_col] if keep_order_col else [])
    return clean.select(*clean_cols), critical.select(*cols, CRITICAL_REASON)


def build_dim_fact(clean: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Project companies dim + charges fact (reference
    etl/03_transform_and_load.py:113-114). Dedup on the PAIR - PK-level
    first-seen-wins happens at load (operators/load.py)."""
    companies = clean.select("company_id", "company_name").dropDuplicates()
    charges = clean.select("id", "company_id", "amount", "status",
                           "created_at", "updated_at")
    return companies, charges
