"""ETL-pipeline catalog entries: the reference's full transform stage
(rename -> lenient casts -> normalize -> guards -> critical split -> impute)
run on an inline dirty dataset that exercises every dirt class from
SURVEY.md section 1.4, oracle-checked end-to-end against DuckDB.

The literals live in DIRTY_ROWS once; the Spark side builds a DataFrame
from them and the oracle SQL embeds them as a VALUES clause, so both
engines process identical input. An explicit ``rid`` column carries file
order (the reference's order-dependent G1/B2 semantics)."""

from __future__ import annotations

from pyspark.sql import functions as F

from .catalog import query
from .operators.clean import clean_pipeline
from .schemas import CHARGES_RAW_SCHEMA
from .session import local_frame

# Spark-side mirror of the oracle's try_strptime coalesce list (the
# engine's lenient multi-format mode; golden replication uses the strict
# reference default instead - see schemas.REFERENCE_PANDAS_FORMATS)
_ETL_FORMATS = ("yyyy-MM-dd HH:mm:ss", "yyyy-MM-dd", "yyyyMMdd")

# (rid, id, name, company_id, amount, status, created_at, paid_at)
# Amounts keep <=2 decimals so round(2) is a no-op on both engines.
DIRTY_ROWS = [
    (1, "a1", "Acme", "c1", "100.50", "paid", "2019-03-19", "2019-03-20"),
    (2, "a2", "Acme", "c1", "3.0", " PENDING_payment ", "20190516", None),
    (3, None, "Acme", "c1", "66.16", "paid", "2019-03-14", None),
    (4, "", "Acme", "c1", "10.00", "paid", "2019-01-01", None),
    (5, "a5", "Beta", "nan", "20.00", "voided", "2019-02-02", None),
    (6, "a6", "Beta", None, "30.00", "paid", "2019-02-03", None),
    (7, "a7", "Beta", "c2", "abc", "paid", "2019-02-04", None),
    (8, "a8", "Beta", "c2", "3.0e213231213123", "paid", "2019-02-05", None),
    (9, "a9", "Beta", "c2", "21321323123121133.0", "paid", "2019-02-06", None),
    (10, "a10", "Beta", "c2", "3.0e34", "paid", "2019-02-07", None),
    (11, "a11", "Beta", "c2", "40.00", "paid", None, None),
    (12, "a12", "Beta", "c2", "50.00", "", "2019-02-08", None),
    (13, "a13", None, "c1", "60.00", "paid", "2019-02-09", None),
    (14, "a14", None, "c3", "70.00", "paid", "2019-02-10", None),
    (15, "a15", "nan", "c1", "80.00", "paid", "2019-02-11", None),
    (16, None, None, None, "abc", "", None, None),
    (17, " A17 ", "Gamma", " C1 ", "90.00", "PAID", "2019-02-12", "2019-02-13"),
]


def _dirty_df(spark):
    """The dirty literals as a raw-schema DataFrame + rid, planned as a
    LocalRelation (a fresh schema copy each call - StructType.add
    mutates in place)."""
    from pyspark.sql import types as T
    schema = T.StructType(list(CHARGES_RAW_SCHEMA.fields)
                          + [T.StructField("rid", T.LongType(), False)])
    return local_frame(spark, [row[1:] + (row[0],) for row in DIRTY_ROWS],
                       schema)


def _values_sql() -> str:
    def lit(v):
        if v is None:
            return "NULL"
        if isinstance(v, int):
            return str(v)
        return "'" + str(v).replace("'", "''") + "'"
    rows = ",\n      ".join(
        "(" + ", ".join(lit(v) for v in row) + ")" for row in DIRTY_ROWS)
    return rows


# The oracle replicates the exact operator order of
# reference etl/03_transform_and_load.py:36-94 in DuckDB SQL. The staging
# body is shared between the inline-VALUES instance and the scaled
# (orders-derived) instance via _stage_sql.
_STAGE_TAIL = """
    casted AS (
      SELECT rid,
             lower(trim(id)) AS id,
             name AS company_name,
             lower(trim(company_id)) AS company_id,
             try_cast(trim(amount) AS DOUBLE) AS amt0,
             lower(trim(status)) AS status,
             CAST(COALESCE(try_strptime(nullif(trim(created_at), ''), '%Y-%m-%d %H:%M:%S'),
                           try_strptime(nullif(trim(created_at), ''), '%Y-%m-%d'),
                           try_strptime(nullif(trim(created_at), ''), '%Y%m%d')) AS TIMESTAMP) AS created_at,
             CAST(COALESCE(try_strptime(nullif(trim(paid_at), ''), '%Y-%m-%d %H:%M:%S'),
                           try_strptime(nullif(trim(paid_at), ''), '%Y-%m-%d'),
                           try_strptime(nullif(trim(paid_at), ''), '%Y%m%d')) AS TIMESTAMP) AS updated_at
      FROM raw),
    guarded AS (
      SELECT *,
             CASE WHEN amt1 IS NOT NULL AND abs(amt1) > 99999999999999.99
                  THEN NULL ELSE amt1 END AS amount
      FROM (SELECT *,
                   CASE WHEN amt0 IS NULL OR isnan(amt0) OR isinf(amt0)
                        THEN NULL ELSE round(amt0, 2) END AS amt1
            FROM casted)),
    flagged AS (
      SELECT *,
             (id IS NULL OR id IN ('', 'nan')) AS m_id,
             (company_id IS NULL OR company_id IN ('', 'nan')) AS m_cid,
             (amount IS NULL) AS m_amt,
             (created_at IS NULL) AS m_created,
             (status IS NULL OR status IN ('', 'nan')) AS m_status
      FROM guarded)
"""


def _stage_sql(raw_cte: str) -> str:
    return ("WITH raw(rid, id, name, company_id, amount, status, "
            "created_at, paid_at) AS (\n" + raw_cte + "\n    )," + _STAGE_TAIL)


_ORACLE_STAGE = _stage_sql("      VALUES\n      " + _values_sql())

# the clean-tier projection incl. the order-dependent imputation (G1+G2)
_CLEAN_SUFFIX = """
    , clean AS (
      SELECT * FROM flagged
      WHERE NOT (m_id OR m_cid OR m_amt OR m_created OR m_status))
    SELECT id,
           COALESCE(name2,
                    first_value(name2 IGNORE NULLS) OVER (
                      PARTITION BY company_id ORDER BY rid
                      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
                    'unknown') AS company_name,
           company_id, amount, status, created_at, updated_at
    FROM (SELECT *, CASE WHEN company_name IN ('', 'nan', '<NA>') THEN NULL
                         ELSE company_name END AS name2 FROM clean)
"""


@query("etl_clean_pipeline", _ORACLE_STAGE + _CLEAN_SUFFIX)
def etl_clean_pipeline(spark, sf_dir):
    """The full clean tier (reference etl/03_transform_and_load.py:33-94):
    every coercion, guard, split and the order-dependent imputation,
    checked value-for-value against the SQL oracle."""
    raw = _dirty_df(spark)
    clean, _ = clean_pipeline(raw, order_col="rid", timestamp_formats=_ETL_FORMATS)
    return clean


@query("etl_critical_quarantine", _ORACLE_STAGE + """
    SELECT id, company_name, company_id, amount, status, created_at, updated_at,
           concat_ws('|',
               CASE WHEN m_id THEN 'missing_id' END,
               CASE WHEN m_cid THEN 'missing_company_id' END,
               CASE WHEN m_amt THEN 'invalid_amount' END,
               CASE WHEN m_created THEN 'missing_created_at' END,
               CASE WHEN m_status THEN 'missing_status' END) AS _critical_reason
    FROM flagged
    WHERE (m_id OR m_cid OR m_amt OR m_created OR m_status)
""")
def etl_critical_quarantine(spark, sf_dir):
    """The quarantine tier with ordered reason codes (reference
    etl/03_transform_and_load.py:72-83)."""
    raw = _dirty_df(spark)
    _, critical = clean_pipeline(raw, order_col="rid", timestamp_formats=_ETL_FORMATS)
    return critical


@query("etl_dim_first_seen", _ORACLE_STAGE + """
    , clean AS (
      SELECT * FROM flagged
      WHERE NOT (m_id OR m_cid OR m_amt OR m_created OR m_status)),
    imputed AS (
      SELECT rid, company_id,
             COALESCE(name2,
                      first_value(name2 IGNORE NULLS) OVER (
                        PARTITION BY company_id ORDER BY rid
                        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
                      'unknown') AS company_name
      FROM (SELECT *, CASE WHEN company_name IN ('', 'nan', '<NA>') THEN NULL
                           ELSE company_name END AS name2 FROM clean)),
    pairs AS (
      SELECT company_id, company_name, min(rid) AS first_rid
      FROM imputed GROUP BY 1, 2)
    SELECT company_id, company_name FROM pairs
    QUALIFY row_number() OVER (PARTITION BY company_id ORDER BY first_rid) = 1
""")
def etl_dim_first_seen(spark, sf_dir):
    """B2: the companies dim build - dedup on the PAIR then first-seen-wins
    per PK in file order (reference etl/03_transform_and_load.py:113,125-131;
    the 5-candidates -> 3-PKs order-dependence from SURVEY B2)."""
    from pyspark.sql import Window
    raw = _dirty_df(spark)
    clean, _ = clean_pipeline(raw, order_col="rid", keep_order_col=True,
                              timestamp_formats=_ETL_FORMATS)
    pairs = (clean.groupBy("company_id", "company_name")
             .agg(F.min("rid").alias("first_rid")))
    w = Window.partitionBy("company_id").orderBy("first_rid")
    return (pairs.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("company_id", "company_name"))


@query("etl_tier_counts", _ORACLE_STAGE + """
    SELECT (SELECT COUNT(*) FROM raw) AS n_original,
           CAST(SUM(CASE WHEN NOT (m_id OR m_cid OR m_amt OR m_created OR m_status)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
           CAST(SUM(CASE WHEN (m_id OR m_cid OR m_amt OR m_created OR m_status)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_critical
    FROM flagged
""")
def etl_tier_counts(spark, sf_dir):
    """H7: the reference's run report - row counts per tier in ONE pass
    over the flagged frame (reference etl/03_transform_and_load.py:97-99;
    golden instance 10000/9986/14 asserted in tests/test_clean_golden.py)."""
    from .operators.clean import CRITICAL_FLAG, flag_critical, standardize
    flagged = flag_critical(standardize(_dirty_df(spark), _ETL_FORMATS))
    return flagged.agg(
        F.count(F.lit(1)).alias("n_original"),
        F.sum((~F.col(CRITICAL_FLAG)).cast("long")).alias("n_clean"),
        F.sum(F.col(CRITICAL_FLAG).cast("long")).alias("n_critical"))


# ---------------------------------------------------------------------
# The reference pipeline AT VOLUME: dirty raw strings derived
# deterministically from the orders table in BOTH engines (decimal-string
# amounts, strftime dates, modulo-injected dirt classes), then the full
# clean tier. This is the bench headliner proving the ETL semantics hold
# at testdata scale, not just on 17 inline rows.
# ---------------------------------------------------------------------

_SCALED_RAW_CTE = """
      SELECT o_orderkey AS rid,
             CASE WHEN o_orderkey % 211 = 0 THEN NULL
                  ELSE md5(CAST(o_orderkey AS VARCHAR)) END AS id,
             CASE WHEN o_orderkey % 13 = 0 THEN NULL
                  ELSE 'Company ' || CAST(o_orderkey % 5 AS VARCHAR) END AS name,
             CASE WHEN o_orderkey % 199 = 0 THEN ''
                  WHEN o_orderkey % 197 = 0 THEN 'nan'
                  ELSE 'c' || CAST(o_orderkey % 7 AS VARCHAR) END AS company_id,
             CASE WHEN o_orderkey % 193 = 0 THEN 'garbage'
                  WHEN o_orderkey % 191 = 0 THEN '3.0e34'
                  ELSE CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) END AS amount,
             CASE WHEN o_orderkey % 189 = 0 THEN '  ' ELSE o_orderstatus END AS status,
             CASE WHEN o_orderkey % 181 = 0 THEN NULL
                  WHEN o_orderkey % 179 = 0 THEN strftime(o_orderdate, '%Y%m%d')
                  ELSE strftime(o_orderdate, '%Y-%m-%d') END AS created_at,
             CASE WHEN o_orderkey % 3 = 0 THEN NULL
                  ELSE strftime(o_orderdate, '%Y-%m-%d') END AS paid_at
      FROM orders
"""


def _scaled_raw_df(spark, sf_dir):
    from .catalog import _t
    from .session import widen_scan
    key = F.col("o_orderkey")
    # the dirty-gen + 4-format timestamp parse downstream is CPU-heavy
    # narrow work; a single-split local scan would run it serially
    o = widen_scan(_t(spark, sf_dir, "orders"))
    return o.select(
        key.alias("rid"),
        F.when(key % 211 == 0, None)
         .otherwise(F.md5(key.cast("string"))).alias("id"),
        F.when(key % 13 == 0, None)
         .otherwise(F.concat(F.lit("Company "), (key % 5).cast("string"))).alias("name"),
        F.when(key % 199 == 0, "").when(key % 197 == 0, "nan")
         .otherwise(F.concat(F.lit("c"), (key % 7).cast("string"))).alias("company_id"),
        F.when(key % 193 == 0, "garbage").when(key % 191 == 0, "3.0e34")
         .otherwise(F.col("o_totalprice").cast("decimal(18,2)").cast("string")).alias("amount"),
        F.when(key % 189 == 0, "  ").otherwise(F.col("o_orderstatus")).alias("status"),
        F.when(key % 181 == 0, None)
         .when(key % 179 == 0, F.date_format("o_orderdate", "yyyyMMdd"))
         .otherwise(F.date_format("o_orderdate", "yyyy-MM-dd")).alias("created_at"),
        F.when(key % 3 == 0, None)
         .otherwise(F.date_format("o_orderdate", "yyyy-MM-dd")).alias("paid_at"),
    )


@query("etl_clean_scaled", _stage_sql(_SCALED_RAW_CTE) + _CLEAN_SUFFIX)
def etl_clean_scaled(spark, sf_dir):
    """The full reference clean tier over orders-derived dirty strings
    (15k rows at sf0.01, 150k at sf0.1) - every coercion/guard/split/
    imputation at volume, value-checked against the same oracle SQL as
    the inline instance.

    Cost at scale: the agg+join fill makes the plan a DIAMOND - the
    dirty-gen + multi-format parse feeds both the main branch and the
    first-valid-name aggregation. Three forms measured at the 30x
    point in r9 (window fill 11.1s group-bound, lazy agg+join 9.8s
    double-parse core-bound, persist-before-impute 7.9s) picked the
    cache; r13 re-measured at 100x AFTER the impute join became an
    explicit broadcast (operators/clean.py::impute_company_name) and
    the ranking flipped: caching the standardized frame 8.6s vs
    UNCACHED 7.2s (same-session interleaved mins; shipped r12 form
    9.2s). With the 15M-row SortMergeJoin exchange gone, the cache's
    columnar write (+2.8s on the build pass, measured) costs more than
    the recomputation it saves - Catalyst column-prunes the agg branch
    to the flag inputs (the updated_at parse drops out), so the second
    pass is narrower than the first. clean_pipeline's option to cache
    the standardized frame was therefore removed. The at-scale answer
    for a REAL pipeline remains split_critical_materialized (parse once
    to parquet, impute over the parquet-backed clean tier - see
    clean.py)."""
    raw = _scaled_raw_df(spark, sf_dir)
    clean, _ = clean_pipeline(raw, order_col="rid", timestamp_formats=_ETL_FORMATS)
    return clean


@query("etl_critical_scaled", _stage_sql(_SCALED_RAW_CTE) + """
    SELECT id, company_name, company_id, amount, status, created_at, updated_at,
           concat_ws('|',
               CASE WHEN m_id THEN 'missing_id' END,
               CASE WHEN m_cid THEN 'missing_company_id' END,
               CASE WHEN m_amt THEN 'invalid_amount' END,
               CASE WHEN m_created THEN 'missing_created_at' END,
               CASE WHEN m_status THEN 'missing_status' END) AS _critical_reason
    FROM flagged
    WHERE (m_id OR m_cid OR m_amt OR m_created OR m_status)
""")
def etl_critical_scaled(spark, sf_dir):
    """Quarantine tier of the scaled pipeline (reason-code breakdown at
    volume)."""
    raw = _scaled_raw_df(spark, sf_dir)
    _, critical = clean_pipeline(raw, order_col="rid", timestamp_formats=_ETL_FORMATS)
    return critical
