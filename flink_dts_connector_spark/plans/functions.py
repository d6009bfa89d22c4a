"""Scalar/aggregate function battery (SURVEY.md §2.4 "scalar fns" row):
string, date, percentile, unpivot, and ranking-distribution functions, each
pinned against the DuckDB twin with the engine-parity caveats encoded in
the oracle (dow offset, date_trunc return type, strpos/instr naming).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from flink_dts_connector_spark.plans.registry import register
from flink_dts_connector_spark.plans.relational import dec, dsum, dsum2, t


@register(
    "agg_percentiles",
    oracle="""
SELECT l_returnflag,
       quantile_cont(l_extendedprice, 0.5) AS p50_price,
       quantile_cont(l_extendedprice, 0.95) AS p95_price,
       quantile_cont(l_quantity, 0.5) AS median_qty
FROM lineitem GROUP BY l_returnflag
""",
    tags=("agg", "percentile"),
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles — Spark `percentile` and DuckDB
    `quantile_cont` share the linear-interpolation definition, and the
    interpolation arithmetic is elementwise-deterministic."""
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_extendedprice, 0.5)").alias("p50_price"),
            F.expr("percentile(l_extendedprice, 0.95)").alias("p95_price"),
            F.expr("percentile(l_quantity, 0.5)").alias("median_qty"),
        )
    )


@register(
    "unpivot_lineitem_measures",
    oracle="""
SELECT 'quantity' AS measure,
       CAST(round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DECIMAL(38,6)), 2) AS DOUBLE) AS total, COUNT(*) AS n
FROM lineitem
UNION ALL
SELECT 'extendedprice',
       CAST(round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DECIMAL(38,6)), 2) AS DOUBLE), COUNT(*)
FROM lineitem
UNION ALL
SELECT 'discount',
       CAST(round(CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DECIMAL(38,6)), 2) AS DOUBLE), COUNT(*)
FROM lineitem
""",
    tags=("unpivot", "dec2"),
)
def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (stack) wide measures into (measure, value) rows, then the
    usual exact aggregation — the melt shape for metric tables."""
    stacked = t(spark, sf_dir, "lineitem").selectExpr(
        "stack(3, 'quantity', l_quantity, 'extendedprice', l_extendedprice,"
        " 'discount', l_discount) AS (measure, value)"
    )
    return stacked.groupBy("measure").agg(
        dsum2(dec("value"), "total"), F.count(F.lit(1)).alias("n")
    )


@register(
    "win_ntile_distribution",
    oracle="""
SELECT c_mktsegment, c_custkey,
       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
""",
    tags=("window", "distribution"),
)
def win_ntile_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile / percent_rank / cume_dist — rank-distribution functions over a
    total order (acctbal, custkey), identical rational arithmetic in both
    engines."""
    w = W.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return t(spark, sf_dir, "customer").select(
        "c_mktsegment",
        "c_custkey",
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@register(
    "proj_string_functions",
    oracle="""
SELECT c_custkey,
       substring(c_name, 10, 9) AS cust_num,
       CAST(strpos(c_name, '#') AS BIGINT) AS hash_pos,
       lpad(CAST(c_custkey AS VARCHAR), 12, '0') AS padded_key,
       split_part(c_name, '#', 1) AS name_prefix,
       reverse(c_mktsegment) AS seg_rev,
       repeat(left(c_mktsegment, 1), 3) AS seg_initials,
       CAST(length(replace(c_name, '0', '')) AS BIGINT) AS len_no_zero
FROM customer
""",
    tags=("projection", "string-fns"),
)
def proj_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function battery: substring/instr/lpad/split_part/reverse/
    repeat/replace — Spark `instr` == DuckDB `strpos`."""
    return t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.substring("c_name", 10, 9).alias("cust_num"),
        F.instr("c_name", "#").cast("bigint").alias("hash_pos"),
        F.lpad(F.col("c_custkey").cast("string"), 12, "0").alias("padded_key"),
        F.split_part(F.col("c_name"), F.lit("#"), F.lit(1)).alias("name_prefix"),
        F.reverse("c_mktsegment").alias("seg_rev"),
        F.repeat(F.substring("c_mktsegment", 1, 1), 3).alias("seg_initials"),
        F.length(F.regexp_replace("c_name", "0", "")).cast("bigint").alias("len_no_zero"),
    )


@register(
    "proj_date_functions",
    oracle="""
SELECT o_orderkey,
       CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month,
       CAST(extract(year FROM o_orderdate) AS BIGINT) AS o_year,
       CAST(extract(quarter FROM o_orderdate) AS BIGINT) AS o_quarter,
       CAST(extract(dow FROM o_orderdate) + 1 AS BIGINT) AS dow_sunday1,
       CAST(last_day(o_orderdate) AS DATE) AS month_end,
       CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since_epoch_start,
       CAST(o_orderdate + INTERVAL 3 MONTH AS TIMESTAMP) AS plus_3m
FROM orders
""",
    tags=("projection", "date-fns"),
)
def proj_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-function battery. Encoded parity caveats: Spark dayofweek is
    1=Sunday vs DuckDB dow 0=Sunday (+1 in the oracle); DuckDB date_trunc
    returns DATE (cast to TIMESTAMP); add_months == interval-month addition
    (both clamp to month end)."""
    return t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.date_trunc("month", "o_orderdate").alias("order_month"),
        F.year("o_orderdate").cast("bigint").alias("o_year"),
        F.quarter("o_orderdate").cast("bigint").alias("o_quarter"),
        F.dayofweek("o_orderdate").cast("bigint").alias("dow_sunday1"),
        F.last_day("o_orderdate").alias("month_end"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date"))
        .cast("bigint")
        .alias("days_since_epoch_start"),
        F.add_months("o_orderdate", 3).cast("timestamp").alias("plus_3m"),
    )


@register(
    "win_range_frame_and_navigation",
    oracle="""
SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))
            OVER (PARTITION BY o_custkey ORDER BY epoch_us(o_orderdate)
                  RANGE BETWEEN 7776000000000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS spend_90d,
       first_value(o_orderkey) OVER w AS first_order,
       last_value(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_order,
       nth_value(o_orderkey, 2) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_order
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""",
    tags=("window", "frames"),
)
def win_range_frame_and_navigation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame (trailing 90 days by integer-µs order key — exact, no
    interval arithmetic) + first/last/nth_value navigation functions.

    The RANGE order key must be numeric in Spark; epoch microseconds keeps
    both engines on identical integer range bounds. last/nth use the full
    frame (defaults differ between engines, so the frame is explicit)."""
    from pyspark.sql import Window as W

    # orders parquet is TIMESTAMP_NTZ; unix_micros needs TIMESTAMP (UTC session)
    us = F.unix_micros(F.col("o_orderdate").cast("timestamp"))
    w_range = (
        W.partitionBy("o_custkey").orderBy(us).rangeBetween(-90 * 24 * 3600 * 1_000_000, 0)
    )
    w_nav = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_full = w_nav.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.sum(dec("o_totalprice")).over(w_range).cast("double").alias("spend_90d"),
        F.first("o_orderkey").over(w_nav).alias("first_order"),
        F.last("o_orderkey").over(w_full).alias("last_order"),
        F.nth_value("o_orderkey", 2).over(w_full).alias("second_order"),
    )


@register(
    "proj_array_functions",
    oracle="""
SELECT vec_id,
       CAST(len(embedding) AS BIGINT) AS dim,
       CAST(list_sum(list_transform(embedding[1:8], x -> CAST(round(CAST(x AS DOUBLE)*1000000) AS BIGINT))) AS BIGINT) AS head_sum_q,
       CAST(len(list_filter(embedding, x -> x >= 0)) AS BIGINT) AS n_nonneg,
       CAST(list_max(list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000000) AS BIGINT))) AS BIGINT) AS max_q
FROM embeddings
""",
    tags=("array-fns",),
)
def proj_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function battery over the embedding column: slice, transform,
    filter, aggregate, array_max — all on quantized integers so DuckDB's
    list functions agree exactly."""
    from flink_dts_connector_spark.operators.similarity import quantized

    emb = F.col("embedding")
    q = quantized("embedding")
    return t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.size(emb).cast("bigint").alias("dim"),
        F.aggregate(
            F.slice(q, 1, 8), F.lit(0).cast("bigint"), lambda a, x: a + x
        ).alias("head_sum_q"),
        F.size(F.filter(emb, lambda x: x >= 0)).cast("bigint").alias("n_nonneg"),
        F.array_max(q).alias("max_q"),
    )


@register(
    "proj_regexp_functions",
    oracle="""
SELECT doc_id,
       regexp_extract(text, '([a-z]+)', 1) AS first_word,
       CAST(len(regexp_extract_all(text, 'the')) AS BIGINT) AS n_the,
       regexp_matches(text, '^[a-z]') AS starts_lower,
       regexp_replace(text, '[aeiou]', '_', 'g') LIKE '%\\_\\_%' ESCAPE '\\' AS has_adjacent_vowels
FROM documents
""",
    tags=("regexp",),
)
def proj_regexp_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regexp battery: extract / extract_all-count / match / replace —
    Spark (Java regex) and DuckDB (RE2) agree on this POSIX-safe subset."""
    return t(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_extract("text", r"([a-z]+)", 1).alias("first_word"),
        F.size(F.expr("regexp_extract_all(text, 'the', 0)")).cast("bigint").alias("n_the"),
        F.col("text").rlike(r"^[a-z]").alias("starts_lower"),
        F.regexp_replace("text", r"[aeiou]", "_").contains("__").alias("has_adjacent_vowels"),
    )


@register(
    "agg_cube_pricing",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_qty,
       COUNT(*) AS n
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""",
    tags=("agg", "cube"),
)
def agg_cube_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all 2^k grouping-set combinations (completes the rollup /
    grouping-sets / cube trio)."""
    return (
        t(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(dsum(dec("l_quantity"), "sum_qty"), F.count(F.lit(1)).alias("n"))
    )


@register(
    "proj_posexplode_embeddings",
    oracle="""
SELECT vec_id,
       CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
       CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS q
FROM embeddings
WHERE vec_id % 100 = 0
""",
    tags=("explode",),
)
def proj_posexplode_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode: array → (position, element) rows, quantized so values
    compare exactly (0-based in both after the oracle's -1)."""
    from flink_dts_connector_spark.operators.similarity import quantized

    return (
        t(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") % 100 == 0)
        .select("vec_id", F.posexplode(quantized("embedding")).alias("pos", "q"))
    )


def _profile_col(df: DataFrame, col: str, render) -> DataFrame:
    c = F.col(col)
    return df.select(col).agg(
        F.lit(col).alias("col_name"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(c.isNull().cast("bigint")).cast("bigint").alias("n_nulls"),
        F.count_distinct(c).cast("bigint").alias("n_distinct"),
        render(F.min(c)).cast("string").alias("min_s"),
        render(F.max(c)).cast("string").alias("max_s"),
    )


@register(
    "profile_lineitem_columns",
    oracle="""
SELECT 'l_orderkey' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_distinct,
       CAST(MIN(l_orderkey) AS VARCHAR) AS min_s, CAST(MAX(l_orderkey) AS VARCHAR) AS max_s
FROM lineitem
UNION ALL
SELECT 'l_partkey', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(COUNT(DISTINCT l_partkey) AS BIGINT),
       CAST(MIN(l_partkey) AS VARCHAR), CAST(MAX(l_partkey) AS VARCHAR)
FROM lineitem
UNION ALL
SELECT 'l_suppkey', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN l_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT),
       CAST(MIN(l_suppkey) AS VARCHAR), CAST(MAX(l_suppkey) AS VARCHAR)
FROM lineitem
UNION ALL
SELECT 'l_linenumber', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN l_linenumber IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(COUNT(DISTINCT l_linenumber) AS BIGINT),
       CAST(MIN(l_linenumber) AS VARCHAR), CAST(MAX(l_linenumber) AS VARCHAR)
FROM lineitem
UNION ALL
SELECT 'l_returnflag', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(COUNT(DISTINCT l_returnflag) AS BIGINT),
       MIN(l_returnflag), MAX(l_returnflag)
FROM lineitem
UNION ALL
SELECT 'l_shipdate', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(COUNT(DISTINCT l_shipdate) AS BIGINT),
       CAST(epoch_us(MIN(l_shipdate)) AS VARCHAR), CAST(epoch_us(MAX(l_shipdate)) AS VARCHAR)
FROM lineitem
""",
    tags=("profile", "stats"),
)
def profile_lineitem_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style per-column data profiling: rows / nulls / exact
    distinct / min / max for six lineitem columns, one result row per
    column. Deliberately one pruned single-column pass PER column rather
    than one agg with six exact count-distincts — multiple distinct
    aggregates in one agg trigger Catalyst's EXPAND (rows × columns
    blow-up, the `agg_approx_distinct` scale outlier fixed this round);
    six column-pruned parquet scans read strictly less data. Timestamps
    render as epoch micros (engine-neutral); integers/strings cast
    directly."""
    li = t(spark, sf_dir, "lineitem")
    ident = lambda c: c  # noqa: E731
    parts = [
        _profile_col(li, "l_orderkey", ident),
        _profile_col(li, "l_partkey", ident),
        _profile_col(li, "l_suppkey", ident),
        _profile_col(li, "l_linenumber", ident),
        _profile_col(li, "l_returnflag", ident),
        _profile_col(li, "l_shipdate", F.unix_micros),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out
