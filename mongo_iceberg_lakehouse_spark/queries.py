"""Named query registry + DuckDB oracle SQL (the driver contract).

Each entry is a (spark_fn, oracle_sql) pair:
- spark_fn(spark, sf_dir) -> DataFrame, built with the engine's operators;
- oracle_sql: equivalent ANSI SQL DuckDB runs over the same parquet tables
  (views: region nation customer supplier part orders lineitem events
  documents embeddings). None => non-SQL-expressible; the driver records a
  rows-only check.

Column-name and column-TYPE parity rules (the driver hashes values after
sorting columns by name):
- alias every computed column identically on both sides;
- DuckDB count/row_number/length return BIGINT where Spark returns int for
  some — oracle SQL casts to match Spark's types exactly;
- sums of BIGINT are cast back to BIGINT (DuckDB promotes to HUGEINT);
- events.ts is TIMESTAMP(NANOS): Spark reads nanos-as-long and truncates to
  microseconds (sources.tables.load_events); every oracle use of events.ts is
  wrapped in CAST(ts AS TIMESTAMP), which truncates identically.

Query inventory tracks SURVEY.md §2 line by line; docstrings cite the
reference operator IDs (e.g. A1-A3 = the gold aggregation).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.vectors import cosine_similarity
from .operators import dedup as D
from .operators import relational as R
from .operators import similarity as S
from .operators import text as T
from .operators import web as WB
from .operators.multimodal import attach_payload, extract_features
from .session import tune
from .sources.tables import load_table, table_rowcount
from .streaming.events import run_windowed_counts_available_now


@dataclass(frozen=True)
class Q:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""
    tags: frozenset[str] = frozenset()


REGISTRY: dict[str, Q] = {}

# The named query sets, each declared only by ``register(..., tags=...)``:
# - graded: the first 50 names of queries(), so a run capped at 50 queries
#   still checks one or two representatives of every operator family;
# - bench: the queries bench.py times;
# - r1: the round-1 bench subset BASELINE.md's within-2x budget is stated
#   against (bench.py's subtotal_r1_shared);
# - curve: the scale-critical set, the default of scripts/run.py --time.
TAGS = ("graded", "bench", "r1", "curve")


def _check_tags(tags) -> None:
    if unknown := set(tags) - set(TAGS):
        raise ValueError(
            f"unknown query tags {sorted(unknown)}; known: {TAGS}"
        )


def register(name: str, oracle: str | None, doc: str = "", *, tags=()):
    _check_tags(tags)

    def deco(fn):
        REGISTRY[name] = Q(fn=fn, oracle=oracle, doc=doc, tags=frozenset(tags))
        return fn

    return deco


def tagged(tag: str) -> list[str]:
    """Names registered with ``tag``, in registration order."""
    _check_tags([tag])
    return [name for name, q in REGISTRY.items() if tag in q.tags]


_t = load_table


# ---------------------------------------------------------------------------
# Reference parity: scans, projections, aggregation, sort (SURVEY §2.1-2.6)
# ---------------------------------------------------------------------------

@register(
    "gold_sales_report",
    """
    SELECT o_orderstatus, o_orderpriority,
           round(sum(o_totalprice), 2) AS total_revenue,
           count(o_orderkey) AS order_count
    FROM orders
    GROUP BY o_orderstatus, o_orderpriority
    """,
    doc="Reference gold report shape (A1-A3 + O1): groupBy 2 keys, sum + "
    "count, revenue-desc. gold_reporting.py:104-115. The sum is rounded to "
    "the source's 2-decimal grid: the true total is ON the grid, float "
    "noise from partial-agg order is ~1e-9, so both engines recover the "
    "bit-identical double regardless of combine order.",
)
def gold_sales_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus", "o_orderpriority")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("total_revenue"),
            F.count("o_orderkey").alias("order_count"),
        )
        .orderBy(F.col("total_revenue").desc())
    )


@register(
    "bronze_verify_count",
    "SELECT count(*) AS cnt FROM lineitem",
    doc="Post-write verification COUNT(*) (A4). mongo_to_iceberg.py:144-146.",
)
def bronze_verify_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("cnt"))


@register(
    "silver_struct_evolution",
    """
    SELECT c_custkey, c_name AS name, c_mktsegment AS segment,
           'INDIA' AS country
    FROM customer
    """,
    doc="Struct rebuild + lit injection + nested re-projection (P1-P4): "
    "build struct<name,segment,country=lit>, project dot-paths back out. "
    "silver_transformation.py:96-103.",
)
def silver_struct_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    built = cust.withColumn(
        "profile",
        F.struct(
            F.col("c_name").alias("name"),
            F.col("c_mktsegment").alias("segment"),
            F.lit("INDIA").alias("country"),
        ),
    )
    return built.select(
        "c_custkey",
        F.col("profile.name").alias("name"),
        F.col("profile.segment").alias("segment"),
        F.col("profile.country").alias("country"),
    )


@register(
    "filter_scan_pushdown",
    """
    SELECT l_orderkey, l_linenumber, l_extendedprice, l_shipdate
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1996-04-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_returnflag IN ('A', 'N')
    """,
    doc="Predicates the reference lacks (§2.2 absences): range, BETWEEN, IN; "
    "filters + projection push to the parquet scan (PushedFilters).",
)
def filter_scan_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
        & F.col("l_returnflag").isin("A", "N")
    ).select("l_orderkey", "l_linenumber", "l_extendedprice", "l_shipdate")


@register(
    "window_dedup_latest",
    """
    SELECT user_id, last_event_id, last_event_type, last_value
    FROM (
      SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
             value AS last_value,
             CAST(row_number() OVER (
               PARTITION BY user_id
               ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS INT) AS rn
      FROM events)
    WHERE rn = 1
    """,
    doc="Reference W1 window dedup, generalized with deterministic tiebreak: "
    "keep latest event per user. iceberg_bronze_to_silver-checkpoint.py:134-141.",
    tags=("bench", "r1"),
)
def window_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    out = D.window_dedup(
        ev, ["user_id"], [F.col("ts").desc(), F.col("event_id").desc()]
    )
    return out.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


@register(
    "topk_orders",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
    doc="Top-k (O1+O2): orderBy().limit() plans TakeOrderedAndProject — "
    "per-partition heaps, no global sort shuffle.",
)
def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return R.top_k(
        orders.select("o_orderkey", "o_custkey", "o_totalprice"),
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        100,
    )


# ---------------------------------------------------------------------------
# Joins (SURVEY §2.3 — absent in reference, required by the data model)
# ---------------------------------------------------------------------------

@register(
    "join_customer_orders",
    """
    SELECT c_mktsegment,
           count(o_orderkey) AS order_count,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           count(DISTINCT c_custkey) AS customers
    FROM customer JOIN orders ON c_custkey = o_custkey
    GROUP BY c_mktsegment
    """,
    doc="Equi inner join fact->dim + grouped agg + distinct agg. Revenue is "
    "summed as DECIMAL(18,2): source prices carry exactly 2 decimal digits, "
    "so decimal addition is exact and associative — bit-identical regardless "
    "of partial-aggregation order, unlike a double sum whose 6-significant-"
    "digit rendering can flip on a rounding boundary (r01 flake). The FINAL "
    "sum is cast to DOUBLE on both sides (one rounding of an exact sum is "
    "engine-independent): DECIMAL finals are banned by the output-schema "
    "lint because the driver canonicalizes Spark vs DuckDB decimals "
    "differently (round-7 red row).",
    tags=("bench", "r1", "curve"),
)
def join_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        o.join(c, c.c_custkey == o.o_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("order_count"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
            F.countDistinct("c_custkey").alias("customers"),
        )
    )


@register(
    "join_broadcast_region_revenue",
    """
    SELECT r_name, n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           count(*) AS line_count
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
    doc="Star join: fact joined to 3 dims, dims explicitly broadcast — no "
    "shuffle of the fact table for the joins, only for the final agg.",
    tags=("graded", "bench", "r1"),
)
def join_broadcast_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
            F.count(F.lit(1)).alias("line_count"),
        )
    )


@register(
    "join_left_semi",
    """
    SELECT c_mktsegment, count(*) AS active_customers
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate < TIMESTAMP '1996-01-01')
    GROUP BY c_mktsegment
    """,
    doc="Left-semi join: customers with >=1 order before 1996.",
)
def join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("active_customers"))
    )


@register(
    "join_left_anti",
    """
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate < TIMESTAMP '1996-01-01')
    """,
    doc="Left-anti join: customers with no order before 1996.",
)
def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp")
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@register(
    "join_outer_counts",
    """
    SELECT c_custkey,
           count(o_orderkey) AS orders_1995,
           coalesce(round(sum(o_totalprice), 2), 0.0) AS spent_1995
    FROM customer c
    LEFT JOIN (SELECT * FROM orders
               WHERE o_orderdate >= TIMESTAMP '1995-01-01'
                 AND o_orderdate <  TIMESTAMP '1995-07-01') o
      ON c.c_custkey = o.o_custkey
    GROUP BY c_custkey
    """,
    doc="Left outer join with null-aware aggregation (count skips nulls, "
    "coalesced sum).",
)
def join_outer_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-07-01").cast("timestamp"))
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("orders_1995"),
            F.coalesce(F.round(F.sum("o_totalprice"), 2), F.lit(0.0)).alias(
                "spent_1995"
            ),
        )
    )


@register(
    "join_theta_pairs",
    """
    SELECT a.n_regionkey, count(*) AS nation_pairs
    FROM nation a JOIN nation b
      ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey
    GROUP BY a.n_regionkey
    """,
    doc="Theta (non-equi) join predicate on top of an equi key: same-region "
    "nation pairs.",
)
def join_theta_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _t(spark, sf_dir, "nation")
    a, b = n.alias("a"), n.alias("b")
    return (
        a.join(
            b,
            (F.col("a.n_regionkey") == F.col("b.n_regionkey"))
            & (F.col("a.n_nationkey") < F.col("b.n_nationkey")),
        )
        .groupBy(F.col("a.n_regionkey").alias("n_regionkey"))
        .agg(F.count(F.lit(1)).alias("nation_pairs"))
    )


# ---------------------------------------------------------------------------
# Aggregations beyond the reference (SURVEY §2.4 absences)
# ---------------------------------------------------------------------------

@register(
    "agg_distinct_customers",
    """
    SELECT o_orderstatus,
           count(DISTINCT o_custkey) AS distinct_customers,
           count(*) AS order_count
    FROM orders GROUP BY o_orderstatus
    """,
    doc="Distinct aggregation (expand + two-phase agg).",
)
def agg_distinct_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("distinct_customers"),
        F.count(F.lit(1)).alias("order_count"),
    )


@register(
    "agg_rollup",
    """
    SELECT l_returnflag, l_linestatus,
           sum(l_quantity) AS sum_qty, count(*) AS cnt
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="ROLLUP grouping sets (subtotals + grand total).",
    tags=("bench", "r1"),
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"), F.count(F.lit(1)).alias("cnt")
    )


@register(
    "agg_cube",
    """
    SELECT o_orderstatus, o_orderpriority,
           round(sum(o_totalprice), 2) AS revenue, count(*) AS cnt
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    doc="CUBE grouping sets (all key subsets).",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.count(F.lit(1)).alias("cnt"),
    )


@register(
    "agg_stats_percentile",
    """
    SELECT l_returnflag,
           avg(l_quantity) AS avg_qty,
           min(l_extendedprice) AS min_price,
           max(l_extendedprice) AS max_price,
           stddev_samp(l_extendedprice) AS std_price,
           quantile_cont(l_quantity, 0.5) AS med_qty
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Statistical aggregates incl. exact continuous median (Spark "
    "percentile == DuckDB quantile_cont interpolation).",
)
def agg_stats_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.avg("l_quantity").alias("avg_qty"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        F.stddev_samp("l_extendedprice").alias("std_price"),
        F.expr("percentile(l_quantity, 0.5D)").alias("med_qty"),
    )


@register(
    "agg_approx",
    """
    SELECT l_returnflag,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           TRUE AS hll_ok,
           TRUE AS median_rank_ok
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Approx aggregates for 100TB-scale profiling: approx_count_distinct "
    "(HLL) + percentile_approx sketch. The sketches have no exact SQL "
    "equivalent, so the output encodes their accuracy CONTRACT as booleans "
    "the oracle CAN value-check (the sketch_rollup_distinct pattern): "
    "hll_ok = HLL estimate within 5 percent of the exact distinct count "
    "(default rsd 0.05); median_rank_ok = the rank of the approximate "
    "median lies in [0.45, 0.55]. Both are deterministic for fixed data, "
    "so the check is stable run-to-run. exact_parts is exposed so the "
    "oracle also value-checks the exact side.",
)
def agg_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    approx = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.percentile_approx("l_extendedprice", 0.5).alias("approx_med"),
    )
    exact = li.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").cast("long").alias("exact_parts"),
    )
    # empirical rank of the sketch median: one extra pass, broadcast of the
    # tiny per-flag sketch results (3 rows) against the fact table
    rank = (
        li.join(F.broadcast(approx), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            (
                F.sum((F.col("l_extendedprice") <= F.col("approx_med")).cast("long"))
                / F.count(F.lit(1))
            ).alias("med_rank")
        )
    )
    return (
        approx.join(exact, "l_returnflag")
        .join(rank, "l_returnflag")
        .select(
            "l_returnflag",
            "exact_parts",
            (
                F.abs(F.col("approx_parts") - F.col("exact_parts"))
                <= 0.05 * F.col("exact_parts")
            ).alias("hll_ok"),
            ((F.col("med_rank") >= 0.45) & (F.col("med_rank") <= 0.55)).alias(
                "median_rank_ok"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Scalar functions (SURVEY §2.8 absences)
# ---------------------------------------------------------------------------

@register(
    "scalar_datetime",
    """
    SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day,
           CAST(date_part('hour', CAST(ts AS TIMESTAMP)) AS INT) AS hr,
           count(*) AS events, round(sum(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Timestamp scalar functions over the events stream table: "
    "date_trunc + hour extraction (the reference kept dates as strings).",
)
def scalar_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(
            F.date_trunc("day", F.col("ts")).alias("day"),
            F.hour("ts").alias("hr"),
            "value",
        )
        .groupBy("day", "hr")
        .agg(
            F.count(F.lit(1)).alias("events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


@register(
    "scalar_string_funcs",
    """
    SELECT p_partkey,
           upper(p_brand) AS brand_u,
           substring(p_name, 1, 10) AS name_prefix,
           CAST(length(p_name) AS INT) AS name_len,
           concat_ws('|', p_brand, p_type) AS brand_type,
           replace(p_type, ' ', '_') AS type_slug
    FROM part
    WHERE p_name LIKE '%a%'
    """,
    doc="String scalar surface: upper/substring/length/concat_ws/replace + "
    "LIKE predicate.",
)
def scalar_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    return p.filter(F.col("p_name").like("%a%")).select(
        "p_partkey",
        F.upper("p_brand").alias("brand_u"),
        F.substring("p_name", 1, 10).alias("name_prefix"),
        F.length("p_name").alias("name_len"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.regexp_replace("p_type", " ", "_").alias("type_slug"),
    )


@register(
    "scalar_json_extract",
    """
    SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k_val,
           count(*) AS cnt, avg(value) AS avg_value
    FROM events
    GROUP BY 1
    """,
    doc="JSON scalar extraction from the events.props JSON string column, "
    "via Spark 4's VARIANT path (parse_json -> try_variant_get): binary "
    "variant extraction measured ~12% faster than get_json_object's "
    "per-call string parse at sf0.1 (0.319 vs 0.362 s min-of-5; "
    "PERF_NOTES §8 — the round-3 '+26% regression' itself was bench-"
    "context noise, not a plan change: standalone min-of-5 reproduced "
    "the round-2 number exactly).",
    tags=("bench", "r1"),
)
def scalar_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(
            F.try_variant_get(F.parse_json("props"), "$.k", "int").alias(
                "k_val"
            ),
            "value",
        )
        .groupBy("k_val")
        .agg(F.count(F.lit(1)).alias("cnt"), F.avg("value").alias("avg_value"))
    )


@register(
    "scalar_from_json_struct",
    """
    SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k_val,
           event_id
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS INT) > 90
    """,
    doc="from_json with an explicit schema -> typed struct access + filter "
    "on the parsed field (vs get_json_object's string path).",
)
def scalar_from_json_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    parsed = ev.withColumn("p", F.from_json("props", "k INT"))
    return parsed.filter(F.col("p.k") > 90).select(
        F.col("p.k").alias("k_val"), "event_id"
    )


@register(
    "pivot_event_values",
    """
    SELECT user_id,
           round(sum(value) FILTER (WHERE event_type = 'click'), 2)    AS click,
           round(sum(value) FILTER (WHERE event_type = 'error'), 2)    AS error,
           round(sum(value) FILTER (WHERE event_type = 'purchase'), 2) AS purchase,
           round(sum(value) FILTER (WHERE event_type = 'signup'), 2)   AS signup,
           round(sum(value) FILTER (WHERE event_type = 'view'), 2)     AS view
    FROM events
    GROUP BY user_id
    """,
    doc="Pivot (wide aggregation): per-user value sums by event_type; the "
    "oracle uses equivalent FILTER aggregates.",
    tags=("bench", "r1"),
)
def pivot_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .agg(F.round(F.sum("value"), 2))
    )


@register(
    "scalar_try_cast",
    """
    SELECT p_partkey,
           TRY_CAST(regexp_extract(p_brand, '([0-9]+)', 1) AS INT) AS brand_num,
           TRY_CAST(p_name AS DOUBLE) AS name_num
    FROM part
    """,
    doc="ANSI-safe casting: try_cast returns null instead of raising on "
    "malformed input (Spark 4 runs ANSI mode by default).",
)
def scalar_try_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract("p_brand", r"([0-9]+)", 1)
        .try_cast("int")
        .alias("brand_num"),
        F.col("p_name").try_cast("double").alias("name_num"),
    )


@register(
    "scalar_date_arith",
    """
    SELECT o_orderkey,
           CAST(date_part('year', o_orderdate) AS INT) AS yr,
           CAST(date_part('month', o_orderdate) AS INT) AS mo,
           CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS INT)
             AS days_since_epoch_start,
           CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS due_date
    FROM orders
    WHERE o_orderkey < 3000
    """,
    doc="Date arithmetic: year/month extraction, datediff, date_add — the "
    "reference kept order_date as a raw string (§1.3); this is the typed "
    "path.",
)
def scalar_date_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 3000)
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.datediff(
            F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp")
        ).alias("days_since_epoch_start"),
        F.date_add(F.col("o_orderdate"), 30).alias("due_date"),
    )


@register(
    "explode_word_counts",
    """
    SELECT word, count(*) AS cnt, count(DISTINCT doc_id) AS docs
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
          FROM documents)
    WHERE word <> ''
    GROUP BY word
    """,
    doc="explode/unnest normalization (the reference's items array demanded "
    "this, §2.8): word counts over the documents corpus.",
    tags=("bench", "r1"),
)
def explode_word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(  # outer: skip the inferred re-split; empties filtered below
            "doc_id", F.explode_outer(F.split("text", " ")).alias("word")
        )
        .filter((F.col("word") != "") & F.col("word").isNotNull())
        .groupBy("word")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.countDistinct("doc_id").alias("docs"),
        )
    )


@register(
    "case_when_buckets",
    """
    SELECT CASE WHEN o_totalprice < 150000 THEN 'small'
                WHEN o_totalprice < 300000 THEN 'medium'
                ELSE 'large' END AS bucket,
           coalesce(nullif(o_orderstatus, 'P'), 'PENDING') AS status_label,
           count(*) AS cnt, round(sum(o_totalprice), 2) AS revenue
    FROM orders
    GROUP BY 1, 2
    """,
    doc="CASE WHEN + nullif/coalesce null handling (§2.2 absences).",
)
def case_when_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 150000, "small")
        .when(F.col("o_totalprice") < 300000, "medium")
        .otherwise("large")
    )
    status = F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("P")), F.lit("PENDING"))
    return (
        o.select(bucket.alias("bucket"), status.alias("status_label"), "o_totalprice")
        .groupBy("bucket", "status_label")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Window frames (SURVEY §2.5 absences)
# ---------------------------------------------------------------------------

@register(
    "window_running_sum",
    """
    SELECT o_orderkey, o_custkey,
           CAST(row_number() OVER w AS INT) AS order_seq,
           round(sum(o_totalprice) OVER w, 2) AS running_spend
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    doc="Aggregate-over-window with explicit frame: per-customer running "
    "spend, rounded to the source's 2-decimal grid so engine-specific "
    "accumulation (sequential vs segment-tree) can't flip a rendering "
    "boundary.",
    tags=("bench", "r1", "curve"),
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.row_number()
        .over(Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey"))
        .alias("order_seq"),
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_spend"),
    )


@register(
    "window_lag_lead",
    """
    SELECT event_id, user_id,
           value - lag(value) OVER w AS delta,
           lead(event_type) OVER w AS next_type
    FROM events
    WINDOW w AS (PARTITION BY user_id
                 ORDER BY CAST(ts AS TIMESTAMP), event_id)
    """,
    doc="Analytic lag/lead over per-user event timelines.",
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        (F.col("value") - F.lag("value").over(w)).alias("delta"),
        F.lead("event_type").over(w).alias("next_type"),
    )


@register(
    "window_rank_family",
    """
    SELECT o_orderkey,
           CAST(rank()       OVER w AS INT) AS rnk,
           CAST(dense_rank() OVER w AS INT) AS drnk,
           percent_rank()    OVER w         AS prnk,
           CAST(ntile(4)     OVER w AS INT) AS quartile,
           cume_dist()       OVER w         AS cdist
    FROM orders
    WHERE o_orderkey < 2000
    WINDOW w AS (PARTITION BY o_orderstatus
                 ORDER BY o_totalprice DESC, o_orderkey)
    """,
    doc="Ranking-function family over a window: rank/dense_rank/"
    "percent_rank/ntile/cume_dist.",
)
def window_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return o.select(
        "o_orderkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.percent_rank().over(w).alias("prnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.cume_dist().over(w).alias("cdist"),
    )


@register(
    "agg_collect_sorted",
    """
    SELECT o_orderstatus,
           array_to_string(list_sort(list_distinct(list(o_orderpriority))), ',')
             AS priorities,
           count(*) AS cnt
    FROM orders
    GROUP BY o_orderstatus
    """,
    doc="Set-collecting aggregation with deterministic output: "
    "sorted-distinct collect rendered as a joined string.",
)
def agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.array_join(
            F.sort_array(F.collect_set("o_orderpriority")), ","
        ).alias("priorities"),
        F.count(F.lit(1)).alias("cnt"),
    )


@register(
    "unpivot_lineitem_measures",
    """
    SELECT l_returnflag, 'sum_qty' AS metric, sum(l_quantity) AS val
    FROM lineitem GROUP BY l_returnflag
    UNION ALL
    SELECT l_returnflag, 'sum_price' AS metric, round(sum(l_extendedprice), 2)
      AS val
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Unpivot/melt: wide per-flag measures back to long (metric, val) "
    "rows via DataFrame.unpivot.",
)
def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.sum("l_quantity").alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["sum_qty", "sum_price"],
        variableColumnName="metric",
        valueColumnName="val",
    )


@register(
    "window_first_last_nth",
    """
    SELECT event_id, user_id,
           first_value(value) OVER w AS first_val,
           last_value(value)  OVER w AS last_val,
           nth_value(value, 2) OVER w AS second_val
    FROM events
    WINDOW w AS (PARTITION BY user_id
                 ORDER BY CAST(ts AS TIMESTAMP), event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    doc="first_value/last_value/nth_value analytics over an unbounded frame "
    "(per-user first, latest, and second event values).",
)
def window_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.first("value").over(w).alias("first_val"),
        F.last("value").over(w).alias("last_val"),
        F.nth_value("value", 2).over(w).alias("second_val"),
    )


@register(
    "window_range_frame",
    """
    SELECT event_id, user_id,
           round(sum(value) OVER (
             PARTITION BY user_id
             ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW), 2)
             AS value_1h
    FROM events
    """,
    doc="RANGE window frame: per-user rolling 1-hour value sum (time-based "
    "frame, not row-count-based).",
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return ev.select(
        "event_id", "user_id",
        F.round(F.sum("value").over(w), 2).alias("value_1h"),
    )


# ---------------------------------------------------------------------------
# Set operations (SURVEY §2.7 — absent in reference)
# ---------------------------------------------------------------------------

@register(
    "set_intersect_custkeys",
    """
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
    doc="INTERSECT (distinct semantics): customers with both F and O orders.",
)
def set_intersect_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    f = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    op = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return f.intersect(op)


@register(
    "set_except_custkeys",
    """
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
    doc="EXCEPT: customers with P orders but no F orders.",
)
def set_except_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    p = o.filter(F.col("o_orderstatus") == "P").select("o_custkey")
    f = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return p.subtract(f)  # EXCEPT (distinct semantics)


@register(
    "union_by_name_drift",
    """
    SELECT o_orderkey, o_totalprice, o_orderstatus,
           CAST(NULL AS VARCHAR) AS o_orderpriority
    FROM orders
    UNION ALL
    SELECT o_orderkey, CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR),
           o_orderpriority
    FROM orders
    """,
    doc="unionByName(allowMissingColumns=True) — the schema-drift union idiom "
    "matching the reference's inferred-schema semantics (§1.4).",
    tags=("graded",),
)
def union_by_name_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    a = o.select("o_orderkey", "o_totalprice", "o_orderstatus")
    b = o.select("o_orderkey", "o_orderpriority")
    return a.unionByName(b, allowMissingColumns=True)


@register(
    "scalar_math_funcs",
    """
    SELECT l_orderkey, l_linenumber,
           floor(l_extendedprice * (1 - l_discount) * 100) / 100 AS net_price,
           sqrt(l_quantity) AS qty_sqrt,
           ln(l_extendedprice) AS price_ln,
           power(l_discount, 2) AS disc_sq,
           abs(l_quantity - 25.0) AS qty_dev
    FROM lineitem
    WHERE l_orderkey < 1000
    """,
    doc="Math scalar surface: round/sqrt/ln/power/abs (§2.8 absences).",
)
def scalar_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 1000)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100) / 100)
        .alias("net_price"),
        F.sqrt("l_quantity").alias("qty_sqrt"),
        F.log(F.col("l_extendedprice")).alias("price_ln"),
        F.pow("l_discount", F.lit(2)).alias("disc_sq"),
        F.abs(F.col("l_quantity") - 25.0).alias("qty_dev"),
    )


@register(
    "sql_grouping_sets",
    """
    SELECT l_returnflag, l_linestatus,
           sum(l_quantity) AS sum_qty, count(*) AS cnt
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    doc="Explicit GROUPING SETS through the spark.sql entry point "
    "(reference §3.3 SQL-string lifecycle).",
)
def sql_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_v")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               sum(l_quantity) AS sum_qty, count(*) AS cnt
        FROM lineitem_v
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@register(
    "sql_correlated_subquery",
    """
    SELECT p_partkey, p_brand, p_retailprice
    FROM part p
    WHERE p_retailprice > 1.5 * (SELECT avg(p2.p_retailprice)
                                 FROM part p2 WHERE p2.p_brand = p.p_brand)
    """,
    doc="Correlated scalar subquery (Catalyst decorrelates to an aggregate + "
    "join), via the SQL entry point.",
)
def sql_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "part").createOrReplaceTempView("part_v")
    return spark.sql(
        """
        SELECT p_partkey, p_brand, p_retailprice
        FROM part_v p
        WHERE p_retailprice > 1.5 * (SELECT avg(p2.p_retailprice)
                                     FROM part_v p2 WHERE p2.p_brand = p.p_brand)
        """
    )


@register(
    "session_window_counts",
    """
    SELECT user_id, min(ts) AS session_start, count(*) AS n_events
    FROM (
      SELECT user_id, ts,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
               CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER
                      (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
                      IS NULL
                    OR CAST(ts AS TIMESTAMP) - lag(CAST(ts AS TIMESTAMP)) OVER
                      (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
                      > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS is_new
        FROM events))
    GROUP BY user_id, session_id
    """,
    doc="Session windows (30-min gap) via Spark's native session_window — the "
    "stateful-session operator; the oracle derives sessions with the "
    "lag+cumulative-sum SQL formulation.",
    tags=("bench", "r1"),
)
def session_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), F.col("user_id")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
        )
    )


@register(
    "asof_join_purchase_view",
    """
    WITH e AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value, event_type
      FROM events WHERE event_type IN ('view', 'purchase')
    ), w AS (
      SELECT user_id, ts, event_id, event_type,
             last_value(CASE WHEN event_type = 'view'
                             THEN struct_pack(id := event_id, v := value)
                        END IGNORE NULLS)
               OVER (PARTITION BY user_id
                     ORDER BY ts,
                              CASE WHEN event_type = 'purchase'
                                   THEN 1 ELSE 0 END,
                              event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS lv
      FROM e
    )
    SELECT event_id, user_id, lv.id AS view_event_id, lv.v AS view_value
    FROM w WHERE event_type = 'purchase'
    """,
    doc="As-of join (custom operator Spark lacks, SURVEY §2.3): each purchase "
    "matched to the user's latest view at-or-before it, ties on the exact "
    "timestamp broken to the max view id (DuckDB's native ASOF leaves the "
    "tie pick unspecified, so the oracle is explicit — the sf1 events "
    "decade produced real ts collisions and exposed the ambiguity). "
    "Implemented as union+window merge (one shuffle per side, no range "
    "cross join); round 5 rewrote the ORACLE into the same linear "
    "union+window form (atomic struct payload through last_value IGNORE "
    "NULLS): the old per-purchase ranked-join oracle was quadratic per "
    "user and timed out at the sf10 gate (events densify 10x per user, "
    "so pairs grew 100x) — proven row-identical to the old form at "
    "sf0.01 before the swap.",
    tags=("bench", "r1", "curve"),
)
def asof_join_purchase_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        "ts",
        F.col("event_id").alias("view_event_id"),
        F.col("value").alias("view_value"),
    )
    out = R.as_of_join(
        purchases, views, on="user_id", left_time="ts", right_time="ts",
        direction="backward", right_tiebreak="view_event_id",
    )
    return out.select("event_id", "user_id", "view_event_id", "view_value")


@register(
    "embedding_dim_stats",
    """
    SELECT pos, avg(val) AS avg_val, min(val) AS min_val, max(val) AS max_val
    FROM (SELECT CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
                 unnest(embedding) AS val
          FROM embeddings)
    GROUP BY pos
    """,
    doc="posexplode over a real array column: per-dimension embedding stats "
    "(the data-quality profile of a vector corpus).",
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    return (
        e.select(F.posexplode("embedding").alias("pos", "val"))
        .groupBy("pos")
        .agg(
            F.avg("val").alias("avg_val"),
            F.min("val").alias("min_val"),
            F.max("val").alias("max_val"),
        )
    )


@register(
    "multimodal_frame_sample",
    """
    WITH f AS (
      SELECT doc_id,
             greatest(CAST(strlen(text) // 100 AS INTEGER) - 1, 0) AS lastf
      FROM documents
    )
    SELECT doc_id, CAST(unnest(range(0, lastf + 1, 2)) AS INTEGER) AS frame_no
    FROM f
    """,
    doc="Frame-sampling fan-out plumbing for video-style payloads "
    "(explode of per-payload frame indexes, payload dropped post-fanout). "
    "Frame count derives from the UTF-8 payload byte length (1 per 100 "
    "bytes, every 2nd sampled), so the fan-out is exactly SQL-expressible "
    "and fully oracle-checked.",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import frame_sample_plan

    d = _t(spark, sf_dir, "documents")
    return frame_sample_plan(attach_payload(d), every_n=2)


# ---------------------------------------------------------------------------
# TPC-H-shaped analytical queries (flagship + joins at depth)
# ---------------------------------------------------------------------------

@register(
    "tpch_q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           sum(l_quantity) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 6)
             AS sum_charge,
           avg(l_quantity) AS avg_qty,
           round(sum(l_extendedprice), 2) / count(*) AS avg_price,
           round(sum(l_discount), 2) / count(*) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="Flagship: TPC-H Q1 pricing summary — full scan + pushdown filter + "
    "8 aggregates over 2 grouping keys; the throughput headline. Money sums "
    "are rounded to their exact decimal grid (2/4/6 digits — the true sums "
    "are ON the grid, noise ~1e-9) and averages are decomposed as "
    "rounded-sum/count, so both engines emit bit-identical doubles "
    "regardless of partial-aggregation order. avg/sum of l_quantity stay "
    "raw: integer-valued doubles sum exactly.",
    tags=("graded", "bench", "r1", "curve"),
)
def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 4).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 6).alias(
                "sum_charge"
            ),
            F.avg("l_quantity").alias("avg_qty"),
            (F.round(F.sum("l_extendedprice"), 2) / F.count(F.lit(1))).alias(
                "avg_price"
            ),
            (F.round(F.sum("l_discount"), 2) / F.count(F.lit(1))).alias(
                "avg_disc"
            ),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "tpch_q3_shipping_priority",
    """
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_shipdate  > TIMESTAMP '1998-01-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    doc="TPC-H Q3 shape: selective dim filter -> 3-way join -> agg -> top-10 "
    "(deterministic tiebreak on l_orderkey).",
    tags=("bench", "r1", "curve"),
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@register(
    "tpch_q6_forecast_revenue",
    """
    SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    doc="TPC-H Q6: pure pushdown-filter scan + single global aggregate.",
    tags=("bench", "r1"),
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4
        ).alias("revenue")
    )


@register(
    "tpch_q4_order_priority",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01'
      AND o_orderdate <  TIMESTAMP '1996-10-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
    doc="TPC-H Q4 shape: correlated EXISTS (planned as a left-semi join) + "
    "grouped count.",
)
def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    matched = o.join(
        li,
        (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return matched.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


@register(
    "tpch_q12_shipmode",
    """
    SELECT l_returnflag,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY l_returnflag
    """,
    doc="TPC-H Q12 shape: join + conditional CASE-sum aggregation.",
    tags=("bench", "r1"),
)
def tpch_q12_shipmode(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, o.o_orderkey == li.l_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "tpch_q14_promo_ratio",
    """
    SELECT 100.0 * round(sum(CASE WHEN p_type LIKE 'ECONOMY%'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0.0 END), 4)
           / round(sum(l_extendedprice * (1 - l_discount)), 4)
             AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-03-01'
      AND l_shipdate <  TIMESTAMP '1997-04-01'
    """,
    doc="TPC-H Q14 shape: join + conditional revenue ratio (single scalar).",
)
def tpch_q14_promo_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").like("ECONOMY%"), net).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            (
                F.lit(100.0)
                * F.round(F.sum(promo), 4)
                / F.round(F.sum(net), 4)
            ).alias("promo_revenue_pct")
        )
    )


@register(
    "tpch_q5_local_supplier_volume",
    """
    SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE c_nationkey = s_nationkey
      AND r_name IN ('ASIA', 'EUROPE')
    GROUP BY n_name
    """,
    doc="TPC-H Q5: local-supplier volume — 6-way join with the same-nation "
    "customer/supplier constraint and region filter.",
)
def tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name").isin("ASIA", "EUROPE"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .filter(c.c_nationkey == s.s_nationkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )


@register(
    "tpch_q8_market_share",
    """
    SELECT l_year,
           round(sum(CASE WHEN supp_nation = 'NATION_0' THEN volume
                          ELSE 0.0 END), 4)
             / round(sum(volume), 4) AS mkt_share
    FROM (SELECT CAST(date_part('year', o_orderdate) AS INT) AS l_year,
                 l_extendedprice * (1 - l_discount) AS volume,
                 sn.n_name AS supp_nation
          FROM lineitem
          JOIN orders   ON l_orderkey = o_orderkey
          JOIN part     ON p_partkey = l_partkey
          JOIN supplier ON s_suppkey = l_suppkey
          JOIN nation sn ON sn.n_nationkey = s_nationkey
          WHERE p_type = 'ECONOMY')
    GROUP BY l_year
    """,
    doc="TPC-H Q8 shape: a nation's market share of ECONOMY-part revenue per "
    "order-year (conditional share over a multi-join).",
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    base = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            F.year("o_orderdate").alias("l_year"),
            vol.alias("volume"),
            F.col("n_name").alias("supp_nation"),
        )
    )
    return base.groupBy("l_year").agg(
        (
            F.round(
                F.sum(
                    F.when(
                        F.col("supp_nation") == "NATION_0", F.col("volume")
                    ).otherwise(0.0)
                ),
                4,
            )
            / F.round(F.sum("volume"), 4)
        ).alias("mkt_share")
    )


@register(
    "map_type_ops",
    """
    WITH per_type AS (
      SELECT user_id, event_type, round(sum(value), 2) AS total
      FROM events GROUP BY user_id, event_type)
    SELECT user_id,
           CAST(count(*) AS INT) AS n_types,
           max(CASE WHEN event_type = 'click' THEN total END) AS click_total,
           array_to_string(list(event_type ORDER BY event_type), ',') AS types
    FROM per_type GROUP BY user_id
    """,
    doc="MapType surface: per-user map of event_type -> value sum built with "
    "map_from_entries over a sorted entry list (deterministic key order), "
    "element access + map cardinality + map_keys.",
    tags=("graded",),
)
def map_type_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    per_type = ev.groupBy("user_id", "event_type").agg(
        F.round(F.sum("value"), 2).alias("total")
    )
    mapped = per_type.groupBy("user_id").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("event_type", "total")))
        ).alias("by_type")
    )
    return mapped.select(
        "user_id",
        F.size("by_type").alias("n_types"),
        F.col("by_type")["click"].alias("click_total"),
        # key list as a comma-joined string: final output schemas must be
        # scalar-only (driver pandas canonicalization can't hash arrays)
        F.array_join(F.map_keys("by_type"), ",").alias("types"),
    )


@register(
    "tpch_q7_volume_shipping",
    """
    SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
           CAST(date_part('year', l_shipdate) AS INT) AS l_year,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM lineitem
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation cn ON cn.n_nationkey = c_nationkey
    JOIN nation sn ON sn.n_nationkey = s_nationkey
    WHERE cn.n_name IN ('NATION_0', 'NATION_1')
      AND sn.n_name IN ('NATION_0', 'NATION_1')
      AND cn.n_name <> sn.n_name
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY cn.n_name, sn.n_name, CAST(date_part('year', l_shipdate) AS INT)
    """,
    doc="TPC-H Q7 shape: 6-way join with two roles of the same dim (customer "
    "nation vs supplier nation) + year bucketing.",
)
def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    ).filter(F.col("cust_nation").isin("NATION_0", "NATION_1"))
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    ).filter(F.col("supp_nation").isin("NATION_0", "NATION_1"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(cn), c.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(sn), s.s_nationkey == F.col("sn_key"))
        .filter(F.col("cust_nation") != F.col("supp_nation"))
        .groupBy(
            "cust_nation", "supp_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )


@register(
    "tpch_q10_returned_items",
    """
    SELECT c_custkey, c_name, n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1997-04-01'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    doc="TPC-H Q10 shape: returned-item revenue per customer, 4-way join, "
    "top-20 with deterministic tiebreak.",
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@register(
    "tpch_q13_custdist",
    """
    SELECT c_count, count(*) AS custdist
    FROM (SELECT c_custkey, count(o_orderkey) AS c_count
          FROM customer LEFT JOIN orders
            ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
          GROUP BY c_custkey)
    GROUP BY c_count
    """,
    doc="TPC-H Q13 shape: outer join with a join-side predicate, then the "
    "distribution of per-customer order counts.",
)
def tpch_q13_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey)
            & (o.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "tpch_q17_small_qty_revenue",
    """
    SELECT round(sum(l_extendedprice), 2) / 7.0 AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#3'
      AND l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
                        FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
    """,
    doc="TPC-H Q17 shape: correlated per-part average threshold "
    "(decorrelated to an aggregate join by Catalyst).",
)
def tpch_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    avg_qty = li.groupBy(F.col("l_partkey").alias("ap_partkey")).agg(
        (F.avg("l_quantity") * 0.5).alias("half_avg_qty")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(avg_qty, li.l_partkey == avg_qty.ap_partkey)
        .filter(F.col("l_quantity") < F.col("half_avg_qty"))
        .agg(
            (F.round(F.sum("l_extendedprice"), 2) / 7.0).alias("avg_yearly")
        )
    )


@register(
    "tpch_q18_large_orders",
    """
    SELECT c_custkey, o_orderkey, o_totalprice, sum(l_quantity) AS total_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                         GROUP BY l_orderkey HAVING sum(l_quantity) > 150)
    GROUP BY c_custkey, o_orderkey, o_totalprice
    """,
    doc="TPC-H Q18 shape: IN over a grouped-HAVING subquery (semi join on "
    "an aggregate), then a 3-way join + group.",
    tags=("graded", "bench", "curve"),
)
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 150)
        .select("l_orderkey")
    )
    o_big = o.join(big, o.o_orderkey == big.l_orderkey, "left_semi")
    return (
        li.join(o_big, li.l_orderkey == o_big.o_orderkey)
        .join(c, o_big.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "o_orderkey", "o_totalprice")
        .agg(F.sum("l_quantity").alias("total_qty"))
    )


@register(
    "tpch_q19_disjunctive",
    """
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 21)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
           AND l_quantity BETWEEN 10 AND 30)
       OR (p_type = 'PROMO' AND l_quantity >= 40)
    """,
    doc="TPC-H Q19 shape: disjunctive multi-column join predicates (the "
    "planner keeps the equi key and pushes the OR as a post-join filter).",
)
def tpch_q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 21)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 30)
        )
        | ((F.col("p_type") == "PROMO") & (F.col("l_quantity") >= 40))
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )


@register(
    "tpch_q22_global_sales",
    """
    SELECT cntrycode, count(*) AS numcust,
           round(sum(c_acctbal), 2) AS totacctbal
    FROM (SELECT substring(c_name, 16, 2) AS cntrycode, c_acctbal
          FROM customer c
          WHERE c_acctbal > (SELECT round(sum(c_acctbal), 2) / count(*)
                             FROM customer WHERE c_acctbal > 0.0)
            AND NOT EXISTS (SELECT 1 FROM orders o
                            WHERE o.o_custkey = c.c_custkey
                              AND o.o_orderdate >= TIMESTAMP '2000-01-01'))
    GROUP BY cntrycode
    """,
    doc="TPC-H Q22 shape: uncorrelated scalar average + anti join + "
    "substring-derived grouping key.",
)
def tpch_q22_global_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        (F.round(F.sum("c_acctbal"), 2) / F.count(F.lit(1))).alias("__avg_bal")
    )
    # scalar broadcast-joined in, not collect()ed — keeps the plan fully
    # distributed (the scalar subquery shape Catalyst would build from SQL)
    rich = c.crossJoin(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("__avg_bal")
    )
    no_recent = rich.join(o, rich.c_custkey == o.o_custkey, "left_anti")
    return (
        no_recent.select(
            F.substring("c_name", 16, 2).alias("cntrycode"), "c_acctbal"
        )
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# Charter extensions: dedup / text / similarity / multimodal (SURVEY §2.11)
# ---------------------------------------------------------------------------

@register(
    "dedup_exact_text",
    """
    SELECT CAST(min(doc_id) AS BIGINT) AS doc_id, count(*) AS n_dups
    FROM documents GROUP BY text
    """,
    doc="Exact dedup by content groupBy, deterministic keep-min-id survivor.",
)
def dedup_exact_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("text").agg(
        F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_dups")
    ).select("doc_id", "n_dups")


@register(
    "dedup_exact_hash",
    """
    SELECT sha256(text) AS content_hash,
           CAST(min(doc_id) AS BIGINT) AS doc_id, count(*) AS n_dups
    FROM documents GROUP BY sha256(text)
    """,
    doc="Hash-based exact dedup: shuffle on the 256-bit digest instead of the "
    "full text — the 100TB form (constant-width shuffle key).",
    tags=("bench", "r1"),
)
def dedup_exact_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(F.sha2("text", 256).alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_dups"))
    )


@register(
    "dedup_minhash_lsh",
    None,  # custom hash family — no SQL-oracle equivalent
    doc="MinHash-LSH near-dup pairs over documents (shingle->minhash->band->"
    "bucket equi-join->exact Jaccard verify). Rows-only check.",
    tags=("graded", "bench", "r1", "curve"),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(
        d, "doc_id", "text", num_hashes=64, bands=16, shingle_n=2,
        jaccard_threshold=0.2,
    )


@register(
    "dedup_minhash_recall_contract",
    """
    WITH w AS (SELECT doc_id,
                      list_filter(string_split(text, ' '), x -> x <> '') AS ws
               FROM documents),
    t AS (SELECT doc_id,
                 list_distinct([array_to_string(ws[i:i+2], ' ')
                   for i in generate_series(1, greatest(len(ws)-2, 0))]) AS tk
          FROM w WHERE len(ws) >= 3),
    anc AS (SELECT doc_id FROM t
            WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'),
    ex AS (SELECT doc_id, unnest(tk) AS s FROM t),
    ov AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS cnt
           FROM (SELECT e.* FROM ex e JOIN anc USING (doc_id)) a
           JOIN ex b ON a.s = b.s AND a.doc_id <> b.doc_id
           GROUP BY 1, 2),
    lens AS (SELECT doc_id, len(tk) AS L FROM t),
    pairs AS (SELECT DISTINCT least(ida, idb) AS a, greatest(ida, idb) AS b
              FROM ov JOIN lens la ON la.doc_id = ida
                      JOIN lens lb ON lb.doc_id = idb
              WHERE cnt * 1.0 / (la.L + lb.L - cnt) >= 0.8)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM anc) AS n_anchor_docs,
           CAST(count(*) AS BIGINT) AS n_exact_sliced_pairs,
           TRUE AS lsh_recall_ok
    FROM pairs
    """,
    doc="Accuracy contract for MinHash-LSH (the agg_approx pattern, same "
    "role ann_ivf_recall_contract plays for ANN): over the md5 1/16 "
    "doc slice, the engine computes the EXACT 0.8-Jaccard pairs "
    "(jaccard_join, zero recall loss) and the LSH pairs at matching "
    "parameters (64 hashes / 16 bands / trigrams), and emits the slice "
    "size and exact-pair count — value-checked by a LINEAR anchors-x-all "
    "explode-join oracle at every scale, no quadratic SQL anywhere — "
    "plus lsh_recall_ok = LSH found >= 90 percent of the exact pairs. "
    "Measured 100 percent at sf0.001-sf1 (theory: ~2e-4 miss/pair at "
    "j=0.8, (1-0.8^4)^16); the 0.9 floor leaves margin for future data. "
    "A banding/signature regression flips the boolean.",
    tags=("graded",),
)
def dedup_minhash_recall_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    anchor = F.substring(F.md5(F.col("id_a").cast("string")), 1, 1) == "0"
    anchor_b = F.substring(F.md5(F.col("id_b").cast("string")), 1, 1) == "0"
    exact = D.jaccard_join(d, "doc_id", "text", threshold=0.8, shingle_n=3)
    sliced = exact.select("id_a", "id_b").filter(anchor | anchor_b)
    lsh = D.minhash_lsh_pairs(
        d, "doc_id", "text", num_hashes=64, bands=16, shingle_n=3,
        jaccard_threshold=0.8,
    ).select("id_a", "id_b")
    words = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    n_anchor = d.filter(
        (F.size(words) >= 3)
        & (F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) == "0")
    ).agg(F.count(F.lit(1)).alias("n_anchor_docs"))
    stats = sliced.agg(F.count(F.lit(1)).alias("n_exact_sliced_pairs"))
    hits = sliced.join(lsh, ["id_a", "id_b"]).agg(
        F.count(F.lit(1)).alias("__hits")
    )
    return (
        n_anchor.crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(hits))
        .select(
            "n_anchor_docs",
            "n_exact_sliced_pairs",
            (
                F.col("__hits") * F.lit(1000000)
                >= F.lit(900000) * F.col("n_exact_sliced_pairs")
            ).alias("lsh_recall_ok"),
        )
    )


@register(
    "dedup_simhash",
    """
    WITH t AS (
      SELECT doc_id,
             list_transform(
               list_filter(string_split_regex(lower(text), '\\s+'),
                           x -> x <> ''),
               tk -> CAST(('0x' || substr(md5(tk), 1, 15)) AS BIGINT)) AS h
      FROM documents),
    s AS (
      SELECT doc_id,
             list_sum(list_transform(generate_series(0, 59),
               b -> CASE WHEN 2 * len(list_filter(h, x -> (x >> b) & 1 = 1))
                              >= len(h)
                         THEN (CAST(1 AS BIGINT) << b)
                         ELSE CAST(0 AS BIGINT) END)) AS sig
      FROM t)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sig, b.sig)) <= 5
    """,
    doc="SimHash near-dup pairs (60-bit packed majority-sign signature over "
    "portable md5-prefix token hashes, 6-band candidates, bit_count-XOR "
    "hamming verify <= 5). FULL oracle (upgraded from rows-only): with "
    "max_hamming < chunks the banding is recall-complete by pigeonhole, so "
    "the output is exactly the hamming-threshold pair set, which DuckDB "
    "recomputes from scratch — tokenize, md5 hash, per-bit majority, "
    "packed XOR distance. The all-pairs oracle join is driver-scale only; "
    "the sf1 gate uses the anchored SCALE_PROBES slice. "
    "operators/dedup.py::simhash_pairs.",
    tags=("curve",),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return D.simhash_pairs(
        d, "doc_id", "text", bits=60, chunks=6, max_hamming=5
    )


@register(
    "dedup_ngram_jaccard",
    None,
    doc="Word-bigram Jaccard near-dup pairs with LSH candidate generation + "
    "exact verification. Rows-only check; the candidate machinery is "
    "minhash_lsh_pairs itself, so its recall is pinned by "
    "dedup_minhash_recall_contract.",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    # r=3 rows/band: 2-row bands collide on ~everything in this high-overlap
    # synthetic corpus (candidate blowup); 3-row bands keep recall ~0.9 at
    # j>=0.5 while cutting baseline collisions by ~10x
    return D.minhash_lsh_pairs(
        d, "doc_id", "text", num_hashes=48, bands=16, shingle_n=2,
        jaccard_threshold=0.25,
    )


@register(
    "dedup_survivors_end_to_end",
    None,  # iterative connected components — not SQL-expressible
    doc="End-to-end corpus dedup: MinHash-LSH pairs -> connected components "
    "(min-label propagation + pointer jumping) -> one survivor per cluster "
    "+ all unpaired docs. Rows-only check.",
)
def dedup_survivors_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(
        d, "doc_id", "text", num_hashes=64, bands=16, shingle_n=2,
        jaccard_threshold=0.2,
    )
    return D.dedup_survivors(d, pairs).select("doc_id", "source", "n_chars")


@register(
    "text_quality_scores",
    """
    SELECT doc_id,
           CAST(len(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS INT)
             AS n_tokens,
           CAST(len(list_filter(string_split(lower(text), ' '),
                t -> t IN ('the','a','of','and','to','in','is'))) AS INT)
             AS stopword_cnt
    FROM documents
    """,
    doc="Per-document token + stopword counts (quality-filter features), all "
    "JVM-side higher-order functions.",
    tags=("bench", "r1"),
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return T.quality_features(d).select("doc_id", "n_tokens", "stopword_cnt")


@register(
    "text_token_stats",
    """
    SELECT source,
           CAST(sum(len(list_filter(string_split(lower(text), ' '), t -> t <> ''))) AS BIGINT)
             AS total_tokens,
           count(*) AS docs,
           avg(CAST(len(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS DOUBLE))
             AS avg_tokens
    FROM documents GROUP BY source
    """,
    doc="Corpus token budgeting per source: total/avg token counts.",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    n_tok = T.token_count(F.col("text"))
    return (
        d.select("source", n_tok.alias("__n"))
        .groupBy("source")
        .agg(
            F.sum("__n").alias("total_tokens"),
            F.count(F.lit(1)).alias("docs"),
            F.avg(F.col("__n").cast("double")).alias("avg_tokens"),
        )
    )


@register(
    "text_lang_id",
    """
    SELECT doc_id,
           CASE WHEN greatest(c_en, c_es, c_de, c_fr, c_zh) = 0 THEN 'und'
                WHEN c_en = greatest(c_en, c_es, c_de, c_fr, c_zh) THEN 'en'
                WHEN c_es = greatest(c_en, c_es, c_de, c_fr, c_zh) THEN 'es'
                WHEN c_de = greatest(c_en, c_es, c_de, c_fr, c_zh) THEN 'de'
                WHEN c_fr = greatest(c_en, c_es, c_de, c_fr, c_zh) THEN 'fr'
                ELSE 'zh' END AS pred_lang
    FROM (
      SELECT doc_id,
             len(list_filter(string_split(lower(text), ' '),
                 t -> t IN ('the','a','of','and','to','in','is'))) AS c_en,
             len(list_filter(string_split(lower(text), ' '),
                 t -> t IN ('el','la','de','los','las','que','y'))) AS c_es,
             len(list_filter(string_split(lower(text), ' '),
                 t -> t IN ('der','die','das','und','ist','nicht'))) AS c_de,
             len(list_filter(string_split(lower(text), ' '),
                 t -> t IN ('le','la','les','et','des','est'))) AS c_fr,
             len(list_filter(string_split(lower(text), ' '),
                 t -> t IN ('的','是','了','在','我'))) AS c_zh
      FROM documents)
    """,
    doc="Stopword-vote language ID heuristic per document; the oracle "
    "mirrors the vote counts and the deterministic priority-order argmax.",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return T.lang_id(d).select("doc_id", "pred_lang")


@register(
    "text_fingerprint",
    """
    SELECT doc_id,
           md5(array_to_string(list_filter(string_split(lower(text), ' '), t -> t <> ''), ' '))
             AS fingerprint
    FROM documents
    """,
    doc="Canonicalized-content md5 fingerprint (whitespace/case-insensitive "
    "exact-dedup key).",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return T.content_fingerprint(d).select("doc_id", "fingerprint")


@register(
    "text_winnow_fingerprints",
    """
    WITH w AS (SELECT doc_id,
                      list_filter(string_split_regex(lower(text), '\\s+'),
                                  x -> x <> '') AS ws
               FROM documents),
    g AS (SELECT doc_id,
                 list_transform(
                   [array_to_string(ws[i:i+4], ' ')
                    for i in generate_series(1, greatest(len(ws)-4, 0))],
                   gr -> CAST(('0x' || substr(md5(gr), 1, 15)) AS BIGINT))
                   AS h
          FROM w),
    m AS (SELECT doc_id,
                 list_distinct(
                   [list_min(h[i:i+3])
                    for i in generate_series(1, greatest(len(h)-3, 0))])
                   AS fps
          FROM g)
    SELECT doc_id, unnest(fps) AS fingerprint FROM m
    """,
    doc="Winnowing rolling-hash fingerprints (Schleimer et al. SIGMOD'03: "
    "5-gram hashes, minimum of each 4-wide sliding window, distinct per "
    "doc). Uses the md5-prefix portable hash so the ENTIRE pipeline — "
    "tokenize, gram, hash, rolling min, distinct — is value-checked by a "
    "full DuckDB oracle (upgraded from rows-only; the scheme is "
    "hash-agnostic). "
    "operators/text.py::winnow_fingerprints.",
    tags=("graded",),
)
def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return T.winnow_fingerprints(d)


@register(
    "ann_cosine_topk",
    """
    SELECT query_id, neighbor_id, rank FROM (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             CAST(row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(
                          CAST(e.embedding AS DOUBLE[]),
                          CAST(q.embedding AS DOUBLE[])) DESC,
                        e.vec_id) AS INT) AS rank
      FROM embeddings e, embeddings q
      WHERE q.vec_id < 5 AND e.vec_id <> q.vec_id)
    WHERE rank <= 5
    """,
    doc="Brute-force cosine top-5 neighbors for 5 query vectors: broadcast "
    "query side, one pass over the corpus, per-query rank.",
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    return S.ann_topk_bruteforce(e, q, k=5, include_sim=False)


@register(
    "ann_lsh_topk",
    None,
    doc="Multi-table random-hyperplane LSH approximate top-k "
    "((table, signature) equi-join, candidate union). Rows-only check.",
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    return S.ann_topk_lsh(e, q, k=5, dim=64, bits=4, tables=8)


@register(
    "ann_lsh_recall_contract",
    """
    WITH ranked AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(
                          CAST(e.embedding AS DOUBLE[]),
                          CAST(q.embedding AS DOUBLE[])) DESC,
                        e.vec_id) AS rank
      FROM embeddings e, embeddings q
      WHERE q.vec_id < 5 AND e.vec_id <> q.vec_id),
    top AS (SELECT * FROM ranked WHERE rank <= 5)
    SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries,
           CAST(sum(rank * neighbor_id) AS BIGINT) AS exact_topk_checksum,
           TRUE AS lsh_recall_ok
    FROM top
    """,
    doc="Accuracy contract for the random-hyperplane LSH path (same "
    "agg_approx pattern as ann_ivf_recall_contract, same config as the "
    "registered ann_lsh_topk): exact brute-force top-5 value-checked "
    "(count + rank*id checksum) against the oracle's own SQL, plus "
    "lsh_recall_ok = LSH recall >= 0.4. The fixtures' uniform random "
    "vectors are hyperplane LSH's WORST case (all neighbors at 60-70 "
    "degrees); measured recall 0.56-0.96 across sf0.001-sf1 (sf1's "
    "clustered mixtures are the easy/realistic case at 0.96), so the "
    "floor is a regression tripwire, not a production SLO — a broken "
    "signature or candidate join sends recall to ~k/n, never just "
    "below the floor.",
)
def ann_lsh_recall_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    exact = S.ann_topk_bruteforce(e, q, k=5, include_sim=False)
    lsh = S.ann_topk_lsh(e, q, k=5, dim=64, bits=4, tables=8)
    return _ann_recall_contract(exact, lsh, 400000, "lsh_recall_ok")


@register(
    "ann_topk_blocked",
    """
    SELECT query_id, neighbor_id, rank, sim FROM (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                    CAST(q.embedding AS DOUBLE[])) AS sim,
             CAST(row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(
                          CAST(e.embedding AS DOUBLE[]),
                          CAST(q.embedding AS DOUBLE[])) DESC,
                        e.vec_id) AS INT) AS rank
      FROM embeddings e, embeddings q
      WHERE q.vec_id < 5 AND e.vec_id <> q.vec_id)
    WHERE rank <= 5
    """,
    doc="Exact blocked-BLAS top-k (same result as the brute-force oracle: "
    "local per-batch top-k + global (sim desc, neighbor_id) rank merge; "
    "Arrow-batched mapInArrow matmul, the throughput form of "
    "ann_cosine_topk).",
    tags=("bench", "r1", "curve"),
)
def ann_topk_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    return S.ann_topk_blocked(e, q, k=5)


@register(
    "embedding_neardup_blocked",
    """
    SELECT id_a, id_b, sim FROM (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])) AS sim
      FROM embeddings a, embeddings b
      WHERE a.vec_id < b.vec_id)
    WHERE sim >= 0.4
    """,
    doc="All-pairs cosine >= 0.4 via block-nested-loop BLAS "
    "(collect_list blocks + mapInArrow float64 matmul); exact, so the "
    "all-pairs SQL is a valid oracle (sims agree to ~15 digits; the "
    "compare normalizes doubles to 6 significant digits).",
    tags=("bench", "r1", "curve"),
)
def embedding_neardup_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    return S.cosine_neardup_blocked(
        e, threshold=0.4, n_rows=table_rowcount(sf_dir, "embeddings")
    )


@register(
    "embedding_neardup_topk",
    """
    WITH sims AS (
      SELECT a.vec_id AS doc_id, b.vec_id AS neighbor_id,
             CAST(floor(list_cosine_similarity(
               CAST(a.embedding AS DOUBLE[]),
               CAST(b.embedding AS DOUBLE[])) * 1e6) AS BIGINT) AS sim_micro
      FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    ), ranked AS (
      SELECT doc_id, neighbor_id, sim_micro,
             CAST(row_number() OVER (
               PARTITION BY doc_id
               ORDER BY sim_micro DESC, neighbor_id) AS INT) AS rank
      FROM sims WHERE sim_micro >= 400000
    )
    SELECT doc_id, neighbor_id, sim_micro, rank FROM ranked WHERE rank <= 3
    """,
    doc="EMISSION-BOUNDED near-duplicate search — the production path at "
    "100 TB (VERDICT r3 #4): per-doc top-3 neighbors with cosine >= 0.4, "
    "output <= n*k rows no matter how hot a duplicate cluster is (the "
    "all-pairs sibling embedding_neardup_blocked is output-quadratic per "
    "cluster: 262k pairs at sf1 already). Same exact blocked BLAS "
    "candidate stage, but each block-pair task emits only its local "
    "top-k per doc, merged by one rank window; ranking compares "
    "floor(sim*1e6) micro-units with neighbor-id tiebreak so engine and "
    "oracle rank identically. operators/similarity.py::cosine_neardup_topk.",
    tags=("bench", "curve"),
)
def embedding_neardup_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    return S.cosine_neardup_topk(
        e, threshold=0.4, k=3, n_rows=table_rowcount(sf_dir, "embeddings")
    )


@register(
    "embedding_neardup_topk_ivf",
    None,
    doc="SUB-QUADRATIC emission-bounded near-dup (the 100 TB production "
    "path): per-doc approximate top-3 neighbors through an IVF coarse "
    "quantizer — each doc homes in 1 list and probes its 4 nearest, so "
    "compute is ~n*n_probe*(n/n_centroids) dot products instead of n^2 "
    "and output stays <= n*k. Approximate by construction, so rows-only "
    "here; recall vs the exact variant is pinned by "
    "tests/test_ann_quality.py. "
    "operators/similarity.py::cosine_neardup_topk_ivf.",
    tags=("curve",),
)
def embedding_neardup_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    # n_centroids=None => max(32, ceil(sqrt(n/2))) — the IVF standard.
    # Round 5's sf10 decade caught the old fixed-32 config at 97x/decade
    # (linear lists => quadratic candidates); sqrt-scaling restored n^1.5
    # (263 s -> measured post-fix at sf10, docs/SCALING.md round-5 table).
    return S.cosine_neardup_topk_ivf(
        e, threshold=0.4, k=3, n_centroids=None, n_probe=4,
        n_rows=table_rowcount(sf_dir, "embeddings"),
    )


@register(
    "neardup_ivf_recall_contract",
    """
    WITH anc AS (SELECT * FROM embeddings
                 WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) = '0'),
    sims AS (
      SELECT a.vec_id AS doc_id, b.vec_id AS neighbor_id,
             CAST(floor(list_cosine_similarity(
               CAST(a.embedding AS DOUBLE[]),
               CAST(b.embedding AS DOUBLE[])) * 1e6) AS BIGINT) AS sim_micro
      FROM anc a JOIN embeddings b ON a.vec_id <> b.vec_id),
    ranked AS (
      SELECT doc_id, neighbor_id,
             CAST(row_number() OVER (
               PARTITION BY doc_id
               ORDER BY sim_micro DESC, neighbor_id) AS INT) AS rank
      FROM sims WHERE sim_micro >= 400000),
    top AS (SELECT * FROM ranked WHERE rank <= 3)
    SELECT CAST(count(*) AS BIGINT) AS n_exact_sliced,
           CAST(coalesce(sum(rank * neighbor_id), 0) AS BIGINT)
             AS exact_topk_checksum,
           TRUE AS ivf_neardup_recall_ok
    FROM top
    """,
    doc="Accuracy contract for the sub-quadratic near-dup production path "
    "(embedding_neardup_topk_ivf's exact config: sqrt-scaled lists "
    "[max(32, ceil(sqrt(n/2))) — round-5 fix], 4 probes, threshold 0.4, "
    "k=3), closing the last uncontracted approximate operator: over the "
    "md5 1/16 doc slice the engine computes the EXACT per-doc top-3 "
    "(the blocked-BLAS variant, zero approximation) and the IVF top-3, "
    "and emits the exact side's sliced pair count + rank*id checksum — "
    "value-checked by a LINEAR anchors-x-all oracle at every scale — "
    "plus ivf_neardup_recall_ok = IVF recall >= 0.25. The deterministic "
    "sampled quantizer makes recall a pure function of the data: "
    "measured 0.33-0.62 at sf0.001-0.1 (32 lists there — unchanged by "
    "the fix; uniform random fixtures probing structureless lists are "
    "the hard case) and 0.49 at sf1 under 100 lists (probed fraction "
    "drops 12.5% -> 4%, but clustered mixtures keep near-neighbors in "
    "shared home lists, so recall degrades gracefully, not with 1/lists). "
    "A broken home/probe assignment or candidate equi-join sends recall "
    "to ~0, never just below the floor.",
)
def neardup_ivf_recall_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    anc = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) == "0"
    n_emb = table_rowcount(sf_dir, "embeddings")
    exact = S.cosine_neardup_topk(
        e, threshold=0.4, k=3, n_rows=n_emb
    ).filter(anc)
    ivf = (
        S.cosine_neardup_topk_ivf(
            e, threshold=0.4, k=3, n_centroids=None, n_probe=4, n_rows=n_emb
        )
        .filter(anc)
        .select("doc_id", "neighbor_id")
    )
    stats = exact.agg(
        F.count(F.lit(1)).alias("n_exact_sliced"),
        F.coalesce(
            F.sum(F.col("rank").cast("long") * F.col("neighbor_id")),
            F.lit(0),
        )
        .cast("long")
        .alias("exact_topk_checksum"),
    )
    hits = (
        exact.select("doc_id", "neighbor_id")
        .join(ivf, ["doc_id", "neighbor_id"])
        .agg(F.count(F.lit(1)).alias("__hits"))
    )
    return stats.crossJoin(F.broadcast(hits)).select(
        "n_exact_sliced",
        "exact_topk_checksum",
        (
            F.col("__hits") * F.lit(1000000)
            >= F.lit(250000) * F.col("n_exact_sliced")
        ).alias("ivf_neardup_recall_ok"),
    )


@register(
    "embedding_neardup_pairs",
    """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM embeddings a, embeddings b
    WHERE a.vec_id < b.vec_id
      AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                 CAST(b.embedding AS DOUBLE[])) >= 0.4
    """,
    doc="Embedding-cosine near-duplicate pairs (threshold 0.4).",
)
def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    return S.cosine_neardup_pairs(e, threshold=0.4)


@register(
    "multimodal_payload_stats",
    """
    SELECT doc_id, 'text' AS modality, CAST(strlen(text) AS BIGINT) AS n_bytes
    FROM documents
    """,
    doc="Multimodal plumbing: binary payload column + metadata struct + "
    "Arrow-batched mapInArrow feature extraction (byte stats).",
)
def multimodal_payload_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    feats = extract_features(attach_payload(d))
    return feats.select("doc_id", "modality", "n_bytes")


@register(
    "streaming_window_counts",
    """
    SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start,
           event_type, count(*) AS cnt,
           sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) / 1e6 AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Structured Streaming tumbling-window counts (availableNow over the "
    "fixture => batch-equivalent, so a SQL oracle applies).",
    tags=("curve",),
)
def streaming_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    return run_windowed_counts_available_now(spark, sf_dir)


@register(
    "ann_topk_ivf",
    None,
    doc="IVF-style ANN: deterministic coarse quantizer -> inverted-list "
    "equi-join on probed lists -> exact rank within candidates. "
    "Rows-only check.",
    tags=("graded",),
)
def ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    return S.ann_topk_ivf(e, q, k=5, n_centroids=16, n_probe=4)


def _ann_recall_contract(
    exact: DataFrame, approx: DataFrame, floor_micros: int, flag: str
) -> DataFrame:
    """Shared accuracy-contract shape for the approximate-ANN family:
    value-checkable exact-truth stats + a recall-floor boolean.

    ``exact`` is the brute-force (query_id, neighbor_id, rank) truth,
    ``approx`` the approximate top-k; emits (n_queries,
    exact_topk_checksum, <flag> = recall*1e6 >= floor_micros). The two
    deterministic columns let the oracle VALUE-CHECK the exact side with
    its own brute-force SQL; the boolean trips if the approximate path's
    candidate generation regresses (a broken hash/quantizer sends recall
    to ~k/n, never just below the floor)."""
    stats = exact.agg(
        F.count_distinct("query_id").alias("n_queries"),
        F.sum(F.col("rank").cast("long") * F.col("neighbor_id"))
        .cast("long")
        .alias("exact_topk_checksum"),
        F.count(F.lit(1)).alias("__n_exact"),
    )
    hits = exact.join(
        approx.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"]
    ).agg(F.count(F.lit(1)).alias("__hits"))
    return stats.crossJoin(F.broadcast(hits)).select(
        "n_queries",
        "exact_topk_checksum",
        (
            F.col("__hits") * F.lit(1000000)
            >= F.lit(floor_micros) * F.col("__n_exact")
        ).alias(flag),
    )


@register(
    "ann_ivf_recall_contract",
    """
    WITH ranked AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(
                          CAST(e.embedding AS DOUBLE[]),
                          CAST(q.embedding AS DOUBLE[])) DESC,
                        e.vec_id) AS rank
      FROM embeddings e, embeddings q
      WHERE q.vec_id < 5 AND e.vec_id <> q.vec_id),
    top AS (SELECT * FROM ranked WHERE rank <= 5)
    SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries,
           CAST(sum(rank * neighbor_id) AS BIGINT) AS exact_topk_checksum,
           TRUE AS ivf_recall_ok
    FROM top
    """,
    doc="Accuracy contract for the approximate-ANN path (the agg_approx "
    "pattern, so the IVF family is no longer ONLY rows-only-checked): "
    "the engine computes both the exact brute-force top-5 and the IVF "
    "top-5 for the 5 query vectors, and emits (a) the exact side's "
    "query count and a rank*id checksum — which the oracle VALUE-CHECKS "
    "against its own brute-force SQL — and (b) ivf_recall_ok = IVF "
    "recall >= 0.8 vs that exact truth. Recall is a pure function of "
    "the data (deterministic centroids), measured 0.92-1.0 at "
    "sf0.001-sf1, so the boolean is stable; a planner or hashing "
    "regression that degraded IVF candidate generation flips it.",
)
def ann_ivf_recall_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    exact = S.ann_topk_bruteforce(e, q, k=5, include_sim=False)
    ivf = S.ann_topk_ivf(e, q, k=5, n_centroids=16, n_probe=4)
    return _ann_recall_contract(exact, ivf, 800000, "ivf_recall_ok")


@register(
    "text_bpe_token_stats",
    """
    SELECT source,
           CAST(sum(len(regexp_extract_all(lower(text),
             '\\p{L}+|\\p{N}+|[^\\p{L}\\p{N}\\s]+'))) AS BIGINT)
             AS total_bpe_tokens,
           avg(CAST(len(regexp_extract_all(lower(text),
             '\\p{L}+|\\p{N}+|[^\\p{L}\\p{N}\\s]+')) AS DOUBLE))
             AS avg_bpe_tokens
    FROM documents GROUP BY source
    """,
    doc="Sub-word-ish (BPE-style) token budgeting per source via the "
    "GPT-2 pre-tokenizer category split: letter runs, digit runs, "
    "punctuation runs. Full oracle (upgraded from rows-only): the "
    "pattern is pure Unicode category classes — no Java lookarounds — "
    "so DuckDB's RE2 regexp_extract_all reproduces the tokenization "
    "byte-for-byte (verified on zh/accented/digit-boundary edges). "
    "operators/text.py::bpe_ish_token_count.",
)
def text_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    n = T.bpe_ish_token_count(F.col("text"))
    return (
        d.select("source", n.alias("__n"))
        .groupBy("source")
        .agg(
            F.sum("__n").alias("total_bpe_tokens"),
            F.avg(F.col("__n").cast("double")).alias("avg_bpe_tokens"),
        )
    )


@register(
    "medallion_orders_pipeline",
    """
    SELECT * FROM (VALUES
      ('Hyderabad', 'INDIA', CAST(1525.5 AS DOUBLE), CAST(2 AS BIGINT)),
      ('Bangalore', 'INDIA', CAST(440.0 AS DOUBLE), CAST(3 AS BIGINT)),
      ('Mumbai',    'INDIA', CAST(15.99 AS DOUBLE), CAST(1 AS BIGINT)))
      AS t(city, country, total_revenue, order_count)
    """,
    doc="The reference's full bronze->silver->gold pipeline on its "
    "6-document seed (re-created in code). The oracle is the LITERAL "
    "golden report transcribed from the reference notebook output "
    "(gold_reporting.ipynb:142-146) — the one case where constants are "
    "the ground truth, so the whole JSON-inference -> struct-evolution "
    "-> aggregate chain is value-checked, not just row-counted.",
    tags=("graded", "bench"),
)
def medallion_orders_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .fixtures import write_seed_json
    from .plans.medallion import bronze_ingest, gold_city_sales_report, silver_transform

    tune(spark)
    return gold_city_sales_report(
        silver_transform(bronze_ingest(spark, write_seed_json()))
    )


@register(
    "medallion_items_explode",
    """
    SELECT * FROM (VALUES
      ('ORD-2024-001',   'P001',    'Gaming Laptop',       CAST(1 AS BIGINT), CAST(1200.50 AS DOUBLE), CAST(1200.50 AS DOUBLE)),
      ('ORD-2024-001',   'P005',    'Wireless Mouse',      CAST(1 AS BIGINT), CAST(25.00 AS DOUBLE),   CAST(25.00 AS DOUBLE)),
      ('ORD-2024-002',   'P003',    'Mechanical Keyboard', CAST(2 AS BIGINT), CAST(45.00 AS DOUBLE),   CAST(90.00 AS DOUBLE)),
      ('ORD-2024-003',   'P002',    'Monitor 27-inch',     CAST(1 AS BIGINT), CAST(300.00 AS DOUBLE),  CAST(300.00 AS DOUBLE)),
      ('ORD-2024-004',   'P010',    'USB-C Hub',           CAST(1 AS BIGINT), CAST(15.99 AS DOUBLE),   CAST(15.99 AS DOUBLE)),
      ('ORD-2024-005',   'P005',    'Wireless Mouse',      CAST(5 AS BIGINT), CAST(25.00 AS DOUBLE),   CAST(125.00 AS DOUBLE)),
      ('ORD-2024-005',   'P009',    'Mouse Pad',           CAST(5 AS BIGINT), CAST(10.00 AS DOUBLE),   CAST(50.00 AS DOUBLE)),
      ('ORD-2024-00600', 'P005555', 'Wireless Mouse',      CAST(5 AS BIGINT), CAST(25.00 AS DOUBLE),   CAST(125.00 AS DOUBLE)),
      ('ORD-2024-00600', 'P009',    'Mouse Pad',           CAST(5 AS BIGINT), CAST(10.00 AS DOUBLE),   CAST(50.00 AS DOUBLE)))
      AS t(order_id, product_id, product_name, quantity, unit_price,
           line_amount)
    """,
    doc="Document-model normalization the reference's data demanded but "
    "never did (§2.8): explode(items) -> order line-items with line "
    "amounts. Full oracle (upgraded from rows-only): the LITERAL 9 line "
    "items of the reference's 6-document seed (fixtures.py SEED_ORDERS, "
    "transcribed from airflow/data/BRONZE/orders.json) — constants are "
    "the ground truth, same justification as medallion_orders_pipeline, "
    "so the JSON ingest -> nested-array explode -> line-amount chain is "
    "value-checked end to end.",
)
def medallion_items_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .fixtures import write_seed_json
    from .plans.medallion import bronze_ingest

    tune(spark)
    bronze = bronze_ingest(spark, write_seed_json())
    item = F.explode("items").alias("item")
    return bronze.select("order_id", item).select(
        "order_id",
        F.col("item.product_id").alias("product_id"),
        F.col("item.product_name").alias("product_name"),
        F.col("item.quantity").alias("quantity"),
        F.col("item.unit_price").alias("unit_price"),
        (F.col("item.quantity") * F.col("item.unit_price")).alias("line_amount"),
    )


@register(
    "hypertable_rollup_tail",
    """
    SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS bucket_start,
           event_type, count(*) AS cnt,
           sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) / 1e6 AS total_value,
           CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
             / (count(*) * 1e6) AS avg_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Hypertable-style continuous rollup: sealed hourly aggregates "
    "materialized to parquet + rollup-union-raw-tail rewrite; equals the "
    "full recompute (the oracle) by construction. Stored measures are "
    "exact micro-unit BIGINTs so partials re-aggregate exactly at any "
    "depth (double partials flipped the .6g rendering at sf1 volume).",
    tags=("graded", "bench"),
)
def hypertable_rollup_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from .operators.rollup import bucket_aggregate, rollup_with_tail

    events = _t(spark, sf_dir, "events")
    seal = F.lit("2024-01-20 00:00:00").cast("timestamp")
    with tempfile.TemporaryDirectory(
        prefix="rollup_", ignore_cleanup_errors=True
    ) as base:
        sealed_dir = base + "/hourly"
        bucket_aggregate(events.filter(F.col("ts") < seal)).write.mode(
            "overwrite"
        ).parquet(sealed_dir)
        # eager localCheckpoint pins the (bounded: buckets x event types)
        # sealed rollup in block storage so the backing parquet dir can be
        # removed before return — repeated bench/gate runs were leaking
        # one rollup dir per invocation into /tmp (r7 verdict #2)
        rollup = spark.read.parquet(sealed_dir).localCheckpoint(eager=True)
    return rollup_with_tail(rollup, events, seal)


@register(
    "tpch_q15_top_supplier",
    """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             round(sum(l_extendedprice * (1 - l_discount)), 4)
               AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
    doc="TPC-H Q15 shape: derived aggregate (CTE) + scalar-max selection.",
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    s = _t(spark, sf_dir, "supplier")
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
        ).alias("total_revenue")
    )
    mx = revenue.agg(F.max("total_revenue").alias("__mx"))
    return (
        revenue.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("__mx"))
        .join(F.broadcast(s), F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "tpch_q16_part_supplier_cnt",
    """
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_type NOT LIKE 'PROMO%'
      AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
    GROUP BY p_brand, p_type, p_size
    """,
    doc="TPC-H Q16 shape: negated predicates (<> / NOT LIKE / IN list) + "
    "distinct-count grouped three ways.",
)
def tpch_q16_part_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & ~F.col("p_type").like("PROMO%")
        & F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22)
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "tpch_q2_min_cost_supplier",
    """
    WITH ps AS (
      SELECT l_partkey, l_suppkey,
             min(l_extendedprice / l_quantity) AS supply_cost
      FROM lineitem GROUP BY l_partkey, l_suppkey)
    SELECT s_acctbal, s_name, n_name, p_partkey, p_name, supply_cost
    FROM ps
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    JOIN region ON r_regionkey = n_regionkey
    JOIN part ON p_partkey = l_partkey
    WHERE r_name = 'ASIA' AND p_type = 'STANDARD' AND p_size = 15
      AND supply_cost = (
        SELECT min(ps2.supply_cost)
        FROM ps ps2
        JOIN supplier s2 ON s2.s_suppkey = ps2.l_suppkey
        JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey
        JOIN region r2 ON r2.r_regionkey = n2.n_regionkey
        WHERE ps2.l_partkey = p_partkey AND r2.r_name = 'ASIA')
    """,
    doc="TPC-H Q2 analog (no partsupp table in the fixtures: supply cost = "
    "min observed unit price per (part, supplier) from lineitem): "
    "correlated min-per-group subquery -> groupBy-min + equi-join back; "
    "dims broadcast.",
)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("supply_cost")
    )
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") == 15)
    )
    sup_asia = (
        sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    # region-filtered (part, supplier, cost) triples for the selected parts
    joined = ps.join(
        F.broadcast(sup_asia), ps.l_suppkey == sup_asia.s_suppkey
    ).join(F.broadcast(part), ps.l_partkey == part.p_partkey)
    min_cost = joined.groupBy(F.col("p_partkey").alias("__pk")).agg(
        F.min("supply_cost").alias("__min_cost")
    )
    return (
        joined.join(
            F.broadcast(min_cost),
            (F.col("p_partkey") == F.col("__pk"))
            & (F.col("supply_cost") == F.col("__min_cost")),
        )
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name", "supply_cost")
    )


@register(
    "tpch_q9_product_profit",
    """
    SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_profit
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    JOIN orders ON o_orderkey = l_orderkey
    WHERE p_name LIKE '%red%'
    GROUP BY n_name, year(o_orderdate)
    """,
    doc="TPC-H Q9 analog (profit = discounted revenue; fixtures have no "
    "ps_supplycost): 5-way join with broadcast dims, group by supplier "
    "nation x order year.",
)
def tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("sum_profit")
        )
    )


@register(
    "tpch_q11_important_parts",
    """
    WITH v AS (
      SELECT l_partkey, round(sum(l_extendedprice * l_quantity), 2)
               AS part_value
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON n_nationkey = s_nationkey
      WHERE n_name IN ('NATION_3', 'NATION_7')
      GROUP BY l_partkey)
    SELECT l_partkey, part_value
    FROM v
    WHERE part_value > (SELECT round(sum(part_value), 2) * 0.001 FROM v)
    """,
    doc="TPC-H Q11 analog (inventory value from lineitem; no partsupp): "
    "grouped value per part HAVING > scalar-fraction-of-total subquery "
    "(broadcast scalar crossJoin).",
)
def tpch_q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_3", "NATION_7")
    )
    v = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .groupBy("l_partkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * F.col("l_quantity")), 2
            ).alias("part_value")
        )
    )
    threshold = v.agg(
        (F.round(F.sum("part_value"), 2) * F.lit(0.001)).alias("__thr")
    )
    return (
        v.crossJoin(F.broadcast(threshold))
        .filter(F.col("part_value") > F.col("__thr"))
        .select("l_partkey", "part_value")
    )


@register(
    "tpch_q20_potential_promotion",
    """
    SELECT s_suppkey, s_name
    FROM supplier JOIN nation ON n_nationkey = s_nationkey
    WHERE n_name IN ('NATION_3', 'NATION_7')
      AND s_suppkey IN (
        SELECT l_suppkey
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_name LIKE '%red%'
          AND l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1998-01-01'
        GROUP BY l_suppkey, l_partkey
        HAVING sum(l_quantity) > 45)
    """,
    doc="TPC-H Q20 analog (shipped volume stands in for available stock): "
    "IN-subquery over a grouped HAVING -> left-semi join in Spark.",
)
def tpch_q20_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    heavy = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("__qty"))
        .filter(F.col("__qty") > 45)
        .select("l_suppkey")
    )
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_3", "NATION_7")
    )
    return (
        sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(heavy, sup.s_suppkey == heavy.l_suppkey, "leftsemi")
        .select("s_suppkey", "s_name")
    )


@register(
    "tpch_q21_waiting_orders",
    """
    SELECT s_name, count(*) AS numwait
    FROM lineitem l1
    JOIN orders ON o_orderkey = l1.l_orderkey
    JOIN supplier ON s_suppkey = l1.l_suppkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY s_name
    """,
    doc="TPC-H Q21 analog (late = shipped >60 days after order date; "
    "fixtures lack commit/receipt dates): EXISTS -> left-semi with "
    "non-equi predicate, NOT EXISTS -> left-anti; sole-late-supplier "
    "per multi-supplier finished order.",
)
def tpch_q21_waiting_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    late = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .select("l_orderkey", "l_suppkey")
    )
    other = li.select(
        F.col("l_orderkey").alias("__o2"), F.col("l_suppkey").alias("__s2")
    )
    other_late = late.select(
        F.col("l_orderkey").alias("__o3"), F.col("l_suppkey").alias("__s3")
    )
    cand = late.join(
        other,
        (late.l_orderkey == other.__o2) & (late.l_suppkey != other.__s2),
        "leftsemi",
    ).join(
        other_late,
        (F.col("l_orderkey") == other_late.__o3)
        & (F.col("l_suppkey") != other_late.__s3),
        "leftanti",
    )
    sup = _t(spark, sf_dir, "supplier")
    return (
        cand.join(F.broadcast(sup), cand.l_suppkey == sup.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@register(
    "join_interval_events",
    """
    SELECT a.event_id AS id_a, b.event_id AS id_b,
           a.user_id AS user_id,
           CAST(date_diff('second', CAST(a.ts AS TIMESTAMP),
                          CAST(b.ts AS TIMESTAMP)) AS BIGINT) AS gap_s
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND CAST(b.ts AS TIMESTAMP) >  CAST(a.ts AS TIMESTAMP)
     AND CAST(b.ts AS TIMESTAMP) <= CAST(a.ts AS TIMESTAMP) + INTERVAL 30 MINUTE
    """,
    doc="Bounded-interval self-join (event pairs per user within 30 min): "
    "custom interval_join operator — equi-join on (key, time-bin) with "
    "bin width == window width (left side exploded into its <=2 reachable "
    "bins) + exact post-filter. Bounds per-task work under hot keys where "
    "a key-only equi-join would degenerate; Spark has no native range-join "
    "optimization.",
    tags=("bench", "r1"),
)
def join_interval_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    joined = R.interval_join(ev, ev, "user_id", "ts", "ts", window_seconds=1800)
    return joined.select(
        F.col("l.event_id").alias("id_a"),
        F.col("r.event_id").alias("id_b"),
        F.col("l.user_id").alias("user_id"),
        (F.unix_timestamp("r.ts") - F.unix_timestamp("l.ts")).alias("gap_s"),
    )


@register(
    "split_train_val_test",
    """
    SELECT source, split, count(*) AS cnt FROM (
      SELECT source,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccc'
                    THEN 'train'
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666'
                    THEN 'val'
                  ELSE 'test' END AS split
      FROM documents)
    GROUP BY source, split
    """,
    doc="Content-addressed train/val/test split (80/10/10): md5(id) hex "
    "prefix vs cumulative-fraction cutpoints — reproducible across runs, "
    "engines, and partitionings; a pure narrow map, no shuffle. "
    "operators/sampling.py::hash_split.",
)
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import hash_split

    d = _t(spark, sf_dir, "documents")
    return (
        hash_split(d, "doc_id")
        .groupBy("source", "split")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "text_tfidf_top_terms",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
    dfc AS (SELECT term, count(DISTINCT doc_id) AS dfc FROM toks GROUP BY term),
    n AS (SELECT count(*) AS n FROM documents)
    SELECT doc_id, term, rank, tfidf FROM (
      SELECT tf.doc_id, tf.term,
             tf.tf * ln(CAST(n.n AS DOUBLE) / dfc.dfc) AS tfidf,
             CAST(row_number() OVER (
               PARTITION BY tf.doc_id
               ORDER BY tf.tf * ln(CAST(n.n AS DOUBLE) / dfc.dfc) DESC,
                        tf.term) AS INT) AS rank
      FROM tf JOIN dfc USING (term) CROSS JOIN n)
    WHERE rank <= 3
    """,
    doc="TF-IDF top-3 terms per document: token explode -> (doc,term) tf + "
    "per-term document frequency -> idf = ln(N/df) via broadcast scalar -> "
    "per-doc rank. The df table is broadcast (vocabulary << corpus).",
    tags=("graded", "bench", "r1"),
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode_outer(F.split("text", " ")).alias("term")
    ).filter(F.length("term") > 0)
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfc = toks.distinct().groupBy("term").agg(F.count(F.lit(1)).alias("dfc"))
    n = d.agg(F.count(F.lit(1)).alias("n"))
    tfidf = (
        tf.join(F.broadcast(dfc), "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.col("tf") * F.log(F.col("n").cast("double") / F.col("dfc")),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        tfidf.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "rank", "tfidf")
    )


@register(
    "feature_quantile_bins",
    """
    SELECT bin, count(*) AS cnt, min(n_chars) AS lo, max(n_chars) AS hi FROM (
      SELECT n_chars,
             CAST(ntile(10) OVER (ORDER BY n_chars, doc_id) AS INT) AS bin
      FROM documents)
    GROUP BY bin
    """,
    doc="Equi-depth feature binning (decile bucketing of document length) "
    "with a deterministic (value, id) order. The engine computes ntile's "
    "exact integer arithmetic over a DISTRIBUTED rank "
    "(operators/ordered.py::distributed_ntile): range-bucket on "
    "approxQuantile boundaries, per-bucket window rank, broadcast "
    "bucket-count offsets — bit-identical to the oracle's global-window "
    "ntile, but no single-partition sort ever sees the corpus "
    "(boundaries steer only load balance, never the result).",
)
def feature_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.ordered import distributed_ntile

    d = _t(spark, sf_dir, "documents")
    binned = distributed_ntile(
        d.select("doc_id", "n_chars"), "n_chars", "doc_id", k=10
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min("n_chars").alias("lo"),
        F.max("n_chars").alias("hi"),
    )


@register(
    "pack_token_batches",
    """
    WITH tk AS (
      SELECT doc_id,
             CAST(len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                  x -> x <> '')) AS BIGINT) AS n
      FROM documents)
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n) AS BIGINT) AS total_tokens,
           TRUE AS conservation_ok,
           TRUE AS budget_ok,
           TRUE AS fill_ok
    FROM tk
    """,
    doc="Sequence packing for LLM training: sharded first-fit-decreasing "
    "into 512-token batches (deterministic hash shards -> applyInArrow "
    "FFD per shard -> namespaced batch ids). The greedy packing itself "
    "is algorithmic, so the query emits its CONTRACT in the agg_approx "
    "idiom (round-4 verdict #3): the oracle value-checks the exact side "
    "(doc + token totals) while the booleans assert token/doc "
    "CONSERVATION through the pack, the BUDGET invariant (every "
    "multi-doc batch <= 512 tokens; a single oversized doc may own a "
    "batch), and the FFD FILL bound (first-fit leaves at most ONE "
    "half-empty bin per shard, so <= 16 across the 16 shards — a broken "
    "first-fit scan or a lost shard trips it). Full per-batch stats "
    "stay pinned in tests/test_operators.py and test_chop_pack.py. "
    "operators/packing.py::pack_batches.",
    tags=("graded", "bench", "curve"),
)
def pack_token_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.packing import batch_summary, pack_batches

    n_shards = 16
    d = _t(spark, sf_dir, "documents")
    docs = d.select("doc_id", T.token_count(F.col("text")).alias("n_tokens"))
    packed = pack_batches(
        docs, "doc_id", "n_tokens", budget=512, n_shards=n_shards
    )
    summary = batch_summary(packed, budget=512)
    src = docs.agg(
        F.count(F.lit(1)).cast("bigint").alias("src_docs"),
        F.sum(F.col("n_tokens").cast("bigint")).alias("src_tokens"),
    )
    agg = summary.agg(
        F.sum("n_docs").cast("bigint").alias("p_docs"),
        F.sum("n_tokens").cast("bigint").alias("p_tokens"),
        F.sum(
            F.when((F.col("n_tokens") > 512) & (F.col("n_docs") > 1), 1)
            .otherwise(0)
        ).alias("over_budget"),
        F.sum(
            F.when(F.col("n_tokens") * 2 <= 512, 1).otherwise(0)
        ).alias("half_empty"),
    )
    return src.crossJoin(agg).select(
        F.col("src_docs").alias("n_docs"),
        F.col("src_tokens").alias("total_tokens"),
        (
            (F.col("p_docs") == F.col("src_docs"))
            & (F.col("p_tokens") == F.col("src_tokens"))
        ).alias("conservation_ok"),
        (F.col("over_budget") == 0).alias("budget_ok"),
        (F.col("half_empty") <= n_shards).alias("fill_ok"),
    )


@register(
    "sample_stratified_events",
    """
    SELECT event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value
    FROM events
    WHERE substr(md5(CAST(event_id AS VARCHAR)), 1, 4) <
          CASE event_type WHEN 'click' THEN '8000'
                          WHEN 'view'  THEN '4000'
                          WHEN 'error' THEN 'g'
                          ELSE '1000' END
    GROUP BY event_type
    """,
    doc="Stratified sampling with per-stratum rates (click 50%, view 25%, "
    "error 100%, rest 6.25%): content-addressed md5-prefix threshold per "
    "stratum — reproducible across engines/partitionings, unlike seeded "
    "sampleBy. Narrow filter, no shuffle. operators/sampling.py::"
    "stratified_sample.",
    tags=("graded",),
)
def sample_stratified_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import stratified_sample

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    kept = stratified_sample(
        ev,
        "event_id",
        "event_type",
        {"click": 0.5, "view": 0.25, "error": 1.0},
        default=0.0625,
    )
    return kept.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


@register(
    "agg_salted_event_revenue",
    """
    SELECT event_type, round(sum(value), 2) AS sum_value, count(*) AS cnt
    FROM events GROUP BY event_type
    """,
    doc="Skew-safe two-stage aggregation: 5 event types over the whole "
    "corpus is a pathologically hot grouping key at scale (5 reducers do "
    "all the work). salted_groupby_sum salts to (key, salt) for the "
    "map-side-combined partial, then merges partials per key — the "
    "canonical manual rewrite when AQE skew handling isn't available on an "
    "agg. Result provably equals the plain groupBy (oracle).",
)
def agg_salted_event_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("event_type", "value")
    out = R.salted_groupby_sum(ev, ["event_type"], "value", salt_buckets=32)
    return out.select(
        "event_type", F.round(F.col("sum_value"), 2).alias("sum_value"), "cnt"
    )


@register(
    "text_repetition_ngrams",
    """
    SELECT doc_id,
           CAST(len(ngrams) AS BIGINT) AS n_windows,
           CAST(len(list_distinct(ngrams)) AS BIGINT) AS n_distinct,
           CAST(len(ngrams) - len(list_distinct(ngrams)) AS DOUBLE)
             / len(ngrams) AS rep_ratio
    FROM (
      SELECT doc_id,
             [array_to_string(words[i:i+2], ' ')
              FOR i IN generate_series(1, len(words) - 2)] AS ngrams
      FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
      WHERE len(words) >= 3)
    """,
    doc="Within-document repetition signal (Gopher-style duplicate 3-gram "
    "window fraction, a standard pretraining quality filter): sliding "
    "3-gram windows via sequence+slice+transform, distinct count via "
    "array_distinct — ALL higher-order functions in one narrow projection, "
    "zero shuffle, zero Python. The cheapest possible 100 TB plan: one "
    "scan, embarrassingly parallel.",
)
def text_repetition_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.expr import let_

    d = _t(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    # bind words once (let_): the window lambda slices it per 3-gram, and
    # an unbound reference re-splits the text per window -- O(L^2) per doc
    ngrams = let_(
        words,
        lambda ws: F.transform(
            F.sequence(F.lit(1), F.size(ws) - 2),
            lambda i: F.concat_ws(" ", F.slice(ws, i, 3)),
        ),
    )
    n_win = F.size("ngrams").cast("bigint")
    n_dis = F.size(F.array_distinct("ngrams")).cast("bigint")
    return (
        d.filter(F.size(words) >= 3)
        .select("doc_id", ngrams.alias("ngrams"))
        .select(
            "doc_id",
            n_win.alias("n_windows"),
            n_dis.alias("n_distinct"),
            ((n_win - n_dis).cast("double") / n_win).alias("rep_ratio"),
        )
    )


@register(
    "ann_topk_ivf_kmeans",
    None,  # trained centroids are data/partitioning-dependent — rows-only;
    # recall vs exact ground truth is asserted in tests/test_ann_quality.py
    doc="IVF ANN with TRAINED coarse quantizer: distributed k-means "
    "(pyspark.ml, k-means|| init) fits 16 centroids, then the same "
    "inverted-list plan as ann_topk_ivf (broadcast centroid matrix -> "
    "narrow-map list assignment -> equi-join on list id, n_probe=4). "
    "Trained lists balance occupancy vs the sampled quantizer, which is "
    "what keeps probe cost flat as the corpus grows.",
)
def ann_topk_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    q = e.orderBy(F.col("vec_id").asc()).limit(8)
    cents = S.kmeans_centroids(e, n_centroids=16)
    return S.ann_topk_ivf(e, q, k=5, n_probe=4, centroids=cents)


@register(
    "ann_kmeans_recall_contract",
    """
    WITH ranked AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(
                          CAST(e.embedding AS DOUBLE[]),
                          CAST(q.embedding AS DOUBLE[])) DESC,
                        e.vec_id) AS rank
      FROM embeddings e, embeddings q
      WHERE q.vec_id < 5 AND e.vec_id <> q.vec_id),
    top AS (SELECT * FROM ranked WHERE rank <= 5)
    SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries,
           CAST(sum(rank * neighbor_id) AS BIGINT) AS exact_topk_checksum,
           TRUE AS kmeans_recall_ok
    FROM top
    """,
    doc="Accuracy contract for the TRAINED-quantizer IVF path (same "
    "agg_approx pattern as ann_ivf_recall_contract, same trained-lists "
    "config as ann_topk_ivf_kmeans: pyspark.ml k-means|| 16 centroids, "
    "n_probe=4): exact brute-force top-5 value-checked (count + rank*id "
    "checksum) against the oracle's own SQL, plus kmeans_recall_ok = "
    "recall >= 0.2. Measured 0.40-0.84 across sf0.001-sf1, reproducible "
    "per scale, but the Lloyd fit is partitioning-dependent, so the "
    "floor keeps >= 2x margin below the worst measurement — a broken "
    "centroid broadcast or list-assignment map sends recall to ~k/n, "
    "never just below 0.2.",
)
def ann_kmeans_recall_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    exact = S.ann_topk_bruteforce(e, q, k=5, include_sim=False)
    cents = S.kmeans_centroids(e, n_centroids=16)
    km = S.ann_topk_ivf(e, q, k=5, n_probe=4, centroids=cents)
    return _ann_recall_contract(exact, km, 200000, "kmeans_recall_ok")


@register(
    "ann_topk_auto",
    """
    SELECT query_id, neighbor_id, rank FROM (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             CAST(row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(
                          CAST(e.embedding AS DOUBLE[]),
                          CAST(q.embedding AS DOUBLE[])) DESC,
                        e.vec_id) AS INT) AS rank
      FROM embeddings e, embeddings q
      WHERE q.vec_id < 5 AND e.vec_id <> q.vec_id)
    WHERE rank <= 5
    """,
    doc="Strategy auto-dispatch (round-5 verdict item 2): one ann_topk "
    "call site; strategy='auto' picks brute/int8/IVF/PQ from the corpus "
    "row-count STATISTIC (parquet footer — no count job) and a recall "
    "target, thresholds unit-pinned in tests/test_ann_index.py. At "
    "fixture scale the dispatcher lands on the exact tier, so the full "
    "brute-force SQL is a valid oracle — the approximate tiers' accuracy "
    "is covered by their own recall contracts. "
    "operators/ann_index.py::ann_topk.",
    tags=("bench", "curve"),
)
def ann_topk_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.ann_index import ann_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    return ann_topk(
        e, q, k=5, strategy="auto",
        n_rows=table_rowcount(sf_dir, "embeddings"),
    )


@register(
    "ann_ivf_pretrained",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           2 AS artifact_version,
           TRUE AS pretrained_matches_inline
    FROM embeddings WHERE vec_id < 8
    """,
    doc="Train-once index artifacts (round-5 verdict item 2): k-means "
    "centroids are fit ONCE, persisted as a versioned snapshot table "
    "(sources/snapshots.py manifest-commit — retraining is "
    "snapshot-replace: v1 committed, then a refit replaces it as v2, and "
    "the loader resolves latest), loaded back, and the IVF top-k runs "
    "with BOTH the in-memory and the reloaded centroids. "
    "pretrained_matches_inline asserts the two result sets are IDENTICAL "
    "(exceptAll both directions empty + equal counts) — doubles "
    "round-trip parquet losslessly, so persistence must be exact, not "
    "approximately-equal. artifact_version pins that the replace "
    "actually versioned. n_queries is the exact SQL-checkable anchor "
    "(agg_approx contract idiom). operators/ann_index.py.",
    tags=("graded",),
)
def ann_ivf_pretrained(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from .operators.ann_index import load_centroids, save_centroids

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 8)
    # the contract is persistence-exactness, not centroid quality: a
    # small fast fit keeps this graded query cheap (the trained-quantizer
    # QUALITY contract is ann_kmeans_recall_contract)
    cents = S.kmeans_centroids(e, n_centroids=8, max_iter=3)
    # load_centroids collects the artifact to a local list at construction,
    # so the returned plan never touches the snapshot dir and the dir can go
    # at the end of the block
    with tempfile.TemporaryDirectory(
        prefix="ann_index_", ignore_cleanup_errors=True
    ) as base:
        save_centroids(spark, base, "ivf_centroids", cents)
        v2 = save_centroids(spark, base, "ivf_centroids", cents)  # replace
        loaded = load_centroids(spark, base, "ivf_centroids")
        # Parity is fully declarative (r11 opt round, same fold as
        # quality.py::referential_integrity): the previous form ran TWO
        # eager exceptAll().count() actions at construction — four IVF
        # top-k executions before the returned frame's first action. The
        # identical boolean (both multiset differences empty) now computes
        # inside the returned plan; the lazy localCheckpoints make each
        # IVF result materialize ONCE even though exceptAll references
        # each side twice (4 executions -> 2).
        inline = S.ann_topk_ivf(
            e, q, k=5, n_probe=4, centroids=cents
        ).select("query_id", "neighbor_id", "rank").localCheckpoint(
            eager=False
        )
        pre = S.ann_topk_ivf(
            e, q, k=5, n_probe=4, centroids=loaded
        ).select("query_id", "neighbor_id", "rank").localCheckpoint(
            eager=False
        )
        parity = (
            inline.exceptAll(pre)
            .agg(F.count(F.lit(1)).alias("__d_ab"))
            .crossJoin(
                pre.exceptAll(inline).agg(F.count(F.lit(1)).alias("__d_ba"))
            )
            .select(
                ((F.col("__d_ab") == 0) & (F.col("__d_ba") == 0)).alias(
                    "pretrained_matches_inline"
                )
            )
        )
    return q.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_queries"),
        F.lit(v2).cast("int").alias("artifact_version"),
    ).crossJoin(F.broadcast(parity))


@register(
    "streaming_user_profiles",
    None,  # stateful streaming — rows-only per the driver contract
    doc="Custom stateful streaming operator (applyInPandasWithState): "
    "per-user running profiles with explicit GroupState. Rows-only check.",
)
def streaming_user_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.stateful import run_user_profiles_available_now

    tune(spark)
    return run_user_profiles_available_now(spark, sf_dir)


@register(
    "streaming_neardup_incremental",
    None,  # stateful multi-batch streaming pipeline — rows-only per contract
    doc="Incremental near-dup over a micro-batch stream: each batch is "
    "deduplicated within itself (exact-verified MinHash-LSH) and against an "
    "accumulated signature store (band-key equi-join + signature-agreement "
    "estimate), survivors appended to the store — foreachBatch + availableNow "
    "over the documents fixture split into 4 files. The streaming form of "
    "dedup_minhash_lsh for continuous ingest.",
)
def streaming_neardup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.neardup import run_incremental_neardup_available_now

    tune(spark)
    return run_incremental_neardup_available_now(spark, sf_dir, n_batches=4)


@register(
    "scd2_customer_priority",
    """
    WITH seq AS (
      SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
             lag(o_orderpriority) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev
      FROM orders
    ), chg AS (
      SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey
      FROM seq WHERE prev IS DISTINCT FROM o_orderpriority
    )
    SELECT o_custkey AS custkey, o_orderpriority AS priority,
           o_orderdate AS valid_from,
           lead(o_orderdate) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ) AS valid_to,
           lead(o_orderdate) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ) IS NULL AS is_current,
           CAST(row_number() OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ) AS INT) AS version
    FROM chg
    """,
    doc="CDC-style SCD2 dimension maintenance: orders as a change log of "
    "each customer's order priority -> validity intervals (valid_from, "
    "valid_to, is_current, version). Run-length collapse via lag + "
    "null-safe inequality, interval close via lead — both windows share one "
    "shuffle on the key. Reference S4/S5 snapshot semantics, incremental.",
    tags=("bench", "r1", "curve"),
)
def scd2_customer_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority", "o_orderdate", "o_orderkey"
    )
    return R.scd2_from_changelog(
        o, key="o_custkey", attr="o_orderpriority",
        ts_col="o_orderdate", tiebreak="o_orderkey",
    ).select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderpriority").alias("priority"),
        "valid_from", "valid_to", "is_current", "version",
    )


@register(
    "streaming_scd2_orders",
    """
    WITH seq AS (
      SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
             lag(o_orderpriority) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev
      FROM orders
    ), chg AS (
      SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey
      FROM seq WHERE prev IS DISTINCT FROM o_orderpriority
    )
    SELECT o_custkey AS custkey, o_orderpriority AS priority,
           o_orderdate AS valid_from,
           lead(o_orderdate) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ) AS valid_to,
           lead(o_orderdate) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ) IS NULL AS is_current,
           CAST(row_number() OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ) AS INT) AS version
    FROM chg
    """,
    doc="STREAMING SCD2 maintenance with a full SQL oracle: the orders "
    "changelog arrives as 3 micro-batches (foreachBatch); per batch, "
    "touched keys are rebuilt from their full history and merged into a "
    "versioned dimension. The invariant 'incremental result == batch "
    "rebuild over the whole log' is exactly what the oracle checks — and "
    "holds under out-of-order batches too (tests/test_streaming_scd2.py).",
)
def streaming_scd2_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.scd2 import run_scd2_stream_available_now

    tune(spark)
    dim = run_scd2_stream_available_now(spark, sf_dir, n_batches=3)
    return dim.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderpriority").alias("priority"),
        "valid_from", "valid_to", "is_current", "version",
    )


@register(
    "embedding_quantize_int8",
    """
    WITH q AS (
      SELECT vec_id,
             list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                     x -> abs(x))) / 127.0 AS scale,
             CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings
    )
    SELECT vec_id, scale,
           CAST(list_sum(list_transform(
             v, x -> CAST(floor(x / scale + 0.5) AS INT))) AS BIGINT
           ) AS code_sum,
           CAST(list_max(list_transform(
             v, x -> CAST(abs(floor(x / scale + 0.5)) AS INT))) AS INT
           ) AS code_absmax
    FROM q
    """,
    doc="Symmetric int8 scalar quantization of the embedding column "
    "(scale = absmax/127, half-up spec'd as floor(+0.5) on both sides). "
    "Integer-exact oracle over code sums; 4x smaller vectors = 4x less "
    "ANN shuffle at 100 TB.",
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    z = S.quantize_int8(e)
    return z.select(
        "vec_id",
        "scale",
        F.aggregate(
            F.col("codes"), F.lit(0).cast("bigint"), lambda acc, x: acc + x
        ).alias("code_sum"),
        F.array_max(F.transform(F.col("codes"), F.abs)).alias("code_absmax"),
    )


@register(
    "ann_topk_int8",
    """
    WITH z AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                     x -> abs(x))) / 127.0 AS scale,
             sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                          x -> x * x))) AS nrm
      FROM embeddings
    ), z2 AS (
      SELECT vec_id, v, scale, nrm,
             list_transform(v, x -> CAST(floor(x / scale + 0.5) AS INT))
               AS codes
      FROM z
    ), cand AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             e.v AS ev, q.v AS qv,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY (e.scale * q.scale * list_sum(list_transform(
                           list_zip(e.codes, q.codes), p -> p[1] * p[2])))
                        / (e.nrm * q.nrm) DESC,
                        e.vec_id
             ) AS crank
      FROM z2 e, z2 q
      WHERE q.vec_id < 5 AND e.vec_id <> q.vec_id
    )
    SELECT query_id, neighbor_id, rank FROM (
      SELECT query_id, neighbor_id,
             CAST(row_number() OVER (
               PARTITION BY query_id
               ORDER BY list_cosine_similarity(ev, qv) DESC, neighbor_id
             ) AS INT) AS rank
      FROM cand WHERE crank <= 20)
    WHERE rank <= 5
    """,
    doc="Two-stage quantized ANN: int8 candidate generation (codes-only "
    "scan, shuffles (query_id, id, approx) triples) + exact float rerank of "
    "the k*4 shortlist. Oracle replicates both stages, so candidate-set "
    "parity is checked, not just the final ranks.",
    tags=("bench", "r1"),
)
def ann_topk_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    return S.ann_topk_int8(e, q, k=5, rerank_factor=4)


@register(
    "sessionize_events",
    """
    WITH flagged AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
             CASE WHEN CAST(ts AS TIMESTAMP)
                       - lag(CAST(ts AS TIMESTAMP)) OVER (
                           PARTITION BY user_id
                           ORDER BY CAST(ts AS TIMESTAMP), event_id)
                       > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ), sess AS (
      SELECT user_id, event_id, ts, value,
             CAST(sum(is_new) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) + 1 AS INT) AS session_id
      FROM flagged
    )
    SELECT user_id, session_id,
           min(ts) AS session_start, max(ts) AS session_end,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM sess
    GROUP BY user_id, session_id
    """,
    doc="Gap-based sessionization (30-min inactivity): lag-flag + running "
    "sum assigns 1-based session ids per user, then per-session rollup. "
    "Batch analog of session_window with the id kept ON the rows; lag and "
    "running sum share one shuffle on user_id, and the rollup groups on "
    "(user_id, session_id) — a superset key, so AQE coalesces without a "
    "second wide exchange.",
    tags=("curve",),
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    s = R.sessionize(e, key="user_id", ts_col="ts", tiebreak="event_id")
    return s.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@register(
    "ann_topk_grouped",
    """
    SELECT query_id, label, neighbor_id, rank FROM (
      SELECT q.vec_id AS query_id, e.label AS label, e.vec_id AS neighbor_id,
             CAST(row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(
                          CAST(e.embedding AS DOUBLE[]),
                          CAST(q.embedding AS DOUBLE[])) DESC,
                        e.vec_id) AS INT) AS rank
      FROM embeddings e
      JOIN embeddings q ON e.label = q.label AND e.vec_id <> q.vec_id
      WHERE q.vec_id < 5)
    WHERE rank <= 5
    """,
    doc="Segment-restricted ANN: each query searches only its own label's "
    "corpus slice — broadcast hash join on the label (not a cross join), "
    "one corpus pass; with a label-partitioned table this prunes to probed "
    "partitions.",
)
def ann_topk_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    return S.ann_topk_grouped(e, q, k=5)


@register(
    "funnel_view_click_purchase",
    """
    WITH v AS (
      SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS v_ts
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS c_ts
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) > v.v_ts
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS p_ts
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > c.c_ts
      GROUP BY e.user_id
    )
    SELECT (SELECT count(*) FROM v) AS viewed,
           (SELECT count(*) FROM c) AS clicked_after_view,
           (SELECT count(*) FROM p) AS purchased_after_click
    """,
    doc="Ordered funnel (view -> click -> purchase): stage N counts users "
    "whose first stage-N event strictly follows their entry into stage N-1. "
    "Three filtered min-aggs chained by equi-joins on user_id — every stage "
    "shuffles only (user_id, ts) pairs and the event scan is "
    "filter-pushdown'd per stage; no window over the whole event stream.",
    tags=("graded",),
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id").agg(F.min("ts").alias("v_ts"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("v_ts"))
        .groupBy("user_id").agg(F.min("ts").alias("c_ts"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("c_ts"))
        .groupBy("user_id").agg(F.min("ts").alias("p_ts"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("viewed"))
        .crossJoin(F.broadcast(c.agg(F.count(F.lit(1)).alias("clicked_after_view"))))
        .crossJoin(
            F.broadcast(p.agg(F.count(F.lit(1)).alias("purchased_after_click")))
        )
    )


@register(
    "user_event_gaps",
    """
    WITH g AS (
      SELECT user_id,
             CAST(date_diff('microsecond',
                    lag(CAST(ts AS TIMESTAMP)) OVER (
                      PARTITION BY user_id
                      ORDER BY CAST(ts AS TIMESTAMP), event_id),
                    CAST(ts AS TIMESTAMP)) AS DOUBLE) / 1000000.0 AS gap_sec
      FROM events
    )
    SELECT user_id,
           avg(gap_sec) AS avg_gap_sec,
           max(gap_sec) AS max_gap_sec,
           CAST(count(gap_sec) AS BIGINT) AS n_gaps
    FROM g WHERE gap_sec IS NOT NULL
    GROUP BY user_id
    """,
    doc="Per-user inter-event gap stats (secondary-sort shape): lag over "
    "(user_id; ts, event_id) then per-user rollup — the ordered-per-key "
    "pattern behind sessionization/funnel features; both passes share the "
    "user_id shuffle.",
)
def user_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = (
        (F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w)))
        .cast("double") / 1_000_000.0
    )
    return (
        e.select("user_id", gap.alias("gap_sec"))
        .filter(F.col("gap_sec").isNotNull())
        .groupBy("user_id")
        .agg(
            F.avg("gap_sec").alias("avg_gap_sec"),
            F.max("gap_sec").alias("max_gap_sec"),
            F.count("gap_sec").alias("n_gaps"),
        )
    )


@register(
    "scalar_variant_json",
    """
    SELECT event_type,
           CAST(avg(CAST(json_extract_string(props, '$.k') AS INT)) AS DOUBLE)
             AS avg_k,
           CAST(max(CAST(json_extract_string(props, '$.k') AS INT)) AS INT)
             AS max_k,
           CAST(count(*) AS BIGINT) AS cnt
    FROM events
    GROUP BY event_type
    """,
    doc="Semi-structured VARIANT path (Spark 4): parse_json(props) -> "
    "variant_get typed extraction -> group rollup. The open-type analog of "
    "the reference's schema-inferred Mongo documents: parse once, extract "
    "with a type at query time, no fixed schema required.",
    tags=("graded",),
)
def scalar_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json(F.col("props")), "$.k", "int")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.avg("k").alias("avg_k"),
            F.max("k").alias("max_k"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )


@register(
    "docs_curation_decisions",
    """
    WITH f AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
      FROM documents
    ), s AS (
      SELECT doc_id,
             md5(array_to_string(tk, ' ')) AS fingerprint,
             CAST(len(tk) AS INT) AS n_tokens,
             (len(tk) >= 10 AND
              (CASE WHEN len(tk) = 0 THEN 0.0
                    ELSE CAST(len(list_filter(tk,
                      t -> t IN ('the','a','of','and','to','in','is')))
                      AS DOUBLE) / len(tk) END) < 0.5) AS is_q,
             len(list_filter(tk, t -> t IN ('the','a','of','and','to','in','is'))) AS c_en,
             len(list_filter(tk, t -> t IN ('el','la','de','los','las','que','y'))) AS c_es,
             len(list_filter(tk, t -> t IN ('der','die','das','und','ist','nicht'))) AS c_de,
             len(list_filter(tk, t -> t IN ('le','la','les','et','des','est'))) AS c_fr,
             len(list_filter(tk, t -> t IN ('的','是','了','在','我'))) AS c_zh
      FROM f
    ), st AS (
      SELECT doc_id, fingerprint, n_tokens,
             CASE WHEN NOT is_q THEN 'drop_quality'
                  WHEN (CASE WHEN greatest(c_en,c_es,c_de,c_fr,c_zh) = 0 THEN 'und'
                             WHEN c_en = greatest(c_en,c_es,c_de,c_fr,c_zh) THEN 'en'
                             WHEN c_es = greatest(c_en,c_es,c_de,c_fr,c_zh) THEN 'es'
                             WHEN c_de = greatest(c_en,c_es,c_de,c_fr,c_zh) THEN 'de'
                             WHEN c_fr = greatest(c_en,c_es,c_de,c_fr,c_zh) THEN 'fr'
                             ELSE 'zh' END) NOT IN ('en') THEN 'drop_lang'
                  ELSE NULL END AS early
      FROM s
    ), rk AS (
      SELECT doc_id,
             row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
      FROM st WHERE early IS NULL
    )
    SELECT st.doc_id, st.n_tokens,
           COALESCE(st.early,
                    CASE WHEN rk.rn = 1 THEN 'kept'
                         ELSE 'drop_exact_dup' END) AS status
    FROM st LEFT JOIN rk ON st.doc_id = rk.doc_id
    """,
    doc="Curation pipeline decision log, SQL-checkable stages: quality "
    "filter -> language filter -> exact dedup (min-id per fingerprint among "
    "survivors), with fixed drop priority. One projection computes tokens/"
    "votes/fingerprint together; one shuffle for the dedup window. The "
    "near-dup stage is layered on top in docs_curation_pipeline "
    "(rows-only, LSH not SQL-expressible).",
)
def docs_curation_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .plans.docpipeline import stage3_exact_dedup, stage12_decisions

    d = _t(spark, sf_dir, "documents")
    return stage3_exact_dedup(stage12_decisions(d))


@register(
    "docs_curation_pipeline",
    """
    WITH f AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
      FROM documents
    ), s AS (
      SELECT doc_id,
             md5(array_to_string(tk, ' ')) AS fingerprint,
             (len(tk) >= 10 AND
              (CASE WHEN len(tk) = 0 THEN 0.0
                    ELSE CAST(len(list_filter(tk,
                      t -> t IN ('the','a','of','and','to','in','is')))
                      AS DOUBLE) / len(tk) END) < 0.5) AS is_q,
             len(list_filter(tk, t -> t IN ('the','a','of','and','to','in','is'))) AS c_en,
             len(list_filter(tk, t -> t IN ('el','la','de','los','las','que','y'))) AS c_es,
             len(list_filter(tk, t -> t IN ('der','die','das','und','ist','nicht'))) AS c_de,
             len(list_filter(tk, t -> t IN ('le','la','les','et','des','est'))) AS c_fr,
             len(list_filter(tk, t -> t IN ('的','是','了','在','我'))) AS c_zh
      FROM f
    ), st AS (
      SELECT doc_id, fingerprint,
             CASE WHEN NOT is_q THEN 'drop_quality'
                  WHEN (CASE WHEN greatest(c_en,c_es,c_de,c_fr,c_zh) = 0 THEN 'und'
                             WHEN c_en = greatest(c_en,c_es,c_de,c_fr,c_zh) THEN 'en'
                             WHEN c_es = greatest(c_en,c_es,c_de,c_fr,c_zh) THEN 'es'
                             WHEN c_de = greatest(c_en,c_es,c_de,c_fr,c_zh) THEN 'de'
                             WHEN c_fr = greatest(c_en,c_es,c_de,c_fr,c_zh) THEN 'fr'
                             ELSE 'zh' END) NOT IN ('en') THEN 'drop_lang'
                  ELSE NULL END AS early
      FROM s
    ), rk AS (
      SELECT doc_id,
             row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
      FROM st WHERE early IS NULL
    ), fin AS (
      SELECT COALESCE(st.early,
                      CASE WHEN rk.rn = 1 THEN 'kept'
                           ELSE 'drop_exact_dup' END) AS status
      FROM st LEFT JOIN rk ON st.doc_id = rk.doc_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (status = 'drop_quality') AS BIGINT)
             AS drop_quality_docs,
           CAST(count(*) FILTER (status = 'drop_lang') AS BIGINT)
             AS drop_lang_docs,
           CAST(count(*) FILTER (status = 'drop_exact_dup') AS BIGINT)
             AS drop_exact_dup_docs,
           CAST(count(*) FILTER (status = 'kept') AS BIGINT)
             AS post_exact_pool_docs,
           TRUE AS neardup_split_ok,
           TRUE AS statuses_match_decisions
    FROM fin
    """,
    doc="FULL curation pipeline with lineage: quality -> lang -> exact "
    "dedup -> MinHash near-dup (runs only on prior survivors — the "
    "expensive stage sees the smallest input). Contract form (round-4 "
    "verdict #3): the oracle value-checks every SQL-expressible stage "
    "count exactly (quality/lang/exact-dup drops and the post-exact "
    "pool, recomputed from scratch by the docs_curation_decisions SQL); "
    "neardup_split_ok asserts the non-SQL LSH stage only PARTITIONS the "
    "post-exact pool (kept + drop_near_dup == pool, nothing invented or "
    "lost), and statuses_match_decisions asserts PER-DOCUMENT parity "
    "between the pipeline log and the independently-computed decisions "
    "query for every early status (anti-join count == 0). "
    "plans/docpipeline.py::curate_documents.",
)
def docs_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .plans.docpipeline import (
        curate_documents,
        stage3_exact_dedup,
        stage12_decisions,
    )

    d = _t(spark, sf_dir, "documents")
    log = curate_documents(d)
    dec = stage3_exact_dedup(stage12_decisions(d)).select(
        "doc_id", F.col("status").alias("dec_status")
    )
    j = log.join(dec, "doc_id")
    agg = j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum((F.col("status") == "drop_quality").cast("long"))
        .cast("bigint")
        .alias("drop_quality_docs"),
        F.sum((F.col("status") == "drop_lang").cast("long"))
        .cast("bigint")
        .alias("drop_lang_docs"),
        F.sum((F.col("status") == "drop_exact_dup").cast("long"))
        .cast("bigint")
        .alias("drop_exact_dup_docs"),
        F.sum(F.col("status").isin("kept", "drop_near_dup").cast("long"))
        .cast("bigint")
        .alias("post_exact_pool_docs"),
        F.sum((F.col("dec_status") == "kept").cast("long"))
        .cast("bigint")
        .alias("__dec_kept"),
        # per-document parity: early statuses must agree exactly; the
        # near-dup stage may only demote a decisions-'kept' doc
        F.sum(
            (
                ~(
                    (F.col("status") == F.col("dec_status"))
                    | (
                        (F.col("dec_status") == "kept")
                        & F.col("status").isin("kept", "drop_near_dup")
                    )
                )
            ).cast("long")
        ).alias("__mismatches"),
    )
    return agg.select(
        "n_docs",
        "drop_quality_docs",
        "drop_lang_docs",
        "drop_exact_dup_docs",
        "post_exact_pool_docs",
        (F.col("post_exact_pool_docs") == F.col("__dec_kept")).alias(
            "neardup_split_ok"
        ),
        (F.col("__mismatches") == 0).alias("statuses_match_decisions"),
    )


@register(
    "layout_partition_pruning",
    """
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT)
             AS value_micros
    FROM events
    WHERE event_type IN ('click', 'error')
    GROUP BY event_type
    """,
    doc="Partition pruning end-to-end as a query (not just a plan test): "
    "events re-written partitionBy(event_type), read back with an IN "
    "filter that the scan planner turns into PartitionFilters — the "
    "non-matching directories are never LISTED, let alone read (the "
    "mechanism that turns a 100 TB scan into a per-partition one; "
    "tests/test_plans.py pins the PartitionFilters + pruned-partition "
    "count). value aggregated as per-row floor(1e6*v) BIGINTs: the "
    "per-row double multiply is bit-identical across engines and the "
    "sum is then exact, immune to combine order. Result is "
    "layout-invariant, so the plain filtered aggregate checks it.",
    tags=("graded",),
)
def layout_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    with tempfile.TemporaryDirectory(
        prefix="part_prune_", ignore_cleanup_errors=True
    ) as base:
        ev.write.mode("overwrite").partitionBy("event_type").parquet(base)
        back = spark.read.parquet(base).filter(
            F.col("event_type").isin("click", "error")
        )
        # the pruned scan RUNS here (eager localCheckpoint of the 2-row
        # aggregate), so the partitioned copy can be removed before return
        # instead of leaking one dir per bench/gate invocation
        return (
            back.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.floor(F.col("value") * 1_000_000).cast("bigint"))
                .cast("bigint")
                .alias("value_micros"),
            )
            .localCheckpoint(eager=True)
        )


@register(
    "layout_zorder_pruning",
    """
    WITH b AS (SELECT max(l_partkey) AS hp, max(l_suppkey) AS hs
               FROM lineitem)
    SELECT CAST(count(*) AS BIGINT) AS rows_in_box,
           TRUE AS zorder_reads_fewer,
           TRUE AS pruning_correct
    FROM lineitem, b
    WHERE l_partkey <= b.hp / 8.0 AND l_suppkey <= b.hs / 8.0
    """,
    doc="Z-order layout clustering vs linear sort, measured by parquet "
    "footer min/max row-group pruning for a 2-D box predicate on "
    "(l_partkey, l_suppkey): Morton-key repartitionByRange + "
    "sortWithinPartitions (operators/layout.py), stats read back via "
    "pyarrow footers exactly as a scan planner would — the Delta "
    "OPTIMIZE ZORDER / Iceberg sort-order rewrite equivalent. Contract "
    "form (round-4 verdict #3, agg_approx idiom): the oracle "
    "value-checks rows_in_box exactly; zorder_reads_fewer asserts the "
    "z-order layout's overlapping-row-group count is strictly below "
    "the orderkey-sorted layout's for the same box (the whole point of "
    "the rewrite), and pruning_correct asserts a pruned scan (reading "
    "ONLY overlapping row groups) returns exactly rows_in_box rows — "
    "no false negatives from the min/max logic. Raw per-layout counts "
    "remain pinned in tests/test_layout.py.",
    tags=("graded",),
)
def layout_zorder_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from .operators.layout import (
        cluster_by_zorder,
        rowgroups_box_rows,
        rowgroups_overlapping,
    )

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"
    )
    b = li.agg(
        F.max("l_partkey").alias("hp"), F.max("l_suppkey").alias("hs")
    ).collect()[0]
    pred = {
        "l_partkey": (0.0, b["hp"] / 8),
        "l_suppkey": (0.0, b["hs"] / 8),
    }
    # every layout fact is collected to a python scalar inside the block and
    # the returned frame is createDataFrame, so the dirs can go at its end
    with tempfile.TemporaryDirectory(
        prefix="layout_q_", ignore_cleanup_errors=True
    ) as root:
        z_path = os.path.join(root, "zorder")
        lin_path = os.path.join(root, "linear")
        cluster_by_zorder(
            li, ["l_partkey", "l_suppkey"], num_files=16, path=z_path
        )
        (
            li.repartitionByRange(16, "l_orderkey")
            .sortWithinPartitions("l_orderkey")
            .write.mode("overwrite")
            .parquet(lin_path)
        )
        hit_z, _ = rowgroups_overlapping(z_path, pred)
        hit_lin, _ = rowgroups_overlapping(lin_path, pred)
        pruned_rows = rowgroups_box_rows(z_path, pred)
        rows_in_box = li.filter(
            (F.col("l_partkey") <= b["hp"] / 8)
            & (F.col("l_suppkey") <= b["hs"] / 8)
        ).count()
    return spark.createDataFrame(
        [(rows_in_box, hit_z < hit_lin, pruned_rows == rows_in_box)],
        "rows_in_box bigint, zorder_reads_fewer boolean, "
        "pruning_correct boolean",
    )


@register(
    "user_longest_streak",
    """
    WITH o AS (
      SELECT user_id, event_type,
             row_number() OVER (
               PARTITION BY user_id
               ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
      FROM events
    ), isl AS (
      SELECT user_id, event_type, rn,
             rn - row_number() OVER (
               PARTITION BY user_id, event_type ORDER BY rn) AS grp
      FROM o
    ), runs AS (
      SELECT user_id, event_type,
             CAST(count(*) AS BIGINT) AS len, min(rn) AS start_rn
      FROM isl GROUP BY user_id, event_type, grp
    )
    SELECT user_id, len AS streak_len, event_type AS streak_val
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY user_id ORDER BY len DESC, start_rn) AS rk
      FROM runs
    ) WHERE rk = 1
    """,
    doc="Longest run of equal consecutive event_type per user (ties -> "
    "earliest run), via the secondary-sort streaming consumer: "
    "repartition(user_id) + sortWithinPartitions + mapInArrow with "
    "cross-Arrow-batch carry state (grouped_ordered_fold). One shuffle, "
    "O(batch) memory per partition even if one user has millions of "
    "events — the shape a grouped map (whole-group materialization) "
    "can't survive at 100 TB. "
    "Oracle is the gaps-and-islands SQL formulation.",
)
def user_longest_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.ordered import longest_run_per_key

    e = _t(spark, sf_dir, "events")
    return longest_run_per_key(e, "user_id", ["ts", "event_id"], "event_type")


@register(
    "sketch_rollup_distinct",
    """
    SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m') AS month,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct,
           CAST(count(*) AS BIGINT) AS n_rows,
           TRUE AS sketch_ok
    FROM events GROUP BY 1
    """,
    doc="Mergeable-sketch rollup: daily HLL sketches (one raw scan) unioned "
    "to monthly distinct-user estimates — the monthly pass reads one ~2.5 KB "
    "sketch per day, O(days) not O(events), and the same stored sketches "
    "answer any window. Output exposes the accuracy CONTRACT (estimate "
    "within 5 percent of exact at lgK=12, ~1.6 percent stderr) as a boolean "
    "so the oracle can value-check it; exact_distinct is computed only to "
    "audit the sketch.",
    tags=("graded",),
)
def sketch_rollup_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sketches import sketch_rollup

    e = _t(spark, sf_dir, "events")
    fine, coarse = sketch_rollup(
        e,
        "user_id",
        F.to_date("ts"),
        lambda c: F.date_format(c, "yyyy-MM"),
        fine_name="day",
    )
    exact = e.groupBy(F.date_format("ts", "yyyy-MM").alias("coarse")).agg(
        F.count_distinct("user_id").alias("exact_distinct")
    )
    return coarse.join(exact, "coarse").select(
        F.col("coarse").alias("month"),
        "exact_distinct",
        F.col("rows").alias("n_rows"),
        (
            F.abs(F.col("approx_distinct") - F.col("exact_distinct"))
            <= 0.05 * F.col("exact_distinct")
        ).alias("sketch_ok"),
    )


@register(
    "sequence_pattern_match",
    """
    WITH o AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS t, event_id,
             CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
                  WHEN 'purchase' THEN 'p' ELSE 'o' END AS ch
      FROM events
    ), led AS (
      SELECT user_id, ch,
             lead(ch, 1) OVER w AS ch1, lead(ch, 2) OVER w AS ch2
      FROM o WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
    ), cons AS (
      SELECT user_id,
             CAST(count(*) FILTER (
               WHERE ch = 'v' AND ch1 = 'c' AND ch2 = 'p') AS BIGINT)
               AS n_vcp_strict
      FROM led GROUP BY user_id
    ), rx AS (
      SELECT user_id,
             CAST(len(regexp_extract_all(
               string_agg(ch, '' ORDER BY t, event_id), 'vc+p')) AS BIGINT)
               AS n_vcp_regex
      FROM o GROUP BY user_id
    )
    SELECT cons.user_id, n_vcp_strict, n_vcp_regex
    FROM cons JOIN rx ON cons.user_id = rx.user_id
    WHERE n_vcp_strict > 0 OR n_vcp_regex > 0
    """,
    doc="MATCH_RECOGNIZE-lite over per-user event sequences, both "
    "formulations: (a) fixed pattern view->click->purchase on consecutive "
    "events via lead() — pure window, streams at any per-user volume; (b) "
    "arbitrary regex ('vc+p') over the alphabet-encoded ordered sequence "
    "via array_sort(collect_list)+regexp_count — general but materializes "
    "one string per user (bounded per-entity history only). Both passes "
    "shuffle on user_id once each and Catalyst reuses the exchange.",
)
def sequence_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    ch = (
        F.when(F.col("event_type") == "view", "v")
        .when(F.col("event_type") == "click", "c")
        .when(F.col("event_type") == "purchase", "p")
        .otherwise("o")
    )
    o = e.select("user_id", "ts", "event_id", ch.alias("ch"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cons = (
        o.withColumn("ch1", F.lead("ch", 1).over(w))
        .withColumn("ch2", F.lead("ch", 2).over(w))
        .groupBy("user_id")
        .agg(
            F.count_if(
                (F.col("ch") == "v") & (F.col("ch1") == "c") & (F.col("ch2") == "p")
            ).alias("n_vcp_strict")
        )
    )
    seq = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "ch"))
            ),
            lambda x: x["ch"],
        ),
        "",
    )
    rx = o.groupBy("user_id").agg(
        F.regexp_count(seq, F.lit("vc+p")).cast("long").alias("n_vcp_regex")
    )
    return cons.join(rx, "user_id").filter(
        (F.col("n_vcp_strict") > 0) | (F.col("n_vcp_regex") > 0)
    )


@register(
    "sample_weighted_docs",
    """
    SELECT doc_id, lang, source, n_chars
    FROM (
      SELECT doc_id, lang, source, n_chars,
             ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT
                 + 1.0) / 4503599627370496.0)
               / greatest(CAST(n_chars AS DOUBLE), 1.0) AS k
      FROM documents
    ) ORDER BY k DESC, doc_id LIMIT 200
    """,
    doc="Deterministic weighted sampling without replacement "
    "(Efraimidis-Spirakis A-Res): key = ln(md5-uniform)/weight, global "
    "top-200 by key — inclusion proportional to n_chars, reproducible "
    "across engines/partitionings (content-addressed randomness, same "
    "trick as hash_split). Plans as TakeOrderedAndProject: per-partition "
    "heaps, no global sort shuffle.",
)
def sample_weighted_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import weighted_sample_ares

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    return weighted_sample_ares(d, "doc_id", "n_chars", k=200)


@register(
    "streaming_view_click_join",
    """
    WITH j AS (
      SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id
      FROM events v JOIN events c
        ON v.user_id = c.user_id
       AND v.event_type = 'view' AND c.event_type = 'click'
       AND CAST(c.ts AS TIMESTAMP) >= CAST(v.ts AS TIMESTAMP)
       AND CAST(c.ts AS TIMESTAMP)
           <= CAST(v.ts AS TIMESTAMP) + INTERVAL 30 MINUTE
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT view_id) AS BIGINT) AS n_views_matched,
           CAST(count(DISTINCT click_id) AS BIGINT) AS n_clicks_matched
    FROM j GROUP BY user_id
    """,
    doc="Stream-stream interval join (click-to-view attribution): views and "
    "clicks as two watermarked streams, inner join bounded to [view_ts, "
    "view_ts + 30 min] so state expires with the watermark — O(window) "
    "state, not O(history). availableNow + memory sink makes the result "
    "exactly the batch interval join, which is the oracle; per-user rollup "
    "of the materialized pairs.",
)
def streaming_view_click_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.join import run_view_click_join_available_now

    pairs = run_view_click_join_available_now(spark, sf_dir)
    return pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.count_distinct("view_id").alias("n_views_matched"),
        F.count_distinct("click_id").alias("n_clicks_matched"),
    )


@register(
    "merge_on_read_orders",
    """
    WITH h AS (
      SELECT *, substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) AS hx
      FROM orders
    ), resolved AS (
      SELECT * FROM h WHERE hx NOT IN ('0', '1')        -- untouched base
      UNION ALL
      SELECT * REPLACE (o_totalprice * 2 AS o_totalprice)
      FROM h WHERE hx = '1'                             -- seq-2 upsert wins
      -- hx = '0' deleted
    )
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS sum_price
    FROM resolved GROUP BY o_orderstatus
    """,
    doc="Merge-on-read resolution (Iceberg v2 / deletion-vector read path): "
    "base orders snapshot + synthetic delta log — deletes for hash bucket "
    "'0', two stacked upserts (seq 1: price*3, seq 2: price*2) for bucket "
    "'1' — resolved in one key-shuffle window; latest seq wins, deletes "
    "suppress. Write cost O(delta) vs copy-on-write's O(table); the oracle "
    "computes the resolved view directly, so a wrong winner or leaked "
    "delete mismatches.",
)
def merge_on_read_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.mor import merge_on_read

    o = _t(spark, sf_dir, "orders")
    hx = F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1)
    base = o
    payload = o.columns
    dels = o.filter(hx == "0").select(
        F.lit("delete").alias("op"), F.lit(1).alias("seq"), *payload
    )
    up1 = (
        o.filter(hx == "1")
        .withColumn("o_totalprice", F.col("o_totalprice") * 3)
        .select(F.lit("upsert").alias("op"), F.lit(1).alias("seq"), *payload)
    )
    up2 = (
        o.filter(hx == "1")
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        .select(F.lit("upsert").alias("op"), F.lit(2).alias("seq"), *payload)
    )
    deltas = dels.unionByName(up1).unionByName(up2)
    view = merge_on_read(base, deltas, key="o_orderkey")
    return view.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


@register(
    "snapshot_diff_orders",
    """
    WITH h AS (
      SELECT *, substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) AS hx
      FROM orders
    ), b AS (
      SELECT o_orderkey, o_totalprice * 2 AS o_totalprice
      FROM h WHERE hx = '1'
      UNION ALL
      SELECT o_orderkey, o_totalprice FROM h WHERE hx NOT IN ('0', '1')
      UNION ALL
      SELECT o_orderkey + 100000000, o_totalprice FROM h WHERE hx = '2'
    ), j AS (
      SELECT CASE WHEN b.o_orderkey IS NULL THEN 'removed'
                  WHEN a.o_orderkey IS NULL THEN 'added'
                  WHEN a.o_totalprice <> b.o_totalprice THEN 'changed'
             END AS status
      FROM (SELECT o_orderkey, o_totalprice FROM h) a
      FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
    )
    SELECT status, CAST(count(*) AS BIGINT) AS n
    FROM j WHERE status IS NOT NULL GROUP BY status
    """,
    doc="Anti-entropy snapshot diff: orders vs a drifted successor "
    "(bucket-'0' keys deleted, bucket-'1' prices doubled, bucket-'2' keys "
    "re-added under new ids). Two stages — XOR-of-xxhash64 bucket "
    "checksums (O(buckets) compare) pinpoint dirty buckets, then the "
    "row-level full-outer join runs ONLY inside them; at low drift the "
    "expensive stage touches a sliver of either snapshot. Oracle computes "
    "the same statuses via a direct full-outer join.",
)
def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.diff import snapshot_diff

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    hx = F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1)
    b = (
        o.filter(hx == "1").withColumn("o_totalprice", F.col("o_totalprice") * 2)
        .unionByName(o.filter(~hx.isin("0", "1")))
        .unionByName(
            o.filter(hx == "2").withColumn(
                "o_orderkey", F.col("o_orderkey") + 100000000
            )
        )
    )
    diff, _ = snapshot_diff(o, b, key="o_orderkey", num_buckets=256)
    return diff.groupBy("status").agg(F.count(F.lit(1)).alias("n"))


@register(
    "incremental_gold_orders",
    """
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           sum(o_totalprice) AS sum_value,
           sum(o_totalprice) / count(*) AS avg_value,
           max(o_totalprice) AS max_value,
           TRUE AS distinct_ok
    FROM orders GROUP BY o_orderstatus
    """,
    doc="Incremental view maintenance: the gold rollup's mergeable state "
    "(count/sum/max + HLL partial) is built on pre-cutoff orders, then the "
    "post-cutoff delta's state is folded in — merge cost O(groups), the "
    "raw history is never rescanned. Result must equal the full recompute "
    "(the oracle); avg derives from (sum,count), distinct-customers rides "
    "as an HLL sketch whose 5 percent contract is the boolean column.",
    tags=("graded",),
)
def incremental_gold_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .plans.ivm import aggregate_state, gold_view, merge_state

    o = _t(spark, sf_dir, "orders")
    cutoff = F.lit("1995-01-01").cast("date")
    keys = ["o_orderstatus"]
    old = aggregate_state(
        o.filter(F.col("o_orderdate") < cutoff), keys, "o_totalprice", "o_custkey"
    )
    delta = aggregate_state(
        o.filter(F.col("o_orderdate") >= cutoff), keys, "o_totalprice", "o_custkey"
    )
    merged = gold_view(merge_state(old, delta, keys), keys)
    exact = o.groupBy(*keys).agg(
        F.count_distinct("o_custkey").alias("exact_distinct")
    )
    return merged.join(exact, keys).select(
        "o_orderstatus",
        "n_rows",
        "sum_value",
        "avg_value",
        "max_value",
        (
            F.abs(F.col("approx_distinct") - F.col("exact_distinct"))
            <= 0.05 * F.col("exact_distinct")
        ).alias("distinct_ok"),
    )


@register(
    "text_redact_terms",
    r"""
    WITH r AS (
      SELECT source,
             CAST(len(regexp_extract_all(text, '\bcustomer\b')) AS INT)
               AS hits,
             regexp_replace(text, '\bcustomer\b', '[REDACTED]', 'g') AS red
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (WHERE hits > 0) AS BIGINT) AS docs_hit,
           CAST(sum(hits) AS BIGINT) AS total_hits,
           CAST(count(*) FILTER (
             WHERE len(regexp_extract_all(red, '\bcustomer\b')) > 0
           ) AS BIGINT) AS leaks
    FROM r GROUP BY source
    """,
    doc="Sensitive-term redaction (the PII-scrub shape on a synthetic "
    "corpus): regexp_count + word-boundary regexp_replace per document, "
    "rolled up per source with a leak-check column that must be 0 — "
    "narrow map only, no shuffle beyond the final small rollup. Real "
    "deployments swap the term pattern for email/phone/SSN regexes; the "
    "plan is identical.",
)
def text_redact_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    pat = r"\bcustomer\b"
    r = d.select(
        "source",
        F.regexp_count("text", F.lit(pat)).alias("hits"),
        F.regexp_replace("text", pat, "[REDACTED]").alias("red"),
    )
    return r.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_if(F.col("hits") > 0).alias("docs_hit"),
        F.sum("hits").alias("total_hits"),
        F.count_if(F.regexp_count("red", F.lit(pat)) > 0).alias("leaks"),
    )


@register(
    "dq_orders_report",
    """
    WITH m AS (
      SELECT avg(CASE WHEN o_orderkey IS NOT NULL THEN 1.0 ELSE 0.0 END)
               AS nn_key,
             CAST(count(DISTINCT o_orderkey) AS DOUBLE) / count(*) AS uq_key,
             avg(CASE WHEN o_totalprice > 0 THEN 1.0 ELSE 0.0 END) AS pos_price,
             avg(CASE WHEN o_orderdate BETWEEN DATE '1992-01-01'
                       AND DATE '1998-12-31' THEN 1.0 ELSE 0.0 END) AS d_range
      FROM orders
    ), ri AS (
      SELECT 1.0 - CAST((SELECT count(*) FROM orders o
                         WHERE NOT EXISTS (SELECT 1 FROM customer c
                                           WHERE c.c_custkey = o.o_custkey))
                        AS DOUBLE) / (SELECT count(*) FROM orders) AS rate
    )
    SELECT 'not_null_o_orderkey' AS check_name, nn_key AS metric,
           nn_key >= 1.0 AS passed FROM m
    UNION ALL
    SELECT 'unique_o_orderkey', uq_key, uq_key >= 1.0 FROM m
    UNION ALL
    SELECT 'positive_o_totalprice', pos_price, pos_price >= 1.0 FROM m
    UNION ALL
    SELECT 'orderdate_in_range', d_range, d_range >= 1.0 FROM m
    UNION ALL
    SELECT 'ri_o_custkey', rate, rate >= 1.0 FROM ri
    """,
    doc="Declarative data-quality suite (the Deequ shape): not-null, exact "
    "uniqueness, domain predicate, and date-range checks all compile into "
    "ONE aggregation pass over orders (single scan, map-side partials); "
    "referential integrity runs as a broadcast anti-join so the fact side "
    "still streams once. Report is (check_name, metric, passed).",
    tags=("graded", "bench"),
)
def dq_orders_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.quality import (
        Check,
        not_null_rate,
        predicate_rate,
        referential_integrity,
        run_checks,
    )

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    checks = [
        Check("not_null_o_orderkey", not_null_rate("o_orderkey"), 1.0),
        Check(
            "unique_o_orderkey",
            F.count_distinct(F.col("o_orderkey")).cast("double")
            / F.count(F.lit(1)),
            1.0,
        ),
        Check(
            "positive_o_totalprice",
            predicate_rate(F.col("o_totalprice") > 0),
            1.0,
        ),
        Check(
            "orderdate_in_range",
            predicate_rate(
                F.col("o_orderdate").between("1992-01-01", "1998-12-31")
            ),
            1.0,
        ),
    ]
    report = run_checks(o, checks)
    ri = referential_integrity(o, "o_custkey", c, "c_custkey", "ri_o_custkey")
    return report.unionByName(ri).withColumnRenamed("check", "check_name")


@register(
    "streaming_dedup_events",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT event_id) AS BIGINT) AS n_ids
    FROM events GROUP BY event_type
    """,
    doc="Streaming deduplication: the source unioned with itself (a "
    "deterministic 2x at-least-once stream) deduped in-stream with "
    "dropDuplicatesWithinWatermark(event_id) — state expires with the "
    "watermark, O(keys per window) not O(history). The availableNow "
    "result rolled up per event_type must equal the pristine source "
    "(oracle); n_events == n_ids proves no duplicate survived.",
    tags=("graded",),
)
def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.dedup import run_streaming_dedup_available_now

    deduped = run_streaming_dedup_available_now(spark, sf_dir)
    return deduped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("event_id").alias("n_ids"),
    )


@register(
    "timeseries_gapfill_locf",
    """
    WITH a AS (
      SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
             sum(CAST(value AS DECIMAL(18,2))) AS v
      FROM events GROUP BY 1, 2
    ), b AS (
      SELECT user_id, min(h) AS h0, max(h) AS h1 FROM a GROUP BY 1
    ), g AS (
      SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
      FROM b
    ), j AS (
      SELECT g.user_id, g.h, a.v
      FROM g LEFT JOIN a ON g.user_id = a.user_id AND g.h = a.h
    ), f AS (
      SELECT user_id,
             last_value(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vf,
             v IS NULL AS gap
      FROM j
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_hours,
           CAST(count(*) FILTER (WHERE gap) AS BIGINT) AS n_gaps,
           CAST(sum(vf) AS DOUBLE) AS sum_filled
    FROM f GROUP BY user_id
    """,
    doc="Hypertable gap-fill + LOCF (time_bucket_gapfill analog): hourly "
    "buckets densified per user between each user's OWN first and last "
    "bucket (sequence+explode off the tiny bounds agg — no global "
    "calendar cross join), gaps carry the last observed value via "
    "last(ignorenulls) over an unbounded-preceding frame. Two shuffles "
    "total: (user, bucket) for densify+join, user for the fill window. "
    "sum_filled depends on every carried value, so a wrong fill "
    "mismatches the oracle. Bucket sums are DECIMAL(18,2) (source values "
    "carry 2 decimal digits) so partial-agg order can't perturb the carried "
    "value onto a 6-sig-digit rendering boundary; the FINAL sum is cast to "
    "DOUBLE on both sides (one rounding of an exact sum is engine-"
    "independent) because Spark's DECIMAL(28,2) and DuckDB's DECIMAL(38,2)/"
    "HUGEINT sums canonicalize differently under the driver's pandas "
    "rendering — DECIMAL finals are banned by the output-schema lint.",
    tags=("graded",),
)
def timeseries_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.timeseries import gapfill_locf

    e = _t(spark, sf_dir, "events").withColumn(
        "value", F.col("value").cast("decimal(18,2)")
    )
    filled = gapfill_locf(e, "user_id", "ts", "value")
    return filled.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.count_if("is_gap").alias("n_gaps"),
        F.sum("v_filled").cast("double").alias("sum_filled"),
    )


@register(
    "cogroup_view_click_pairs",
    """
    SELECT v.user_id, CAST(count(*) AS BIGINT) AS n_pairs
    FROM events v JOIN events c
      ON v.user_id = c.user_id
     AND v.event_type = 'view' AND c.event_type = 'click'
     AND CAST(c.ts AS TIMESTAMP) >= CAST(v.ts AS TIMESTAMP)
     AND CAST(c.ts AS TIMESTAMP)
         <= CAST(v.ts AS TIMESTAMP) + INTERVAL 30 MINUTE
    GROUP BY v.user_id
    """,
    doc="cogroup().applyInArrow two-sided grouped map: per-user view/click "
    "interval-pair counts via sorted binary search inside each cogroup "
    "(O((n+m) log m) per key, never the n*m product). Same semantics as "
    "the watermarked stream-stream join and the SQL interval join — three "
    "formulations, one oracle. Cogroup materializes per-key groups: right "
    "for bounded user timelines, documented as wrong for unbounded keys. "
    "Each side aliases ts distinctly: both branches share the source "
    "relation, and identical attribute ids across cogroup children can be "
    "pruned from one side's Arrow batch at some plan scales.",
    tags=("graded", "bench"),
)
def cogroup_view_click_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.ordered import cogrouped_interval_match

    e = _t(spark, sf_dir, "events")
    views = e.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("v_ts")
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts")
    )
    return cogrouped_interval_match(
        views, clicks, "user_id", "v_ts", "c_ts", window_seconds=1800
    )


@register(
    "order_record_highs",
    """
    WITH w AS (
      SELECT o_custkey, o_totalprice,
             max(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
      FROM orders
    )
    SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_records
    FROM w
    WHERE prev_max IS NULL OR o_totalprice > prev_max
    GROUP BY o_custkey
    """,
    doc="Generic grouped-ordered fold API (operators/ordered.py::"
    "grouped_ordered_fold): per-customer count of strict running-max "
    "records over date-ordered order prices. User code supplies only "
    "init/step/finish over single-key Arrow slices; the API owns the "
    "shuffle, per-partition sort, Arrow streaming, and cross-batch key "
    "carry, keeping memory O(batch) for arbitrarily hot keys. Comparison-"
    "only kernel, so exact vs the SQL window oracle.",
)
def order_record_highs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.ordered import record_highs_per_key

    o = _t(spark, sf_dir, "orders")
    return record_highs_per_key(
        o, "o_custkey", ["o_orderdate", "o_orderkey"], "o_totalprice"
    )


@register(
    "bigram_heavy_hitters",
    """
    WITH tok AS (
      SELECT unnest(list_transform(range(1, len(ws)),
                                   i -> ws[i] || ' ' || ws[i+1])) AS bigram
      FROM (SELECT string_split(text, ' ') AS ws FROM documents)
    )
    SELECT bigram, CAST(count(*) AS BIGINT) AS cnt
    FROM tok
    GROUP BY bigram
    HAVING count(*) >= CEIL(0.0013 * (SELECT count(*) FROM tok))
    """,
    doc="Open-vocabulary heavy hitters (operators/heavyhitters.py): "
    "per-partition Misra-Gries candidates (zero shuffle, O(k) memory) -> "
    "count-min-sketch prune (shuffle bounded at depth*width rows per "
    "partition, sketch broadcastable) -> exact verification restricted to "
    "survivors. Both early phases are one-sided (supersets), so the output "
    "is EXACTLY the plain GROUP BY ... HAVING oracle — without shuffling "
    "the vocabulary. Run on word bigrams (~vocab^2 keys) with relative "
    "threshold phi=0.0013, k=ceil(1/phi) per the N/(k+1) MG guarantee.",
)
def bigram_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from .operators.heavyhitters import heavy_hitters_exact

    d = _t(spark, sf_dir, "documents")
    ws = d.select(F.split("text", " ").alias("ws")).filter(F.size("ws") >= 2)
    # explode_outer: skip the inferred size()>0 filter that would rebuild
    # the bigram array per row (ws is pre-filtered to >= 2 words)
    bigrams = ws.select(
        F.explode_outer(
            F.expr(
                "transform(sequence(0, size(ws)-2),"
                " i -> concat(ws[i], ' ', ws[i+1]))"
            )
        ).alias("bigram")
    )
    phi = 0.0013
    n = bigrams.count()
    return heavy_hitters_exact(
        bigrams, "bigram", math.ceil(phi * n), k=math.ceil(1 / phi)
    )


@register(
    "decontaminate_ngram_overlap",
    """
    WITH g AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(ws) - 2),
                    i -> list_aggregate(ws[i:i+3], 'string_agg', ' ')))
               AS gram
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
    ),
    e AS (SELECT DISTINCT gram FROM g WHERE doc_id % 20 = 0)
    SELECT g.doc_id, CAST(count(DISTINCT g.gram) AS BIGINT) AS n_overlap
    FROM g JOIN e USING (gram)
    WHERE g.doc_id % 20 <> 0
    GROUP BY g.doc_id
    """,
    doc="Benchmark decontamination (operators/text.py::"
    "ngram_overlap_contamination): corpus docs sharing any word 4-gram "
    "with the eval segment (doc_id % 20 = 0), with distinct-overlap "
    "counts. Eval-side distinct grams broadcast; corpus side stays one "
    "narrow codegen projection (split -> transform -> explode), shuffling "
    "only matching rows for the per-doc count.",
    tags=("graded", "bench"),
)
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import ngram_overlap_contamination

    d = _t(spark, sf_dir, "documents")
    ev = d.filter(F.col("doc_id") % 20 == 0)
    corpus = d.filter(F.col("doc_id") % 20 != 0)
    return ngram_overlap_contamination(corpus, ev, "doc_id", "text", n=4)


@register(
    "segment_token_divergence",
    """
    WITH t AS (
      SELECT doc_id % 2 AS seg, unnest(string_split(text, ' ')) AS word
      FROM documents
    ),
    c AS (
      SELECT word,
             sum(CASE WHEN seg = 0 THEN 1 ELSE 0 END) AS a_cnt,
             sum(CASE WHEN seg = 1 THEN 1 ELSE 0 END) AS b_cnt
      FROM t GROUP BY word
    ),
    tot AS (
      SELECT sum(a_cnt) AS na, sum(b_cnt) AS nb, count(*) AS v FROM c
    )
    SELECT word,
           CAST(a_cnt AS BIGINT) AS a_cnt,
           CAST(b_cnt AS BIGINT) AS b_cnt,
           floor(((a_cnt + 1.0) / (na + v))
                 * ln(((a_cnt + 1.0) / (na + v))
                      / ((b_cnt + 1.0) / (nb + v))) * 1e6) / 1e6 AS kl_term
    FROM c, tot
    """,
    doc="Per-token KL-divergence contributions between two corpus segments "
    "(doc_id parity) with add-one smoothing over the joint vocabulary — "
    "the distribution-shift probe a training-mix pipeline runs between "
    "sources/epochs. One token-count aggregation, a 3-value broadcast "
    "total, arithmetic in codegen; floor-truncation at 1e-6 per the "
    "round() half-up parity pitfall.",
)
def segment_token_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    t = d.select(
        (F.col("doc_id") % 2).alias("seg"),
        F.explode_outer(F.split("text", " ")).alias("word"),
    ).filter(F.col("word").isNotNull())
    c = t.groupBy("word").agg(
        F.sum(F.when(F.col("seg") == 0, 1).otherwise(0)).alias("a_cnt"),
        F.sum(F.when(F.col("seg") == 1, 1).otherwise(0)).alias("b_cnt"),
    )
    tot = c.agg(
        F.sum("a_cnt").alias("na"),
        F.sum("b_cnt").alias("nb"),
        F.count("*").alias("v"),
    )
    p = (F.col("a_cnt") + 1.0) / (F.col("na") + F.col("v"))
    q = (F.col("b_cnt") + 1.0) / (F.col("nb") + F.col("v"))
    return c.crossJoin(F.broadcast(tot)).select(
        "word",
        F.col("a_cnt").cast("long").alias("a_cnt"),
        F.col("b_cnt").cast("long").alias("b_cnt"),
        (F.floor(p * F.log(p / q) * 1e6) / 1e6).alias("kl_term"),
    )


def _handoff_edges(o: DataFrame, c: DataFrame) -> DataFrame:
    """The customer 'handoff' graph: an edge u->v when v's order
    immediately follows u's within the same nation OR the same market
    segment (lag over two orderings, union). Self-loops and duplicate
    edges are left to the graph operators. SQL twin:
    ``_HANDOFF_EDGES_CTE``."""
    j = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        "o_orderkey", "o_orderdate", "o_custkey", "c_nationkey", "c_mktsegment"
    )
    w_nat = Window.partitionBy("c_nationkey").orderBy("o_orderdate", "o_orderkey")
    w_seg = Window.partitionBy("c_mktsegment").orderBy("o_orderdate", "o_orderkey")
    return (
        j.select(
            F.lag("o_custkey").over(w_nat).alias("src"),
            F.col("o_custkey").alias("dst"),
        )
        .unionByName(
            j.select(
                F.lag("o_custkey").over(w_seg).alias("src"),
                F.col("o_custkey").alias("dst"),
            )
        )
        .where(F.col("src").isNotNull())
    )


# DuckDB twin of _handoff_edges (distinct, self-loops dropped): the `j` and
# `edges` CTEs every handoff-graph oracle opens with.
_HANDOFF_EDGES_CTE = """
    WITH j AS (
      SELECT o_orderkey, o_orderdate, o_custkey, c_nationkey, c_mktsegment
      FROM orders JOIN customer ON o_custkey = c_custkey
    ),
    edges AS (
      SELECT DISTINCT src, dst FROM (
        SELECT lag(o_custkey) OVER (PARTITION BY c_nationkey
                 ORDER BY o_orderdate, o_orderkey) AS src,
               o_custkey AS dst FROM j
        UNION ALL
        SELECT lag(o_custkey) OVER (PARTITION BY c_mktsegment
                 ORDER BY o_orderdate, o_orderkey) AS src,
               o_custkey AS dst FROM j
      ) WHERE src IS NOT NULL AND src <> dst
    )"""


def _pagerank_handoff_oracle(iterations: int = 5) -> str:
    """Unrolled fixed-iteration PageRank (DuckDB recursive CTEs forbid
    aggregation over the recursive reference, so each iteration is its own
    CTE — generated, not hand-written)."""
    sql = _HANDOFF_EDGES_CTE + """,
    nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
    nn AS (SELECT count(*) AS cnt FROM nodes),
    outdeg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
    ee AS (SELECT e.src, e.dst, d.outdeg FROM edges e
           JOIN outdeg d ON e.src = d.src),
    r0 AS (SELECT node, 1.0 / nn.cnt AS pr FROM nodes CROSS JOIN nn)
    """
    for i in range(iterations):
        sql += f""",
    c{i} AS (SELECT ee.dst, sum(r.pr / ee.outdeg) AS c
             FROM ee JOIN r{i} r ON ee.src = r.node GROUP BY ee.dst),
    r{i + 1} AS (SELECT n.node,
                        (1.0 - 0.85) / nn.cnt
                          + 0.85 * coalesce(c.c, 0.0) AS pr
                 FROM nodes n CROSS JOIN nn
                 LEFT JOIN c{i} c ON n.node = c.dst)
    """
    return sql + f"SELECT node AS custkey, pr FROM r{iterations}"


@register(
    "pagerank_customer_handoff",
    _pagerank_handoff_oracle(),
    doc="Fixed-iteration PageRank (5 rounds, d=0.85) over the customer "
    "'handoff' graph: an edge u->v when v's order immediately follows u's "
    "within the same nation OR the same market segment (lag over two "
    "orderings, union, distinct). Covers the iterative-algorithm class: "
    "operators/graph.py stores edges once (lazy localCheckpoint), "
    "shuffles once per iteration (contributions keyed by dst), and "
    "localCheckpoints ranks every 2 "
    "rounds so plan depth and recompute stay bounded — the standard "
    "failure mode of naive DataFrame loops. Oracle = the identical "
    "recurrence unrolled into per-iteration CTEs.",
)
def pagerank_customer_handoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.graph import pagerank

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    edges = _handoff_edges(o, c)
    ranks = pagerank(edges, iterations=5, damping=0.85)
    return ranks.select(F.col("node").alias("custkey"), "pr")


@register(
    "retention_cohort_weekly",
    """
    WITH uw AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS wk
      FROM events
    ),
    j AS (
      SELECT user_id, wk,
             min(wk) OVER (PARTITION BY user_id) AS cohort
      FROM uw
    )
    SELECT cohort,
           CAST(floor(datediff('day', cohort, wk) / 7.0) AS INT) AS offset_weeks,
           CAST(count(*) AS BIGINT) AS users
    FROM j GROUP BY cohort, offset_weeks
    """,
    doc="Weekly cohort retention: cohort = week of a user's first event; "
    "cell (cohort, k) = #users of that cohort active in week cohort+k. "
    "Scale shape: collapse events to distinct (user, week) FIRST (the "
    "only pass over the raw events), then a single user-keyed window min "
    "shares one shuffle for cohort assignment — no self-join of events "
    "against a first-seen table. Rows are unique per (user, week), so "
    "the cell count is a plain count(*), not count(distinct).",
)
def retention_cohort_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    uw = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("wk")
    ).distinct()
    j = uw.withColumn(
        "cohort", F.min("wk").over(Window.partitionBy("user_id"))
    )
    return j.groupBy(
        "cohort",
        F.floor(F.datediff("wk", "cohort") / 7.0).cast("int").alias("offset_weeks"),
    ).agg(F.count(F.lit(1)).cast("long").alias("users"))


@register(
    "attribution_linear",
    """
    WITH purchases AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS pts, value
      FROM events WHERE event_type = 'purchase'
    ),
    touches AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS tts, event_type AS channel
      FROM events WHERE event_type IN ('view', 'click')
    ),
    pairs AS (
      SELECT p.event_id, p.value, t.channel
      FROM purchases p JOIN touches t
        ON p.user_id = t.user_id
       AND t.tts < p.pts
       AND p.pts <= t.tts + INTERVAL 21600 SECONDS
    ),
    per_channel AS (
      SELECT event_id, value, channel, count(*) AS ch_cnt
      FROM pairs GROUP BY event_id, value, channel
    ),
    totals AS (
      SELECT event_id, CAST(sum(ch_cnt) AS BIGINT) AS tot
      FROM per_channel GROUP BY event_id
    ),
    attributed AS (
      SELECT c.channel,
             CAST(floor(c.value * c.ch_cnt / t.tot * 1e6) AS BIGINT)
               AS contrib_micro
      FROM per_channel c JOIN totals t ON c.event_id = t.event_id
      UNION ALL
      SELECT 'direct' AS channel,
             CAST(floor(p.value * 1e6) AS BIGINT) AS contrib_micro
      FROM purchases p
      WHERE NOT EXISTS (SELECT 1 FROM pairs x WHERE x.event_id = p.event_id)
    )
    SELECT channel, sum(contrib_micro) / 1e6 AS revenue,
           CAST(count(*) AS BIGINT) AS n_credits
    FROM attributed GROUP BY channel
    """,
    doc="Linear (equal-credit) marketing attribution: each purchase splits "
    "its value evenly across the user's view/click touches in the "
    "preceding 6 hours; untouched purchases credit a 'direct' channel. "
    "Reuses operators/relational.py::interval_join — (user, time-bin) "
    "equi-shuffle with <=2x replication, no per-user cross product even "
    "for hot users — then two bounded aggs (per-channel counts, "
    "per-purchase totals) and a left-anti union for 'direct'. Per-credit "
    "contributions are quantized to integer micro-units via "
    "floor(x*1e6) before summing: both engines compute bit-identical "
    "IEEE doubles for value*cnt/tot, so floor agrees exactly, and "
    "BIGINT sums are exact and combine-order-independent (a plain "
    "double sum reordered across partitions straddled the .6g "
    "normalization boundary — the round-2 flake; a DECIMAL cast would "
    "still diverge cross-engine on half-ULP rows because Spark rounds "
    "the shortest decimal repr while DuckDB rounds the binary value).",
)
def attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("pts"), "value"
    )
    touches = ev.where(F.col("event_type").isin("view", "click")).select(
        "user_id", F.col("ts").alias("tts"), F.col("event_type").alias("channel")
    )
    pairs = R.interval_join(
        touches, purchases, key="user_id", left_ts="tts",
        right_ts="pts", window_seconds=21600,
    ).select("event_id", "value", "channel")
    per_channel = pairs.groupBy("event_id", "value", "channel").agg(
        F.count(F.lit(1)).alias("ch_cnt")
    )
    totals = per_channel.groupBy("event_id").agg(
        F.sum("ch_cnt").cast("long").alias("tot")
    )
    attributed = (
        per_channel.join(totals, "event_id")
        .select(
            "channel",
            F.floor(F.col("value") * F.col("ch_cnt") / F.col("tot") * F.lit(1e6))
            .cast("long")
            .alias("contrib_micro"),
        )
        .unionByName(
            purchases.join(pairs.select("event_id").distinct(), "event_id", "left_anti")
            .select(
                F.lit("direct").alias("channel"),
                F.floor(F.col("value") * F.lit(1e6)).cast("long").alias("contrib_micro"),
            )
        )
    )
    return attributed.groupBy("channel").agg(
        (F.sum("contrib_micro") / F.lit(1e6)).alias("revenue"),
        F.count(F.lit(1)).cast("long").alias("n_credits"),
    )


@register(
    "fuzzy_name_pairs_ed1",
    """
    SELECT c1.c_custkey AS a_id, c2.c_custkey AS b_id
    FROM customer c1 JOIN customer c2
      ON c1.c_custkey < c2.c_custkey
     AND levenshtein(c1.c_name, c2.c_name) <= 1
    """,
    doc="Fuzzy self-join: customer-name pairs within Levenshtein distance "
    "1, computed by deletion-neighborhood (FastSS) blocking — O(len) "
    "variants per row in one codegen HOF projection, equi-join keyed by "
    "variant, exact levenshtein verify on candidates only. The oracle is "
    "the O(n^2) cross join + levenshtein, proving blocking is lossless "
    "at ed<=1 (entity-resolution class).",
)
def fuzzy_name_pairs_ed1(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    return T.fuzzy_pairs_ed1(c, "c_custkey", "c_name")


@register(
    "market_basket_lift",
    """
    WITH b AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day,
             event_type
      FROM events
    ),
    n AS (SELECT count(DISTINCT (user_id, day)) AS n_baskets FROM b),
    s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS s_cnt
          FROM b GROUP BY event_type),
    co AS (
      SELECT x.event_type AS a, y.event_type AS b,
             CAST(count(*) AS BIGINT) AS pair_cnt
      FROM b x JOIN b y
        ON x.user_id = y.user_id AND x.day = y.day
       AND x.event_type < y.event_type
      GROUP BY x.event_type, y.event_type
    )
    SELECT co.a, co.b, co.pair_cnt,
           (CAST(co.pair_cnt AS DOUBLE) * n.n_baskets)
             / (sa.s_cnt * CAST(sb.s_cnt AS DOUBLE)) AS lift
    FROM co CROSS JOIN n
    JOIN s sa ON sa.event_type = co.a
    JOIN s sb ON sb.event_type = co.b
    """,
    doc="Association rules over (user, day) baskets: co-occurrence counts "
    "for event-type pairs and their lift vs independence. Baskets are "
    "collapsed to distinct members first (one pass over events); the "
    "pair join is keyed by basket id so per-task work is bounded by "
    "basket size squared, never corpus size; singleton supports and the "
    "basket count join back via broadcast.",
)
def market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    b = ev.select(
        "user_id",
        F.date_trunc("day", "ts").alias("day"),
        "event_type",
    ).distinct()
    n_baskets = b.select("user_id", "day").distinct().count()
    s = b.groupBy("event_type").agg(F.count(F.lit(1)).alias("s_cnt"))
    x, y = b.alias("x"), b.alias("y")
    co = (
        x.join(
            y,
            (F.col("x.user_id") == F.col("y.user_id"))
            & (F.col("x.day") == F.col("y.day"))
            & (F.col("x.event_type") < F.col("y.event_type")),
        )
        .groupBy(
            F.col("x.event_type").alias("a"), F.col("y.event_type").alias("b")
        )
        .agg(F.count(F.lit(1)).alias("pair_cnt"))
    )
    sa = s.select(F.col("event_type").alias("a"), F.col("s_cnt").alias("sa"))
    sb = s.select(F.col("event_type").alias("b"), F.col("s_cnt").alias("sb"))
    return (
        co.join(F.broadcast(sa), "a")
        .join(F.broadcast(sb), "b")
        .select(
            "a",
            "b",
            "pair_cnt",
            (
                (F.col("pair_cnt").cast("double") * F.lit(n_baskets))
                / (F.col("sa") * F.col("sb").cast("double"))
            ).alias("lift"),
        )
    )


@register(
    "text_inverted_index",
    """
    WITH t AS (
      SELECT DISTINCT unnest(string_split(text, ' ')) AS token, doc_id
      FROM documents
    )
    SELECT token, CAST(count(*) AS BIGINT) AS df,
           array_to_string((array_agg(doc_id ORDER BY doc_id))[1:20], ',')
             AS postings
    FROM t GROUP BY token
    """,
    doc="Inverted-index construction: token -> document frequency + the "
    "first 20 postings (sorted doc ids). One explode + distinct + "
    "token-keyed agg; the posting cap bounds per-token state so a "
    "stopword-frequency token cannot blow up a reducer (at full scale "
    "the cap is the difference between a bounded row and an OOM).",
    tags=("graded", "bench"),
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    t = d.select(
        F.explode_outer(F.split("text", " ")).alias("token"), "doc_id"
    ).filter(F.col("token").isNotNull()).distinct()
    return t.groupBy("token").agg(
        F.count(F.lit(1)).alias("df"),
        # postings rendered as a comma-joined string: final schemas are
        # scalar-only by registry contract (driver canonicalization)
        F.array_join(
            F.transform(
                F.slice(F.sort_array(F.collect_list("doc_id")), 1, 20),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("postings"),
    )


@register(
    "graph_triangle_count",
    """
    WITH j AS (
      SELECT o_orderkey, o_orderdate, o_custkey, c_nationkey, c_mktsegment
      FROM orders JOIN customer ON o_custkey = c_custkey
    ),
    raw AS (
      SELECT lag(o_custkey) OVER (PARTITION BY c_nationkey
               ORDER BY o_orderdate, o_orderkey) AS src,
             o_custkey AS dst FROM j
      UNION ALL
      SELECT lag(o_custkey) OVER (PARTITION BY c_mktsegment
               ORDER BY o_orderdate, o_orderkey) AS src,
             o_custkey AS dst FROM j
    ),
    und AS (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM raw WHERE src IS NOT NULL AND src <> dst
    )
    SELECT CAST(count(*) AS BIGINT) AS triangles
    FROM und e1
    JOIN und e2 ON e1.a = e2.a AND e1.b < e2.b
    JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b
    """,
    doc="Triangle count of the (undirected) customer-handoff graph. The "
    "engine orients each edge lower-(degree,id) -> higher "
    "(operators/graph.py::triangle_count): oriented out-degree is "
    "O(sqrt(E)), wedge join is O(E^1.5) instead of sum(deg^2) — the "
    "hub-safe formulation. Oracle counts the same triangles via the "
    "straightforward a<b triple self-join; both count each triangle "
    "exactly once.",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.graph import triangle_count

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    edges = _handoff_edges(o, c)
    return triangle_count(edges)


@register(
    "active_users_trailing_7d",
    """
    WITH ud AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day
      FROM events
    ),
    days AS (SELECT DISTINCT day FROM ud),
    w AS (
      SELECT DISTINCT u.user_id, d.day AS day_t
      FROM ud u JOIN days d
        ON d.day >= u.day AND d.day <= u.day + INTERVAL 6 DAYS
    )
    SELECT day_t, CAST(count(*) AS BIGINT) AS wau
    FROM w GROUP BY day_t
    """,
    doc="Trailing-7-day active users (WAU) per day. DISTINCT isn't "
    "decomposable over a sliding frame, so the scale-safe shape is "
    "contribution-explode: collapse to distinct (user, day) once, "
    "explode each into the <=7 window-end days it supports (narrow "
    "sequence/explode, no self-join of raw events), semi-join the "
    "observed days, distinct, count. Shuffles are keyed by (user, day) "
    "and day — both bounded — vs. the oracle's quadratic day-range "
    "join.",
)
def active_users_trailing_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).distinct()
    days = ud.select(F.col("day").alias("day_t")).distinct()
    contrib = ud.select(
        "user_id",
        F.explode_outer(  # outer: always 7 elements; skip inferred filter
            F.sequence(
                F.col("day"),
                F.col("day") + F.expr("INTERVAL 6 DAYS"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day_t"),
    )
    return (
        contrib.join(days, "day_t", "left_semi")
        .distinct()
        .groupBy("day_t")
        .agg(F.count(F.lit(1)).cast("long").alias("wau"))
    )


@register(
    "join_salted_lineitem_orders",
    """
    SELECT o_orderpriority,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           CAST(count(*) AS BIGINT) AS line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
    doc="Fact-fact join through operators/relational.py::salted_join: the "
    "left (lineitem) side is salted by a deterministic full-row xxhash64, "
    "the right side replicated num_salts x, join keyed (key, salt) — a "
    "hot orderkey's rows spread across 8 reducers instead of one task. "
    "The explicit form of AQE's skew split, for when AQE can't see the "
    "skew. Oracle is the plain join: salting is plan-only, results are "
    "provably identical.",
)
def join_salted_lineitem_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"), "l_extendedprice", "l_discount"
    )
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"), "o_orderpriority"
    )
    joined = R.salted_join(li, o, "okey", num_salts=8)
    return joined.groupBy("o_orderpriority").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
        ).alias("revenue"),
        F.count(F.lit(1)).cast("long").alias("line_count"),
    )


@register(
    "stat_order_value_corr",
    """
    SELECT c_mktsegment,
           corr(o_totalprice, c_acctbal) AS price_acctbal_corr,
           covar_samp(o_totalprice, c_acctbal) AS price_acctbal_covar,
           stddev_samp(o_totalprice) AS price_stddev,
           var_pop(c_acctbal) AS acctbal_varp
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
    doc="Bivariate statistics per market segment: Pearson correlation, "
    "sample covariance, stddev, population variance — all JVM-side "
    "decomposable aggregates (partial + final HashAggregate, one "
    "shuffle keyed by segment). skewness/kurtosis deliberately excluded: "
    "Spark and DuckDB use different bias corrections.",
)
def stat_order_value_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.corr("o_totalprice", "c_acctbal").alias("price_acctbal_corr"),
            F.covar_samp("o_totalprice", "c_acctbal").alias("price_acctbal_covar"),
            F.stddev_samp("o_totalprice").alias("price_stddev"),
            F.var_pop("c_acctbal").alias("acctbal_varp"),
        )
    )


@register(
    "stat_ab_welch_ttest",
    """
    WITH e AS (
      SELECT event_type, value,
             date_part('day', CAST(ts AS TIMESTAMP)) <= 15 AS grp_a
      FROM events
    ),
    s AS (
      SELECT event_type,
             CAST(count(CASE WHEN grp_a THEN 1 END) AS BIGINT) AS n_a,
             CAST(count(CASE WHEN NOT grp_a THEN 1 END) AS BIGINT) AS n_b,
             avg(CASE WHEN grp_a THEN value END) AS avg_a,
             avg(CASE WHEN NOT grp_a THEN value END) AS avg_b,
             var_samp(CASE WHEN grp_a THEN value END) AS var_a,
             var_samp(CASE WHEN NOT grp_a THEN value END) AS var_b
      FROM e GROUP BY event_type
    )
    SELECT event_type, n_a, n_b,
           (avg_a - avg_b) / sqrt(var_a / n_a + var_b / n_b) AS t_stat
    FROM s
    """,
    doc="Welch two-sample t statistic per event type (A = first half of "
    "the month, B = second): entirely from decomposable conditional "
    "aggregates (count/avg/var_samp over CASE), so the whole test is one "
    "aggregation pass — no per-group data pull, no UDF. The shape a "
    "metrics pipeline uses for A/B readouts at any scale.",
)
def stat_ab_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    grp_a = F.dayofmonth("ts") <= 15
    a_val = F.when(grp_a, F.col("value"))
    b_val = F.when(~grp_a, F.col("value"))
    s = ev.groupBy("event_type").agg(
        F.count(a_val).cast("long").alias("n_a"),
        F.count(b_val).cast("long").alias("n_b"),
        F.avg(a_val).alias("avg_a"),
        F.avg(b_val).alias("avg_b"),
        F.var_samp(a_val).alias("var_a"),
        F.var_samp(b_val).alias("var_b"),
    )
    t = (F.col("avg_a") - F.col("avg_b")) / F.sqrt(
        F.col("var_a") / F.col("n_a") + F.col("var_b") / F.col("n_b")
    )
    return s.select("event_type", "n_a", "n_b", t.alias("t_stat"))


@register(
    "stat_spearman_by_segment",
    """
    WITH j AS (
      SELECT c_mktsegment, o_orderkey, o_totalprice, c_acctbal
      FROM orders JOIN customer ON o_custkey = c_custkey
    ),
    r AS (
      SELECT c_mktsegment,
             rank() OVER (PARTITION BY c_mktsegment
                          ORDER BY o_totalprice, o_orderkey) AS r_price,
             rank() OVER (PARTITION BY c_mktsegment
                          ORDER BY c_acctbal, o_orderkey) AS r_bal
      FROM j
    )
    SELECT c_mktsegment, corr(r_price, r_bal) AS spearman
    FROM r GROUP BY c_mktsegment
    """,
    doc="Spearman rank correlation per segment: two ranking windows over "
    "the SAME partition key (Spark reuses one shuffle for both sorts) "
    "with a unique tiebreaker making ranks a strict permutation, then "
    "Pearson corr of the ranks. Partitioned windows keep every sort "
    "segment-local — no global single-task orderBy.",
)
def stat_spearman_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    j = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        "c_mktsegment", "o_orderkey", "o_totalprice", "c_acctbal"
    )
    w_price = Window.partitionBy("c_mktsegment").orderBy("o_totalprice", "o_orderkey")
    w_bal = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "o_orderkey")
    r = j.select(
        "c_mktsegment",
        F.rank().over(w_price).alias("r_price"),
        F.rank().over(w_bal).alias("r_bal"),
    )
    return r.groupBy("c_mktsegment").agg(
        F.corr("r_price", "r_bal").alias("spearman")
    )


@register(
    "mix_to_token_budget",
    """
    WITH d AS (
      SELECT doc_id, source,
             CAST(len(list_filter(string_split(lower(text), ' '),
                                  t -> t <> '')) AS BIGINT) AS tok,
             CASE WHEN CAST(substring(source, 4) AS INT) % 2 = 0
                  THEN 2.0 ELSE 1.0 END AS w
      FROM documents
    ),
    tot AS (SELECT sum(tok) AS total_tok FROM d),
    wsum AS (SELECT sum(w) AS w_total FROM (SELECT DISTINCT source, w FROM d)),
    b AS (
      SELECT source, min(w) * 0.3 * tot.total_tok / wsum.w_total AS budget
      FROM d CROSS JOIN tot CROSS JOIN wsum
      GROUP BY source, tot.total_tok, wsum.w_total
    ),
    sel AS (
      SELECT d.source, d.tok,
             sum(d.tok) OVER (PARTITION BY d.source
                              ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id
                             ) AS cum,
             b.budget
      FROM d JOIN b ON d.source = b.source
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS kept_docs,
           CAST(sum(tok) AS BIGINT) AS kept_tokens
    FROM sel WHERE cum - tok < budget
    GROUP BY source
    """,
    doc="Training-mix construction: select documents per source, in "
    "content-addressed md5 order, until each source hits its token "
    "budget (30% of the corpus, split by per-source weights — even "
    "sources get 2x odd). operators/sampling.py::take_to_budget: "
    "budgets are a broadcast (source, budget) table; the selection is "
    "ONE window cumsum over the source shuffle — no driver loop, no "
    "second pass; the boundary row is kept (budget = floor).",
    tags=("graded",),
)
def mix_to_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import take_to_budget

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        T.token_count("text").cast("long").alias("tok"),
        F.when(
            F.expr("CAST(substring(source, 4) AS INT)") % 2 == 0, F.lit(2.0)
        )
        .otherwise(F.lit(1.0))
        .alias("w"),
    )
    tot = d.agg(F.sum("tok").alias("total_tok"))
    per_src = d.groupBy("source").agg(F.min("w").alias("w"))
    w_total = per_src.agg(F.sum("w").alias("w_total"))
    budgets = (
        per_src.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(w_total))
        .select(
            "source",
            (
                F.col("w") * F.lit(0.3) * F.col("total_tok") / F.col("w_total")
            ).alias("budget"),
        )
    )
    kept = take_to_budget(
        d, "source", "tok", budgets,
        order_key=F.concat(F.md5(F.col("doc_id").cast("string")),
                           F.col("doc_id").cast("string")),
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("kept_docs"),
        F.sum("tok").cast("long").alias("kept_tokens"),
    )


@register(
    "docs_chunk_overlap",
    """
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    s AS (
      SELECT doc_id, toks,
             unnest(generate_series(1, len(toks), 20)) AS start
      FROM t
    )
    SELECT doc_id, CAST(start AS INT) AS start,
           array_to_string(toks[start:start + 29], ' ') AS chunk_text,
           CAST(least(30, len(toks) - start + 1) AS INT) AS chunk_tokens
    FROM s
    """,
    doc="Document chunking with overlap (window 30 tokens, stride 20): "
    "split + sequence + explode + slice + concat_ws — one narrow "
    "codegen'd projection, zero shuffle, each doc fans out "
    "independently. The standard context-window preprocessing step; at "
    "100 TB this runs map-only and scales linearly with input splits.",
)
def docs_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    t = d.select("doc_id", F.split("text", " ").alias("toks"))
    s = t.select(
        "doc_id",
        "toks",
        F.explode_outer(  # outer: size(toks) >= 1, so never empty
            F.sequence(F.lit(1), F.size("toks"), F.lit(20))
        ).alias("start"),
    )
    return s.select(
        "doc_id",
        F.col("start").cast("int").alias("start"),
        F.concat_ws(" ", F.slice("toks", F.col("start"), F.lit(30))).alias(
            "chunk_text"
        ),
        F.least(F.lit(30), F.size("toks") - F.col("start") + 1)
        .cast("int")
        .alias("chunk_tokens"),
    )


@register(
    "embedding_matryoshka_retention",
    """
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    )
    SELECT vec_id,
           sqrt(list_aggregate(list_transform(v[1:8], x -> x * x), 'sum'))
             AS norm8,
           sqrt(list_aggregate(list_transform(v[1:8], x -> x * x), 'sum'))
             / sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum'))
             AS retained
    FROM e
    """,
    doc="Matryoshka-style truncation probe: L2 norm of the first 8 "
    "dimensions and the fraction of the full norm it retains — the "
    "metric that decides how far MRL embeddings can be truncated for "
    "cheap first-stage retrieval. Pure higher-order-function "
    "arithmetic (slice/transform/aggregate), zero shuffle, map-only.",
)
def embedding_matryoshka_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    sq_sum = lambda col: F.aggregate(  # noqa: E731
        F.transform(col, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
    )
    norm8 = F.sqrt(sq_sum(F.slice("v", 1, 8)))
    norm_full = F.sqrt(sq_sum(F.col("v")))
    return e.select(
        "vec_id",
        norm8.alias("norm8"),
        (norm8 / norm_full).alias("retained"),
    )


@register(
    "ann_topk_pq",
    None,
    doc="Product-quantization ANN: 8 subspaces x 16 centroids (Lloyd on a "
    "bounded deterministic sample), vectors encoded to 8-byte codes "
    "(32x state compression), asymmetric-distance candidate scan fully "
    "JVM-side (per-query distance table rides as a column on the "
    "broadcast query side), exact cosine rerank of the k*4 shortlist. "
    "Rows-only check; recall contract in tests/test_ann_quality.py.",
)
def ann_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    return S.ann_topk_pq(e, q, k=5)


@register(
    "ann_pq_recall_contract",
    """
    WITH ranked AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(
                          CAST(e.embedding AS DOUBLE[]),
                          CAST(q.embedding AS DOUBLE[])) DESC,
                        e.vec_id) AS rank
      FROM embeddings e, embeddings q
      WHERE q.vec_id < 5 AND e.vec_id <> q.vec_id),
    top AS (SELECT * FROM ranked WHERE rank <= 5)
    SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries,
           CAST(sum(rank * neighbor_id) AS BIGINT) AS exact_topk_checksum,
           TRUE AS pq_recall_ok
    FROM top
    """,
    doc="Accuracy contract for the product-quantization path (same "
    "agg_approx pattern as ann_ivf_recall_contract, same config as the "
    "registered ann_topk_pq: 8x16 codebooks, ADC scan, k*4 exact "
    "rerank): exact brute-force top-5 value-checked (count + rank*id "
    "checksum) against the oracle's own SQL, plus pq_recall_ok = PQ "
    "recall >= 0.2. Uniform random fixtures are PQ's worst case — 64d "
    "compressed 32x to 8 bytes leaves ~2 bits/dim, so ADC ordering is "
    "noisy when all corpus points are near-equidistant; measured recall "
    "0.32-1.0 across sf0.001-sf1 (1.0 on sf1's clustered mixtures). "
    "Floor is a regression tripwire: a broken encoder or distance table "
    "sends recall to ~k/n, never just below 0.2.",
)
def ann_pq_recall_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    exact = S.ann_topk_bruteforce(e, q, k=5, include_sim=False)
    pq = S.ann_topk_pq(e, q, k=5)
    return _ann_recall_contract(exact, pq, 200000, "pq_recall_ok")


def _label_propagation_oracle(iterations: int = 4) -> str:
    """Unrolled synchronous label propagation (same generated-CTE posture
    as _pagerank_handoff_oracle — DuckDB recursive CTEs forbid the
    aggregate-over-recursive-reference each round needs)."""
    sql = _HANDOFF_EDGES_CTE + """,
    nbr AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
    l0 AS (SELECT DISTINCT src AS node, src AS label FROM nbr)
    """
    for i in range(iterations):
        sql += f""",
    v{i} AS (SELECT n.src AS node, l.label, count(*) AS cnt
             FROM nbr n JOIN l{i} l ON n.dst = l.node GROUP BY 1, 2),
    l{i + 1} AS (SELECT node, label FROM (
        SELECT node, label, row_number() OVER (
            PARTITION BY node ORDER BY cnt DESC, label ASC) AS rn
        FROM v{i}) WHERE rn = 1)
    """
    return sql + f"SELECT node AS custkey, label AS community FROM l{iterations}"


@register(
    "graph_label_propagation",
    _label_propagation_oracle(),
    doc="Synchronous label propagation (4 rounds) over the undirected "
    "customer handoff graph (same edge construction as "
    "pagerank_customer_handoff): every node adopts its neighbors' most "
    "frequent label, ties to the smallest — deterministic community "
    "detection. operators/graph.py::label_propagation persists the "
    "symmetric neighbor list once (built in ONE explode pass, pre-"
    "partitioned on the per-round join key), does ONE map-side-combined "
    "shuffle per round (per-(node,label) counts, not per-edge rows) plus "
    "a sortless min_by argmax on the total (-cnt, label) key, and "
    "localCheckpoints every 2 rounds to bound plan depth. Oracle = "
    "identical recurrence unrolled into CTEs.",
    tags=("graded", "bench"),
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.graph import label_propagation

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    edges = _handoff_edges(o, c)
    out = label_propagation(edges, iterations=4)
    return out.select(F.col("node").alias("custkey"), "community")


@register(
    "graph_connected_components_dupes",
    """
    SELECT CAST(min(doc_id) AS BIGINT) AS component,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum(doc_id) AS BIGINT) AS sum_ids
    FROM documents
    GROUP BY md5(array_to_string((string_split(text, ' '))[1:8], ' '))
    HAVING count(*) > 1
    """,
    doc="Duplicate-group consolidation via connected components — the "
    "step between a pair emitter and survivor selection: docs sharing an "
    "8-word prefix fingerprint (boilerplate-header clustering; full-text "
    "md5 finds zero dups in this corpus) are strung into CHAINS (each "
    "doc linked only to its predecessor inside its group, so the "
    "transitive closure is non-trivial), and "
    "operators/graph.py::connected_components (hash-to-min + pointer "
    "jumping, O(log diameter) rounds, monotone label-sum early stop) "
    "must recover every full group: component = min doc id, exact "
    "member count and id sum per group. The oracle computes the "
    "ground-truth groups directly from the fingerprint, so any under- "
    "or over-merging by the iterative closure mismatches exactly.",
    tags=("graded", "bench"),
)
def graph_connected_components_dupes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .operators.graph import connected_components

    d = _t(spark, sf_dir, "documents")
    fp = F.md5(F.concat_ws(" ", F.slice(F.split("text", " "), 1, 8)))
    w = Window.partitionBy(fp).orderBy("doc_id")
    edges = (
        d.select(
            F.lag("doc_id").over(w).alias("src"),
            F.col("doc_id").alias("dst"),
        )
        .where(F.col("src").isNotNull())
    )
    cc = connected_components(edges)
    return cc.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum("node").cast("bigint").alias("sum_ids"),
    )


@register(
    "drift_psi_order_price",
    """
    WITH b AS (
      SELECT least(CAST(floor(o_totalprice / 30000.0) AS INT), 9) AS bin,
             CASE WHEN o_orderdate < DATE '1995-06-01' THEN 1 ELSE 0 END AS is_base
      FROM orders
    ),
    g AS (
      SELECT bin,
             CAST(sum(is_base) AS BIGINT) AS n_base,
             CAST(sum(1 - is_base) AS BIGINT) AS n_curr
      FROM b GROUP BY bin
    ),
    p AS (
      SELECT bin, n_base, n_curr,
             (n_base + 0.5) / (sum(n_base) OVER () + 5.0) AS p_base,
             (n_curr + 0.5) / (sum(n_curr) OVER () + 5.0) AS p_curr
      FROM g
    )
    SELECT bin, n_base, n_curr, p_base, p_curr,
           (p_base - p_curr) * ln(p_base / p_curr) AS psi_term,
           sum((p_base - p_curr) * ln(p_base / p_curr)) OVER () AS psi_total
    FROM p
    """,
    doc="Population-stability-index drift monitor: order-value "
    "distribution before vs after 1995-06-01 over 10 fixed-width bins "
    "(capped top bin), Laplace-smoothed (+0.5/bin) so one-sided bins "
    "stay finite. Single scan: both periods' bin counts come from ONE "
    "conditional aggregation (no per-period pass or self-join); the "
    "normalizing totals and the PSI sum are windows over the 10-row "
    "aggregate, so post-shuffle data is O(bins) regardless of input "
    "scale. The canonical feature-drift gate for training pipelines.",
    tags=("graded", "bench"),
)
def drift_psi_order_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        F.least(
            F.floor(F.col("o_totalprice") / F.lit(30000.0)).cast("int"), F.lit(9)
        ).alias("bin"),
        F.when(F.col("o_orderdate") < F.lit("1995-06-01").cast("date"), 1)
        .otherwise(0)
        .alias("is_base"),
    )
    g = o.groupBy("bin").agg(
        F.sum("is_base").cast("long").alias("n_base"),
        F.sum(F.lit(1) - F.col("is_base")).cast("long").alias("n_curr"),
    )
    everything = Window.partitionBy()
    p = g.select(
        "bin",
        "n_base",
        "n_curr",
        (
            (F.col("n_base") + F.lit(0.5))
            / (F.sum("n_base").over(everything) + F.lit(5.0))
        ).alias("p_base"),
        (
            (F.col("n_curr") + F.lit(0.5))
            / (F.sum("n_curr").over(everything) + F.lit(5.0))
        ).alias("p_curr"),
    )
    term = (F.col("p_base") - F.col("p_curr")) * F.log(
        F.col("p_base") / F.col("p_curr")
    )
    return p.select(
        "bin",
        "n_base",
        "n_curr",
        "p_base",
        "p_curr",
        term.alias("psi_term"),
        F.sum(term).over(everything).alias("psi_total"),
    )


@register(
    "sample_group_reservoir",
    """
    SELECT event_type, event_id, value FROM (
      SELECT event_type, event_id, value,
             row_number() OVER (
               PARTITION BY event_type
               ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rn
      FROM events
    ) WHERE rn <= 20
    """,
    doc="Per-group exact-k uniform reservoir (k=20 per event_type): rank "
    "rows by md5(event_id) within each group and keep the first 20 — "
    "content-addressed randomness, so the same 20 rows come back on any "
    "engine, partitioning, or re-run (a seeded reservoir is neither). "
    "One shuffle on the group key; the rank is a per-group TOP-k, so "
    "with few groups at 100 TB pre-gate with an md5-prefix threshold "
    "chosen to over-select >=k per group (e.g. keep hash < k*8/n_group "
    "of the keyspace), then rank only the survivors — the window input "
    "drops from the full table to a constant multiple of k*groups.",
)
def sample_group_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("event_type", "event_id", "value")
    w = Window.partitionBy("event_type").orderBy(
        F.md5(F.col("event_id").cast("string")), F.col("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("event_type", "event_id", "value")
    )


@register(
    "udtf_sentence_split",
    """
    WITH s AS (SELECT doc_id, string_split(text, '. ') AS parts
               FROM documents WHERE doc_id < 500),
    u AS (SELECT doc_id,
                 CAST(unnest(generate_series(1, len(parts))) AS INT) - 1
                   AS sent_idx,
                 unnest(parts) AS sentence
          FROM s)
    SELECT doc_id, sent_idx, sentence, CAST(length(sentence) AS INT) AS n_chars
    FROM u
    """,
    doc="Python UDTF surface (Spark 4 @udtf + SQL LATERAL): per-document "
    "sentence expansion through functions/udtfs.py::SentenceSplit, "
    "Arrow-batched (useArrow=True). Covers the row->rows extension API "
    "class — the eval loop is Python, so this is deliberately NOT the "
    "hot path (docs_chunk_overlap is the HOF equivalent); use a UDTF "
    "only when the expansion logic needs Python (external tokenizer, "
    "parser lib). eval mirrors DuckDB string_split (literal, trailing "
    "empties kept) so the lateral join is value-checked by the oracle.",
    tags=("graded",),
)
def udtf_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.udtfs import register_udtfs

    register_udtfs(spark)
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    d.createOrReplaceTempView("__udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, s.sent_idx, s.sentence, s.n_chars
        FROM __udtf_docs d, LATERAL sentence_split(d.text) s
        """
    )


@register(
    "drift_ks_order_price",
    """
    WITH b AS (
      SELECT least(CAST(floor(o_totalprice / 500.0) AS INT), 999) AS bin,
             CASE WHEN o_orderdate < DATE '1995-06-01' THEN 1 ELSE 0 END AS is_base
      FROM orders
    ),
    g AS (SELECT bin, sum(is_base) AS na, sum(1 - is_base) AS nb
          FROM b GROUP BY bin),
    c AS (SELECT bin, na, nb,
                 CAST(sum(na) OVER (ORDER BY bin) AS DOUBLE)
                   / sum(na) OVER () AS fa,
                 CAST(sum(nb) OVER (ORDER BY bin) AS DOUBLE)
                   / sum(nb) OVER () AS fb
          FROM g)
    SELECT max(abs(fa - fb)) AS ks_d,
           CAST(sum(na) AS BIGINT) AS n_base,
           CAST(sum(nb) AS BIGINT) AS n_curr
    FROM c
    """,
    doc="Two-sample Kolmogorov-Smirnov drift statistic on the order-value "
    "distribution (before vs after 1995-06-01), the rank-based companion "
    "to drift_psi_order_price: D = max |ECDF_a - ECDF_b| over a 1000-bin "
    "quantization. Scale shape: ONE conditional aggregation collapses "
    "the table to <=1000 (bin, na, nb) rows — the only pass over the "
    "data — and the ordered ECDF windows then run on that bounded "
    "aggregate, so the unavoidable single-ordering step is O(bins), not "
    "O(rows), at any input scale. Binning makes D an approximation with "
    "error <= bin mass, the standard streaming-KS tradeoff.",
    tags=("graded",),
)
def drift_ks_order_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        F.least(
            F.floor(F.col("o_totalprice") / F.lit(500.0)).cast("int"), F.lit(999)
        ).alias("bin"),
        F.when(F.col("o_orderdate") < F.lit("1995-06-01").cast("date"), 1)
        .otherwise(0)
        .alias("is_base"),
    )
    g = o.groupBy("bin").agg(
        F.sum("is_base").alias("na"),
        F.sum(F.lit(1) - F.col("is_base")).alias("nb"),
    )
    wcum = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    c = g.select(
        "na",
        "nb",
        (F.sum("na").over(wcum).cast("double") / F.sum("na").over(wall)).alias("fa"),
        (F.sum("nb").over(wcum).cast("double") / F.sum("nb").over(wall)).alias("fb"),
    )
    return c.agg(
        F.max(F.abs(F.col("fa") - F.col("fb"))).alias("ks_d"),
        F.sum("na").cast("long").alias("n_base"),
        F.sum("nb").cast("long").alias("n_curr"),
    )


@register(
    "timeseries_twap_user",
    """
    WITH h AS (
      SELECT user_id, value,
             CAST(date_diff('microsecond', CAST(ts AS TIMESTAMP),
                    lead(CAST(ts AS TIMESTAMP)) OVER (
                      PARTITION BY user_id
                      ORDER BY CAST(ts AS TIMESTAMP), event_id))
                  AS DOUBLE) / 1000000.0 AS dur
      FROM events
    )
    SELECT user_id,
           sum(value * dur) / sum(dur) AS twap,
           sum(dur) AS span_sec,
           CAST(count(dur) AS BIGINT) AS n_holds
    FROM h WHERE dur IS NOT NULL
    GROUP BY user_id HAVING sum(dur) > 0
    """,
    doc="Time-weighted average per user (TimescaleDB time_weight / "
    "kdb+ twap analog): each observation's value is held until the next "
    "one (LOCF weighting), weight = hold duration, last point carries no "
    "weight. lead() over (user_id; ts, event_id) — deterministic "
    "tie-break, zero-duration ties contribute 0 to both sums — then one "
    "per-user rollup sharing the same user_id shuffle as the window. "
    "The honest average for irregularly-sampled series, where the plain "
    "avg() overweights bursts.",
    tags=("graded", "bench"),
)
def timeseries_twap_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dur = (
        (F.unix_micros(F.lead("ts").over(w)) - F.unix_micros(F.col("ts")))
        .cast("double") / 1_000_000.0
    )
    return (
        e.select("user_id", "value", dur.alias("dur"))
        .filter(F.col("dur").isNotNull())
        .groupBy("user_id")
        .agg(
            (F.sum(F.col("value") * F.col("dur")) / F.sum("dur")).alias("twap"),
            F.sum("dur").alias("span_sec"),
            F.count("dur").alias("n_holds"),
        )
        .filter(F.col("span_sec") > 0)
        .select("user_id", "twap", "span_sec", "n_holds")
    )


def _bfs_oracle(max_hops: int = 4) -> str:
    """Unrolled frontier BFS (generated CTEs, same posture as the other
    iterative oracles — DuckDB recursive CTEs can't express the
    visited-set anti-join per round)."""
    sql = _HANDOFF_EDGES_CTE + """,
    r0 AS (SELECT DISTINCT c_custkey AS node, 0 AS dist
           FROM customer WHERE c_nationkey = 0),
    f0 AS (SELECT node FROM r0)
    """
    for i in range(1, max_hops + 1):
        sql += f""",
    n{i} AS (SELECT DISTINCT e.dst AS node FROM edges e
             JOIN f{i - 1} f ON e.src = f.node
             WHERE e.dst NOT IN (SELECT node FROM r{i - 1})),
    r{i} AS (SELECT node, dist FROM r{i - 1}
             UNION ALL SELECT node, {i} AS dist FROM n{i}),
    f{i} AS (SELECT node FROM n{i})
    """
    return sql + f"SELECT node AS custkey, dist FROM r{max_hops}"


@register(
    "graph_bfs_distance",
    _bfs_oracle(),
    doc="Hop distance (directed BFS, 4 rounds) from nation-0 customers "
    "over the customer handoff graph. operators/graph.py::bfs_levels is "
    "frontier-delta iteration — each round joins only the NEWLY found "
    "frontier to the edges (O(frontier-adjacent edges) shuffle), with "
    "one left_anti against the accumulated visited set, and "
    "localCheckpoint bounding the union-grown plan — the shape that "
    "keeps distributed BFS linear instead of quadratic in rounds. "
    "Oracle = the identical frontier recurrence unrolled into CTEs.",
    tags=("graded",),
)
def graph_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.graph import bfs_levels

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    edges = _handoff_edges(o, c)
    seeds = c.filter(F.col("c_nationkey") == 0).select("c_custkey")
    out = bfs_levels(edges, seeds, max_hops=4)
    return out.select(F.col("node").alias("custkey"), "dist")


@register(
    "skyline_parts",
    """
    SELECT p_partkey, p_retailprice, p_size FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM part q
      WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
        AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
    )
    """,
    doc="2-D Pareto skyline of parts (minimize retail price, maximize "
    "size): the multi-objective curation filter. operators/relational.py"
    "::skyline_2d collapses to one (price, best-size) row per distinct "
    "price (the only full pass, map-side combined), takes a running best "
    "over strictly-cheaper prices on that O(distinct) aggregate, and "
    "broadcast-joins the verdict back — vs the oracle's DELIBERATELY "
    "independent quadratic NOT EXISTS self-join, so the check is a real "
    "cross-formulation proof, not a mirror.",
    tags=("graded", "bench"),
)
def skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.relational import skyline_2d

    p = _t(spark, sf_dir, "part").select("p_partkey", "p_retailprice", "p_size")
    return skyline_2d(p, "p_retailprice", "p_size")


@register(
    "anomaly_rolling_zscore",
    """
    WITH w AS (
      SELECT user_id, event_id, value,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS vm,
             sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) OVER win AS s,
             sum(CAST(floor(value * 100 + 0.5) AS BIGINT)
                 * CAST(floor(value * 100 + 0.5) AS BIGINT)) OVER win AS q,
             count(*) OVER win AS n
      FROM events
      WINDOW win AS (PARTITION BY user_id
                     ORDER BY CAST(ts AS TIMESTAMP), event_id
                     ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
    ), g AS (
      SELECT user_id, event_id, value,
             vm * n - s AS d, q * n - s * s AS varnum, n
      FROM w
    )
    SELECT user_id, event_id, value,
           CAST(d AS DOUBLE) * sqrt(CAST(n - 1 AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(varnum AS DOUBLE))) AS z
    FROM g
    WHERE n >= 5 AND varnum > 0
      AND CAST(d AS HUGEINT) * d * (n - 1) > 9 * n * CAST(varnum AS HUGEINT)
    """,
    doc="Rolling z-score anomaly detection: each event scored against the "
    "trailing 20 observations of ITS OWN user (current row excluded so "
    "the anomaly can't mask itself), flagged at |z|>3 with a "
    "5-observation warm-up, one (user_id; ts, event_id) window sort. "
    "The |z|>3 DECISION is exact integer arithmetic over centi-unit "
    "(the value column's own 2-decimal grid — 1e6 scale overflowed "
    "int64 in the s^2 term) "
    "window sums — (v*n - s)^2 * (n-1) > 9 * n * (q*n - s^2) in "
    "HUGEINT/DECIMAL — because engine-internal rolling mean/stddev "
    "accumulation orders differ and duplicate-heavy windows (real at "
    "sf1) make borderline z hypersensitive (5-row flips) while exactly "
    "zero variance threw DIVIDE_BY_ZERO under ANSI. varnum > 0 is the "
    "exact zero-variance guard; the reported z derives from the same "
    "exact integers via correctly-rounded casts, so it is bit-identical "
    "too.",
)
def anomaly_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-20, -1)
    )
    vm = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    scored = e.select(
        "user_id",
        "event_id",
        "value",
        vm.alias("vm"),
        F.sum(vm).over(w).alias("s"),
        F.sum(vm * vm).over(w).alias("q"),
        F.count(F.lit(1)).over(w).alias("n"),
    )
    # exact-integer threshold decision (see the oracle doc): d and varnum
    # are exact BIGINTs of micro-unit sums; the comparison lifts to
    # DECIMAL(38,0) because d^2*(n-1) can exceed int64
    d = F.col("vm") * F.col("n") - F.col("s")
    varnum = F.col("q") * F.col("n") - F.col("s") * F.col("s")
    lhs = d.cast("decimal(38,0)") * d * (F.col("n") - 1)
    rhs = (
        F.lit(9).cast("decimal(38,0)") * F.col("n") * varnum
    )
    z = d.cast("double") * F.sqrt(
        (F.col("n") - 1).cast("double")
        / (F.col("n").cast("double") * varnum.cast("double"))
    )
    return (
        scored.filter(
            (F.col("n") >= 5) & (varnum > 0) & (lhs > rhs)
        )
        .select("user_id", "event_id", "value", z.alias("z"))
    )


@register(
    "stat_ols_price_trend",
    """
    WITH p AS (
      SELECT c_nationkey AS nation,
             CAST(date_diff('day', DATE '1992-01-01', o_orderdate) AS DOUBLE) AS x,
             o_totalprice AS y
      FROM orders JOIN customer ON o_custkey = c_custkey
    ),
    s AS (
      SELECT nation, CAST(count(*) AS BIGINT) AS n,
             sum(x) AS sx, sum(y) AS sy, sum(x * x) AS sxx, sum(x * y) AS sxy
      FROM p GROUP BY nation
    )
    SELECT nation, n,
           (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
           (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n AS intercept
    FROM s WHERE n * sxx - sx * sx <> 0
    """,
    doc="Per-nation OLS trend of order value over time (closed-form "
    "simple regression): ONE map-side-combined aggregation collects the "
    "five sufficient statistics (n, Sx, Sy, Sxx, Sxy); slope/intercept "
    "are scalar arithmetic on the 25-row aggregate. The one-pass "
    "sufficient-statistics shape is the only formulation that scales — "
    "no residual pass, no matrix, no per-group collect. Degenerate "
    "(zero-variance-x) groups are excluded identically in both engines.",
)
def stat_ols_price_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    p = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        F.col("c_nationkey").alias("nation"),
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date"))
        .cast("double")
        .alias("x"),
        F.col("o_totalprice").alias("y"),
    )
    s = p.groupBy("nation").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    det = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / det
    return (
        s.filter(det != 0)
        .select(
            "nation",
            "n",
            slope.alias("slope"),
            ((F.col("sy") - slope * F.col("sx")) / F.col("n")).alias("intercept"),
        )
    )


@register(
    "outliers_mad_by_type",
    """
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ),
    dev AS (
      SELECT e.event_type, m.med,
             quantile_cont(abs(e.value - m.med), 0.5) AS mad
      FROM events e JOIN med m ON e.event_type = m.event_type
      GROUP BY e.event_type, m.med
    )
    SELECT e.event_type, d.med, d.mad,
           CAST(sum(CASE WHEN abs(e.value - d.med) > 3.0 * 1.4826 * d.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           CAST(count(*) AS BIGINT) AS n_total
    FROM events e JOIN dev d ON e.event_type = d.event_type
    GROUP BY e.event_type, d.med, d.mad
    """,
    doc="Median-absolute-deviation outlier gate per event type — the "
    "robust alternative to mean/stddev (one wild value moves a z-score "
    "gate's own threshold; the median/MAD gate it cannot). Three "
    "aggregation passes (median -> MAD -> flag count), each reusing the "
    "same event_type shuffle key; the per-type medians travel as a "
    "broadcast join (5 rows). Exact interpolated percentile on both "
    "engines (Spark percentile == DuckDB quantile_cont, verified "
    "bit-for-bit on interpolated cases); 1.4826 = consistency constant "
    "for normal data.",
)
def outliers_mad_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").select("event_type", "value")
    med = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    dev = (
        e.join(F.broadcast(med), "event_type")
        .groupBy("event_type", "med")
        .agg(
            F.percentile(F.abs(F.col("value") - F.col("med")), F.lit(0.5)).alias(
                "mad"
            )
        )
    )
    thr = F.lit(3.0) * F.lit(1.4826) * F.col("mad")
    return (
        e.join(F.broadcast(dev), "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.sum(
                F.when(F.abs(F.col("value") - F.col("med")) > thr, 1).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
            F.count(F.lit(1)).alias("n_total"),
        )
        .select("event_type", "med", "mad", "n_outliers", "n_total")
    )


@register(
    "survival_kaplan_meier",
    """
    WITH last AS (
      SELECT user_id, max(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS last_day
      FROM events GROUP BY user_id
    ),
    d AS (SELECT last_day AS day, CAST(count(*) AS BIGINT) AS deaths
          FROM last GROUP BY last_day),
    r AS (
      SELECT day, deaths,
             CAST(sum(deaths) OVER (ORDER BY day DESC) AS BIGINT) AS at_risk
      FROM d
    )
    SELECT day, deaths, at_risk,
           exp(sum(ln(1.0 - CAST(deaths AS DOUBLE) / at_risk))
                 OVER (ORDER BY day)) AS survival
    FROM r WHERE deaths < at_risk
    """,
    doc="Kaplan-Meier survival curve of user lifetime: death day = a "
    "user's last observed event day; at-risk(d) = users whose last day "
    ">= d (a DESC cumulative sum — no self-join); S(d) = running product "
    "of (1 - deaths/at_risk), computed as exp(sum(ln ...)) so the "
    "product is an ordered-window SUM, the associative form engines can "
    "run distributed. Input collapses to one row per user then one row "
    "per DAY before any window touches it, so the ordered steps are "
    "O(days). The terminal day (deaths == at_risk, survival 0) is "
    "excluded on both sides — Spark ln(0) is NULL while DuckDB is -inf, "
    "the one place the engines' math disagrees.",
)
def survival_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    last = e.groupBy("user_id").agg(
        F.max(F.col("ts").cast("date")).alias("last_day")
    )
    d = last.groupBy(F.col("last_day").alias("day")).agg(
        F.count(F.lit(1)).alias("deaths")
    )
    w_desc = Window.orderBy(F.col("day").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    r = d.select(
        "day",
        "deaths",
        F.sum("deaths").over(w_desc).cast("long").alias("at_risk"),
    )
    w_asc = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    surv = F.exp(
        F.sum(
            F.log(F.lit(1.0) - F.col("deaths").cast("double") / F.col("at_risk"))
        ).over(w_asc)
    )
    return (
        r.filter(F.col("deaths") < F.col("at_risk"))
        .select("day", "deaths", "at_risk", surv.alias("survival"))
    )


@register(
    "sql_recursive_hierarchy",
    """
    WITH RECURSIVE up AS (
      SELECT c_custkey, CAST(c_custkey AS BIGINT) AS anc, 0 AS depth
      FROM customer
      UNION ALL
      SELECT c_custkey, CAST(FLOOR(anc / 10.0) AS BIGINT) AS anc, depth + 1
      FROM up WHERE anc >= 10
    ),
    roots AS (
      SELECT c_custkey, anc AS root, depth FROM up WHERE anc < 10
    )
    SELECT r.root, CAST(count(*) AS BIGINT) AS n_members,
           CAST(max(r.depth) AS BIGINT) AS max_depth,
           sum(CAST(floor(c.c_acctbal * 100) AS BIGINT)) / 100e0
             AS subtree_acctbal
    FROM roots r JOIN customer c ON r.c_custkey = c.c_custkey
    GROUP BY r.root
    """,
    doc="Hierarchy rollup via Spark 4's native WITH RECURSIVE (the "
    "SQL-standard recursive CTE, new in Spark 4.0): each customer walks "
    "up a synthetic decimal-digit org forest (parent = custkey div 10) "
    "to its single-digit root, then the forest is aggregated per root "
    "(member count, max depth, subtree balance). Recursion depth is "
    "O(log10 keys) rounds, each round one narrow projection over the "
    "still-walking rows — the iterative-union shape Spark executes "
    "without any driver-side loop. Oracle = the identical recursive CTE "
    "in DuckDB, a true cross-engine check of recursion semantics "
    "(termination, UNION ALL accumulation, type unification). The subtree "
    "balance is summed as integer cents (floor(x*100) -> BIGINT) so the "
    "aggregate is exact and combine-order-independent — the float-sum "
    "knife-edge discipline (see attribution_linear).",
    tags=("graded",),
)
def sql_recursive_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Spark's recursion guard (spark.sql.cteRecursionRowLimit, default 1M
    # ROWS ACCUMULATED ACROSS ALL ROUNDS) is a safety valve, not a
    # semantic limit — this walk legitimately emits n_customers x
    # O(log10 max_key) rows (~135M at sf100, where the default aborted
    # the round-10 gate). Size it from the actual input: depth is bounded
    # by the key's decimal digit count, 16x headroom covers it for any
    # BIGINT key. The level limit (default 100) is already far above
    # log10 of any key.
    n_cust = table_rowcount(sf_dir, "customer")
    spark.conf.set(
        "spark.sql.cteRecursionRowLimit", str(max(1_000_000, 16 * n_cust))
    )
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer_rcte")
    return spark.sql(
        """
        WITH RECURSIVE up AS (
          SELECT c_custkey, CAST(c_custkey AS BIGINT) AS anc, 0 AS depth
          FROM customer_rcte
          UNION ALL
          SELECT c_custkey, CAST(FLOOR(anc / 10.0) AS BIGINT) AS anc, depth + 1
          FROM up WHERE anc >= 10
        ),
        roots AS (
          SELECT c_custkey, anc AS root, depth FROM up WHERE anc < 10
        )
        SELECT r.root, CAST(count(*) AS BIGINT) AS n_members,
               CAST(max(r.depth) AS BIGINT) AS max_depth,
               sum(CAST(floor(c.c_acctbal * 100) AS BIGINT)) / 100e0
                 AS subtree_acctbal
        FROM roots r JOIN customer_rcte c ON r.c_custkey = c.c_custkey
        GROUP BY r.root
        """
    )


@register(
    "digits_benford_prices",
    """
    WITH d AS (
      SELECT CAST(FLOOR(o_totalprice / POW(10, FLOOR(LOG10(o_totalprice))))
                  AS BIGINT) AS digit
      FROM orders WHERE o_totalprice > 0
    ),
    g AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY digit)
    SELECT digit, n,
           n * 1.0 / sum(n) OVER () AS obs_share,
           LOG10(1.0 + 1.0 / digit) AS exp_share,
           POW(n * 1.0 / sum(n) OVER () - LOG10(1.0 + 1.0 / digit), 2)
             / LOG10(1.0 + 1.0 / digit) AS chi2_term
    FROM g
    """,
    doc="Benford's-law audit of order prices: leading digit extracted "
    "arithmetically (floor(x / 10^floor(log10 x)) — no string round-trip), "
    "observed share vs the log10(1+1/d) expectation, plus the per-digit "
    "chi-square contribution — the classic fraud/synthetic-data detector "
    "for financial columns. One map-side-combined 9-group aggregation; "
    "the share window runs over the 9-row aggregate, so the "
    "unpartitioned window is O(9), never O(rows).",
)
def digits_benford_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    digit = F.floor(
        F.col("o_totalprice")
        / F.pow(F.lit(10), F.floor(F.log10("o_totalprice")))
    ).cast("long")
    g = o.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = F.sum("n").over(Window.partitionBy())
    obs = F.col("n") * 1.0 / tot
    exp_share = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    return g.select(
        "digit",
        "n",
        obs.alias("obs_share"),
        exp_share.alias("exp_share"),
        (F.pow(obs - exp_share, 2) / exp_share).alias("chi2_term"),
    )


@register(
    "weighted_median_price",
    """
    WITH w AS (
      SELECT l_returnflag, l_extendedprice AS v,
             sum(l_quantity) OVER (PARTITION BY l_returnflag
               ORDER BY l_extendedprice, l_orderkey, l_linenumber
               ROWS UNBOUNDED PRECEDING) AS cum,
             sum(l_quantity) OVER (PARTITION BY l_returnflag) AS tot
      FROM lineitem
    )
    SELECT l_returnflag, min(v) AS wmedian
    FROM w WHERE cum >= tot / 2.0
    GROUP BY l_returnflag
    """,
    doc="Quantity-weighted (lower) median of line-item price per return "
    "flag: the 'median unit actually shipped', not the median order "
    "line. Cumulative weight along the price-sorted order crosses "
    "half the total weight exactly once; min(v) over the qualifying "
    "rows picks that crossing value with no second pass. Both window "
    "specs share the l_returnflag partitioning — one shuffle; the "
    "(price, orderkey, linenumber) sort key makes the cumsum, and hence "
    "the result, fully deterministic under ties.",
)
def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    w_cum = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("l_returnflag")
    scored = li.select(
        "l_returnflag",
        F.col("l_extendedprice").alias("v"),
        F.sum("l_quantity").over(w_cum).alias("cum"),
        F.sum("l_quantity").over(w_tot).alias("tot"),
    )
    return (
        scored.filter(F.col("cum") >= F.col("tot") / 2.0)
        .groupBy("l_returnflag")
        .agg(F.min("v").alias("wmedian"))
    )


@register(
    "timeseries_ewma_user",
    """
    WITH r AS (
      SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id
               ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
      FROM events
    )
    SELECT a.user_id, a.event_id,
           sum(b.value * POW(0.6, a.rn - b.rn)) * (1.0 - 0.6)
             / (1.0 - POW(0.6, LEAST(a.rn, 10))) AS ewma
    FROM r a JOIN r b
      ON a.user_id = b.user_id AND b.rn BETWEEN a.rn - 9 AND a.rn
    GROUP BY a.user_id, a.event_id, a.rn
    """,
    doc="Trailing-10 exponentially weighted moving average of each "
    "user's event values (decay 0.6, weights renormalized over the "
    "observed frame so early rows aren't biased toward zero). Spark "
    "side: collect_list over ONE ordered row-frame window, then a "
    "JVM-side higher-order aggregate applies position weights — no "
    "self-join, no Python, O(rows x 10) work on a single shuffle; the "
    "normalizer is the closed-form geometric sum (1-d^n)/(1-d). Oracle "
    "is the DELIBERATELY different O(rows x 10) band self-join "
    "formulation, so parity is a cross-formulation proof.",
)
def timeseries_ewma_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, 0)
    )
    framed = e.select(
        "user_id",
        "event_id",
        F.collect_list("value").over(w).alias("vals"),
    )
    num = F.expr(
        "aggregate(zip_with(vals, sequence(1, size(vals)),"
        " (v, i) -> v * pow(0.6, size(vals) - i)),"
        " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )
    den = F.lit(1.0) - F.pow(F.lit(0.6), F.size("vals"))
    return framed.select(
        "user_id",
        "event_id",
        (num * F.lit(0.4) / den).alias("ewma"),
    )


@register(
    "skew_key_gini",
    """
    WITH k AS (
      SELECT c_mktsegment AS segment, o_custkey AS kk,
             CAST(count(*) AS BIGINT) AS cnt
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment, o_custkey
    ),
    r AS (
      SELECT segment, cnt,
             row_number() OVER (PARTITION BY segment ORDER BY cnt, kk) AS i,
             count(*) OVER (PARTITION BY segment) AS n,
             sum(cnt) OVER (PARTITION BY segment) AS tot,
             max(cnt) OVER (PARTITION BY segment) AS maxc
      FROM k
    )
    SELECT segment, CAST(max(n) AS BIGINT) AS n_keys,
           2.0 * sum(i * cnt) / (max(n) * max(tot))
             - (max(n) + 1.0) / max(n) AS gini,
           max(maxc) * 1.0 / max(tot) AS top1_share
    FROM r GROUP BY segment
    """,
    doc="Join-key skew diagnostics per market segment: Gini coefficient "
    "of the orders-per-customer distribution (sorted-rank formula "
    "2*sum(i*x_i)/(n*sum x) - (n+1)/n) plus the heaviest key's share of "
    "all rows — the numbers that tell you whether a planned join/agg on "
    "this key needs salting or AQE skew handling BEFORE you run it at "
    "100 TB. Everything after the first per-key count runs on the "
    "O(distinct keys) aggregate, all windows sharing one segment "
    "partitioning.",
)
def skew_key_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    k = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_custkey").alias("kk"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("segment")
    r = k.select(
        "segment",
        "cnt",
        F.row_number().over(w.orderBy("cnt", "kk")).alias("i"),
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("cnt").over(w).alias("tot"),
        F.max("cnt").over(w).alias("maxc"),
    )
    return r.groupBy("segment").agg(
        F.max("n").cast("long").alias("n_keys"),
        (
            F.lit(2.0) * F.sum(F.col("i") * F.col("cnt"))
            / (F.max("n") * F.max("tot"))
            - (F.max("n") + F.lit(1.0)) / F.max("n")
        ).alias("gini"),
        (F.max("maxc") * F.lit(1.0) / F.max("tot")).alias("top1_share"),
    )


@register(
    "alloc_largest_remainder",
    """
    WITH l AS (
      SELECT l_orderkey, l_linenumber, l_extendedprice,
             round(sum(l_extendedprice) OVER (PARTITION BY l_orderkey), 2)
               AS tot
      FROM lineitem
    ),
    s AS (
      SELECT l_orderkey, l_linenumber,
             CAST(FLOOR(o_totalprice) AS BIGINT) AS target,
             CAST(FLOOR(o_totalprice) AS BIGINT) * l_extendedprice / tot
               AS share
      FROM l JOIN orders ON l_orderkey = o_orderkey
    ),
    f AS (
      SELECT l_orderkey, l_linenumber, target,
             CAST(FLOOR(share) AS BIGINT) AS base,
             share - FLOOR(share) AS frac,
             CAST(sum(FLOOR(share)) OVER (PARTITION BY l_orderkey)
                  AS BIGINT) AS base_sum
      FROM s
    )
    SELECT l_orderkey, l_linenumber,
           base + CASE WHEN row_number() OVER (PARTITION BY l_orderkey
                          ORDER BY frac DESC, l_linenumber)
                       <= target - base_sum THEN 1 ELSE 0 END AS alloc
    FROM f
    """,
    doc="Largest-remainder (Hamilton) allocation: each order's integer "
    "total is split across its line items proportional to extended "
    "price so the parts sum EXACTLY to the whole — floor every "
    "proportional share, then hand the leftover units to the largest "
    "fractional remainders (line number breaks ties). The integer-exact "
    "budget/revenue allocation every finance pipeline needs and naive "
    "rounding gets wrong. All three windows share the l_orderkey "
    "partitioning — one shuffle after the broadcast-joined order "
    "totals; invariant sum(alloc)=target holds per order by "
    "construction.",
)
def alloc_largest_remainder(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    l = li.select(
        "l_orderkey",
        "l_linenumber",
        "l_extendedprice",
        F.round(
            F.sum("l_extendedprice").over(Window.partitionBy("l_orderkey")), 2
        ).alias("tot"),
    )
    s = l.join(
        o.select("o_orderkey", "o_totalprice"),
        l["l_orderkey"] == o["o_orderkey"],
    ).select(
        "l_orderkey",
        "l_linenumber",
        F.floor("o_totalprice").cast("long").alias("target"),
        (
            F.floor("o_totalprice").cast("long")
            * F.col("l_extendedprice")
            / F.col("tot")
        ).alias("share"),
    )
    f = s.select(
        "l_orderkey",
        "l_linenumber",
        "target",
        F.floor("share").cast("long").alias("base"),
        (F.col("share") - F.floor("share")).alias("frac"),
        F.sum(F.floor("share"))
        .over(Window.partitionBy("l_orderkey"))
        .cast("long")
        .alias("base_sum"),
    )
    rn = F.row_number().over(
        Window.partitionBy("l_orderkey").orderBy(
            F.col("frac").desc(), F.col("l_linenumber")
        )
    )
    return f.select(
        "l_orderkey",
        "l_linenumber",
        (
            F.col("base")
            + F.when(rn <= F.col("target") - F.col("base_sum"), 1).otherwise(0)
        ).alias("alloc"),
    )


@register(
    "changepoint_cusum_user",
    """
    WITH d AS (
      SELECT user_id, event_id, value,
             CAST(ts AS TIMESTAMP) AS tts,
             round(sum(value) OVER (PARTITION BY user_id), 2)
               / count(*) OVER (PARTITION BY user_id) AS mu,
             count(*) OVER (PARTITION BY user_id) AS n
      FROM events
    ),
    c AS (
      SELECT user_id, event_id, n,
             sum(CAST(round((value - mu) * 1e6, 0) AS BIGINT))
               OVER (PARTITION BY user_id
               ORDER BY tts, event_id ROWS UNBOUNDED PRECEDING) AS cusum_u
      FROM d
    )
    SELECT user_id, event_id AS cp_event_id,
           abs(cusum_u) / 1e6 AS max_abs_cusum,
           CAST(n AS BIGINT) AS n_events
    FROM (
      SELECT user_id, event_id, cusum_u, n,
             row_number() OVER (PARTITION BY user_id
               ORDER BY abs(cusum_u) DESC, event_id) AS r
      FROM c
    ) WHERE r = 1 AND n >= 20
    """,
    doc="CUSUM changepoint detection per user: cumulative sum of "
    "deviations from the user's own mean peaks (in absolute value) at "
    "the most likely level-shift point — the standard "
    "distribution-shift locator for telemetry. Mean, running CUSUM, and "
    "the argmax all ride the SAME user_id partitioning (one shuffle, "
    "three window passes); users under 20 events are dropped as "
    "too-short series. Ties in |cusum| break on event_id so the "
    "reported changepoint is deterministic. Deviations are quantized to "
    "integer micro-units BEFORE the running sum (the repo's float-grid "
    "discipline): the deviations are off the decimal grid, and DuckDB's "
    "segment-tree window aggregation adds them in a different order than "
    "Spark's sequential frame scan — at sf0.1 one user's cusum sat on a "
    ".6g boundary and flipped. Integer addition is order-independent.",
)
def changepoint_cusum_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    w_u = Window.partitionBy("user_id")
    d = e.select(
        "user_id",
        "event_id",
        "value",
        "ts",
        (
            F.round(F.sum("value").over(w_u), 2)
            / F.count(F.lit(1)).over(w_u)
        ).alias("mu"),
        F.count(F.lit(1)).over(w_u).alias("n"),
    )
    w_cum = w_u.orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    dev_u = F.round((F.col("value") - F.col("mu")) * 1e6, 0).cast("long")
    c = d.select(
        "user_id",
        "event_id",
        "n",
        F.sum(dev_u).over(w_cum).alias("cusum_u"),
    )
    r = F.row_number().over(
        w_u.orderBy(F.abs(F.col("cusum_u")).desc(), F.col("event_id"))
    )
    return (
        c.withColumn("r", r)
        .filter((F.col("r") == 1) & (F.col("n") >= 20))
        .select(
            "user_id",
            F.col("event_id").alias("cp_event_id"),
            (F.abs(F.col("cusum_u")) / F.lit(1e6)).alias("max_abs_cusum"),
            F.col("n").cast("long").alias("n_events"),
        )
    )


@register(
    "profile_orders_columns",
    """
    SELECT 'o_orderkey' AS col_name, CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) - count(o_orderkey) AS BIGINT) AS n_null,
           CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct
    FROM orders
    UNION ALL
    SELECT 'o_custkey', CAST(count(*) AS BIGINT),
           CAST(count(*) - count(o_custkey) AS BIGINT),
           CAST(count(DISTINCT o_custkey) AS BIGINT) FROM orders
    UNION ALL
    SELECT 'o_orderstatus', CAST(count(*) AS BIGINT),
           CAST(count(*) - count(o_orderstatus) AS BIGINT),
           CAST(count(DISTINCT o_orderstatus) AS BIGINT) FROM orders
    UNION ALL
    SELECT 'o_totalprice', CAST(count(*) AS BIGINT),
           CAST(count(*) - count(o_totalprice) AS BIGINT),
           CAST(count(DISTINCT o_totalprice) AS BIGINT) FROM orders
    UNION ALL
    SELECT 'o_orderdate', CAST(count(*) AS BIGINT),
           CAST(count(*) - count(o_orderdate) AS BIGINT),
           CAST(count(DISTINCT o_orderdate) AS BIGINT) FROM orders
    UNION ALL
    SELECT 'o_orderpriority', CAST(count(*) AS BIGINT),
           CAST(count(*) - count(o_orderpriority) AS BIGINT),
           CAST(count(DISTINCT o_orderpriority) AS BIGINT) FROM orders
    """,
    doc="Single-pass table profiler over every orders column: row count, "
    "null count, exact distinct cardinality — the schema-wide data "
    "profile a catalog/DQ layer publishes per snapshot. Spark side is "
    "ONE aggregation (Catalyst plans the multi-column DISTINCTs with a "
    "single Expand, not six scans) whose 18 scalars are unpivoted to "
    "6 rows via stack; the oracle is the deliberately naive 6-scan "
    "UNION ALL — same numbers, opposite plan shape, a real "
    "cross-formulation check.",
)
def profile_orders_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    cols = [
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    ]
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__nn"),
            F.countDistinct(c).alias(f"{c}__nd"),
        ]
    wide = o.agg(*aggs)
    stack = ", ".join(
        f"'{c}', {c}__n, {c}__nn, {c}__nd" for c in cols
    )
    return wide.select(
        F.expr(
            f"stack({len(cols)}, {stack}) AS (col_name, n, n_null, n_distinct)"
        )
    )


@register(
    "text_tfidf_cosine_pairs",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
    tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
           FROM toks WHERE length(term) > 0 GROUP BY doc_id, term),
    dfc AS (SELECT term, count(DISTINCT doc_id) AS dfc
            FROM toks WHERE length(term) > 0 GROUP BY term),
    n AS (SELECT count(*) AS n FROM documents),
    w AS (
      SELECT tf.doc_id, tf.term,
             tf.tf * ln(CAST(n.n AS DOUBLE) / dfc.dfc) AS wt
      FROM tf JOIN dfc USING (term) CROSS JOIN n
      WHERE dfc.dfc * 2 < n.n
    ),
    nrm AS (SELECT doc_id, sqrt(sum(wt * wt)) AS nrm FROM w GROUP BY doc_id)
    SELECT a.doc_id AS d1, b.doc_id AS d2,
           sum(a.wt * b.wt) / (max(na.nrm) * max(nb.nrm)) AS cosine
    FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
    JOIN nrm na ON na.doc_id = a.doc_id
    JOIN nrm nb ON nb.doc_id = b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING sum(a.wt * b.wt) / (max(na.nrm) * max(nb.nrm)) > 0.3
    """,
    doc="Sparse TF-IDF cosine similarity between document pairs via an "
    "inverted-index join — the IR-style near-duplicate detector that "
    "never materializes a dense vector: weights join themselves ON TERM "
    "(posting lists), partial dot-products combine map-side, and the "
    "pair survives at cosine > 0.3. Terms appearing in >= half the "
    "corpus are pruned from the index FIRST — the stop-posting cut "
    "that keeps the self-join linear in posting-list size instead of "
    "quadratic in documents, which is what makes this shape viable at "
    "100 TB. Norms arrive by broadcast.",
)
def text_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode_outer(F.split("text", " ")).alias("term")
    ).filter(F.length("term") > 0)
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    )
    dfc = toks.distinct().groupBy("term").agg(F.count(F.lit(1)).alias("dfc"))
    n = d.agg(F.count(F.lit(1)).alias("n"))
    w = (
        tf.join(F.broadcast(dfc), "term")
        .crossJoin(F.broadcast(n))
        .filter(F.col("dfc") * 2 < F.col("n"))
        .select(
            "doc_id",
            "term",
            (F.col("tf") * F.log(F.col("n").cast("double") / F.col("dfc"))).alias(
                "wt"
            ),
        )
    )
    nrm = w.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("wt") * F.col("wt"))).alias("nrm")
    )
    a = w.alias("a")
    b = w.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2")
        )
        .agg(F.sum(F.col("a.wt") * F.col("b.wt")).alias("dot"))
    )
    na = nrm.select(
        F.col("doc_id").alias("d1"), F.col("nrm").alias("nrm1")
    )
    nb = nrm.select(
        F.col("doc_id").alias("d2"), F.col("nrm").alias("nrm2")
    )
    return (
        dots.join(F.broadcast(na), "d1")
        .join(F.broadcast(nb), "d2")
        .select(
            "d1",
            "d2",
            (F.col("dot") / (F.col("nrm1") * F.col("nrm2"))).alias("cosine"),
        )
        .filter(F.col("cosine") > 0.3)
    )


@register(
    "window_reset_cumsum",
    """
    WITH g AS (
      SELECT user_id, event_id, value,
             CAST(ts AS TIMESTAMP) AS tts,
             sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id
                     ORDER BY CAST(ts AS TIMESTAMP), event_id
                     ROWS UNBOUNDED PRECEDING) AS grp
      FROM events
    )
    SELECT user_id, event_id,
           round(sum(value) OVER (PARTITION BY user_id, grp
                                  ORDER BY tts, event_id
                                  ROWS UNBOUNDED PRECEDING), 2) AS run_value
    FROM g
    """,
    doc="Restartable running total: per-user cumulative value that "
    "RESETS at every 'error' event — the counter/odometer pattern "
    "(session spend, liquidity since last halt) that a plain window "
    "cumsum cannot express. Two-level window algebra: an ordered count "
    "of reset markers assigns each row an epoch id, then the cumsum "
    "partitions by (user, epoch) — both windows hash-shuffle on "
    "user_id so epoch refinement is a local re-sort, not a second "
    "shuffle. The error row itself starts its epoch (its value is "
    "counted after the reset), deterministically on both engines.",
)
def window_reset_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    w_marks = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    g = e.select(
        "user_id",
        "event_id",
        "value",
        "ts",
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .over(w_marks)
        .alias("grp"),
    )
    w_run = (
        Window.partitionBy("user_id", "grp")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return g.select(
        "user_id",
        "event_id",
        F.round(F.sum("value").over(w_run), 2).alias("run_value"),
    )


@register(
    "stat_chi2_segment_priority",
    """
    WITH ct AS (
      SELECT c_mktsegment AS seg, o_orderpriority AS pri,
             CAST(count(*) AS BIGINT) AS n
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment, o_orderpriority
    ),
    m AS (
      SELECT seg, pri, n,
             sum(n) OVER (PARTITION BY seg) AS row_tot,
             sum(n) OVER (PARTITION BY pri) AS col_tot,
             sum(n) OVER () AS tot
      FROM ct
    )
    SELECT CAST(count(*) AS BIGINT) AS n_cells,
           sum(POW(n - row_tot * col_tot / (tot * 1.0), 2)
               / (row_tot * col_tot / (tot * 1.0))) AS chi2,
           CAST((count(DISTINCT seg) - 1) * (count(DISTINCT pri) - 1)
                AS BIGINT) AS dof
    FROM m
    """,
    doc="Chi-square test of independence between customer market segment "
    "and order priority: contingency table by ONE hash aggregation, "
    "then marginals via three windows over the tiny seg x pri "
    "aggregate (25 cells — the windows never touch raw rows), and the "
    "test statistic sum((O-E)^2/E) with its degrees of freedom. The "
    "is-this-attribute-independent-of-that screen run across feature "
    "pairs before any model training.",
)
def stat_chi2_segment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    ct = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderpriority").alias("pri"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    m = ct.select(
        "seg",
        "pri",
        "n",
        F.sum("n").over(Window.partitionBy("seg")).alias("row_tot"),
        F.sum("n").over(Window.partitionBy("pri")).alias("col_tot"),
        F.sum("n").over(Window.partitionBy()).alias("tot"),
    )
    expected = F.col("row_tot") * F.col("col_tot") / (F.col("tot") * 1.0)
    return m.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum(F.pow(F.col("n") - expected, 2) / expected).alias("chi2"),
        (
            (F.countDistinct("seg") - 1) * (F.countDistinct("pri") - 1)
        ).cast("long").alias("dof"),
    )


@register(
    "stat_mannwhitney_u",
    """
    WITH s AS (
      SELECT event_type, value FROM events
      WHERE event_type IN ('click', 'view')
    ),
    r AS (
      SELECT event_type, value,
             (CAST(min(rn) OVER (PARTITION BY value) AS DOUBLE)
              + max(rn) OVER (PARTITION BY value)) / 2.0 AS avg_rank
      FROM (
        SELECT event_type, value,
               row_number() OVER (ORDER BY value) AS rn
        FROM s
      )
    )
    SELECT sum(CASE WHEN event_type = 'click' THEN avg_rank END)
             - n1 * (n1 + 1) / 2.0 AS u_click,
           CAST(n1 AS BIGINT) AS n_click, CAST(n2 AS BIGINT) AS n_view
    FROM r CROSS JOIN (
      SELECT CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS n1,
             CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS n2
      FROM s
    )
    GROUP BY n1, n2
    """,
    doc="Mann-Whitney U (Wilcoxon rank-sum) statistic comparing click vs "
    "view value distributions — the nonparametric A/B test that needs "
    "no normality assumption. Tie midranks computed WITHOUT ranking raw "
    "rows: one hash aggregation collapses input to per-distinct-value "
    "(click, view) counts, and midrank(v) = cum-count-before + "
    "(cnt+1)/2 falls out of an ordered window over that O(distinct) "
    "aggregate — the only ordered step never touches raw rows, so no "
    "single-partition full-data sort. U = R1 - n1(n1+1)/2 closes it "
    "out in a final 1-row aggregate. Oracle is the textbook "
    "row_number-midrank formulation, a real cross-formulation proof.",
)
def stat_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    s = e.filter(F.col("event_type").isin("click", "view")).select(
        "event_type", "value"
    )
    g = s.groupBy("value").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("double")
        .alias("c1"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("double")
        .alias("c2"),
    )
    w_prev = Window.orderBy("value").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cnt = F.col("c1") + F.col("c2")
    r = g.select(
        "c1",
        "c2",
        (
            F.coalesce(F.sum(cnt).over(w_prev), F.lit(0.0))
            + (cnt + 1) / 2.0
        ).alias("avg_rank"),
    )
    return r.agg(
        F.sum(F.col("c1") * F.col("avg_rank")).alias("r1"),
        F.sum("c1").alias("n1"),
        F.sum("c2").alias("n2"),
    ).select(
        (F.col("r1") - F.col("n1") * (F.col("n1") + 1) / 2.0).alias(
            "u_click"
        ),
        F.col("n1").cast("long").alias("n_click"),
        F.col("n2").cast("long").alias("n_view"),
    )


@register(
    "user_event_entropy",
    """
    WITH c AS (
      SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY user_id, event_type
    ),
    t AS (
      SELECT user_id, event_type, cnt,
             sum(cnt) OVER (PARTITION BY user_id) AS tot
      FROM c
    )
    SELECT user_id,
           -sum((cnt * 1.0 / tot) * ln(cnt * 1.0 / tot)) AS entropy,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(max(tot) AS BIGINT) AS n_events
    FROM t GROUP BY user_id
    """,
    doc="Shannon entropy of each user's event-type mix — the behavioral "
    "diversity feature (0 = single-minded, ln(k) = uniform over k "
    "types) used for bot filtering and engagement segmentation. One "
    "map-side-combined (user, type) count, per-user totals via a "
    "window over that O(users x 5) aggregate, then the entropy "
    "aggregate — the raw event table is touched exactly once.",
)
def user_event_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    c = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    t = c.select(
        "user_id",
        "cnt",
        F.sum("cnt").over(Window.partitionBy("user_id")).alias("tot"),
    )
    p = F.col("cnt") * 1.0 / F.col("tot")
    return t.groupBy("user_id").agg(
        (-F.sum(p * F.log(p))).alias("entropy"),
        F.count(F.lit(1)).alias("n_types"),
        F.max("tot").cast("long").alias("n_events"),
    )


@register(
    "feature_winsorize",
    """
    WITH b AS (
      SELECT event_type,
             quantile_cont(value, 0.05) AS p05,
             quantile_cont(value, 0.95) AS p95
      FROM events GROUP BY event_type
    )
    SELECT e.event_type, b.p05, b.p95,
           avg(e.value) AS mean_raw,
           avg(CASE WHEN e.value < b.p05 THEN b.p05
                    WHEN e.value > b.p95 THEN b.p95
                    ELSE e.value END) AS mean_winsorized,
           CAST(sum(CASE WHEN e.value < b.p05 OR e.value > b.p95
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
    FROM events e JOIN b ON e.event_type = b.event_type
    GROUP BY e.event_type, b.p05, b.p95
    """,
    doc="Winsorization (per-type P05/P95 clipping) for feature "
    "robustness: exact interpolated percentile bounds per event type, "
    "broadcast back (5 rows), and the clipped column aggregated "
    "alongside the raw mean plus a count of affected rows — the "
    "before/after report a feature-store job publishes when taming "
    "heavy tails. Two passes over events, both map-side combined on "
    "the same event_type key; no sort of raw data.",
)
def feature_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").select("event_type", "value")
    b = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.05)).alias("p05"),
        F.percentile("value", F.lit(0.95)).alias("p95"),
    )
    clipped = (
        F.when(F.col("value") < F.col("p05"), F.col("p05"))
        .when(F.col("value") > F.col("p95"), F.col("p95"))
        .otherwise(F.col("value"))
    )
    return (
        e.join(F.broadcast(b), "event_type")
        .groupBy("event_type", "p05", "p95")
        .agg(
            F.avg("value").alias("mean_raw"),
            F.avg(clipped).alias("mean_winsorized"),
            F.sum(
                F.when(
                    (F.col("value") < F.col("p05"))
                    | (F.col("value") > F.col("p95")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_clipped"),
        )
        .select(
            "event_type", "p05", "p95", "mean_raw", "mean_winsorized",
            "n_clipped",
        )
    )


@register(
    "split_temporal_leakage",
    """
    WITH u AS (
      SELECT event_type, user_id,
             max(CASE WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-22'
                      THEN 1 ELSE 0 END) AS has_train,
             max(CASE WHEN CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-22'
                      THEN 1 ELSE 0 END) AS has_test
      FROM events GROUP BY event_type, user_id
    )
    SELECT event_type,
           CAST(sum(has_train) AS BIGINT) AS users_train,
           CAST(sum(has_test) AS BIGINT) AS users_test,
           CAST(sum(has_train * has_test) AS BIGINT) AS users_both,
           sum(has_train * has_test) * 1.0 / count(*) AS leak_share
    FROM u GROUP BY event_type
    """,
    doc="Temporal train/test split leakage report: cut the event stream "
    "at 2024-01-22, then per event type count users seen only before, "
    "only after, and on BOTH sides of the cut — the entity-overlap "
    "audit that catches target leakage before a time-split model "
    "train. ONE aggregation to per-(type, user) boolean flags, one "
    "more to the report; no join, no distinct-set materialization.",
)
def split_temporal_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    cut = F.lit("2024-01-22").cast("timestamp")
    u = e.groupBy("event_type", "user_id").agg(
        F.max(F.when(F.col("ts") < cut, 1).otherwise(0)).alias("has_train"),
        F.max(F.when(F.col("ts") >= cut, 1).otherwise(0)).alias("has_test"),
    )
    both = F.col("has_train") * F.col("has_test")
    return u.groupBy("event_type").agg(
        F.sum("has_train").cast("long").alias("users_train"),
        F.sum("has_test").cast("long").alias("users_test"),
        F.sum(both).cast("long").alias("users_both"),
        (F.sum(both) * 1.0 / F.count(F.lit(1))).alias("leak_share"),
    )


@register(
    "negatives_sample_contrastive",
    """
    WITH inter AS (
      SELECT DISTINCT o_custkey AS user_id, l_partkey AS item
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    np AS (SELECT max(p_partkey) + 1 AS np FROM part),
    cand AS (
      SELECT i.user_id, j,
             (i.user_id * 131071 + j * 524287) % np.np AS item
      FROM (SELECT DISTINCT user_id FROM inter) i
      CROSS JOIN np
      CROSS JOIN (SELECT unnest(generate_series(0, 11)) AS j)
    ),
    uniq AS (
      SELECT user_id, item, min(j) AS j FROM cand GROUP BY user_id, item
    ),
    neg AS (
      SELECT u.user_id, u.item, u.j FROM uniq u
      LEFT JOIN inter i ON u.user_id = i.user_id AND u.item = i.item
      WHERE i.user_id IS NULL
    )
    SELECT user_id, CAST(rank AS BIGINT) AS rank, item AS neg_partkey
    FROM (
      SELECT user_id, item,
             row_number() OVER (PARTITION BY user_id ORDER BY j) AS rank
      FROM neg
    ) WHERE rank <= 4
    """,
    doc="Deterministic negative sampling for contrastive training: per "
    "user, 12 pseudo-random candidate items from an arithmetic hash "
    "((user*131071 + j*524287) mod n_items — engine-portable, seedless, "
    "reproducible), collision-deduped, rejected against the user's "
    "true interaction set by LEFT ANTI JOIN, first 4 survivors kept. "
    "The candidate set is O(users x 12) — generated by explode, never "
    "a users x catalog cross join — and the rejection anti-join "
    "shuffles on (user, item) exactly once. The (user, positive, "
    "negative) triple generator every embedding/two-tower trainer "
    "needs at 100 TB.",
)
def negatives_sample_contrastive(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    inter = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.col("o_custkey").alias("user_id"),
            F.col("l_partkey").alias("item"),
        )
        .distinct()
    )
    np_ = p.agg((F.max("p_partkey") + 1).alias("np"))
    users = inter.select("user_id").distinct()
    cand = (
        users.crossJoin(F.broadcast(np_))
        .select(
            "user_id",
            "np",
            F.explode(F.sequence(F.lit(0), F.lit(11))).alias("j"),
        )
        .select(
            "user_id",
            "j",
            (
                (F.col("user_id") * 131071 + F.col("j") * 524287)
                % F.col("np")
            ).alias("item"),
        )
    )
    uniq = cand.groupBy("user_id", "item").agg(F.min("j").alias("j"))
    neg = uniq.join(inter, ["user_id", "item"], "left_anti")
    w = Window.partitionBy("user_id").orderBy("j")
    return (
        neg.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 4)
        .select(
            "user_id",
            F.col("rank").cast("long").alias("rank"),
            F.col("item").alias("neg_partkey"),
        )
    )


@register(
    "trending_topk_sliding",
    """
    WITH w AS (
      SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP))
               - k * INTERVAL '1 hour' AS window_start,
             event_type
      FROM events
      CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS k)
    ),
    c AS (
      SELECT window_start, event_type, CAST(count(*) AS BIGINT) AS cnt
      FROM w GROUP BY window_start, event_type
    )
    SELECT window_start, event_type, cnt, CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT window_start, event_type, cnt,
             row_number() OVER (PARTITION BY window_start
                                ORDER BY cnt DESC, event_type) AS rnk
      FROM c
    ) WHERE rnk <= 3
    """,
    doc="Trending top-3 event types per 6-hour SLIDING window (1-hour "
    "hop) — the dashboard 'what's hot now' query. Spark side uses the "
    "native F.window(ts, '6 hours', '1 hour') slide (each event lands "
    "in its 6 covering windows inside the generated Expand — no "
    "self-join), counts hash-aggregate with map-side partials, and the "
    "per-window rank runs over the O(windows x 5 types) aggregate. "
    "Oracle rebuilds the same slide arithmetically: hour-floor minus "
    "k in 0..5 hours. Batch twin of the streaming sliding-window "
    "operator, hop-aligned identically to Spark's epoch-anchored "
    "windows.",
    tags=("curve",),
)
def trending_topk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    c = (
        e.select(
            F.window("ts", "6 hours", "1 hour").alias("win"), "event_type"
        )
        .groupBy(F.col("win.start").alias("window_start"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("window_start").orderBy(
        F.col("cnt").desc(), F.col("event_type")
    )
    return (
        c.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "window_start",
            "event_type",
            "cnt",
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


@register(
    "rfm_segmentation",
    """
    WITH rfm AS (
      SELECT o_custkey,
             date_diff('day', max(o_orderdate),
                       (SELECT max(o_orderdate) FROM orders)) AS recency,
             CAST(count(*) AS BIGINT) AS frequency,
             round(sum(o_totalprice), 2) AS monetary
      FROM orders GROUP BY o_custkey
    ),
    th AS (
      SELECT quantile_cont(recency * 1.0, 0.4) AS r40,
             quantile_cont(recency * 1.0, 0.8) AS r80,
             quantile_cont(frequency * 1.0, 0.4) AS f40,
             quantile_cont(monetary, 0.4) AS m40
      FROM rfm
    ),
    lab AS (
      SELECT CASE
               WHEN recency <= r40 AND frequency > f40 AND monetary > m40
                 THEN 'champion'
               WHEN recency > r80 AND monetary > m40 THEN 'at_risk'
               WHEN recency > r80 THEN 'hibernating'
               ELSE 'regular' END AS segment,
             recency, frequency, monetary
      FROM rfm CROSS JOIN th
    )
    SELECT segment, CAST(count(*) AS BIGINT) AS n_customers,
           avg(recency * 1.0) AS avg_recency_days,
           avg(frequency * 1.0) AS avg_frequency,
           round(sum(monetary), 2) / count(*) AS avg_monetary
    FROM lab GROUP BY segment
    """,
    doc="RFM (recency/frequency/monetary) customer segmentation: one "
    "aggregation to per-customer RFM, exact percentile thresholds "
    "(P40/P80) computed once and broadcast as a 1-row dimension, "
    "threshold CASE labels (champion / at-risk / hibernating / "
    "regular), and the per-segment profile report. Threshold scoring "
    "instead of a global ntile: no total-order sort of customers, so "
    "the plan stays fully parallel — the choice that matters when "
    "'customers' is 10^9 rows.",
)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    anchor = o.agg(F.max("o_orderdate").alias("anchor"))
    rfm = (
        o.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            F.round(F.sum("o_totalprice"), 2).alias("monetary"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            F.datediff("anchor", "last_order").alias("recency"),
            "frequency",
            "monetary",
        )
    )
    th = rfm.agg(
        F.percentile(F.col("recency") * 1.0, F.lit(0.4)).alias("r40"),
        F.percentile(F.col("recency") * 1.0, F.lit(0.8)).alias("r80"),
        F.percentile(F.col("frequency") * 1.0, F.lit(0.4)).alias("f40"),
        F.percentile("monetary", F.lit(0.4)).alias("m40"),
    )
    lab = rfm.crossJoin(F.broadcast(th)).select(
        F.when(
            (F.col("recency") <= F.col("r40"))
            & (F.col("frequency") > F.col("f40"))
            & (F.col("monetary") > F.col("m40")),
            "champion",
        )
        .when(
            (F.col("recency") > F.col("r80"))
            & (F.col("monetary") > F.col("m40")),
            "at_risk",
        )
        .when(F.col("recency") > F.col("r80"), "hibernating")
        .otherwise("regular")
        .alias("segment"),
        "recency",
        "frequency",
        "monetary",
    )
    return lab.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.avg(F.col("recency") * 1.0).alias("avg_recency_days"),
        F.avg(F.col("frequency") * 1.0).alias("avg_frequency"),
        (F.round(F.sum("monetary"), 2) / F.count(F.lit(1))).alias(
            "avg_monetary"
        ),
    )


@register(
    "pareto_revenue_share",
    """
    WITH rev AS (
      SELECT c_mktsegment AS segment, o_custkey,
             round(sum(o_totalprice), 2) AS rev
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment, o_custkey
    ),
    r AS (
      SELECT segment, rev,
             row_number() OVER (PARTITION BY segment
                                ORDER BY rev DESC, o_custkey) AS rn,
             round(sum(rev) OVER (PARTITION BY segment
                                  ORDER BY rev DESC, o_custkey
                                  ROWS UNBOUNDED PRECEDING), 2) AS cum,
             round(sum(rev) OVER (PARTITION BY segment), 2) AS tot,
             count(*) OVER (PARTITION BY segment) AS cnt
      FROM rev
    )
    SELECT segment, CAST(max(cnt) AS BIGINT) AS n_customers,
           CAST(min(CASE WHEN cum >= 0.8 * tot THEN rn END) AS BIGINT)
             AS n_for_80pct,
           min(CASE WHEN cum >= 0.8 * tot THEN rn END) * 1.0 / max(cnt)
             AS share_for_80pct,
           round(sum(CASE WHEN rn <= CEIL(0.2 * cnt) THEN rev ELSE 0 END), 2)
             / max(tot) AS top20_rev_share
    FROM r GROUP BY segment
    """,
    doc="Pareto concentration analysis per market segment: how few "
    "customers carry 80% of revenue, and what share the top-20% hold "
    "— the 80/20 health check behind account prioritization. Ranking, "
    "running revenue, totals and counts all share ONE segment-keyed "
    "window sort over the per-customer aggregate (already 1000x "
    "smaller than orders); the report falls out of conditional "
    "aggregation, no second pass. Cumsum tie order is pinned by "
    "(rev DESC, custkey) so the 80% crossing row is identical on both "
    "engines bit-for-bit.",
)
def pareto_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    rev = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("c_mktsegment").alias("segment"), "o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("rev"))
    )
    w = Window.partitionBy("segment")
    w_ord = w.orderBy(F.col("rev").desc(), F.col("o_custkey"))
    r = rev.select(
        "segment",
        "rev",
        F.row_number().over(w_ord).alias("rn"),
        F.round(
            F.sum("rev").over(w_ord.rowsBetween(Window.unboundedPreceding, 0)),
            2,
        ).alias("cum"),
        F.round(F.sum("rev").over(w), 2).alias("tot"),
        F.count(F.lit(1)).over(w).alias("cnt"),
    )
    crossing = F.min(
        F.when(F.col("cum") >= 0.8 * F.col("tot"), F.col("rn"))
    )
    return r.groupBy("segment").agg(
        F.max("cnt").cast("long").alias("n_customers"),
        crossing.cast("long").alias("n_for_80pct"),
        (crossing * 1.0 / F.max("cnt")).alias("share_for_80pct"),
        (
            F.round(
                F.sum(
                    F.when(
                        F.col("rn") <= F.ceil(0.2 * F.col("cnt")), F.col("rev")
                    ).otherwise(0.0)
                ),
                2,
            )
            / F.max("tot")
        ).alias("top20_rev_share"),
    )


@register(
    "jackknife_mean_se",
    """
    WITH b AS (
      SELECT o_orderkey % 10 AS bucket, round(sum(o_totalprice), 2) AS s,
             CAST(count(*) AS BIGINT) AS n
      FROM orders GROUP BY o_orderkey % 10
    ),
    t AS (SELECT round(sum(s), 2) AS st, sum(n) AS nt,
                 CAST(count(*) AS BIGINT) AS nb FROM b),
    loo AS (
      SELECT (t.st - b.s) / (t.nt - b.n) AS mean_i, t.nb, t.st, t.nt
      FROM b CROSS JOIN t
    )
    SELECT max(st / nt) AS mean,
           sqrt((max(nb) - 1.0) / max(nb)
                * sum(POW(mean_i - (SELECT avg(mean_i) FROM loo), 2)))
             AS jackknife_se,
           CAST(max(nb) AS BIGINT) AS n_buckets
    FROM loo
    """,
    doc="Delete-a-group jackknife standard error of the mean order "
    "price: rows land in 10 deterministic buckets (orderkey mod 10), "
    "one aggregation produces per-bucket sums, and the 10 "
    "leave-one-bucket-out means give the variance estimate — the "
    "production-grade uncertainty quantification that replaces "
    "row-level bootstrap at 100 TB (one pass over data, all "
    "resampling algebra on a 10-row aggregate). SE formula: "
    "sqrt((B-1)/B * sum((m_i - mbar)^2)).",
)
def jackknife_mean_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    b = o.groupBy((F.col("o_orderkey") % 10).alias("bucket")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    t = b.agg(
        F.round(F.sum("s"), 2).alias("st"),
        F.sum("n").alias("nt"),
        F.count(F.lit(1)).alias("nb"),
    )
    loo = b.crossJoin(F.broadcast(t)).select(
        ((F.col("st") - F.col("s")) / (F.col("nt") - F.col("n"))).alias(
            "mean_i"
        ),
        "nb",
        "st",
        "nt",
    )
    mbar = loo.agg(F.avg("mean_i").alias("mbar"))
    return (
        loo.crossJoin(F.broadcast(mbar))
        .agg(
            F.max(F.col("st") / F.col("nt")).alias("mean"),
            F.sqrt(
                (F.max("nb") - 1.0)
                / F.max("nb")
                * F.sum(F.pow(F.col("mean_i") - F.col("mbar"), 2))
            ).alias("jackknife_se"),
            F.max("nb").cast("long").alias("n_buckets"),
        )
    )


@register(
    "timeseries_xcorr_lags",
    """
    WITH daily AS (
      SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS n_click,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS n_purchase
      FROM events GROUP BY 1
    )
    SELECT lag, corr(a.n_click, b.n_purchase) AS xcorr,
           CAST(count(*) AS BIGINT) AS n_days
    FROM daily a
    CROSS JOIN (SELECT unnest(generate_series(-3, 3)) AS lag)
    JOIN daily b ON b.day = a.day + lag * INTERVAL 1 DAY
    GROUP BY lag
    """,
    doc="Lead-lag cross-correlation between the click and purchase "
    "daily series at lags -3..+3 days — the does-traffic-predict-"
    "conversion diagnostic. The raw stream collapses to ONE small "
    "daily table (conditional aggregation, map-side combined) before "
    "any correlation math; the 7 lags come from an exploded sequence "
    "joined back to the daily table, so the quadratic part is O(days "
    "x 7), never O(events). Sample corr on both engines.",
)
def timeseries_xcorr_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("double")
        .alias("n_click"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("double")
        .alias("n_purchase"),
    )
    lags = spark.range(1).select(
        F.explode(F.sequence(F.lit(-3), F.lit(3))).alias("lag")
    )
    a = daily.alias("a").crossJoin(F.broadcast(lags))
    b = daily.alias("b")
    joined = a.join(
        b,
        F.col("b.day")
        == F.expr("date_add(a.day, CAST(lag AS INT))"),
    )
    return joined.groupBy("lag").agg(
        F.corr(F.col("a.n_click"), F.col("b.n_purchase")).alias("xcorr"),
        F.count(F.lit(1)).alias("n_days"),
    )


@register(
    "revenue_mom_yoy",
    """
    WITH m AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             round(sum(o_totalprice), 2) AS revenue
      FROM orders GROUP BY 1
    )
    SELECT month, revenue,
           (revenue - lag(revenue, 1) OVER (ORDER BY month)) * 100.0
             / lag(revenue, 1) OVER (ORDER BY month) AS mom_pct,
           (revenue - lag(revenue, 12) OVER (ORDER BY month)) * 100.0
             / lag(revenue, 12) OVER (ORDER BY month) AS yoy_pct
    FROM m
    """,
    doc="Month-over-month and year-over-year revenue growth: the "
    "standard finance trend report. Raw orders collapse to ONE "
    "monthly aggregate first (map-side combined); the lag(1)/lag(12) "
    "windows then order ~80 month-rows — the unpartitioned window "
    "touches only the aggregate, never the fact table, which is what "
    "makes a global-ordered window acceptable at any scale. Months "
    "with no comparison period yield NULL growth on both engines.",
)
def revenue_mom_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    m = o.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("month")
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    w = Window.orderBy("month")
    prev1 = F.lag("revenue", 1).over(w)
    prev12 = F.lag("revenue", 12).over(w)
    return m.select(
        "month",
        "revenue",
        ((F.col("revenue") - prev1) * 100.0 / prev1).alias("mom_pct"),
        ((F.col("revenue") - prev12) * 100.0 / prev12).alias("yoy_pct"),
    )


@register(
    "histogram_equiwidth",
    """
    WITH mm AS (
      SELECT min(value) AS lo, max(value) AS hi FROM events
    ),
    b AS (
      SELECT CAST(LEAST(FLOOR((value - lo) / ((hi - lo) / 20.0)), 19)
                  AS BIGINT) AS bin,
             lo, hi
      FROM events CROSS JOIN mm
    )
    SELECT bin,
           CAST(count(*) AS BIGINT) AS cnt,
           max(lo + bin * (hi - lo) / 20.0) AS bin_lo,
           max(lo + (bin + 1) * (hi - lo) / 20.0) AS bin_hi
    FROM b GROUP BY bin
    """,
    doc="Equi-width 20-bin histogram of event values: global min/max "
    "from one scalar aggregate broadcast back, arithmetic bin "
    "assignment (the max value clamps into the last bin), per-bin "
    "counts with computed bounds — the profile-pane histogram every "
    "data tool draws, in two map-side-combined passes with no sort. "
    "Bin edges are computed with the identical FP expression on both "
    "engines, so boundary rows land identically.",
)
def histogram_equiwidth(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    mm = e.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    width = (F.col("hi") - F.col("lo")) / 20.0
    b = e.crossJoin(F.broadcast(mm)).select(
        F.least(F.floor((F.col("value") - F.col("lo")) / width), F.lit(19))
        .cast("long")
        .alias("bin"),
        "lo",
        "hi",
    )
    return b.groupBy("bin").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.max(
            F.col("lo") + F.col("bin") * (F.col("hi") - F.col("lo")) / 20.0
        ).alias("bin_lo"),
        F.max(
            F.col("lo")
            + (F.col("bin") + 1) * (F.col("hi") - F.col("lo")) / 20.0
        ).alias("bin_hi"),
    )


@register(
    "scalar_business_days",
    """
    WITH f AS (
      SELECT o_orderkey, o_orderpriority,
             5 * FLOOR(date_diff('day', DATE '1970-01-05',
                                 CAST(ship AS DATE)) / 7.0)
               + LEAST(date_diff('day', DATE '1970-01-05',
                                 CAST(ship AS DATE)) % 7, 5)
             - (5 * FLOOR(date_diff('day', DATE '1970-01-05',
                                    CAST(o_orderdate AS DATE)) / 7.0)
               + LEAST(date_diff('day', DATE '1970-01-05',
                                 CAST(o_orderdate AS DATE)) % 7, 5))
               AS busdays
      FROM (
        SELECT o_orderkey, o_orderpriority, o_orderdate,
               min(l_shipdate) AS ship
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY o_orderkey, o_orderpriority, o_orderdate
      )
    )
    SELECT o_orderpriority, avg(busdays * 1.0) AS avg_busdays,
           CAST(max(busdays) AS BIGINT) AS max_busdays,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM f GROUP BY o_orderpriority
    """,
    doc="Business days from order to first shipment, closed form: "
    "f(d) = 5*floor(n/7) + min(n mod 7, 5) counts weekdays since a "
    "fixed Monday epoch (1970-01-05), so busdays = f(ship) - "
    "f(order) — pure integer expression, no calendar explode, no "
    "date-spine join, O(1) per row at any scale. Reported per order "
    "priority (avg / max / count). The weekday convention (Sat+Sun "
    "excluded) is encoded in arithmetic both engines evaluate "
    "identically — no locale-dependent dayofweek anywhere.",
)
def scalar_business_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    base = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderkey", "o_orderpriority", "o_orderdate")
        .agg(F.min("l_shipdate").alias("ship"))
    )
    monday = F.lit("1970-01-05").cast("date")

    def busday_index(col):
        n = F.datediff(col.cast("date"), monday)
        return 5 * F.floor(n / 7.0) + F.least(n % 7, F.lit(5))

    f = base.select(
        "o_orderpriority",
        (busday_index(F.col("ship")) - busday_index(F.col("o_orderdate")))
        .alias("busdays"),
    )
    return f.groupBy("o_orderpriority").agg(
        F.avg(F.col("busdays") * 1.0).alias("avg_busdays"),
        F.max("busdays").cast("long").alias("max_busdays"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "embedding_label_centroids",
    """
    WITH pos AS (
      SELECT label, p.pos, avg(embedding[p.pos]) AS c
      FROM embeddings e
      CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS pos) p
      GROUP BY label, p.pos
    ),
    nrm AS (
      SELECT label, sqrt(sum(c * c)) AS nrm FROM pos GROUP BY label
    )
    SELECT a.label AS l1, b.label AS l2,
           sum(a.c * b.c) / (max(na.nrm) * max(nb.nrm)) AS cosine
    FROM pos a
    JOIN pos b ON a.pos = b.pos AND a.label < b.label
    JOIN nrm na ON na.label = a.label
    JOIN nrm nb ON nb.label = b.label
    GROUP BY a.label, b.label
    """,
    doc="Per-label embedding centroids and their pairwise cosine "
    "similarity — the cluster-separation report for an embedding "
    "space (labels whose centroids cosine ~1 are indistinguishable "
    "to a classifier). Element-wise mean the distributed way: "
    "posexplode to (label, dim, value), ONE hash aggregation to "
    "label x 64 centroids, then all pairwise dots join on dim over "
    "that tiny aggregate. No vector ever collects to the driver; "
    "the posexplode shuffle is the only data-sized move.",
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    pos = (
        emb.select(
            "label", F.posexplode("embedding").alias("pos0", "v")
        )
        .groupBy("label", (F.col("pos0") + 1).alias("pos"))
        .agg(F.avg("v").alias("c"))
    )
    nrm = pos.groupBy("label").agg(
        F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("nrm")
    )
    a = pos.alias("a")
    b = pos.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.pos") == F.col("b.pos"))
            & (F.col("a.label") < F.col("b.label")),
        )
        .groupBy(F.col("a.label").alias("l1"), F.col("b.label").alias("l2"))
        .agg(F.sum(F.col("a.c") * F.col("b.c")).alias("dot"))
    )
    na = nrm.select(F.col("label").alias("l1"), F.col("nrm").alias("nrm1"))
    nb = nrm.select(F.col("label").alias("l2"), F.col("nrm").alias("nrm2"))
    return (
        dots.join(F.broadcast(na), "l1")
        .join(F.broadcast(nb), "l2")
        .select(
            "l1",
            "l2",
            (F.col("dot") / (F.col("nrm1") * F.col("nrm2"))).alias(
                "cosine"
            ),
        )
    )


@register(
    "funnel_time_to_convert",
    """
    WITH f AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view'
                      THEN CAST(ts AS TIMESTAMP) END) AS first_view,
             min(CASE WHEN event_type = 'purchase'
                      THEN CAST(ts AS TIMESTAMP) END) AS first_purchase
      FROM events GROUP BY user_id
    ),
    d AS (
      SELECT date_diff('second', first_view, first_purchase) / 3600.0
               AS hours_to_convert
      FROM f
      WHERE first_view IS NOT NULL AND first_purchase IS NOT NULL
        AND first_purchase >= first_view
    )
    SELECT CAST(count(*) AS BIGINT) AS n_converted,
           quantile_cont(hours_to_convert, 0.5) AS p50_hours,
           quantile_cont(hours_to_convert, 0.9) AS p90_hours,
           avg(hours_to_convert) AS mean_hours
    FROM d
    """,
    doc="Time-to-convert distribution: first view -> first purchase "
    "latency per user (users whose purchase precedes any view are "
    "excluded as mis-attributed), summarized as P50/P90/mean hours — "
    "the metric behind 'how long does the funnel take'. ONE "
    "conditional-min aggregation per user (no event-pair self-join), "
    "then exact interpolated percentiles over the per-user deltas; "
    "the raw stream is read exactly once.",
)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    f = e.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "view", F.col("ts"))
        ).alias("first_view"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("first_purchase"),
    )
    d = f.filter(
        F.col("first_view").isNotNull()
        & F.col("first_purchase").isNotNull()
        & (F.col("first_purchase") >= F.col("first_view"))
    ).select(
        (
            (
                F.unix_timestamp("first_purchase")
                - F.unix_timestamp("first_view")
            )
            / 3600.0
        ).alias("hours_to_convert")
    )
    return d.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.percentile("hours_to_convert", F.lit(0.5)).alias("p50_hours"),
        F.percentile("hours_to_convert", F.lit(0.9)).alias("p90_hours"),
        F.avg("hours_to_convert").alias("mean_hours"),
    )


@register(
    "timeseries_gapfill_linear",
    """
    WITH obs AS (
      SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
               / (count(*) * 1e6) AS v
      FROM events GROUP BY 1, 2
    ),
    spine AS (
      SELECT user_id, unnest(generate_series(min(day), max(day),
                                             INTERVAL 1 DAY))::DATE AS day
      FROM obs GROUP BY user_id
    ),
    j AS (
      SELECT s.user_id, s.day, o.v,
             CASE WHEN o.v IS NOT NULL THEN s.day END AS obs_day
      FROM spine s LEFT JOIN obs o
        ON s.user_id = o.user_id AND s.day = o.day
    ),
    w AS (
      SELECT user_id, day, v,
             last_value(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY day
               ROWS UNBOUNDED PRECEDING) AS pv,
             last_value(obs_day IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY day
               ROWS UNBOUNDED PRECEDING) AS pd,
             first_value(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY day
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             first_value(obs_day IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY day
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
      FROM j
    )
    SELECT user_id, day,
           CASE WHEN v IS NOT NULL THEN v
                WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
                  pv + (nv - pv) * date_diff('day', pd, day)
                       / date_diff('day', pd, nd)
                ELSE coalesce(pv, nv) END AS v_filled,
           CAST(CASE WHEN v IS NULL THEN 1 ELSE 0 END AS BIGINT)
             AS was_gap
    FROM w
    """,
    doc="Linear-interpolation gap fill on each user's daily series: a "
    "per-user date spine (sequence explode between the user's own min "
    "and max day) left-joins the observations, then interpolated "
    "values come from four IGNORE-NULLS window lookups (previous/next "
    "observed value and day) sharing ONE (user_id; day) sort — "
    "interior gaps get the linear blend, edges fall back to "
    "nearest-observation. The LOCF upgrade a feature pipeline needs "
    "when flat-fill biases trends; all windows ride a single shuffle.",
)
def timeseries_gapfill_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    # per-day mean as (exact micro-unit BIGINT sum) / (cnt * 1e6): a raw
    # avg(value) differs between engines in its last ulp at sf1 volume
    # (combine order), and the downstream linear interpolation amplifies
    # that into a .6g flip (sf1 gate catch). The bigint sum is order-free
    # and the single division is correctly rounded on identical inputs,
    # so v — and every interpolated blend of v — is bit-identical.
    vmicro = F.floor(F.col("value") * 1e6 + F.lit(0.5)).cast("long")
    obs = e.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(
        (
            F.sum(vmicro).cast("double")
            / (F.count(F.lit(1)) * F.lit(1e6))
        ).alias("v")
    )
    spine = (
        obs.groupBy("user_id")
        .agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
        .select(
            "user_id",
            F.explode_outer(  # outer: lo <= hi by construction
                F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))
            ).alias("day"),
        )
    )
    j = spine.join(obs, ["user_id", "day"], "left").select(
        "user_id",
        "day",
        "v",
        F.when(F.col("v").isNotNull(), F.col("day")).alias("obs_day"),
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_next = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    w = j.select(
        "user_id",
        "day",
        "v",
        F.last("v", ignorenulls=True).over(w_prev).alias("pv"),
        F.last("obs_day", ignorenulls=True).over(w_prev).alias("pd"),
        F.first("v", ignorenulls=True).over(w_next).alias("nv"),
        F.first("obs_day", ignorenulls=True).over(w_next).alias("nd"),
    )
    interp = F.col("pv") + (F.col("nv") - F.col("pv")) * F.datediff(
        "day", "pd"
    ) / F.datediff("nd", "pd")
    return w.select(
        "user_id",
        "day",
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(
            F.col("pv").isNotNull() & F.col("nv").isNotNull(), interp
        )
        .otherwise(F.coalesce("pv", "nv"))
        .alias("v_filled"),
        F.when(F.col("v").isNull(), 1).otherwise(0).cast("long").alias(
            "was_gap"
        ),
    )


@register(
    "topn_with_other",
    """
    WITH rev AS (
      SELECT n_name AS nation, p_brand AS brand,
             round(sum(l_extendedprice), 2) AS rev
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      GROUP BY n_name, p_brand
    ),
    r AS (
      SELECT nation, brand, rev,
             row_number() OVER (PARTITION BY nation
                                ORDER BY rev DESC, brand) AS rnk
      FROM rev
    )
    SELECT nation,
           CASE WHEN rnk <= 3 THEN brand ELSE 'OTHER' END AS brand_group,
           round(sum(rev), 2) AS revenue,
           CAST(count(*) AS BIGINT) AS n_brands
    FROM r GROUP BY nation,
             CASE WHEN rnk <= 3 THEN brand ELSE 'OTHER' END
    """,
    doc="Top-3 brands per supplier nation with everything else rolled "
    "into an 'OTHER' bucket — the reporting idiom that keeps "
    "dashboards readable without dropping the tail's mass. Facts "
    "aggregate FIRST (nation x brand, map-side combined, dims joined "
    "by broadcast), ranking runs on that small aggregate, and the "
    "relabel + re-aggregate costs one more tiny shuffle. Rank ties "
    "pin on brand name so the OTHER boundary is deterministic.",
)
def topn_with_other(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    rev = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .groupBy(
            F.col("n_name").alias("nation"), F.col("p_brand").alias("brand")
        )
        .agg(F.round(F.sum("l_extendedprice"), 2).alias("rev"))
    )
    w = Window.partitionBy("nation").orderBy(
        F.col("rev").desc(), F.col("brand")
    )
    r = rev.withColumn("rnk", F.row_number().over(w))
    grp = F.when(F.col("rnk") <= 3, F.col("brand")).otherwise("OTHER")
    return r.groupBy("nation", grp.alias("brand_group")).agg(
        F.round(F.sum("rev"), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_brands"),
    )


@register(
    "sample_pps_horvitz_thompson",
    """
    WITH sz AS (
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
             round(sum(o_totalprice), 2) AS rev
      FROM orders GROUP BY o_custkey
    ),
    t AS (SELECT sum(n_orders) AS tot_n, round(sum(rev), 2) AS true_total
          FROM sz),
    p AS (
      SELECT o_custkey, rev, true_total,
             LEAST(1.0, 100.0 * n_orders / tot_n) AS pi,
             ((o_custkey * 2654435761) % 1000003) / 1000003.0 AS u
      FROM sz CROSS JOIN t
    )
    SELECT CAST(count(*) AS BIGINT) AS n_sampled,
           sum(rev / pi) AS ht_estimate,
           max(true_total) AS true_total,
           abs(sum(rev / pi) - max(true_total)) / max(true_total)
             AS rel_err
    FROM p WHERE u < pi
    """,
    doc="Probability-proportional-to-size sampling with the "
    "Horvitz-Thompson total estimator: inclusion probability pi ~ "
    "customer order count (expected sample ~100), membership decided "
    "by a seedless multiplicative-hash uniform (engine-portable "
    "integer arithmetic, reproducible run to run), and the revenue "
    "total estimated as sum(y/pi) — reported next to the truth with "
    "its relative error. The approximate-query-processing pattern "
    "that answers 100 TB aggregates from a 0.1% sample with "
    "quantified bias (HT is design-unbiased).",
)
def sample_pps_horvitz_thompson(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    sz = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("rev"),
    )
    t = sz.agg(
        F.sum("n_orders").alias("tot_n"),
        F.round(F.sum("rev"), 2).alias("true_total"),
    )
    p = sz.crossJoin(F.broadcast(t)).select(
        "rev",
        "true_total",
        F.least(
            F.lit(1.0), 100.0 * F.col("n_orders") / F.col("tot_n")
        ).alias("pi"),
        (
            ((F.col("o_custkey") * 2654435761) % 1000003) / 1000003.0
        ).alias("u"),
    )
    est = F.sum(F.col("rev") / F.col("pi"))
    return (
        p.filter(F.col("u") < F.col("pi"))
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            est.alias("ht_estimate"),
            F.max("true_total").alias("true_total"),
            (
                F.abs(est - F.max("true_total")) / F.max("true_total")
            ).alias("rel_err"),
        )
    )


@register(
    "join_lateral_topk_orders",
    """
    SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
    FROM customer c, LATERAL (
      SELECT o_orderkey, o_totalprice FROM orders o
      WHERE o.o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
    WHERE c.c_custkey <= 200
    """,
    doc="LATERAL correlated subquery join (SQL:2016 / Spark 3.2+): top-2 "
    "priciest orders per customer via a per-row dependent subquery with "
    "ORDER BY ... LIMIT — the join family member Catalyst decorrelates "
    "into a ranked window internally. Deterministic tiebreak on "
    "o_orderkey.",
)
def join_lateral_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "customer").createOrReplaceTempView("__lat_cust")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("__lat_ord")
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM __lat_cust c JOIN LATERAL (
          SELECT o_orderkey, o_totalprice FROM __lat_ord o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        WHERE c.c_custkey <= 200
        """
    )


@register(
    "multimodal_png_decode",
    """
    SELECT doc_id,
           CAST(16 + doc_id % 1024 AS INT) AS width,
           CAST(16 + (doc_id * 7) % 768 AS INT) AS height,
           CAST(8 AS INT) AS bit_depth,
           CAST(2 AS INT) AS color_type,
           TRUE AS is_png
    FROM documents
    """,
    doc="REAL multimodal decode round-trip (no codec libs needed): "
    "spec-valid PNG signature+IHDR bytes are synthesized JVM-side per doc "
    "(operators/multimodal.py::synth_png_payload, dims a pure function of "
    "doc_id), then parsed back byte-for-byte with struct.unpack inside an "
    "Arrow-batched mapInArrow (decode_png_meta). The oracle reconstructs "
    "the dims arithmetically, so a wrong build OR a wrong parse "
    "mismatches. Payload is dropped at decode: downstream moves only "
    "metadata.",
)
def multimodal_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import decode_png_meta, synth_png_payload

    d = _t(spark, sf_dir, "documents")
    return decode_png_meta(synth_png_payload(d))


@register(
    "multimodal_png_pixels",
    """
    WITH d AS (
      SELECT doc_id,
             CAST(4 + doc_id % 13 AS INT) AS width,
             CAST(4 + (doc_id * 7) % 11 AS INT) AS height
      FROM documents
    ), cells AS (
      SELECT doc_id, width, height, r, c
      FROM d,
           unnest(generate_series(0, height - 1)) AS tr(r),
           unnest(generate_series(0, width - 1)) AS tc(c)
    )
    SELECT doc_id, width, height,
           CAST(width AS BIGINT) * height AS n_pixels,
           CAST(sum((doc_id * 31 + r * 7 + c * 3) % 256) AS BIGINT) AS sum_r,
           CAST(sum((doc_id * 31 + r * 7 + c * 3 + 11) % 256) AS BIGINT)
             AS sum_g,
           CAST(sum((doc_id * 31 + r * 7 + c * 3 + 22) % 256) AS BIGINT)
             AS sum_b,
           TRUE AS is_png
    FROM cells GROUP BY doc_id, width, height
    """,
    doc="REAL pixel-level image decode, no codec library: a complete "
    "spec-valid PNG (zlib IDAT split across chunks, CRC'd, every scanline "
    "filter type 0-4 in rotation) is synthesized per doc, then decoded "
    "back — chunk walk, inflate, scanline reconstruction — inside Arrow-"
    "batched mapInArrow (operators/multimodal.py::png_decode). Pixels "
    "are a pure function of doc_id, so the oracle recomputes the exact "
    "per-channel BIGINT pixel sums arithmetically: a defect in EITHER the "
    "encoder's filtering or the decoder's reconstruction mismatches. "
    "Retires the round-3 codec stub (VERDICT r3 #6).",
    tags=("bench",),
)
def multimodal_png_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import decode_png_pixels, synth_png_image

    d = _t(spark, sf_dir, "documents")
    return decode_png_pixels(synth_png_image(d))


@register(
    "source_binaryfile_ingest",
    """
    WITH d AS (
      SELECT i AS doc_id,
             CAST(4 + i % 13 AS INT) AS width,
             CAST(4 + (i * 7) % 11 AS INT) AS height
      FROM generate_series(0, 255) AS t(i)
    ), cells AS (
      SELECT doc_id, width, height, r, c
      FROM d,
           unnest(generate_series(0, height - 1)) AS tr(r),
           unnest(generate_series(0, width - 1)) AS tc(c)
    )
    SELECT doc_id, width, height,
           CAST(width AS BIGINT) * height AS n_pixels,
           CAST(sum((doc_id * 31 + r * 7 + c * 3) % 256) AS BIGINT) AS sum_r,
           CAST(sum((doc_id * 31 + r * 7 + c * 3 + 11) % 256) AS BIGINT)
             AS sum_g,
           CAST(sum((doc_id * 31 + r * 7 + c * 3 + 22) % 256) AS BIGINT)
             AS sum_b,
           TRUE AS is_png
    FROM cells GROUP BY doc_id, width, height
    """,
    doc="Raw-asset lake ingest via Spark's built-in binaryFile source "
    "(sources/files.py): 256 deterministic PNG files land as loose files "
    "in a directory, the scan lists them with pathGlobFilter='*.png' (a "
    "decoy manifest.txt in the same dir is pruned at LISTING time, never "
    "opened — predicate pushdown for raw assets), the asset id is parsed "
    "from the file path, and the content bytes go through the REAL "
    "stdlib PNG decoder. The oracle recomputes every per-channel pixel "
    "sum arithmetically, so a single corrupted byte anywhere in the "
    "write-list-read-decode chain mismatches. binaryFile rows are "
    "split-proof (one blob = one row); at 100 TB parallelism is "
    "files-per-task and listing fans out over executors.",
    tags=("graded",),
)
def source_binaryfile_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.files import ingest_png_assets

    tune(spark)
    return ingest_png_assets(spark)


@register(
    "source_text_roundtrip",
    """
    SELECT doc_id % 10 AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS total_chars,
           CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
    FROM documents GROUP BY doc_id % 10
    """,
    doc="Line-oriented text sink + source round trip (sources/files.py): "
    "the documents corpus is written with df.write.text as tab-prefixed "
    "lines (fixture text is newline-free, so the format is lossless), "
    "read back with spark.read.text, ids split out, and bucket-level "
    "content statistics compared against the ORIGINAL parquet table — "
    "any line lost, duplicated, or altered by the sink/source pair "
    "mismatches the oracle. The text source splits by line across "
    "maxPartitionBytes ranges, so a 100 TB corpus parallelizes without "
    "any per-file bookkeeping.",
)
def source_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.files import read_text_corpus, write_text_corpus

    d = _t(spark, sf_dir, "documents")
    path = write_text_corpus(d, sf_dir, "doc_id", "text")
    back = read_text_corpus(spark, path)
    return back.groupBy((F.col("doc_id") % 10).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).cast("bigint").alias("total_chars"),
        F.sum("doc_id").cast("bigint").alias("sum_doc_id"),
    )


@register(
    "sink_jdbc_gold_report",
    """
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue
    FROM orders GROUP BY o_orderstatus
    """,
    doc="The reference's gold-report JDBC sink (S7, spark_jobs/"
    "gold_reporting.py:125-135 writes the final aggregate to Postgres in "
    "overwrite mode) executed over a REAL wire path in this image: the "
    "per-status order report is written through spark.write.jdbc into an "
    "embedded Derby database — the JDBC driver stock Spark ships for the "
    "Hive metastore — and read back through spark.read.jdbc, so dialect "
    "resolution, DDL type mapping, batched inserts, and overwrite mode "
    "all actually execute (against Postgres only the url/driver strings "
    "change). The returned frame is the READ-BACK, so any value the sink "
    "altered mismatches the oracle. Report-sized output: a single-"
    "connection sink is correct here; corpus-sized JDBC writes would "
    "instead batch per partition (numPartitions on the writer). The "
    "Derby db is shut down and removed before return (tmp-leak "
    "contract).",
    tags=("graded",),
)
def sink_jdbc_gold_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.connectors import (
        DERBY_EMBEDDED_DRIVER,
        read_jdbc,
        scratch_derby,
        write_jdbc,
    )

    report = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )
    with scratch_derby(spark, "jdbc_sink_") as (url, _):
        write_jdbc(report, url, "gold_report", driver=DERBY_EMBEDDED_DRIVER)
        back = read_jdbc(
            spark, url, "gold_report", driver=DERBY_EMBEDDED_DRIVER
        )
        # eager: the scratch database is removed before return
        return back.localCheckpoint(eager=True)


@register(
    "streaming_gold_to_jdbc",
    """
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue
    FROM orders GROUP BY o_orderstatus
    """,
    doc="Streaming gold-to-warehouse over a REAL JDBC wire (streaming/"
    "sinks.py::run_gold_report_to_jdbc): orders arrive as a stream "
    "(availableNow), the per-status revenue report aggregates in COMPLETE "
    "output mode, and foreachBatch overwrites an embedded-Derby table "
    "each epoch — overwrite-per-epoch is the idempotent sink shape for "
    "complete-mode reports (a redelivered epoch rewrites the same full "
    "state), the streaming analog of the reference's batch gold-to-"
    "Postgres step (spark_jobs/gold_reporting.py:125-135). The returned "
    "frame is the JDBC READ-BACK, so watermarkless-complete-mode "
    "equivalence to the batch aggregate AND the sink round trip are both "
    "oracle-checked.",
    tags=("graded",),
)
def streaming_gold_to_jdbc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.sinks import run_gold_report_to_jdbc

    return run_gold_report_to_jdbc(spark, sf_dir)


@register(
    "multimodal_image_ahash_dedup",
    """
    WITH d AS (
      SELECT doc_id,
             CAST(4 + doc_id % 13 AS INT) AS width,
             CAST(4 + (doc_id * 7) % 11 AS INT) AS height
      FROM documents
    ), cells AS (
      SELECT doc_id, width, height, r, c,
             CAST((doc_id * 31 + r * 7 + c * 3) % 256
                + (doc_id * 31 + r * 7 + c * 3 + 11) % 256
                + (doc_id * 31 + r * 7 + c * 3 + 22) % 256 AS BIGINT) AS g
      FROM d,
           unnest(generate_series(0, height - 1)) AS tr(r),
           unnest(generate_series(0, width - 1)) AS tc(c)
    ), tot AS (
      SELECT doc_id, CAST(sum(g) AS BIGINT) AS total FROM cells
      GROUP BY doc_id
    ), bits AS (
      SELECT cells.doc_id, width, height,
             string_agg(CASE WHEN CAST(width AS BIGINT) * height * g >= total
                             THEN '1' ELSE '0' END, '' ORDER BY r, c) AS bs
      FROM cells JOIN tot ON cells.doc_id = tot.doc_id
      GROUP BY cells.doc_id, width, height
    )
    SELECT doc_id, width, height, md5(bs) AS ahash,
           doc_id = min(doc_id) OVER (PARTITION BY md5(bs)) AS keep
    FROM bits
    """,
    doc="Image near-dup dedup via a brightness-invariant structural hash "
    "(the aHash trick, division-free): the engine DECODES the real PNG "
    "bytes (same stdlib codec as the pixel-stats queries), thresholds "
    "each pixel's gray sum against the image mean with the exact-"
    "integer test w*h*g >= total, md5s the row-major bit string, and "
    "keeps the smallest doc per hash group. Brightness shifts leave "
    "every bit unchanged (until mod-256 wrap), so re-exposed duplicates "
    "collide while byte-level hashes differ. The oracle reconstructs "
    "every bit arithmetically from the synthesis formula — a defect in "
    "encoder filtering, decoder reconstruction, OR the thresholding "
    "mismatches. Payload is dropped at the hash, so the dedup join "
    "moves ~50 bytes/image; the hash window is content-addressed and "
    "high-cardinality (no skew). operators/multimodal.py::ahash_png.",
    tags=("graded",),
)
def multimodal_image_ahash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import ahash_png, synth_png_image

    d = _t(spark, sf_dir, "documents")
    hashed = ahash_png(synth_png_image(d))
    w = Window.partitionBy("ahash")
    return hashed.select(
        "doc_id",
        "width",
        "height",
        "ahash",
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("keep"),
    )


@register(
    "text_pii_redaction",
    r"""
    WITH planted AS (
      SELECT doc_id,
             text || ' contact u' || doc_id || '@example.org'
             || CASE WHEN doc_id % 2 = 0
                     THEN ' or b' || doc_id || '@test.io' ELSE '' END
             || CASE WHEN doc_id % 3 = 0
                     THEN ' call 555-'
                          || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                          || '-'
                          || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                     ELSE '' END AS text
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT)
             AS n_emails,
           CAST(len(regexp_extract_all(text, '\d{3}[-.]\d{3}[-.]\d{4}'))
             AS INT) AS n_phones,
           CAST(length(regexp_replace(regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>',
             'g'), '\d{3}[-.]\d{3}[-.]\d{4}', '<PHONE>', 'g')) AS INT)
             AS redacted_len,
           md5(regexp_replace(regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>',
             'g'), '\d{3}[-.]\d{3}[-.]\d{4}', '<PHONE>', 'g'))
             AS redacted_md5
    FROM planted
    """,
    doc="PII detection + redaction over documents with deterministically "
    "PLANTED emails/phones (pure functions of doc_id, so the oracle "
    "rebuilds the same corpus): per-doc counts, redacted length, and an "
    "md5 of the redacted text — the replacement BYTES are verified, not "
    "just the counts. Zero-shuffle JVM codegen projection (regexp_count/"
    "regexp_replace); patterns stay in the Java-regex/RE2-agreeing "
    "subset. operators/text.py::pii_scrub.",
)
def text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return T.pii_scrub(T.plant_synthetic_pii(d.select("doc_id", "text")))


@register(
    "multimodal_wav_features",
    """
    WITH d AS (
      SELECT doc_id,
             CAST(1 + doc_id % 2 AS INT) AS channels,
             CAST(32 + doc_id % 97 AS BIGINT) AS n_frames
      FROM documents
    ), cells AS (
      SELECT doc_id, CAST(i // 16 AS INT) AS win_no,
             (doc_id * 13 + i * 7 + ch * 5) % 65536 - 32768 AS s
      FROM d,
           unnest(generate_series(0, n_frames - 1)) AS ti(i),
           unnest(generate_series(0, channels - 1)) AS tc(ch)
    )
    SELECT doc_id, win_no,
           CAST(count(*) / (SELECT channels FROM d dd
                            WHERE dd.doc_id = cells.doc_id) AS INT)
             AS n_in_win,
           CAST(sum(s) AS BIGINT) AS sum_win,
           CAST(sum(s * s) AS BIGINT) AS sumsq_win
    FROM cells GROUP BY doc_id, win_no
    """,
    doc="Audio feature extraction: PCM decode + per-16-frame-window exact "
    "BIGINT energy stats (sum, sum-of-squares across channels) — the "
    "integer core of an RMS/energy contour, one row per (doc, window). "
    "The oracle regenerates every sample arithmetically. "
    "operators/multimodal.py::wav_window_features.",
)
def multimodal_wav_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import synth_wav_audio, wav_window_features

    d = _t(spark, sf_dir, "documents")
    return wav_window_features(synth_wav_audio(d), win=16)


@register(
    "multimodal_png_resize",
    """
    WITH d AS (
      SELECT doc_id,
             CAST(4 + doc_id % 13 AS INT) AS w0,
             CAST(4 + (doc_id * 7) % 11 AS INT) AS h0
      FROM documents
    ), dims AS (
      SELECT doc_id, w0, h0,
             CAST(ceil(w0 / 2.0) AS INT) AS width,
             CAST(ceil(h0 / 2.0) AS INT) AS height
      FROM d
    ), cells AS (
      SELECT doc_id, width, height, r * 2 AS r, c * 2 AS c
      FROM dims,
           unnest(generate_series(0, height - 1)) AS tr(r),
           unnest(generate_series(0, width - 1)) AS tc(c)
    )
    SELECT doc_id, width, height,
           CAST(width AS BIGINT) * height AS n_pixels,
           CAST(sum((doc_id * 31 + r * 7 + c * 3) % 256) AS BIGINT) AS sum_r,
           CAST(sum((doc_id * 31 + r * 7 + c * 3 + 11) % 256) AS BIGINT)
             AS sum_g,
           CAST(sum((doc_id * 31 + r * 7 + c * 3 + 22) % 256) AS BIGINT)
             AS sum_b,
           TRUE AS is_png
    FROM cells GROUP BY doc_id, width, height
    """,
    doc="Image TRANSFORM round trip (thumbnailing): decode the synthesized "
    "PNG, nearest-neighbor downsample 2x, RE-ENCODE as a fresh PNG, decode "
    "again, emit exact per-channel BIGINT pixel sums. The oracle "
    "reconstructs the subsampled grid arithmetically (output pixel (r,c) = "
    "source pixel (2r,2c)), so a defect in decode, resize, OR re-encode "
    "mismatches. operators/multimodal.py::resize_png_pixels.",
)
def multimodal_png_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import resize_png_pixels, synth_png_image

    d = _t(spark, sf_dir, "documents")
    return resize_png_pixels(synth_png_image(d), factor=2)


@register(
    "multimodal_wav_samples",
    """
    WITH d AS (
      SELECT doc_id,
             CAST(8000 + (doc_id % 8) * 4000 AS INT) AS sample_rate,
             CAST(1 + doc_id % 2 AS INT) AS channels,
             CAST(32 + doc_id % 97 AS BIGINT) AS n_frames
      FROM documents
    ), cells AS (
      SELECT doc_id, sample_rate, channels, n_frames,
             (doc_id * 13 + i * 7 + ch * 5) % 65536 - 32768 AS s
      FROM d,
           unnest(generate_series(0, n_frames - 1)) AS ti(i),
           unnest(generate_series(0, channels - 1)) AS tc(ch)
    )
    SELECT doc_id, sample_rate, channels, n_frames,
           CAST(sum(s) AS BIGINT) AS sum_samples,
           CAST(min(s) AS INT) AS min_sample,
           CAST(max(s) AS INT) AS max_sample,
           TRUE AS is_wav
    FROM cells GROUP BY doc_id, sample_rate, channels, n_frames
    """,
    doc="REAL sample-level audio decode: complete 16-bit PCM WAVs "
    "(RIFF/fmt/data, little-endian frames) synthesized per doc and decoded "
    "back via a generic RIFF sub-chunk walk + vectorized PCM unpack in "
    "Arrow-batched mapInArrow (operators/multimodal.py::wav_decode). "
    "Samples are a pure function of doc_id; the oracle recomputes exact "
    "BIGINT sum/min/max per doc. Retires the round-3 codec stub.",
)
def multimodal_wav_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import decode_wav_samples, synth_wav_audio

    d = _t(spark, sf_dir, "documents")
    return decode_wav_samples(synth_wav_audio(d))


@register(
    "ann_maxsim_multivector",
    """
    WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
               WHERE vec_id < 4),
    s AS (
      SELECT e.label, q.qid,
             max(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                        CAST(q.qv AS DOUBLE[]))) AS best
      FROM embeddings e CROSS JOIN q
      GROUP BY e.label, q.qid)
    SELECT label, sum(best) AS maxsim_score,
           CAST(count(*) AS BIGINT) AS n_query_vecs
    FROM s GROUP BY label
    """,
    doc="ColBERT-style MaxSim late interaction: each label's vector set is "
    "a multi-vector 'document', the 4-vector query scores it as "
    "sum_q(max_d cos(q, d)) — token-level matching a pooled single vector "
    "cannot express. Broadcast |Q| against the corpus (|C|x|Q| narrow "
    "rows, never corpus x corpus), per-(label, qid) max then per-label "
    "fold, both shuffles on the label key. "
    "operators/similarity.py::maxsim_multivector.",
)
def ann_maxsim_multivector(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    return S.maxsim_multivector(e, q, group_col="label", qid_col="qid")


@register(
    "text_dup_ngram_spans",
    """
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS words
               FROM documents),
    g AS (SELECT doc_id, array_to_string(words[i:i+2], ' ') AS gram
          FROM w, LATERAL (SELECT unnest(generate_series(
                             1, greatest(len(words) - 2, 0))) AS i) ii)
    SELECT gram, n_docs, n_occ FROM (
      SELECT gram, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
             count(*) AS n_occ
      FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2)
    ORDER BY n_docs DESC, n_occ DESC, gram LIMIT 100
    """,
    doc="Cross-document duplicated-span mining (the suffix-array "
    "train-set-dedup signal, bounded to word trigrams): every trigram "
    "window per doc via sequence+slice HOFs (zero shuffle until the "
    "groupBy), grams appearing in >= 2 distinct docs ranked by spread. "
    "At 100 TB the same plan runs with hashed grams (xxhash64 of the "
    "window) to keep the shuffle key 8 bytes; string form kept here for "
    "the oracle.",
)
def text_dup_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.expr import let_

    d = _t(spark, sf_dir, "documents")

    # empty-guard: sequence(1, 0) yields [1, 0] (step defaults to -1) and
    # slice(words, 0, 3) throws — docs under 3 words must yield no grams,
    # matching the oracle's empty generate_series(1, 0). words is bound
    # once via let_ (the gram lambda slices it per window; unbound it
    # would re-split the text per window — O(L^2) per doc).
    def _grams(ws):
        n_grams = F.greatest(F.size(ws) - 2, F.lit(0))
        return F.when(
            n_grams == 0, F.array().cast("array<string>")
        ).otherwise(
            F.transform(
                F.sequence(F.lit(1), n_grams),
                lambda i: F.array_join(F.slice(ws, i, 3), " "),
            )
        )

    grams = let_(F.split(F.col("text"), " "), _grams)
    # explode_outer + null-filter: explode's inferred size()>0 predicate
    # would inline the whole gram build and run it twice per row; grams are
    # never legitimately null (array_join), so the attribute filter exactly
    # restores drop-empty semantics for short docs
    return (
        d.select("doc_id", F.explode_outer(grams).alias("gram"))
        .filter(F.col("gram").isNotNull())
        .groupBy("gram")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.col("n_docs").desc(), F.col("n_occ").desc(), F.col("gram"))
        .limit(100)
    )


@register(
    "streaming_segment_counts",
    """
    SELECT c_mktsegment, count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment
    """,
    doc="Stream-static dimension enrichment: the events STREAM broadcast-"
    "joined to the static customer dim per micro-batch (no state, no "
    "watermark needed on the static side), rolled up per segment. "
    "availableNow + memory sink => batch-equivalent, oracle is the plain "
    "join. streaming/join.py::run_stream_static_segment_counts.",
)
def streaming_segment_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.join import run_stream_static_segment_counts

    return run_stream_static_segment_counts(spark, sf_dir)


_BM25_ORACLE = """
    WITH toks AS (
      SELECT doc_id AS id, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ), toks_ne AS (SELECT * FROM toks WHERE tok <> ''),
    dl AS (SELECT id, count(*) AS dl FROM toks_ne GROUP BY id),
    na AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
    tf AS (SELECT id, tok, count(*) AS tf FROM toks_ne
           WHERE tok IN ('hash', 'join', 'scan') GROUP BY id, tok),
    dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
    scored AS (
      SELECT tf.id, ln(1.0 + (na.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
               * tf.tf * (1.2 + 1) /
               (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / na.avgdl))
               AS contrib
      FROM tf JOIN dfreq USING (tok) JOIN dl USING (id) CROSS JOIN na)
    SELECT id AS doc_id, sum(contrib) AS bm25
    FROM scored GROUP BY id
"""


@register(
    "text_bm25_topk",
    f"""
    SELECT doc_id, bm25 FROM ({_BM25_ORACLE})
    ORDER BY bm25 DESC, doc_id LIMIT 20
    """,
    doc="Okapi BM25 keyword relevance (terms: hash/join/scan, k1=1.2 "
    "b=0.75): per-doc tf + doc length in one explode pass, df and avgdl "
    "as broadcast scalars, ln(1 + (N-df+.5)/(df+.5)) idf — top-20 with "
    "doc_id tiebreak. operators/text.py::bm25_scores.",
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return (
        T.bm25_scores(d, ["hash", "join", "scan"])
        .orderBy(F.col("bm25").desc(), F.col("doc_id"))
        .limit(20)
    )


@register(
    "rank_fusion_rrf",
    f"""
    WITH bm AS (
      SELECT doc_id, CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id)
                          AS INT) AS r_bm
      FROM ({_BM25_ORACLE})
    ),
    ln_rank AS (
      SELECT doc_id, CAST(row_number() OVER (ORDER BY n_chars DESC, doc_id)
                          AS INT) AS r_len
      FROM documents
    ),
    fused AS (
      SELECT coalesce(bm.doc_id, ln_rank.doc_id) AS doc_id,
             coalesce(1.0 / (60 + r_bm), 0.0)
               + coalesce(1.0 / (60 + r_len), 0.0) AS rrf
      FROM bm FULL OUTER JOIN ln_rank ON bm.doc_id = ln_rank.doc_id)
    SELECT doc_id, rrf FROM fused ORDER BY rrf DESC, doc_id LIMIT 20
    """,
    doc="Reciprocal-rank fusion of two retrieval rankings (BM25 keyword "
    "relevance + length prior): rrf = sum_i 1/(60 + rank_i), the "
    "standard zero-tuning hybrid-search combiner. Each ranking is a "
    "DISTRIBUTED exact rank (operators/ordered.py::distributed_rank — "
    "range-bucketed per-bucket windows + broadcast offsets, descending "
    "via negation), so no corpus-sized frame funnels through one "
    "partition; full-outer join keeps docs ranked by only one side.",
)
def rank_fusion_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.ordered import distributed_rank

    d = _t(spark, sf_dir, "documents")
    bm = distributed_rank(
        T.bm25_scores(d, ["hash", "join", "scan"]).select(
            "doc_id", (-F.col("bm25")).alias("__neg")
        ),
        "__neg",
        "doc_id",
        out_col="r_bm",
    ).select("doc_id", "r_bm")
    ln_rank = distributed_rank(
        d.select("doc_id", (-F.col("n_chars")).alias("__neg")),
        "__neg",
        "doc_id",
        out_col="r_len",
    ).select("doc_id", "r_len")
    fused = (
        bm.join(ln_rank, "doc_id", "full_outer")
        .select(
            "doc_id",
            (
                F.coalesce(1.0 / (60 + F.col("r_bm")), F.lit(0.0))
                + F.coalesce(1.0 / (60 + F.col("r_len")), F.lit(0.0))
            ).alias("rrf"),
        )
    )
    return fused.orderBy(F.col("rrf").desc(), F.col("doc_id")).limit(20)


@register(
    "markov_event_transitions",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
               ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_type
      FROM events
    ),
    c AS (
      SELECT prev_type, event_type AS curr_type, count(*) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type)
    SELECT prev_type, curr_type, CAST(n AS BIGINT) AS n,
           n * 1.0 / sum(n) OVER (PARTITION BY prev_type) AS p
    FROM c
    """,
    doc="First-order Markov transition matrix of user event sequences: "
    "lag() per user timeline (deterministic event_id tiebreak) -> bigram "
    "counts -> row-normalized P(curr|prev) via a window over the tiny "
    "25-cell aggregate. The sequence-prior profile used for session "
    "simulation and anomaly scoring; counts are integers so the "
    "probabilities are bit-identical across engines.",
)
def markov_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    c = seq.groupBy("prev_type", F.col("event_type").alias("curr_type")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return c.select(
        "prev_type",
        "curr_type",
        "n",
        (
            F.col("n") * 1.0
            / F.sum("n").over(Window.partitionBy("prev_type"))
        ).alias("p"),
    )


@register(
    "spatial_radius_pairs",
    """
    WITH p AS (
      SELECT c_custkey AS id, c_custkey % 1000 AS x,
             (c_custkey * 37) % 1000 AS y
      FROM customer)
    SELECT a.id AS id_a, b.id AS id_b,
           (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist2
    FROM p a JOIN p b ON a.id < b.id
    WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 25
    """,
    doc="Spatial radius join (all point pairs within distance 5) via 3x3 "
    "grid-cell bucketing: each left point explodes to its neighbor cells "
    "of side=radius, equi-join on the cell key, exact squared-distance "
    "filter on candidates only — O(n * density) vs the oracle's O(n^2) "
    "cross join. Projected integer coordinates (derived from custkey) "
    "keep distance math exact. operators/spatial.py::radius_pairs_grid.",
)
def spatial_radius_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.spatial import radius_pairs_grid

    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.pmod(F.col("c_custkey"), F.lit(1000)).alias("x"),
        F.pmod(F.col("c_custkey") * 37, F.lit(1000)).alias("y"),
    )
    return radius_pairs_grid(c, radius=5)


@register(
    "multimodal_wav_decode",
    """
    SELECT doc_id,
           CAST(8000 + (doc_id % 8) * 4000 AS INT) AS sample_rate,
           CAST(1 + doc_id % 2 AS INT) AS channels,
           CAST(16 AS INT) AS bits_per_sample,
           CAST(strlen(text) AS INT) AS n_data_bytes,
           TRUE AS is_wav
    FROM documents
    """,
    doc="REAL audio-metadata decode round-trip (codec-free): spec-valid "
    "RIFF/WAVE headers (little-endian words via hex byte-swap) built "
    "JVM-side per doc, parsed back with struct.unpack in Arrow-batched "
    "mapInArrow. Oracle reconstructs the params arithmetically — a wrong "
    "build OR parse mismatches. Together with multimodal_png_decode this "
    "covers image+audio byte-level decode plumbing. "
    "operators/multimodal.py::synth_wav_payload/decode_wav_meta.",
)
def multimodal_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import decode_wav_meta, synth_wav_payload

    d = _t(spark, sf_dir, "documents")
    return decode_wav_meta(synth_wav_payload(d))


@register(
    "governance_pseudonymized_rollup",
    """
    WITH t AS (
      SELECT sha256('tenant-key-1:' || CAST(c_custkey AS VARCHAR)) AS token,
             c_custkey
      FROM customer)
    SELECT token, CAST(count(o_orderkey) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
    FROM t JOIN orders ON o_custkey = c_custkey
    GROUP BY token
    """,
    doc="Crypto-shredding-style pseudonymization: customer identity is "
    "replaced by a keyed SHA-256 token (drop the key => tokens become "
    "unlinkable — GDPR erasure without rewriting the fact table), and the "
    "fact rollup joins/aggregates on the token with full fidelity. The "
    "token map is a narrow projection; the join keeps the original "
    "custkey equi-join shape so pushdown/broadcast behavior is unchanged.",
)
def governance_pseudonymized_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    t = c.select(
        F.sha2(
            F.concat(F.lit("tenant-key-1:"), F.col("c_custkey").cast("string")),
            256,
        ).alias("token"),
        "c_custkey",
    )
    return (
        t.join(o, t.c_custkey == o.o_custkey)
        .groupBy("token")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@register(
    "sql_group_by_all",
    """
    SELECT o_orderstatus, CAST(year(o_orderdate) AS INT) AS yr,
           count(*) AS n, round(sum(o_totalprice), 2) AS revenue
    FROM orders GROUP BY ALL
    """,
    doc="GROUP BY ALL (modern SQL sugar, Spark 3.4+/DuckDB): every "
    "non-aggregate select item becomes a grouping key — exercised "
    "through the SQL entry point to pin the parser surface.",
)
def sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders").createOrReplaceTempView("__gba_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, CAST(year(o_orderdate) AS INT) AS yr,
               count(*) AS n, round(sum(o_totalprice), 2) AS revenue
        FROM __gba_orders GROUP BY ALL
        """
    )


@register(
    "join_null_safe_eq",
    """
    WITH a AS (SELECT nullif(o_orderstatus, 'P') AS k, o_totalprice
               FROM orders),
    d AS (SELECT DISTINCT nullif(o_orderstatus, 'P') AS k,
                 coalesce(o_orderstatus, '?') AS label
          FROM orders)
    SELECT d.label, CAST(count(*) AS BIGINT) AS n,
           round(sum(a.o_totalprice), 2) AS revenue
    FROM a JOIN d ON a.k IS NOT DISTINCT FROM d.k
    GROUP BY d.label
    """,
    doc="Null-safe equi-join (<=> / IS NOT DISTINCT FROM): NULL keys match "
    "each other instead of silently dropping — the join-matrix member "
    "plain equality cannot express. Spark plans <=> as a hashable key "
    "(SortMergeJoin/BHJ, not a nested loop), which is what makes "
    "null-keyed dimension joins viable at scale.",
)
def join_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    a = o.select(
        F.nullif("o_orderstatus", F.lit("P")).alias("k"), "o_totalprice"
    )
    d = o.select(
        F.nullif("o_orderstatus", F.lit("P")).alias("dk"),
        F.coalesce("o_orderstatus", F.lit("?")).alias("label"),
    ).distinct()
    return (
        a.join(d, a["k"].eqNullSafe(d["dk"]))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@register(
    "sql_not_in_null_semantics",
    """
    SELECT
      (SELECT count(*) FROM customer
       WHERE c_custkey NOT IN (SELECT nullif(o_custkey, 7) FROM orders))
        AS not_in_with_null,
      (SELECT count(*) FROM customer c
       WHERE NOT EXISTS (SELECT 1 FROM orders o
                         WHERE nullif(o.o_custkey, 7) = c.c_custkey))
        AS not_exists,
      (SELECT count(*) FROM customer
       WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                               WHERE o_custkey IS NOT NULL))
        AS not_in_clean
    """,
    doc="Three-valued-logic semantics audit: NOT IN against a subquery "
    "containing a NULL returns zero rows (every comparison is UNKNOWN) "
    "while NOT EXISTS keeps matching — the classic anti-join footgun, "
    "asserted identical across engines. The engine-side plan builds the "
    "three scalar counts with null-aware anti joins, the shape Catalyst "
    "emits for NOT IN.",
)
def sql_not_in_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "customer").createOrReplaceTempView("__tvl_cust")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("__tvl_ord")
    return spark.sql(
        """
        SELECT
          (SELECT count(*) FROM __tvl_cust
           WHERE c_custkey NOT IN (SELECT nullif(o_custkey, 7)
                                   FROM __tvl_ord)) AS not_in_with_null,
          (SELECT count(*) FROM __tvl_cust c
           WHERE NOT EXISTS (SELECT 1 FROM __tvl_ord o
                             WHERE nullif(o.o_custkey, 7) = c.c_custkey))
            AS not_exists,
          (SELECT count(*) FROM __tvl_cust
           WHERE c_custkey NOT IN (SELECT o_custkey FROM __tvl_ord
                                   WHERE o_custkey IS NOT NULL))
            AS not_in_clean
        """
    )


@register(
    "dedup_survivors_quality",
    """
    WITH RECURSIVE e0 AS (
      SELECT a.vec_id AS s, b.vec_id AS d
      FROM embeddings a, embeddings b
      WHERE a.vec_id < b.vec_id
        AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])) >= 0.4),
    edges AS (SELECT s, d FROM e0 UNION SELECT d, s FROM e0),
    reach(id, comp) AS (
      SELECT vec_id, vec_id FROM embeddings
      UNION
      SELECT e.d, r.comp FROM reach r JOIN edges e ON e.s = r.id),
    comp AS (SELECT id, min(comp) AS component FROM reach GROUP BY id),
    scored AS (
      SELECT c.id AS vec_id, c.component,
             (c.id * 2654435761) % 1000003 AS q
      FROM comp c)
    SELECT vec_id, q FROM (
      SELECT vec_id, q, row_number() OVER (
               PARTITION BY component ORDER BY q DESC, vec_id) AS rk
      FROM scored)
    WHERE rk = 1
    """,
    doc="Quality-preference near-dup survivor selection: cosine>=0.4 pairs "
    "-> distributed connected components (min-label + pointer jumping) -> "
    "keep the highest-quality member per cluster (deterministic hash "
    "pseudo-score; id tiebreak) — the production policy that keeps the "
    "clean page instead of whichever crawled first. Full oracle: DuckDB "
    "computes the same components via a recursive-CTE min-label closure, "
    "so a wrong cluster or wrong argmax mismatches. "
    "operators/dedup.py::dedup_survivors_by_quality.",
)
def dedup_survivors_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import dedup_survivors_by_quality

    e = _t(spark, sf_dir, "embeddings")
    pairs = S.cosine_neardup_blocked(
        e, threshold=0.4, n_rows=table_rowcount(sf_dir, "embeddings")
    ).select("id_a", "id_b")
    scored = e.select(
        "vec_id",
        F.pmod(F.col("vec_id") * 2654435761, F.lit(1000003)).alias("q"),
    )
    return dedup_survivors_by_quality(scored, pairs, "q", id_col="vec_id")


@register(
    "mix_temperature_quota",
    """
    WITH n AS (
      SELECT source, sum(len(string_split(text, ' '))) AS n_tokens
      FROM documents GROUP BY source),
    w AS (
      SELECT source, n_tokens,
             sqrt(CAST(n_tokens AS DOUBLE)) AS wt,
             sum(sqrt(CAST(n_tokens AS DOUBLE))) OVER () AS wt_sum,
             count(*) OVER () AS n_src
      FROM n),
    s AS (
      SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
             CAST(FLOOR(100000 * wt / wt_sum) AS BIGINT) AS base,
             100000 * wt / wt_sum - FLOOR(100000 * wt / wt_sum) AS frac,
             CAST(sum(FLOOR(100000 * wt / wt_sum)) OVER () AS BIGINT)
               AS base_sum
      FROM w)
    SELECT source, n_tokens,
           base + CASE WHEN row_number() OVER (ORDER BY frac DESC, source)
                       <= 100000 - base_sum THEN 1 ELSE 0 END AS quota
    FROM s
    """,
    doc="Temperature-scaled training-mix quotas (alpha=0.5, the "
    "multilingual-sampling staple): per-source token counts from one "
    "explode-free size(split) aggregation, sampling weight n^alpha "
    "normalized over sources, and a 100k-token budget allocated "
    "integer-exactly by largest remainder (source-name tiebreak) — "
    "sum(quota) == budget by construction. The windows run over the "
    "handful-of-sources aggregate, never the corpus.",
)
def mix_temperature_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    n = d.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).alias("n_tokens")
    )
    w_all = Window.partitionBy()
    wt = F.sqrt(F.col("n_tokens").cast("double"))
    w = n.select(
        "source",
        "n_tokens",
        wt.alias("wt"),
        F.sum(wt).over(w_all).alias("wt_sum"),
    )
    share = F.lit(100000) * F.col("wt") / F.col("wt_sum")
    s = w.select(
        "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.floor(share).cast("long").alias("base"),
        (share - F.floor(share)).alias("frac"),
        F.sum(F.floor(share)).over(w_all).cast("long").alias("base_sum"),
    )
    rn = F.row_number().over(Window.orderBy(F.col("frac").desc(), F.col("source")))
    return s.select(
        "source",
        "n_tokens",
        (
            F.col("base")
            + F.when(rn <= F.lit(100000) - F.col("base_sum"), 1).otherwise(0)
        ).alias("quota"),
    )


@register(
    "cohort_ltv_curve",
    """
    WITH firsts AS (
      SELECT o_custkey,
             CAST(date_trunc('quarter', min(o_orderdate)) AS DATE) AS cohort
      FROM orders GROUP BY o_custkey
    ),
    aged AS (
      SELECT f.cohort,
             CAST(date_diff('quarter',
                   CAST(f.cohort AS TIMESTAMP),
                   date_trunc('quarter', o.o_orderdate)) AS INT) AS age_q,
             o.o_totalprice
      FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
    ),
    per_age AS (
      SELECT cohort, age_q, round(sum(o_totalprice), 2) AS rev
      FROM aged GROUP BY cohort, age_q),
    sized AS (
      SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_size FROM firsts
      GROUP BY cohort)
    SELECT p.cohort, p.age_q,
           round(sum(p.rev) OVER (PARTITION BY p.cohort ORDER BY p.age_q
                                  ROWS UNBOUNDED PRECEDING), 2)
             / s.cohort_size AS cum_ltv_per_customer,
           s.cohort_size
    FROM per_age p JOIN sized s ON p.cohort = s.cohort
    """,
    doc="Cohort LTV curves: customers grouped by first-order quarter, "
    "revenue bucketed by cohort age, cumulative spend per customer via a "
    "running window over the tiny (cohort x age) aggregate — the "
    "curve marketing reads retention payback from. Facts collapse "
    "before any window; cohort sizes broadcast-join back. Sums ride "
    "the 2-decimal grid (round) so the running totals are bit-stable.",
)
def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    firsts = o.groupBy("o_custkey").agg(
        F.date_trunc("quarter", F.min("o_orderdate")).cast("date").alias("cohort")
    )
    aged = o.join(firsts, "o_custkey").select(
        "cohort",
        (
            (F.year(F.date_trunc("quarter", "o_orderdate")) - F.year("cohort")) * 4
            + (F.quarter(F.date_trunc("quarter", "o_orderdate")) - F.quarter("cohort"))
        ).alias("age_q"),
        "o_totalprice",
    )
    per_age = aged.groupBy("cohort", "age_q").agg(
        F.round(F.sum("o_totalprice"), 2).alias("rev")
    )
    sized = firsts.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("age_q")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        per_age.join(F.broadcast(sized), "cohort")
        .select(
            "cohort",
            "age_q",
            (F.round(F.sum("rev").over(w), 2) / F.col("cohort_size")).alias(
                "cum_ltv_per_customer"
            ),
            "cohort_size",
        )
    )


@register(
    "bitmap_week_overlap",
    """
    WITH b AS (
      SELECT c_mktsegment AS segment,
             bit_or(CAST(1 AS BIGINT) << (CAST(date_part('week', o_orderdate)
                                               AS INT) % 52)) AS weeks_bm
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE date_part('year', o_orderdate) = 1997
      GROUP BY c_mktsegment)
    SELECT a.segment AS seg_a, c.segment AS seg_b,
           CAST(bit_count(a.weeks_bm & c.weeks_bm) AS INT) AS weeks_both,
           CAST(bit_count(a.weeks_bm | c.weeks_bm) AS INT) AS weeks_either
    FROM b a JOIN b c ON a.segment < c.segment
    """,
    doc="Bitmap-index set algebra: each segment's 1997 active order-weeks "
    "packed into one 52-bit bigint bitmask (bit_or aggregation = bitmap "
    "build), pairwise overlap answered with pure bitwise AND/OR + "
    "popcount on the 5-row aggregate — the roaring-bitmap technique that "
    "replaces a distinct-join explosion for set intersection counts at "
    "scale. Shuffle carries 8 bytes per group, never week lists.",
    tags=("graded",),
)
def bitmap_week_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").filter(F.year("o_orderdate") == 1997)
    c = _t(spark, sf_dir, "customer")
    b = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.bit_or(
                F.expr(
                    "shiftleft(cast(1 as bigint), "
                    "cast(pmod(weekofyear(o_orderdate), 52) as int))"
                )
            ).alias("weeks_bm")
        )
    )
    a, d = b.alias("a"), b.alias("d")
    # 5-row aggregate x itself: broadcast one side so the non-equi pair
    # join plans as BroadcastNestedLoop, never a partitioned cartesian
    return a.join(F.broadcast(d), F.col("a.segment") < F.col("d.segment")).select(
        F.col("a.segment").alias("seg_a"),
        F.col("d.segment").alias("seg_b"),
        F.bit_count(F.col("a.weeks_bm").bitwiseAND(F.col("d.weeks_bm")))
        .cast("int")
        .alias("weeks_both"),
        F.bit_count(F.col("a.weeks_bm").bitwiseOR(F.col("d.weeks_bm")))
        .cast("int")
        .alias("weeks_either"),
    )


@register(
    "agg_mode_deterministic",
    """
    SELECT user_id, mode_type, n FROM (
      SELECT user_id, event_type AS mode_type, count(*) AS n,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY count(*) DESC, event_type) AS rk
      FROM events GROUP BY user_id, event_type)
    WHERE rk = 1
    """,
    doc="Deterministic mode (most frequent value per key): count-rank with "
    "an explicit value tiebreak instead of the built-in mode(), whose "
    "tie choice is engine-/partitioning-dependent — the difference "
    "between a reproducible feature column and a flaky one. One shuffle "
    "on (key, value), the ranking window rides the same key.",
)
def agg_mode_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    counts = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("n").desc(), F.col("event_type")
    )
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("user_id", F.col("event_type").alias("mode_type"), "n")
    )


@register(
    "split_kfold_assignment",
    """
    WITH f AS (
      SELECT doc_id,
             CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                       AS BIGINT) % 5 AS INT) AS fold,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents)
    SELECT fold, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           CAST(min(doc_id) AS BIGINT) AS min_doc_id
    FROM f GROUP BY fold
    """,
    doc="Content-addressed k-fold assignment (k=5): fold = md5(id) prefix "
    "mod k — layout-independent and reproducible across engines, runs, "
    "and repartitions (unlike seeded randomSplit, whose folds change "
    "with partitioning). Per-fold doc/token tallies are the balance "
    "audit; folds are disjoint and exhaustive by construction. "
    "Complements split_train_val_test (fractional) with the "
    "cross-validation form.",
)
def split_kfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    fold = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint") % 5
    ).cast("int")
    return (
        d.select(
            "doc_id",
            fold.alias("fold"),
            F.size(F.split("text", " ")).alias("n_tokens"),
        )
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.min("doc_id").alias("min_doc_id"),
        )
    )


@register(
    "seq_training_examples",
    """
    WITH seq AS (
      SELECT user_id,
             list(event_type ORDER BY CAST(ts AS TIMESTAMP), event_id)
               AS types
      FROM events GROUP BY user_id)
    SELECT user_id, CAST(i AS INT) AS pos,
           array_to_string(types[i:i+2], ',') AS context, types[i+3] AS label
    FROM seq, LATERAL (SELECT unnest(generate_series(1, len(types) - 3))
                       AS i) ii
    """,
    doc="Sequence-model dataset builder: per-user event timelines become "
    "(context window of 3, next-event label) training pairs via ordered "
    "collect + sliding slice HOFs — the next-token-prediction example "
    "generator, zero shuffles beyond the per-user assembly (explode is "
    "narrow). Deterministic (ts, event_id) ordering makes the dataset "
    "reproducible run to run; at 100 TB the same plan emits windows "
    "directly off sorted-bucketed user partitions.",
    tags=("graded", "bench"),
)
def seq_training_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    seq = e.groupBy("user_id").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ),
            lambda s: s["event_type"],
        ).alias("types")
    )
    idx = F.sequence(F.lit(1), F.greatest(F.size("types") - 3, F.lit(0)))
    return (
        seq.filter(F.size("types") >= 4)
        .select(  # outer: size >= 4 makes idx non-empty
            "user_id", F.explode_outer(idx).alias("pos"), "types"
        )
        .select(
            "user_id",
            "pos",
            # context window as a comma-joined string: final output schemas
            # are scalar-only by registry contract (driver canonicalization)
            F.array_join(
                F.slice(F.col("types"), F.col("pos"), 3), ","
            ).alias("context"),
            F.element_at(F.col("types"), F.col("pos") + 3).alias("label"),
        )
    )


@register(
    "rag_context_assembly",
    """
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
               WHERE vec_id < 3),
    scored AS (
      SELECT q.query_id, e.vec_id AS chunk_id,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                    CAST(q.qv AS DOUBLE[])) AS sim
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.query_id),
    ranked AS (
      SELECT query_id, chunk_id, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, chunk_id) AS rk
      FROM scored),
    top AS (SELECT * FROM ranked WHERE rk <= 3)
    SELECT t.query_id,
           array_to_string(list(t.chunk_id ORDER BY t.rk), ',') AS chunk_ids,
           string_agg(substr(d.text, 1, 40), ' | ' ORDER BY t.rk)
             AS context,
           CAST(count(*) AS BIGINT) AS n_chunks
    FROM top t JOIN documents d ON d.doc_id = t.chunk_id
    GROUP BY t.query_id
    """,
    doc="RAG context assembly end to end: per query vector, exact cosine "
    "top-3 chunks (broadcast query set, one corpus pass, rank with "
    "chunk-id tiebreak), joined back to the document store and assembled "
    "into a rank-ordered context string + citation id list — the "
    "retrieval-to-prompt step of a serving pipeline, all JVM-side "
    "(sort_array of (rank, payload) structs stands in for ORDER BY "
    "inside the aggregate).",
    tags=("bench",),
)
def rag_context_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    d = _t(spark, sf_dir, "documents")
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("chunk_id"),
            cosine_similarity("embedding", "qv").alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("chunk_id")
    )
    top = scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 3)
    joined = top.join(d, top.chunk_id == d.doc_id).select(
        "query_id", "rk", "chunk_id", F.substring("text", 1, 40).alias("snip")
    )
    return joined.groupBy("query_id").agg(
        # citation list rendered as a comma-joined string: the driver's
        # pandas canonicalization cannot hash array cells (round-6 red row)
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("rk", "chunk_id"))),
                lambda s: s["chunk_id"].cast("string"),
            ),
            ",",
        ).alias("chunk_ids"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("rk", "snip"))),
                lambda s: s["snip"],
            ),
            " | ",
        ).alias("context"),
        F.count(F.lit(1)).alias("n_chunks"),
    )


@register(
    "maintenance_compact_small_files",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(o_totalprice), 2) AS revenue,
           32 AS files_before, 1 AS files_after,
           TRUE AS content_identical, 2 AS latest_version
    FROM orders WHERE o_totalprice > 0
    """,
    doc="Small-file compaction (Iceberg rewrite_data_files / Delta "
    "OPTIMIZE analog, sources/maintenance.py): a snapshot deliberately "
    "written as 32 small files is rewritten shuffle-FREE (coalesce is a "
    "narrow dependency) into target-size files and committed as a NEW "
    "version through the standard write-then-manifest protocol — "
    "compaction is itself a crash-safe snapshot commit, old versions "
    "stay readable. The oracle pins the exact file counts (32 -> 1 at "
    "EVERY scale: target_bytes derives from the measured snapshot bytes, "
    "not a constant that sf100's ~2 GiB snapshot would outgrow), "
    "bit-identical content (exceptAll both ways), the "
    "version lineage, and the row/revenue anchors. At 100 TB this is "
    "the difference between scan cost = bytes and scan cost = "
    "files-opened.",
    tags=("graded",),
)
def maintenance_compact_small_files(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import tempfile

    from .sources.maintenance import compact_snapshot
    from .sources.snapshots import read_snapshot, write_snapshot

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    ).filter(F.col("o_totalprice") > 0)
    # both versions are checkpointed to executor-local blocks inside the
    # block, so the returned plan never re-reads the snapshot store
    with tempfile.TemporaryDirectory(
        prefix="maint_compact_", ignore_cleanup_errors=True
    ) as base:
        write_snapshot(o.repartition(32), base, "orders_c")
        # target_bytes=None → full compaction: target derived from the
        # MEASURED snapshot bytes, so files_after == 1 holds at EVERY
        # scale (a pinned 1 GiB constant stops compacting to 1 the moment
        # the snapshot outgrows it — the sf100 orders snapshot is ~2 GiB,
        # which would break the oracle's pinned files_after one decade up)
        stats = compact_snapshot(spark, base, "orders_c", target_bytes=None)
        # Content parity folded into the returned plan (r11 opt round,
        # same fold as quality.py::referential_integrity): the previous
        # form ran TWO eager exceptAll().count() actions at construction,
        # scanning EACH snapshot version twice (4 snapshot scans + driver
        # counts before any action — at sf100 that is ~8 GiB of hidden
        # pre-action reads). The checkpoints here must be EAGER because
        # the snapshot store is deleted below — one scan per version, the
        # multiset-difference counts now run inside the plan on the
        # checkpointed blocks.
        before = read_snapshot(
            spark, base, "orders_c", stats["src_version"]
        ).localCheckpoint(eager=True)
        after = read_snapshot(
            spark, base, "orders_c", stats["new_version"]
        ).localCheckpoint(eager=True)
        parity = (
            before.exceptAll(after)
            .agg(F.count(F.lit(1)).alias("__d_ab"))
            .crossJoin(
                after.exceptAll(before).agg(F.count(F.lit(1)).alias("__d_ba"))
            )
            .select(
                ((F.col("__d_ab") == 0) & (F.col("__d_ba") == 0)).alias(
                    "content_identical"
                )
            )
        )
    return (
        o.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.lit(stats["files_before"]).cast("int").alias("files_before"),
            F.lit(stats["files_after"]).cast("int").alias("files_after"),
        )
        .crossJoin(F.broadcast(parity))
        .select(
            "n_rows",
            "revenue",
            "files_before",
            "files_after",
            "content_identical",
            F.lit(stats["new_version"]).cast("int").alias("latest_version"),
        )
    )


@register(
    "maintenance_expire_snapshots",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(o_totalprice), 2) AS revenue,
           '2,3' AS remaining_versions,
           TRUE AS expired_unreadable, TRUE AS space_reclaimed
    FROM orders WHERE o_totalprice > 100
    """,
    doc="Snapshot expiry (Iceberg expire_snapshots / Delta VACUUM analog, "
    "sources/maintenance.py): three committed versions, keep_last=2 — "
    "the expired version's one-row manifest files are deleted FIRST (a "
    "racing reader either resolves old-manifest-with-data or nothing, "
    "never a dangling manifest), its data directory second (space "
    "reclaim, measured). The oracle pins the surviving version list, "
    "that time travel to the expired version now raises, that bytes "
    "were actually reclaimed, and the latest version's row/revenue "
    "anchors against the source table.",
    tags=("graded",),
)
def maintenance_expire_snapshots(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import tempfile

    from .sources.maintenance import expire_snapshots
    from .sources.snapshots import read_snapshot, write_snapshot

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    ).filter(F.col("o_totalprice") > 0)
    hi = o.filter(F.col("o_totalprice") > 100)
    with tempfile.TemporaryDirectory(
        prefix="maint_expire_", ignore_cleanup_errors=True
    ) as base:
        write_snapshot(o, base, "orders_e")          # v1
        write_snapshot(o, base, "orders_e")          # v2
        write_snapshot(hi, base, "orders_e")         # v3 (latest)
        out = expire_snapshots(spark, base, "orders_e", keep_last=2)
        try:
            read_snapshot(spark, base, "orders_e", 1).count()
            expired_unreadable = False
        except ValueError:
            expired_unreadable = True
        remaining = ",".join(str(v) for v in out["remaining"])
        reclaimed = out["bytes_reclaimed"] > 0
        latest = read_snapshot(spark, base, "orders_e")
        facts = latest.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        ).collect()[0]
    return o.limit(1).select(
        F.lit(int(facts["n_rows"])).cast("bigint").alias("n_rows"),
        F.lit(float(facts["revenue"])).alias("revenue"),
        F.lit(remaining).alias("remaining_versions"),
        F.lit(expired_unreadable).alias("expired_unreadable"),
        F.lit(reclaimed).alias("space_reclaimed"),
    )


@register(
    "maintenance_remove_orphans",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(o_totalprice), 2) AS revenue,
           1 AS orphans_removed, TRUE AS space_reclaimed,
           TRUE AS committed_intact, TRUE AS young_orphan_kept
    FROM orders WHERE o_totalprice > 0
    """,
    doc="Orphan-file cleanup (Iceberg remove_orphan_files / Delta VACUUM "
    "analog, sources/maintenance.py::remove_orphan_files): a writer "
    "crash between staging and committing leaves a uniquely-named data "
    "directory no manifest references — invisible to every reader by "
    "the write-then-commit protocol, pure wasted space. The query "
    "commits v1, simulates a crashed writer (stages v2 data, never "
    "commits), then vacuums: the oracle pins that exactly the one "
    "orphan was removed with measurable bytes reclaimed, that the "
    "committed version still reads bit-identically (row/revenue "
    "anchors), and that the GRACE PERIOD keeps a young orphan alive — "
    "the contract that makes vacuum safe to run while writers are "
    "staging (Iceberg's older_than).",
    tags=("graded",),
)
def maintenance_remove_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from .sources.maintenance import remove_orphan_files
    from .sources.snapshots import _data_dir, read_snapshot, write_snapshot

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    ).filter(F.col("o_totalprice") > 0)
    with tempfile.TemporaryDirectory(
        prefix="maint_orphan_", ignore_cleanup_errors=True
    ) as base:
        write_snapshot(o, base, "orders_v")                  # committed v1
        # crashed writer: staged data for v2, manifest never written
        o.limit(100).write.parquet(_data_dir(base, "orders_v", 2))
        # a LIVE writer mid-stage: must survive a graced vacuum
        o.limit(1).write.parquet(_data_dir(base, "orders_v", 3))
        graced = remove_orphan_files(
            spark, base, "orders_v", grace_seconds=3600
        )
        young_kept = graced["orphans_removed"] == 0
        out = remove_orphan_files(spark, base, "orders_v", grace_seconds=0)
        # the graced run kept both; the 0-grace run removes both orphans —
        # report the CRASHED-writer one distinctly by count delta
        committed = read_snapshot(spark, base, "orders_v")
        facts = committed.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        ).collect()[0]
        orphans_crashed = out["orphans_removed"] - 1  # minus the live-stage
        reclaimed = out["bytes_reclaimed"] > 0
    return o.limit(1).select(
        F.lit(int(facts["n_rows"])).cast("bigint").alias("n_rows"),
        F.lit(float(facts["revenue"])).alias("revenue"),
        F.lit(int(orphans_crashed)).cast("int").alias("orphans_removed"),
        F.lit(reclaimed).alias("space_reclaimed"),
        F.lit(int(facts["n_rows"]) > 0).alias("committed_intact"),
        F.lit(young_kept).alias("young_orphan_kept"),
    )


@register(
    "wap_audit_publish",
    """
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders WHERE o_totalprice > 0 GROUP BY o_orderstatus
    """,
    doc="Write-Audit-Publish gate (Iceberg branch-audit-merge analog, "
    "plans/wap.py): a GOOD snapshot (positive prices) passes the "
    "single-pass quality audit and commits; a BAD snapshot (prices "
    "negated) fails its audit and its staged files stay uncommitted — "
    "invisible to every reader by the snapshots commit protocol. The "
    "query publishes good, attempts bad, then aggregates the LATEST "
    "published version; if the bad version leaked, the oracle (positive "
    "prices only) mismatches.",
)
def wap_audit_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from .operators.quality import Check, predicate_rate
    from .plans.wap import wap_publish
    from .sources.snapshots import read_snapshot

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    ).filter(F.col("o_totalprice") > 0)
    with tempfile.TemporaryDirectory(
        prefix="wap_", ignore_cleanup_errors=True
    ) as base:
        checks = [
            Check(
                "prices_positive",
                predicate_rate(F.col("o_totalprice") > 0),
                1.0,
            )
        ]
        ok1, v1, _ = wap_publish(o, base, "orders_wap", checks)
        bad = o.withColumn("o_totalprice", -F.col("o_totalprice"))
        ok2, v2, _ = wap_publish(bad, base, "orders_wap", checks)
        assert ok1 and v1 == 1 and not ok2 and v2 is None
        latest = read_snapshot(spark, base, "orders_wap")
        # eager localCheckpoint of the 3-row aggregate: the published
        # snapshot has been read and audited, so the store can go now
        # instead of leaking one wap_ dir per bench/gate invocation
        return (
            latest.groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            )
            .localCheckpoint(eager=True)
        )


@register(
    "governance_erasure_propagation",
    """
    WITH victims AS (
      SELECT c_custkey FROM customer
      WHERE substr(md5(CAST(c_custkey AS VARCHAR)), 1, 1) = '0')
    SELECT
      (SELECT count(*) FROM customer) AS customers_before,
      (SELECT count(*) FROM customer
       WHERE c_custkey NOT IN (SELECT c_custkey FROM victims))
        AS customers_after,
      (SELECT count(*) FROM orders) AS orders_before,
      (SELECT count(*) FROM orders
       WHERE o_custkey NOT IN (SELECT c_custkey FROM victims))
        AS orders_after,
      (SELECT count(*) FROM orders
       WHERE o_custkey IN (SELECT c_custkey FROM victims)) AS orders_erased
    """,
    doc="GDPR erasure propagation: a deterministic victim set (custkey md5 "
    "bucket '0') anti-joined out of the customer dim AND cascaded through "
    "the orders fact — broadcast anti joins, each table streams once. "
    "Before/after/erased counts reconcile exactly (after + erased == "
    "before), which is the audit evidence an erasure job must produce. "
    "Pairs with governance_pseudonymized_rollup (crypto-shredding) as the "
    "two erasure strategies.",
    tags=("graded",),
)
def governance_erasure_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    victims = c.filter(
        F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 1) == "0"
    ).select("c_custkey")
    c_after = c.join(F.broadcast(victims), "c_custkey", "left_anti")
    o_after = o.join(
        F.broadcast(victims), o.o_custkey == victims.c_custkey, "left_anti"
    )
    o_erased = o.join(
        F.broadcast(victims), o.o_custkey == victims.c_custkey, "left_semi"
    )
    counts = [
        c.agg(F.count(F.lit(1)).alias("customers_before")),
        c_after.agg(F.count(F.lit(1)).alias("customers_after")),
        o.agg(F.count(F.lit(1)).alias("orders_before")),
        o_after.agg(F.count(F.lit(1)).alias("orders_after")),
        o_erased.agg(F.count(F.lit(1)).alias("orders_erased")),
    ]
    out = counts[0]
    for df in counts[1:]:
        # each side is a 1-row aggregate: broadcast explicitly so the plan
        # is BroadcastNestedLoopJoin by construction, not by AQE noticing
        out = out.crossJoin(F.broadcast(df))
    return out


@register(
    "concurrency_by_hour",
    """
    WITH flagged AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
             CASE WHEN CAST(ts AS TIMESTAMP)
                       - lag(CAST(ts AS TIMESTAMP)) OVER (
                           PARTITION BY user_id
                           ORDER BY CAST(ts AS TIMESTAMP), event_id)
                       > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ), sess AS (
      SELECT user_id,
             CAST(sum(is_new) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) + 1 AS INT) AS session_id,
             ts
      FROM flagged
    ), spans AS (
      SELECT user_id, session_id,
             date_trunc('hour', min(ts)) AS h0,
             date_trunc('hour', max(ts)) AS h1
      FROM sess GROUP BY user_id, session_id
    ), hours AS (
      SELECT user_id, session_id,
             unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
      FROM spans)
    SELECT CAST(hour AS TIMESTAMP) AS hour,
           CAST(count(*) AS BIGINT) AS active_sessions,
           CAST(count(DISTINCT user_id) AS BIGINT) AS active_users
    FROM hours GROUP BY hour
    """,
    doc="Interval-to-timeline concurrency: gap-sessionized spans exploded "
    "into the hour buckets they overlap (sequence between hour-truncated "
    "bounds — bounded fan-out, no time-dimension cross join), then "
    "active-session / active-user counts per hour — the 'how many "
    "concurrent' question behind capacity planning. Session assembly and "
    "span rollup share one user_id shuffle; the explode emits "
    "(span-hours) rows keyed by a bounded hour domain.",
)
def concurrency_by_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    s = R.sessionize(e, key="user_id", ts_col="ts", tiebreak="event_id")
    spans = s.groupBy("user_id", "session_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    hours = spans.select(
        "user_id",
        "session_id",
        F.explode_outer(  # outer: h0 <= h1 by construction
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour"),
    )
    return hours.groupBy("hour").agg(
        F.count(F.lit(1)).alias("active_sessions"),
        F.countDistinct("user_id").alias("active_users"),
    )


@register(
    "embedding_covariance_matrix",
    """
    WITH x AS (
      SELECT vec_id, i - 1 AS di, CAST(embedding[i] AS DOUBLE) AS xi
      FROM embeddings, LATERAL (SELECT unnest(generate_series(1, 8)) AS i) ii)
    SELECT a.di AS dim_i, b.di AS dim_j,
           (sum(a.xi * b.xi) - sum(a.xi) * sum(b.xi)
              / (SELECT count(*) FROM embeddings))
             / ((SELECT count(*) FROM embeddings) - 1) AS cov
    FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.di <= b.di
    GROUP BY a.di, b.di
    """,
    doc="Embedding covariance matrix (PCA/whitening prep), upper triangle "
    "of the first 8 dims: one posexplode to (vec, dim, value), an "
    "equi-self-join on vec_id pairs dims, and the covariance falls out "
    "of sum/sum-product aggregates (textbook one-pass formula, "
    "partial+final HashAggregate). At full 64-dim scale the same plan "
    "emits 64x65/2 cells; dims bounded => the shuffle key (dim_i, dim_j) "
    "has fixed cardinality regardless of corpus size.",
)
def embedding_covariance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    cnt = e.agg(F.count(F.lit(1)).cast("double").alias("__n"))
    x = e.select(
        "vec_id",
        F.posexplode(F.slice(F.col("embedding"), 1, 8)).alias("di", "xi"),
    ).select("vec_id", "di", F.col("xi").cast("double").alias("xi"))
    a = x.select("vec_id", F.col("di").alias("dim_i"), F.col("xi").alias("xa"))
    b = x.select("vec_id", F.col("di").alias("dim_j"), F.col("xi").alias("xb"))
    return (
        a.join(b, "vec_id")
        .filter(F.col("dim_i") <= F.col("dim_j"))
        .crossJoin(F.broadcast(cnt))
        .groupBy("dim_i", "dim_j")
        .agg(
            (
                (
                    F.sum(F.col("xa") * F.col("xb"))
                    - F.sum("xa") * F.sum("xb") / F.first("__n")
                )
                / (F.first("__n") - 1)
            ).alias("cov")
        )
    )


@register(
    "seasonal_baseline_bands",
    """
    SELECT event_type,
           CAST(date_part('hour', CAST(ts AS TIMESTAMP)) AS INT) AS hr,
           CAST(count(*) AS BIGINT) AS n,
           quantile_cont(value, 0.1) AS p10,
           quantile_cont(value, 0.5) AS p50,
           quantile_cont(value, 0.9) AS p90
    FROM events GROUP BY event_type, hr
    """,
    doc="Seasonal baseline bands: exact P10/P50/P90 of value per "
    "(event_type, hour-of-day) — the expected-range profile that "
    "monitoring compares live traffic against (alert when outside the "
    "band for that hour). One shuffle on the bounded (type, hour) key; "
    "at 100 TB swap percentile for percentile_approx and the plan is "
    "unchanged. Spark's percentile interpolation == DuckDB "
    "quantile_cont.",
)
def seasonal_baseline_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return (
        e.select("event_type", F.hour("ts").alias("hr"), "value")
        .groupBy("event_type", "hr")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("percentile(value, 0.1D)").alias("p10"),
            F.expr("percentile(value, 0.5D)").alias("p50"),
            F.expr("percentile(value, 0.9D)").alias("p90"),
        )
    )


@register(
    "timeseries_decay_score",
    """
    WITH t AS (
      SELECT user_id, value,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us,
             max(epoch_us(CAST(ts AS TIMESTAMP)))
               OVER (PARTITION BY user_id) AS t_last
      FROM events)
    SELECT user_id,
           sum(value * exp(-((t_last - us) / 1000000.0) / 21600.0))
             AS decay_score,
           CAST(count(*) AS BIGINT) AS n_events
    FROM t GROUP BY user_id
    """,
    doc="Time-decayed engagement score (tau = 6h): every event's value "
    "weighted by exp(-age/tau) relative to the user's LAST event — the "
    "recency-weighted activity metric feature stores serve. The "
    "exponential-decay recursion is rewritten in closed form (one "
    "per-user max + one weighted sum, both on the same user_id shuffle), "
    "so irregular event spacing needs no sequential scan.",
)
def timeseries_decay_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    t_last = F.max(us).over(Window.partitionBy("user_id"))
    aged = e.select(
        "user_id",
        "value",
        (((t_last - us) / 1_000_000.0) / 21600.0).alias("__age"),
    )
    return aged.groupBy("user_id").agg(
        F.sum(F.col("value") * F.exp(-F.col("__age"))).alias("decay_score"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "text_unigram_cross_entropy",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
    t AS (SELECT * FROM toks WHERE tok <> ''),
    lm AS (
      SELECT tok, count(*) * 1.0 / (SELECT count(*) FROM t) AS p
      FROM t GROUP BY tok)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           sum(-ln(p)) / count(*) AS cross_entropy
    FROM t JOIN lm USING (tok)
    GROUP BY doc_id
    """,
    doc="Perplexity-style quality scoring (CCNet filtering pattern): a "
    "unigram LM is fit on the corpus itself (token relative frequencies, "
    "one aggregation, broadcast back — the vocab is tiny relative to the "
    "corpus at any scale), and each document is scored by its per-token "
    "cross-entropy -avg ln p(tok). Outlier-entropy docs are the "
    "gibberish/boilerplate candidates. In production the LM table is a "
    "pre-fit KenLM dump joined the same way.",
)
def text_unigram_cross_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", F.explode_outer(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")
    total = t.agg(F.count(F.lit(1)).alias("__total"))
    lm = (
        t.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .crossJoin(F.broadcast(total))
        .select("tok", (F.col("__cnt") * 1.0 / F.col("__total")).alias("p"))
    )
    return (
        t.join(F.broadcast(lm), "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (F.sum(-F.log("p")) / F.count(F.lit(1))).alias("cross_entropy"),
        )
    )


@register(
    "join_bucketed_colocated",
    """
    SELECT o_orderpriority,
           count(*) AS n_items,
           CAST(sum(l_quantity) AS BIGINT) AS sum_qty
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
    doc="Co-located join via bucketed tables (catalog.py::"
    "save_table_bucketed): orders and lineitem are written bucketBy(8, "
    "orderkey).sortBy(orderkey), one file per bucket, then joined "
    "WITHOUT an exchange on either side — the bucket id is the "
    "partitioning, so the join is a map-side zip of bucket files "
    "(tests/test_bucketed_join.py pins the zero-Exchange plan with "
    "broadcast disabled, and the additional Sort elision under the "
    "sound-here outputOrdering opt-in). The Hive/Iceberg "
    "bucket-transform layout for repeated fact-to-fact joins at "
    "100 TB: two corpus-sized shuffles per join become none. Result is "
    "layout-invariant, so the plain-join oracle checks it.",
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from .catalog import save_table_bucketed

    with tempfile.TemporaryDirectory(
        prefix="bucketed_", ignore_cleanup_errors=True
    ) as base:
        # catalog names unique per invocation: the warehouse dir is shared
        # by every session running from this repo, so a FIXED table name
        # races a concurrent gate/bench/test session's copy of this same
        # query (the same overwrite race the round-7 advice flagged on the
        # text corpus)
        tag = os.path.basename(base).removeprefix("bucketed_")
        t_o = f"bucketed_demo_orders_{tag}"
        t_li = f"bucketed_demo_lineitem_{tag}"
        try:
            o = _t(spark, sf_dir, "orders").select(
                "o_orderkey", "o_orderpriority"
            )
            li = _t(spark, sf_dir, "lineitem").select(
                "l_orderkey", "l_quantity"
            )
            save_table_bucketed(
                o, t_o, ["o_orderkey"], 8, path=f"{base}/orders"
            )
            save_table_bucketed(
                li, t_li, ["l_orderkey"], 8, path=f"{base}/lineitem"
            )
            ob = spark.table(t_o)
            lb = spark.table(t_li)
            # the shuffle-free bucketed join RUNS here (eager
            # localCheckpoint of the 5-row aggregate — the no-Exchange plan
            # shape is pinned in tests/test_bucketed_join.py on the
            # operator itself), so the bucketed copies can be removed
            # instead of leaking per invocation
            return (
                ob.join(lb, ob["o_orderkey"] == lb["l_orderkey"])
                .groupBy("o_orderpriority")
                .agg(
                    F.count(F.lit(1)).alias("n_items"),
                    F.sum("l_quantity").cast("long").alias("sum_qty"),
                )
                .localCheckpoint(eager=True)
            )
        finally:
            for t in (t_o, t_li):
                try:
                    spark.sql(f"DROP TABLE IF EXISTS {t}")
                except Exception:
                    pass


@register(
    "agg_salted_skew",
    """
    SELECT l_returnflag,
           CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
           count(*) AS cnt
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Skew-safe two-stage aggregation (relational.py::"
    "salted_groupby_sum): l_returnflag has 3 hot values over the whole "
    "fact table — the pathological grouping key. Salting spreads each "
    "key over 32 reducers for the partial agg, the final agg reduces "
    "32 rows/key. Result is salt-invariant by construction, so the "
    "plain GROUP BY oracle checks the rewrite exactly (the measure is "
    "integral-valued, so the double sum is order-exact).",
)
def agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.relational import salted_groupby_sum

    li = _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity")
    out = salted_groupby_sum(li, ["l_returnflag"], "l_quantity", salt_buckets=32)
    return out.select(
        "l_returnflag",
        F.col("sum_l_quantity").cast("long").alias("sum_qty"),
        F.col("cnt"),
    )


@register(
    "join_salted_skew",
    """
    SELECT o_orderpriority,
           count(*) AS n_items,
           CAST(sum(l_quantity) AS BIGINT) AS sum_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
    doc="Skew-safe equi-join (relational.py::salted_join): the big side "
    "is salted by a deterministic whole-row hash, the dimension side "
    "replicated across the 8 salts, joined on (key, salt) — the manual "
    "form of AQE skew-join for when AQE can't see the skew (pinned "
    "partitioning downstream). Result is replication-invariant, so the "
    "plain-join oracle checks both the salting and that no right row "
    "is lost or duplicated per salt.",
    tags=("graded",),
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.relational import salted_join

    li = (
        _t(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("k"), "l_quantity")
    )
    o = (
        _t(spark, sf_dir, "orders")
        .select(F.col("o_orderkey").alias("k"), "o_orderpriority")
    )
    joined = salted_join(li, o, "k", num_salts=8)
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("l_quantity").cast("long").alias("sum_qty"),
    )


@register(
    "catalog_time_travel",
    """
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(o_totalprice), 2) AS v1_revenue
    FROM orders GROUP BY o_orderstatus
    """,
    doc="Time travel over versioned snapshots (Nessie/Iceberg analog, "
    "sources/snapshots.py): v1 = orders as-is, v2 = prices doubled, both "
    "committed write-then-manifest; the query reads VERSION 1 *after* v2 "
    "is committed and aggregates it — so a reader that resolved 'latest' "
    "or saw uncommitted data would mismatch the oracle (which is plain "
    "orders). Snapshot dirs are immutable; manifests are one-row parquet "
    "files, so version listing never touches data.",
)
def catalog_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from .sources.snapshots import read_snapshot, write_snapshot

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    with tempfile.TemporaryDirectory(
        prefix="snapshots_", ignore_cleanup_errors=True
    ) as base:
        write_snapshot(o, base, "orders_snap")
        write_snapshot(
            o.withColumn("o_totalprice", F.col("o_totalprice") * 2),
            base,
            "orders_snap",
        )
        v1 = read_snapshot(spark, base, "orders_snap", version=1)
        # time travel to v1 RUNS here (eager localCheckpoint of the 3-row
        # aggregate), so the snapshot store can go instead of leaking
        return (
            v1.groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("o_totalprice"), 2).alias("v1_revenue"),
            )
            .localCheckpoint(eager=True)
        )


@register(
    "dedup_containment_pairs",
    """
    WITH w AS (SELECT doc_id,
                      list_filter(string_split(text, ' '), x -> x <> '') AS ws
               FROM documents),
    t AS (SELECT doc_id,
                 list_distinct([array_to_string(ws[i:i+2], ' ')
                   for i in generate_series(1, greatest(len(ws)-2, 0))]) AS tk
          FROM w WHERE len(ws) >= 3)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           len(list_intersect(a.tk, b.tk)) * 1.0 / len(a.tk) AS containment
    FROM t a, t b
    WHERE a.doc_id <> b.doc_id
      AND len(list_intersect(a.tk, b.tk)) * 1.0 / len(a.tk) >= 0.7
    """,
    doc="Directional set-containment join over distinct trigram shingles "
    "(containment(a,b) = |A∩B|/|A| >= 0.7) with SSJoin prefix filtering: "
    "shingles ordered rarest-first by global document frequency, only "
    "a's |A| - ceil(t|A|) + 1 prefix explodes on the probe side — the "
    "pruning that keeps quote-inclusion/boilerplate detection off the "
    "O(n^2) cliff. Oracle is the quadratic join, so both the prefix "
    "filter's completeness and the verify step are checked. "
    "operators/dedup.py::containment_join.",
    tags=("curve",),
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import containment_join

    d = _t(spark, sf_dir, "documents")
    return containment_join(d, "doc_id", "text", threshold=0.7, shingle_n=3)


@register(
    "dedup_jaccard_exact_pairs",
    """
    WITH w AS (SELECT doc_id,
                      list_filter(string_split(text, ' '), x -> x <> '') AS ws
               FROM documents),
    t AS (SELECT doc_id,
                 list_distinct([array_to_string(ws[i:i+2], ' ')
                   for i in generate_series(1, greatest(len(ws)-2, 0))]) AS tk
          FROM w WHERE len(ws) >= 3),
    j AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 len(list_intersect(a.tk, b.tk)) * 1.0 /
                 (len(a.tk) + len(b.tk) - len(list_intersect(a.tk, b.tk)))
                   AS jaccard
          FROM t a, t b WHERE a.doc_id < b.doc_id)
    SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.8
    """,
    doc="EXACT Jaccard similarity join (pairs a < b, trigram-shingle "
    "jaccard >= 0.8) via DOUBLE prefix filtering: J >= t forces overlap "
    ">= t|A| AND >= t|B|, so the first shared shingle in the global "
    "rarest-first order lies in BOTH prefixes — candidates are prefix x "
    "prefix (All-Pairs/PPJoin), plus length-ratio and positional-bound "
    "prunes. The deterministic complement to dedup_minhash_lsh: zero "
    "recall loss, so the quadratic oracle checks candidate completeness "
    "and the verify arithmetic. operators/dedup.py::jaccard_join.",
    tags=("bench", "curve"),
)
def dedup_jaccard_exact_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import jaccard_join

    d = _t(spark, sf_dir, "documents")
    return jaccard_join(d, "doc_id", "text", threshold=0.8, shingle_n=3)


@register(
    "quality_gopher_rules",
    """
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), t -> t <> '') AS ws
      FROM documents
    ), f AS (
      SELECT doc_id,
             CAST(len(ws) AS INT) AS n_words,
             CAST(list_sum(list_transform(ws, t -> length(t))) AS BIGINT)
               AS chars,
             CAST(len(list_distinct(ws)) AS INT) AS n_distinct,
             CAST(len(list_filter(['the','a','of','and','to','in','is'],
                  s -> list_contains(ws, s))) AS INT) AS distinct_stop_cnt
      FROM w
    ), g AS (
      SELECT doc_id, n_words, distinct_stop_cnt,
             CASE WHEN n_words = 0 THEN 0
                  ELSE CAST(floor((1000000 * chars) / n_words + 0.5)
                            AS BIGINT) END AS mean_word_len_micros,
             CASE WHEN n_words = 0 THEN 0
                  ELSE CAST(floor(
                    (1000000 * CAST(n_words - n_distinct AS BIGINT))
                    / n_words + 0.5) AS BIGINT) END AS dup_frac_micros
      FROM f
    )
    SELECT doc_id, n_words, mean_word_len_micros, distinct_stop_cnt,
           dup_frac_micros,
           (n_words >= 40 AND n_words <= 120) AS wc_ok,
           (mean_word_len_micros >= 3800000
            AND mean_word_len_micros <= 10000000) AS mwl_ok,
           (distinct_stop_cnt >= 2) AS stop_ok,
           (dup_frac_micros <= 500000) AS rep_ok,
           ((n_words >= 40 AND n_words <= 120)
            AND mean_word_len_micros >= 3800000
            AND mean_word_len_micros <= 10000000
            AND distinct_stop_cnt >= 2
            AND dup_frac_micros <= 500000) AS passes_gopher
    FROM g
    """,
    doc="Gopher-style corpus quality rules (Rae et al. 2021 A1.1): "
    "word-count band, mean-word-length band, distinct-stopword minimum, "
    "duplicate-word-fraction cap + the combined keep decision. Ratios are "
    "integer micro-units (knife-edge discipline); the whole thing is one "
    "zero-shuffle JVM projection. operators/text.py::gopher_quality_rules.",
    tags=("bench",),
)
def quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return T.gopher_quality_rules(d)


@register(
    "text_chunk_sliding",
    """
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), t -> t <> '') AS ws
      FROM documents
    ), c AS (
      SELECT doc_id, ws,
             CASE WHEN len(ws) = 0 THEN 0
                  WHEN len(ws) <= 32 THEN 1
                  ELSE 1 + CAST(floor((len(ws) - 32 + 23) / 24.0) AS INT)
             END AS n_chunks
      FROM w
    ), e AS (
      SELECT doc_id, u.s.chunk_id AS chunk_id, u.s.cw AS cw
      FROM (SELECT doc_id,
                   [{'chunk_id': CAST(i AS INT),
                     'cw': ws[i*24 + 1 : i*24 + 32]}
                    for i in generate_series(0, n_chunks - 1)] AS cs
            FROM c), unnest(cs) AS u(s)
    )
    SELECT doc_id, chunk_id, CAST(len(cw) AS INT) AS n_tokens,
           substr(md5(array_to_string(cw, ' ')), 1, 16) AS chunk_hash
    FROM e
    """,
    doc="Sliding-window chunking (RAG / context-window prep): 32-token "
    "chunks, 8-token overlap, final partial chunk kept. Unlike the "
    "naive strided docs_chunk_overlap, the chunk COUNT is computed "
    "up front, so no emitted chunk is contained in its predecessor "
    "(the tail-stride chunks a naive chunker wastes training tokens "
    "on). Zero-shuffle narrow map (sequence + slice HOFs, token array "
    "let_-bound); chunk text is emitted as a 16-hex md5 so the oracle "
    "value-checks the exact chunk BYTES, not just boundaries. "
    "operators/text.py::sliding_chunks.",
    tags=("curve",),
)
def text_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    out = T.sliding_chunks(d, "doc_id", "text", window=32, overlap=8)
    return out.select(
        "doc_id",
        "chunk_id",
        "n_tokens",
        F.substring(F.md5("chunk_text"), 1, 16).alias("chunk_hash"),
    )


@register(
    "text_collocations_lift",
    """
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), t -> t <> '') AS ws
      FROM documents
    ), uni AS (
      SELECT u.w AS w, count(*) AS c FROM w, unnest(ws) AS u(w) GROUP BY 1
    ), n AS (
      SELECT CAST(sum(c) AS BIGINT) AS n_total FROM uni
    ), bg AS (
      SELECT g AS bigram, count(*) AS c_ab
      FROM (SELECT [array_to_string(ws[i:i+1], ' ')
                    for i in generate_series(1, greatest(len(ws)-1, 0))] AS gs
            FROM w), unnest(gs) AS t(g)
      GROUP BY 1
      HAVING count(*) >= 5
    )
    SELECT bigram, c_ab, a.c AS c_a, b.c AS c_b,
           CAST((CAST(1000000 AS HUGEINT) * c_ab * n_total)
                // (CAST(a.c AS HUGEINT) * b.c) AS BIGINT)
             AS lift_micros
    FROM bg, n, uni a, uni b
    WHERE a.w = string_split(bigram, ' ')[1]
      AND b.w = string_split(bigram, ' ')[2]
    ORDER BY lift_micros DESC, bigram
    LIMIT 20
    """,
    doc="Collocation extraction: top-20 bigrams by lift = P(ab)/(P(a)P(b)) "
    "with support >= 5, ranked in EXACT micro-units computed in "
    "DECIMAL(38,0)/HUGEINT (the int64 numerator overflowed at sf100) — "
    "ln is monotone so lift order IS PMI order and no float/log enters "
    "the compare. Round-7 plan: HASH-KEYED count shuffle (8 B xxhash64 "
    "keys, never gram strings — the string-keyed form went 36.8x/decade "
    "at sf100 on ~45 GB of mostly-unique gram strings), min_count "
    "survivors broadcast back to recover strings and to restrict the "
    "unigram count table to their component words. "
    "Size-dispatched like the §8 spread crossover: below ~64 MiB on-disk "
    "the single-scan string-keyed form wins (the hashed form's 3 corpus "
    "re-scans cost ~2x CPU at sf0.1 — measured r7 bench regression); "
    "above, the hashed shuffle wins (sf100 A/B: 271-294 s vs 300.6 s at "
    "~2x less shuffle byte volume). Past ~64 GiB the survivor broadcast "
    "hints are dropped too — the repeated vocabulary can outgrow the 8 GB "
    "broadcast ceiling, so AQE decides from runtime sizes. "
    "operators/text.py::bigram_lift_topk_hashed (string-keyed original "
    "kept as the small-corpus path and A/B baseline).",
    tags=("bench", "curve"),
)
def text_collocations_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.tables import table_bytes

    d = _t(spark, sf_dir, "documents")
    nbytes = table_bytes(sf_dir, "documents")
    if nbytes < (64 << 20):
        return T.bigram_lift_topk(d, "doc_id", "text", min_count=5, k=20)
    return T.bigram_lift_topk_hashed(
        d,
        "doc_id",
        "text",
        min_count=5,
        k=20,
        broadcast_hints=nbytes < (64 << 30),
    )


@register(
    "quality_repetition_signals",
    """
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), t -> t <> '') AS ws
      FROM documents
    ), base AS (
      SELECT doc_id, CAST(len(ws) AS INT) AS n_words,
             CAST(coalesce(list_sum(list_transform(ws, t -> length(t))), 0)
                  AS BIGINT) AS tok_chars, ws
      FROM w
    ), g2 AS (
      SELECT doc_id, g, count(*) AS c
      FROM (SELECT doc_id,
                   [array_to_string(ws[i:i+1], ' ')
                    for i in generate_series(1, greatest(len(ws)-1, 0))] AS gs
            FROM base), unnest(gs) AS t(g)
      GROUP BY 1, 2
    ), g3 AS (
      SELECT doc_id, g, count(*) AS c
      FROM (SELECT doc_id,
                   [array_to_string(ws[i:i+2], ' ')
                    for i in generate_series(1, greatest(len(ws)-2, 0))] AS gs
            FROM base), unnest(gs) AS t(g)
      GROUP BY 1, 2
    ), top2 AS (
      SELECT doc_id, g AS top_bigram, c * (length(g) - 1) AS top2_chars
      FROM (SELECT doc_id, g, c,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY c DESC, g) AS rn
            FROM g2)
      WHERE rn = 1
    ), dup3 AS (
      SELECT doc_id, CAST(sum(c * (length(g) - 2)) AS BIGINT) AS dup3_chars
      FROM g3 WHERE c >= 2 GROUP BY 1
    ), j AS (
      SELECT b.doc_id, b.n_words, b.tok_chars, t.top_bigram,
             CASE WHEN t.top2_chars IS NULL OR b.tok_chars = 0 THEN 0
                  ELSE CAST(floor((1000000 * t.top2_chars) / b.tok_chars
                                  + 0.5) AS BIGINT) END
               AS top_bigram_frac_micros,
             CASE WHEN d.dup3_chars IS NULL OR b.tok_chars = 0 THEN 0
                  ELSE CAST(floor((1000000 * d.dup3_chars) / b.tok_chars
                                  + 0.5) AS BIGINT) END
               AS dup_trigram_frac_micros
      FROM base b LEFT JOIN top2 t USING (doc_id)
                  LEFT JOIN dup3 d USING (doc_id)
    )
    SELECT doc_id, n_words, tok_chars, top_bigram, top_bigram_frac_micros,
           dup_trigram_frac_micros,
           (top_bigram_frac_micros <= 200000) AS rep_top2_ok,
           (dup_trigram_frac_micros <= 300000) AS rep_dup3_ok,
           (top_bigram_frac_micros <= 200000
            AND dup_trigram_frac_micros <= 300000) AS passes_repetition
    FROM j
    """,
    doc="Gopher repetition filters (Rae et al. 2021 A1.1, the n-gram half "
    "gopher_quality_rules doesn't cover): per-doc most-frequent-bigram "
    "char fraction (count-desc/bigram-asc tiebreak) and duplicated-"
    "trigram char fraction (occurrence-weighted), integer micro-units — "
    "the CHAR-mass complements of text_repetition_ngrams' zero-shuffle "
    "window-count ratio (the char forms need a per-gram count table, "
    "hence the one extra (id, gram) exchange). (id, gram) explode -> "
    "map-side-combinable count, doc-partitioned row_number argmax, "
    "id-key joins. operators/text.py::repetition_signals.",
    tags=("bench", "curve"),
)
def quality_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return T.repetition_signals(d)


@register(
    "text_oov_rate",
    """
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), t -> t <> '') AS ws
      FROM documents
    ), dt AS (
      SELECT doc_id, u.w AS w, count(*) AS c
      FROM w, unnest(ws) AS u(w) GROUP BY 1, 2
    ), vocab AS (
      SELECT w FROM (SELECT w, sum(c) AS sc FROM dt GROUP BY 1
                     ORDER BY sc DESC, w LIMIT 16)
    ), pd AS (
      SELECT d.doc_id, CAST(coalesce(sum(dt.c), 0) AS BIGINT) AS n_tokens
      FROM documents d LEFT JOIN dt ON d.doc_id = dt.doc_id GROUP BY 1
    ), ov AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_oov FROM dt
      WHERE w NOT IN (SELECT w FROM vocab) GROUP BY 1
    )
    SELECT p.doc_id, p.n_tokens,
           CAST(coalesce(o.n_oov, 0) AS BIGINT) AS n_oov,
           CASE WHEN p.n_tokens = 0 THEN 0
                ELSE CAST(floor((1000000 * coalesce(o.n_oov, 0))
                                / p.n_tokens + 0.5) AS BIGINT) END
             AS oov_rate_micros
    FROM pd p LEFT JOIN ov o ON p.doc_id = o.doc_id
    """,
    doc="Tokenizer-vocabulary coverage QA: top-16 corpus vocabulary "
    "(count-desc/word-asc deterministic boundary tiebreak) and per-doc "
    "out-of-vocabulary counts + micro-unit rates — the pre-tokenizer-"
    "training check that catches language-mix / mojibake / markup "
    "blow-ups as an OOV spike. One corpus scan into a checkpointed "
    "(doc, word) count table serving all three consumers; vocab = "
    "TakeOrderedAndProject, broadcast into the OOV anti-join. "
    "operators/text.py::vocab_oov_stats.",
)
def text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return T.vocab_oov_stats(d, "doc_id", "text", vocab_size=16)


@register(
    "sample_uniform_k",
    """
    SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS sample_key
    FROM documents
    ORDER BY sample_key
    LIMIT 64
    """,
    doc="Exactly-k uniform sample, content-addressed: rank by md5(id), "
    "keep the 64 smallest — the deterministic reservoir-sampling "
    "replacement (same rows on every run/engine/partitioning; "
    "hash_split carves fractions, this carves a fixed COUNT, e.g. a "
    "10k-doc eval set from a 10B-doc corpus). The global complement of "
    "sample_group_reservoir: no group key, so the plan is a "
    "TakeOrderedAndProject per-partition k-heap (no global sort, no "
    "window). operators/sampling.py::uniform_k_sample.",
)
def sample_uniform_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import uniform_k_sample

    d = _t(spark, sf_dir, "documents")
    return uniform_k_sample(d, k=64, id_col="doc_id").select(
        "doc_id", "source", "sample_key"
    )


@register(
    "streaming_pii_funnel",
    r"""
    WITH planted AS (
      SELECT doc_id,
             text || ' contact u' || doc_id || '@example.org'
             || CASE WHEN doc_id % 2 = 0
                     THEN ' or b' || doc_id || '@test.io' ELSE '' END
             || CASE WHEN doc_id % 3 = 0
                     THEN ' call 555-'
                          || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                          || '-'
                          || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                     ELSE '' END AS text
      FROM documents
    ), scrubbed AS (
      SELECT doc_id,
             len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
               AS n_emails,
             len(regexp_extract_all(text, '\d{3}[-.]\d{3}[-.]\d{4}'))
               AS n_phones,
             length(regexp_replace(regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>',
               'g'), '\d{3}[-.]\d{3}[-.]\d{4}', '<PHONE>', 'g'))
               AS redacted_len
      FROM planted
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN n_emails > 0 OR n_phones > 0 THEN 1
                         ELSE 0 END) AS BIGINT) AS n_docs_with_pii,
           CAST(sum(n_emails) AS BIGINT) AS total_emails,
           CAST(sum(n_phones) AS BIGINT) AS total_phones,
           CAST(sum(redacted_len) AS BIGINT) AS total_redacted_len
    FROM scrubbed
    """,
    doc="Ingest-time PII funnel: the same zero-shuffle scrub projection "
    "runs unchanged on a document STREAM (availableNow file source, "
    "complete-mode 1-row state), rolling up docs-with-PII, total hits, "
    "and redacted bytes at arrival — scrub-at-landing, never re-scan. "
    "Batch-equivalent by construction, so the plain batch aggregate over "
    "the planted corpus is a full oracle. "
    "streaming/curation.py::run_stream_pii_funnel.",
)
def streaming_pii_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.curation import run_stream_pii_funnel

    tune(spark)
    return run_stream_pii_funnel(spark, sf_dir)


@register(
    "streaming_quality_funnel",
    """
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), t -> t <> '') AS ws
      FROM documents
    ), f AS (
      SELECT doc_id,
             CAST(len(ws) AS INT) AS n_words,
             CAST(list_sum(list_transform(ws, t -> length(t))) AS BIGINT)
               AS chars,
             CAST(len(list_distinct(ws)) AS INT) AS n_distinct,
             CAST(len(list_filter(['the','a','of','and','to','in','is'],
                  s -> list_contains(ws, s))) AS INT) AS distinct_stop_cnt
      FROM w
    ), g AS (
      SELECT doc_id, n_words, distinct_stop_cnt,
             CASE WHEN n_words = 0 THEN 0
                  ELSE CAST(floor((1000000 * chars) / n_words + 0.5)
                            AS BIGINT) END AS mwl,
             CASE WHEN n_words = 0 THEN 0
                  ELSE CAST(floor(
                    (1000000 * CAST(n_words - n_distinct AS BIGINT))
                    / n_words + 0.5) AS BIGINT) END AS dup
      FROM f
    ), r AS (
      SELECT n_words,
             (n_words >= 40 AND n_words <= 120) AS wc_ok,
             (mwl >= 3800000 AND mwl <= 10000000) AS mwl_ok,
             (distinct_stop_cnt >= 2) AS stop_ok,
             (dup <= 500000) AS rep_ok
      FROM g
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN wc_ok AND mwl_ok AND stop_ok AND rep_ok
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
           CAST(sum(CASE WHEN NOT wc_ok THEN 1 ELSE 0 END) AS BIGINT)
             AS n_fail_wordcount,
           CAST(sum(CASE WHEN NOT mwl_ok THEN 1 ELSE 0 END) AS BIGINT)
             AS n_fail_mwl,
           CAST(sum(CASE WHEN NOT stop_ok THEN 1 ELSE 0 END) AS BIGINT)
             AS n_fail_stopwords,
           CAST(sum(CASE WHEN NOT rep_ok THEN 1 ELSE 0 END) AS BIGINT)
             AS n_fail_repetition,
           CAST(sum(CASE WHEN wc_ok AND mwl_ok AND stop_ok AND rep_ok
                         THEN n_words ELSE 0 END) AS BIGINT) AS tokens_kept
    FROM r
    """,
    doc="Ingest-time corpus curation: the Gopher quality rules (a stateless "
    "zero-shuffle projection) run UNCHANGED on a document STREAM; each "
    "micro-batch of landing files is scored on arrival and the keep/drop "
    "funnel (which rule kills how many docs, tokens surviving) rolls up "
    "in complete mode — bounded 1-row state, no watermark, no corpus "
    "re-scan. availableNow + memory sink => batch-equivalent; oracle is "
    "the plain batch aggregate. "
    "streaming/curation.py::run_stream_quality_funnel.",
)
def streaming_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.curation import run_stream_quality_funnel

    return run_stream_quality_funnel(spark, sf_dir)


@register(
    "streaming_classifier_funnel",
    """
    WITH w AS (SELECT doc_id,
                      list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                  x -> x <> '') AS ws
               FROM documents),
    tok AS (SELECT doc_id, unnest(ws) AS t FROM w),
    wt AS (SELECT doc_id,
                  (CAST(('0x' || substr(md5('w:' || CAST(
                     CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) % 128
                   AS VARCHAR)), 1, 8)) AS BIGINT) % 2000001) - 1000000 AS wm
           FROM tok),
    agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                   CAST(sum(wm) AS BIGINT) AS score_micros
            FROM wt GROUP BY doc_id),
    scored AS (SELECT d.doc_id,
                      CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,
                      CAST(coalesce(a.score_micros, 0) AS BIGINT) AS sm,
                      coalesce(a.score_micros, 0) >= 0 AS keep
               FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id)
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
           CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_drop,
           CAST(sum(CASE WHEN keep THEN n_tokens ELSE 0 END) AS BIGINT)
             AS tokens_kept,
           CAST(sum(sm) AS BIGINT) AS score_sum_micros
    FROM scored
    """,
    doc="Ingest-time model-based curation: the fastText-style hashed "
    "linear classifier (itself a pure narrow map) runs UNCHANGED on a "
    "document STREAM; each landing micro-batch is scored on arrival and "
    "the keep/drop funnel rolls up in complete mode — bounded 1-row "
    "state, no watermark, exact BIGINT sums so the funnel is combine-"
    "order-free across micro-batches. availableNow + memory sink => "
    "batch-equivalent; oracle is the plain batch aggregate. "
    "streaming/curation.py::run_stream_classifier_funnel.",
)
def streaming_classifier_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.curation import run_stream_classifier_funnel

    return run_stream_classifier_funnel(spark, sf_dir)


# Shared by the complete-mode and update-mode (incremental) streaming
# drift queries: availableNow == batch, so the batch drift SQL is the
# oracle for both.
_STREAM_DRIFT_ORACLE = """
    WITH z AS (
      SELECT CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 2 = 0 AS a,
             list_transform(v, x -> CAST(floor(x / s + 0.5) AS BIGINT))
               AS codes
      FROM (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               CASE WHEN mx = 0 THEN 1.0 ELSE mx / 127.0 END AS s
        FROM (SELECT vec_id, embedding,
                     list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                             x -> abs(x))) AS mx
              FROM embeddings WHERE embedding IS NOT NULL))
    ), per AS (
      SELECT i - 1 AS dim,
             CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
             CAST(sum(CASE WHEN a THEN codes[i] ELSE 0 END) AS BIGINT) AS s_a,
             CAST(sum(CASE WHEN a THEN 0 ELSE codes[i] END) AS BIGINT) AS s_b
      FROM z, unnest(generate_series(1, 64)) AS t(i)
      GROUP BY i
    )
    SELECT CAST(dim AS INT) AS dim, n_a, n_b,
           CASE WHEN n_a = 0 THEN 0
                ELSE CAST(floor(s_a / n_a + 0.5) AS BIGINT) END AS mean_a,
           CASE WHEN n_b = 0 THEN 0
                ELSE CAST(floor(s_b / n_b + 0.5) AS BIGINT) END AS mean_b,
           abs(CASE WHEN n_a = 0 THEN 0
                    ELSE CAST(floor(s_a / n_a + 0.5) AS BIGINT) END
             - CASE WHEN n_b = 0 THEN 0
                    ELSE CAST(floor(s_b / n_b + 0.5) AS BIGINT) END) AS shift
    FROM per
"""


@register(
    "streaming_embedding_drift",
    _STREAM_DRIFT_ORACLE,
    doc="Embedding-space drift, live: the batch drift monitor runs "
    "UNCHANGED on an embedding STREAM — numpy partial sums are a "
    "stateless per-batch map and the per-dimension combine is a "
    "complete-mode aggregate whose state is bounded at dim rows no "
    "matter how many vectors arrive. availableNow + memory sink => "
    "batch-equivalent; the oracle is the batch drift query itself. "
    "streaming/curation.py::run_stream_embedding_drift.",
)
def streaming_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.curation import run_stream_embedding_drift

    return run_stream_embedding_drift(spark, sf_dir)


@register(
    "streaming_embedding_drift_incremental",
    _STREAM_DRIFT_ORACLE,
    doc="UPDATE-mode drift monitor (round-5 verdict #6) — the 100 TB "
    "shape: per-dim running (n_a, n_b, s_a, s_b) sums live in the "
    "streaming state store and each micro-batch FOLDS its bounded numpy "
    "partials into the stored state (plans/ivm.py's "
    "aggregate_state/merge_state split; derived means sit on top), "
    "emitting only the dims it touched — no per-batch re-emit of the "
    "whole table, state dim-bounded forever, history never re-scanned. "
    "Harness hash-slices the fixture into 3 files, maxFilesPerTrigger=1 "
    "forces 3 REAL micro-batches (asserted >= 2 non-empty), foreachBatch "
    "records each dim-bounded update delta, and the final state must "
    "equal the one-shot batch drift — the availableNow == batch oracle "
    "across genuine incremental folds. streaming/curation.py::"
    "run_stream_embedding_drift_incremental.",
    tags=("curve",),
)
def streaming_embedding_drift_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .streaming.curation import run_stream_embedding_drift_incremental

    return run_stream_embedding_drift_incremental(spark, sf_dir)


@register(
    "semdedup_embedding_prune",
    """
    WITH z AS (
      SELECT vec_id,
             list_transform(v, x -> CAST(floor(x / s + 0.5) AS INT)) AS codes
      FROM (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               CASE WHEN mx = 0 THEN 1.0 ELSE mx / 127.0 END AS s
        FROM (SELECT vec_id, embedding,
                     list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                             x -> abs(x))) AS mx
              FROM embeddings))
    ), z2 AS (
      SELECT vec_id, codes,
             CAST(list_sum(list_transform(codes, c -> CAST(c AS BIGINT) * c))
                  AS BIGINT) AS n2
      FROM z
    ), cent AS (
      SELECT cid, ccodes, cn2 FROM (
        SELECT vec_id AS cid, codes AS ccodes, n2 AS cn2,
               row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                  vec_id) AS crn
        FROM z2 WHERE n2 > 0) CROSS JOIN
        (SELECT CAST(ceil(sqrt(count(*) / 2.0)) AS BIGINT) AS kk FROM z2)
      WHERE crn <= kk
    ), scored AS (
      -- list_dot_product over int8 codes is EXACT (integer-valued
      -- doubles: |q| <= 127*127*64 ~ 1.03e6 << 2^53) and runs at C
      -- speed; the lambda/zip form exploded 64 elements per pair and
      -- timed the sf10 gate out
      SELECT z2.vec_id, cent.cid, cent.cn2,
             CAST(list_dot_product(z2.codes, cent.ccodes) AS BIGINT) AS q
      FROM z2 CROSS JOIN cent
    ), best AS (
      -- STREAMING argmax: the former row_number window forced a FULL
      -- SORT of the n x k scored rows (2B x 32 B = 64 GB at sf100 —
      -- ENOSPC past the whole 57 GB disk, round-9 gate) where a
      -- max-over-struct aggregate keeps one struct per vec_id and
      -- consumes the cross product pipelined. Struct comparison is
      -- fieldwise, so {'s': score, 'c': -cid} reproduces ORDER BY
      -- score DESC, cid ASC exactly — same correctly-rounded IEEE
      -- double score as the engine, min cid on ties
      SELECT vec_id,
             -((max({'s': CASE WHEN q >= 0 THEN CAST(q*q AS DOUBLE)/cn2
                               ELSE -CAST(q*q AS DOUBLE)/cn2 END,
                     'c': -cid})).c) AS cid
      FROM scored GROUP BY vec_id
    ), assign AS (
      SELECT best.vec_id, best.cid, z2.codes, z2.n2
      FROM best JOIN z2 ON best.vec_id = z2.vec_id
    ), pairq AS (
      -- dot computed ONCE per in-cluster pair (the predicate used to
      -- recompute it three times)
      SELECT b.vec_id AS b_id,
             CAST(list_dot_product(a.codes, b.codes) AS BIGINT) AS d,
             a.n2 AS an2, b.n2 AS bn2
      FROM assign a JOIN assign b ON a.cid = b.cid AND a.vec_id < b.vec_id
      WHERE a.n2 > 0 AND b.n2 > 0
    ), dropped AS (
      SELECT DISTINCT b_id
      FROM pairq
      WHERE d >= 0 AND d * d * 25 >= 4 * an2 * bn2
    )
    SELECT assign.vec_id, assign.cid AS cluster_id,
           (dropped.b_id IS NULL) AS keep
    FROM assign LEFT JOIN dropped ON assign.vec_id = dropped.b_id
    """,
    doc="SemDeDup (Abbas et al. 2023): content-addressed centroid pick, "
    "argmax-cosine cluster assignment vs broadcast centroids, in-cluster "
    "near-dup prune (cos >= 0.4 over int8 codes, decided in EXACT bigint "
    "arithmetic — d^2*den^2 >= num^2*|a|^2*|b|^2 — so no float-sum order "
    "can flip a pair), deterministic keep-smallest-id survivors. The "
    "cluster equi-join bounds per-cluster work at (n/k)^2 and k SCALES "
    "with the corpus — k = ceil(sqrt(n/2)), the n*k assignment vs "
    "n^2/2k pair-join cost balance point, on both engines (sf1 was "
    "17.8x/decade at fixed k=8; the paper uses "
    "~100k clusters for 5B docs for the same reason). sqrt of an exact "
    "integer ratio is correctly rounded IEEE on both sides, so the ceil "
    "agrees. operators/similarity.py::semdedup_prune.",
    tags=("bench", "curve"),
)
def semdedup_embedding_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    e = _t(spark, sf_dir, "embeddings")
    # k from the cached footer statistic — no sizing count() job
    n = table_rowcount(sf_dir, "embeddings")
    k = max(1, math.ceil(math.sqrt(n / 2.0)))
    return S.semdedup_prune(e, k=k, threshold_num=2, threshold_den=5)


@register(
    "tokenizer_bpe_pair_counts",
    """
    WITH vocab AS (
      SELECT w, count(*) AS cnt
      FROM (SELECT unnest(list_filter(string_split(lower(text), ' '),
                                      t -> t <> '')) AS w
            FROM documents)
      GROUP BY w
    ), syms AS (
      SELECT cnt,
             list_append(list_transform(range(1, length(w) + 1), i -> w[i]),
                         '</w>') AS s
      FROM vocab
    ), pairs AS (
      SELECT s[i] AS a, s[i+1] AS b, cnt
      FROM syms, unnest(range(1, len(s))) AS t(i)
    )
    SELECT a, b, CAST(sum(cnt) AS BIGINT) AS pair_cnt
    FROM pairs GROUP BY a, b
    ORDER BY pair_cnt DESC, a, b LIMIT 20
    """,
    doc="BPE tokenizer training, round-1 statistics: corpus -> weighted "
    "vocabulary (the BPE-on-vocab trick — pair stats over 100 TB reduce to "
    "a groupBy over |vocab| rows) -> adjacent-symbol pair counts -> top-20 "
    "merge candidates (total order: count desc, pair asc). "
    "operators/bpe.py::pair_counts.",
    tags=("graded", "bench", "curve"),
)
def tokenizer_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import bpe

    d = _t(spark, sf_dir, "documents")
    vocab = bpe.vocab_counts(d).withColumn(
        "syms", bpe.initial_symbols("w")
    )
    return (
        bpe.pair_counts(vocab)
        .orderBy(F.col("pair_cnt").desc(), F.col("a").asc(), F.col("b").asc())
        .limit(20)
    )


@register(
    "tokenizer_bpe_train_merges",
    """
    WITH vocab AS (
      SELECT w, count(*) AS cnt
      FROM (SELECT unnest(list_filter(string_split(lower(text), ' '),
                                      t -> t <> '')) AS w
            FROM documents)
      GROUP BY w
    ), syms AS (
      SELECT cnt,
             list_append(list_transform(range(1, length(w) + 1), i -> w[i]),
                         '</w>') AS s
      FROM vocab
    ), pairs AS (
      SELECT s[i] AS a, s[i+1] AS b, cnt
      FROM syms, unnest(range(1, len(s))) AS t(i)
    ), top1 AS (
      SELECT a, b, CAST(sum(cnt) AS BIGINT) AS pair_cnt
      FROM pairs GROUP BY a, b
      ORDER BY pair_cnt DESC, a, b LIMIT 1
    )
    SELECT a AS first_left, b AS first_right, pair_cnt AS first_cnt,
           CAST(6 AS INT) AS sample_merges,
           TRUE AS sample_matches_reference
    FROM top1
    """,
    doc="Full BPE merge-loop training: per round, distributed pair "
    "counting over the weighted vocab, 1-row argmax collect "
    "(deterministic ties), greedy leftmost non-overlapping merge fold, "
    "localCheckpoint lineage truncation. Contract form (round-4 verdict "
    "#3): the FIRST merge — the round whose argmax IS single-statement "
    "SQL — is value-checked exactly against the oracle's own full-corpus "
    "pair statistics at EVERY scale, while the 6-round iterative loop "
    "runs end-to-end on a bounded content-addressed document sample "
    "(smallest md5(doc_id), limit 200 — fixed driver cost at any corpus "
    "size, the anchored-slice idiom of docs/SCALING.md) and "
    "sample_matches_reference asserts merge-table equality with the "
    "plain-Python reference BPE (operators/bpe.py::reference_bpe). "
    "Full-corpus merge equality at the smoke SF stays pinned in "
    "tests/test_bpe.py. operators/bpe.py::bpe_train.",
)
def tokenizer_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import bpe

    d = _t(spark, sf_dir, "documents")
    # full-corpus anchor: the rank-1 argmax over distributed pair stats
    vocab = bpe.vocab_counts(d).withColumn("syms", bpe.initial_symbols("w"))
    first = (
        bpe.pair_counts(vocab)
        .orderBy(F.col("pair_cnt").desc(), F.col("a").asc(), F.col("b").asc())
        .limit(1)
        .collect()[0]
    )
    # bounded anchored slice: 6-round train, distributed vs pure Python
    sample = (
        d.orderBy(F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
        .limit(200)
        .localCheckpoint(eager=False)  # two consumers: train + reference vocab
    )
    got = [
        (r["rank"], r["left"], r["right"], int(r["pair_cnt"]))
        for r in bpe.bpe_train(spark, sample, n_merges=6).collect()
    ]
    svocab = {
        r["w"]: int(r["cnt"]) for r in bpe.vocab_counts(sample).collect()
    }
    want = bpe.reference_bpe(svocab, n_merges=6)
    return spark.createDataFrame(
        [
            (
                first["a"],
                first["b"],
                int(first["pair_cnt"]),
                len(got),
                got == want,
            )
        ],
        "first_left string, first_right string, first_cnt bigint, "
        "sample_merges int, sample_matches_reference boolean",
    )


@register(
    "tokenizer_bpe_encode_stats",
    """
    WITH tok AS (
      SELECT source, doc_id,
             unnest(list_filter(string_split(lower(text), ' '),
                                t -> t <> '')) AS w
      FROM documents)
    SELECT source,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS docs,
           CAST(count(*) AS BIGINT) AS words,
           TRUE AS subword_bounds_ok,
           TRUE AS anchor_encode_ok
    FROM tok GROUP BY source
    """,
    doc="Train BPE (6 merges) then ENCODE the corpus with it — the "
    "token-budget readout a training pipeline plans against. Encoding "
    "runs once per DISTINCT word (weighted vocab) and joins back on the "
    "word key; the corpus-sized side never carries symbol arrays. "
    "Contract form (round-4 verdict #3): per-source doc/word totals are "
    "value-checked exactly; subword_bounds_ok asserts the (non-SQL) "
    "subword totals are sandwiched by their exact invariants per source "
    "(>= words: every word is at least one token after 6 merges; "
    "<= chars + words: merging only shrinks the initial chars+1 "
    "symbols), and anchor_encode_ok asserts per-word equality between "
    "the distributed JVM merge fold and the pure-Python reference "
    "encoder on a bounded anchored slice of the vocab (smallest "
    "md5(word), limit 500 — fixed driver cost at any scale). Full "
    "end-to-end equality at the smoke SF stays pinned in "
    "tests/test_bpe.py. operators/bpe.py::encode_token_stats.",
)
def tokenizer_bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import bpe

    d = _t(spark, sf_dir, "documents")
    merges = [
        (r["left"], r["right"])
        for r in bpe.bpe_train(spark, d, n_merges=6).collect()
    ]
    vocab = (
        bpe.vocab_counts(d)
        .withColumn("syms", bpe.initial_symbols("w"))
        .select("w", "cnt", "syms")
        .localCheckpoint(eager=False)  # two consumers: corpus encode + anchor slice
    )
    encoded = bpe.apply_merges(vocab, merges).select(
        "w", F.size("syms").alias("__n_sub")
    )
    ws = T.tokens(F.col("text"))
    corpus = d.select(
        "source", F.col("doc_id"), F.explode_outer(ws).alias("w")
    ).filter(F.col("w").isNotNull())
    per_source = (
        corpus.join(encoded, on="w")
        .groupBy("source")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("docs"),
            F.count(F.lit(1)).cast("bigint").alias("words"),
            F.sum("__n_sub").alias("__subwords"),
            # chars+1 initial symbols per word occurrence = upper bound
            F.sum(F.length("w").cast("bigint") + 1).alias("__ub"),
        )
    )
    # anchored slice: distributed fold vs pure-Python reference encoder
    # (slice FIRST — the per-row fold is independent, so folding 500
    # rows beats folding the vocab then taking 500)
    anchor = (
        bpe.apply_merges(
            vocab.orderBy(F.md5(F.col("w")), F.col("w")).limit(500), merges
        )
        .select("w", "syms")
        .collect()
    )
    anchor_ok = all(
        list(r["syms"]) == bpe.reference_encode(r["w"], merges)
        for r in anchor
    )
    return per_source.select(
        "source",
        "docs",
        "words",
        (
            (F.col("__subwords") >= F.col("words"))
            & (F.col("__subwords") <= F.col("__ub"))
        ).alias("subword_bounds_ok"),
        F.lit(anchor_ok).alias("anchor_encode_ok"),
    )


@register(
    "dedup_span_scrub",
    """
    WITH w AS (SELECT doc_id, text,
                      list_filter(string_split(text, ' '), x -> x <> '') AS ws
               FROM documents),
    g AS (SELECT doc_id, i AS s, array_to_string(ws[i:i+4], ' ') AS span
          FROM w, LATERAL (SELECT unnest(generate_series(
                             1, greatest(len(ws) - 4, 0))) AS i) ii),
    st AS (SELECT span, min(doc_id) AS canon
           FROM g GROUP BY span HAVING count(DISTINCT doc_id) >= 2),
    rem AS (SELECT DISTINCT g.doc_id, p
            FROM g JOIN st USING (span),
                 LATERAL (SELECT unnest(generate_series(g.s, g.s + 4)) AS p) pp
            WHERE g.doc_id <> st.canon),
    pos AS (SELECT doc_id, i AS p, ws[i] AS word
            FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i) ii),
    rebuilt AS (SELECT pos.doc_id,
                       string_agg(word, ' ' ORDER BY pos.p) AS kept_text
                FROM pos LEFT JOIN rem
                  ON pos.doc_id = rem.doc_id AND pos.p = rem.p
                WHERE rem.p IS NULL GROUP BY pos.doc_id),
    nrem AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_removed
             FROM rem GROUP BY doc_id)
    SELECT w.doc_id, CAST(len(ws) AS INT) AS n_words,
           CAST(coalesce(nrem.n_removed, 0) AS INT) AS n_removed,
           coalesce(rebuilt.kept_text, '') AS kept_text
    FROM w LEFT JOIN rebuilt ON w.doc_id = rebuilt.doc_id
           LEFT JOIN nrem ON w.doc_id = nrem.doc_id
    """,
    doc="Sub-document duplicate-SPAN removal with document rebuild (word-"
    "level ExactSubstr dedup, Lee et al. 2022): every 5-word window "
    "appearing in >= 2 distinct docs is scrubbed from all but its "
    "canonical (min-id) doc and the survivors re-joined into text — "
    "boilerplate dies, both documents live. Unlike text_dup_ngram_spans "
    "(which only MINES the spans) this edits the corpus. Span dictionary "
    "= one shuffle agg on the window string (xxhash64 of the window at "
    "100 TB); rebuild = filter-by-index HOF over the original split, the "
    "corpus never re-shuffles. operators/dedup.py::span_scrub.",
    tags=("bench", "curve"),
)
def dedup_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import span_scrub

    d = _t(spark, sf_dir, "documents")
    return span_scrub(d, span_n=5, min_docs=2)


@register(
    "dsir_importance_weights",
    """
    WITH w AS (SELECT doc_id, lang = 'en' AS tgt,
                      list_filter(string_split(text, ' '), x -> x <> '') AS ws
               FROM documents),
    feats AS (SELECT doc_id, tgt,
                     unnest(list_concat(ws,
                       [array_to_string(ws[i:i+1], ' ')
                        for i in generate_series(1, greatest(len(ws)-1, 0))]))
                       AS f
              FROM w),
    occ AS (SELECT doc_id, tgt,
                   CAST(('0x' || substr(md5(f), 1, 8)) AS BIGINT) % 256 AS b
            FROM feats),
    counts AS (SELECT doc_id, tgt, b, count(*) AS cnt
               FROM occ GROUP BY doc_id, tgt, b),
    bstats AS (SELECT b, sum(cnt) AS raw,
                      sum(CASE WHEN tgt THEN cnt ELSE 0 END) AS tgt_cnt
               FROM counts GROUP BY b),
    totals AS (SELECT sum(raw) AS tot_raw, sum(tgt_cnt) AS tot_tgt
               FROM bstats),
    ratios AS (SELECT b,
                      CAST(floor((ln((tgt_cnt + 1) / (tot_tgt + 256.0))
                                - ln((raw + 1) / (tot_raw + 256.0))) * 1e6)
                           AS BIGINT) AS lr_micro
               FROM bstats CROSS JOIN totals)
    SELECT doc_id, CAST(sum(cnt * lr_micro) AS BIGINT) AS weight_micro,
           CAST(sum(cnt) AS BIGINT) AS n_features
    FROM counts JOIN ratios USING (b)
    GROUP BY doc_id
    """,
    doc="DSIR data selection (Xie et al. 2023): per-doc importance weight "
    "= log-likelihood ratio of its hashed unigram+bigram features under "
    "the target distribution (lang='en' as the trusted-domain proxy) vs "
    "the raw corpus, Laplace-smoothed over 256 md5 buckets. Portable by "
    "construction: md5 bucketing reproduces on any engine, per-bucket "
    "log-ratios are floor-quantized to integer micro-units ONCE (256-row "
    "dict) and doc weights are exact BIGINT dot products — combine order "
    "cannot move a digit. One explode pass -> bucket counts (map-side "
    "combinable), tiny broadcast dict, one groupBy(doc). "
    "operators/sampling.py::dsir_importance.",
    tags=("bench", "curve"),
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import dsir_importance

    d = _t(spark, sf_dir, "documents")
    return dsir_importance(d, target_filter=F.col("lang") == "en")


@register(
    "embedding_random_projection",
    """
    WITH signs AS (
      SELECT k, i, CASE WHEN substr(md5(k || '_' || i), 1, 1) < '8'
                        THEN 1 ELSE -1 END AS s
      FROM (SELECT unnest(generate_series(0, 15)) AS k),
           (SELECT unnest(generate_series(0, 63)) AS i)),
    terms AS (
      SELECT vec_id, k,
             CAST(floor(CAST(embedding[i + 1] AS DOUBLE) * 1e6) AS BIGINT)
               * s AS term
      FROM embeddings CROSS JOIN signs)
    SELECT vec_id, CAST(k AS INT) AS k,
           CAST(sum(term) AS BIGINT) AS proj_micro
    FROM terms GROUP BY vec_id, k
    """,
    doc="Johnson-Lindenstrauss dim reduction (Achlioptas +-1 signs): "
    "64-dim embeddings projected to 16 dims against a deterministic "
    "md5-derived sign matrix, ahead of ANN/clustering. Inputs floor-"
    "quantized to integer micro-units once, each coordinate an exact "
    "BIGINT signed sum (no float accumulation, no combine-order risk). "
    "Spark plan is a pure narrow map: one-parse literal sign matrix, "
    "zip_with/aggregate dot products in codegen, posexplode to long "
    "form — zero shuffle, zero driver state (the oracle's join+groupBy "
    "shape is DuckDB-side only). "
    "operators/similarity.py::random_projection.",
)
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import random_projection

    e = _t(spark, sf_dir, "embeddings")
    return random_projection(e, in_dim=64, out_dim=16)


@register(
    "dedup_cross_corpus_jaccard",
    """
    WITH w AS (SELECT doc_id,
                      list_filter(string_split(text, ' '), x -> x <> '') AS ws
               FROM documents),
    t AS (SELECT doc_id, doc_id % 5 = 0 AS ev,
                 list_distinct([array_to_string(ws[i:i+2], ' ')
                   for i in generate_series(1, greatest(len(ws)-2, 0))]) AS tk
          FROM w WHERE len(ws) >= 3),
    j AS (SELECT c.doc_id AS doc_id, e.doc_id AS match_id,
                 CAST(floor(1000000 * len(list_intersect(c.tk, e.tk)) /
                      (len(c.tk) + len(e.tk)
                       - len(list_intersect(c.tk, e.tk)))) AS BIGINT)
                   AS jaccard_micros
          FROM t c, t e WHERE NOT c.ev AND e.ev)
    SELECT doc_id, match_id, jaccard_micros
    FROM j WHERE jaccard_micros >= 500000
    QUALIFY row_number() OVER (PARTITION BY doc_id
                               ORDER BY jaccard_micros DESC, match_id) = 1
    """,
    doc="Cross-corpus decontamination by EXACT similarity (GPT-3 appx C / "
    "PaLM upgraded from gram-overlap counts to Jaccard): each corpus doc "
    "(doc_id % 5 <> 0) whose trigram-shingle Jaccard against some eval "
    "doc (doc_id % 5 = 0) reaches 0.5 emits its single best eval match "
    "— emission bounded at one row per contaminated doc. Asymmetric "
    "double-prefix PPJoin with document frequencies over the UNION of "
    "both sides (per-side orders would break the shared-prefix bound); "
    "candidates are corpus-prefix x eval-prefix only; argmax is a "
    "map-side max_by, not a window sort. Jaccard in exact micro-units "
    "(BIGINT inter/union, exactly-representable quotient), so value and "
    "tiebreak are engine-portable. operators/dedup.py::"
    "jaccard_cross_best_match.",
    tags=("bench", "curve"),
)
def dedup_cross_corpus_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import jaccard_cross_best_match

    d = _t(spark, sf_dir, "documents")
    return jaccard_cross_best_match(
        d, F.col("doc_id") % 5 == 0, "doc_id", "text",
        threshold=0.5, shingle_n=3,
    )


@register(
    "text_bigram_perplexity",
    """
    WITH w AS (SELECT doc_id,
                      list_filter(string_split(text, ' '), x -> x <> '') AS ws
               FROM documents),
    b AS (SELECT doc_id, ws[i] AS prev, ws[i+1] AS cur
          FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws) - 1))
                           AS i) ii
          WHERE len(ws) >= 2),
    bc AS (SELECT prev, cur, count(*) AS c_vw FROM b GROUP BY prev, cur),
    cc AS (SELECT prev, count(*) AS c_v FROM b GROUP BY prev),
    v AS (SELECT count(DISTINCT t) AS vsz
          FROM (SELECT unnest(ws) AS t FROM w)),
    lm AS (SELECT prev, cur,
                  CAST(floor(-ln((c_vw + 1.0) / (c_v + vsz)) * 1000000)
                    AS BIGINT) AS term_micros
           FROM bc JOIN cc USING (prev), v)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(term_micros) AS BIGINT) AS ce_micro_sum
    FROM b JOIN lm USING (prev, cur)
    GROUP BY doc_id
    """,
    doc="Bigram-LM perplexity scoring (the CCNet quality-filter pattern "
    "one order up from text_unigram_cross_entropy): an add-one-smoothed "
    "bigram model p(w|v) = (c(v,w)+1)/(c(v)+V) is fit on the corpus "
    "itself — two map-side-combinable gram aggregations plus a 1-row "
    "vocab count — and every document is scored by the sum of -ln p "
    "over its bigrams. High-entropy docs are gibberish candidates; "
    "low-entropy docs are boilerplate/templates. Each bigram TYPE's "
    "-ln p is quantized to integer micro-units ONCE in the LM table "
    "(p itself is a correctly-rounded quotient of exact ints, so only "
    "the per-type ln carries the non-portable-libm residual — the dsir "
    "caveat — not the per-doc sum, which is exact BIGINT arithmetic "
    "and combine-order-free). The LM join is an ordinary equi-join on "
    "gram keys (AQE broadcasts it while it fits; at 100 TB the bigram "
    "table shuffles — still |vocab|^2-bounded, corpus-independent). In "
    "production the LM table is a pre-fit KenLM dump joined "
    "identically.",
    tags=("bench", "curve"),
)
def text_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    ws = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    d2 = d.select("doc_id", ws.alias("ws")).filter(F.size("ws") >= 2)
    # explode_outer: size >= 2 guarantees >= 1 bigram; plain explode would
    # re-inline the transform into an inferred size()>0 filter
    pairs = d2.select(
        "doc_id",
        F.explode_outer(
            F.expr(
                "transform(sequence(0, size(ws)-2),"
                " i -> struct(ws[i] AS prev, ws[i+1] AS cur))"
            )
        ).alias("p"),
    ).select("doc_id", "p.prev", "p.cur")
    bc = pairs.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("c_vw"))
    cc = pairs.groupBy("prev").agg(F.count(F.lit(1)).alias("c_v"))
    vrow = (
        d2.select(F.explode_outer("ws").alias("t"))
        .agg(F.count_distinct("t").alias("vsz"))
    )
    p = (F.col("c_vw") + F.lit(1.0)) / (F.col("c_v") + F.col("vsz"))
    lm = (
        bc.join(cc, ["prev"])
        .crossJoin(F.broadcast(vrow))
        .select(
            "prev", "cur",
            F.floor(-F.log(p) * 1000000).cast("long").alias("term_micros"),
        )
    )
    return (
        pairs.join(lm, ["prev", "cur"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("term_micros").cast("long").alias("ce_micro_sum"),
        )
    )


@register(
    "text_trigram_novelty",
    """
    WITH w AS (SELECT doc_id,
                      list_filter(string_split(lower(text), ' '),
                                  x -> x <> '') AS ws
               FROM documents),
    g AS (SELECT DISTINCT doc_id,
                 array_to_string(ws[i:i+2], ' ') AS gram
          FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws) - 2))
                           AS i) ii
          WHERE len(ws) >= 3),
    df AS (SELECT gram, count(*) AS ndocs FROM g GROUP BY gram),
    per AS (SELECT g.doc_id,
                   CAST(count(*) AS BIGINT) AS n_distinct_trigrams,
                   CAST(sum(CASE WHEN ndocs = 1 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_novel
            FROM g JOIN df USING (gram) GROUP BY g.doc_id)
    SELECT d.doc_id,
           CAST(coalesce(p.n_distinct_trigrams, 0) AS BIGINT)
             AS n_distinct_trigrams,
           CAST(coalesce(p.n_novel, 0) AS BIGINT) AS n_novel,
           CASE WHEN coalesce(p.n_distinct_trigrams, 0) = 0 THEN 0
                ELSE CAST(floor((1000000 * p.n_novel)
                          / p.n_distinct_trigrams + 0.5) AS BIGINT) END
             AS novelty_micros
    FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id
    """,
    doc="Trigram novelty scoring — the memorization-risk signal: the "
    "fraction of a doc's DISTINCT trigrams appearing in no other "
    "document. Low novelty = boilerplate/template (its phrases are "
    "everywhere); high = unique content. Exact integers end-to-end "
    "(micro-unit rate of two BIGINT counts). One explode into a "
    "distinct (doc, gram) set, a map-side-combinable doc-frequency "
    "aggregation on the gram key, and one join back — the same "
    "bounded-key shuffle shape as TF-IDF; nothing all-pairs. At 100 TB "
    "the gram key becomes xxhash64 like the span-scrub dictionary.",
)
def text_trigram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    # PERF_NOTES §8 decision rule, measured at the crossover: the
    # parallelism spread WINS at sf1 (7.9 -> 5.0 s min-of-3) but LOSES
    # at sf0.1 (1.4 -> 2.2 s — exchange cost > per-partition CPU), so
    # gate it on corpus size. count() over parquet is a cheap columnless
    # scan job (not a free footer read), so check partition count first:
    # at production scale the source has >= par splits; the size test
    # reads the cached parquet footer statistic, never a count() job.
    par = spark.sparkContext.defaultParallelism
    if (
        d.rdd.getNumPartitions() < par
        and table_rowcount(sf_dir, "documents") >= 20_000
    ):
        d = d.repartition(par)
    ws = F.filter(F.split(F.lower(F.col("text")), " "), lambda x: x != "")
    d2 = d.select("doc_id", ws.alias("ws")).filter(F.size("ws") >= 3)
    grams = (
        d2.select(
            "doc_id",
            F.explode_outer(
                F.expr(
                    "transform(sequence(0, size(ws)-3),"
                    " i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))"
                )
            ).alias("gram"),
        )
        .dropDuplicates(["doc_id", "gram"])
        # feeds both the doc-frequency agg and the per-doc join — cut
        # the explode subtree so it computes once (PERF_NOTES §7)
        .localCheckpoint(eager=False)
    )
    dfreq = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("ndocs"))
    per = (
        grams.join(dfreq, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_distinct_trigrams"),
            F.sum(F.when(F.col("ndocs") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_novel"),
        )
    )
    out = d.select("doc_id").join(per, "doc_id", "left")
    n = F.coalesce(F.col("n_distinct_trigrams"), F.lit(0).cast("bigint"))
    nov = F.coalesce(F.col("n_novel"), F.lit(0).cast("bigint"))
    rate = F.when(n == 0, F.lit(0).cast("bigint")).otherwise(
        F.floor((F.lit(1_000_000) * nov) / n + F.lit(0.5))
    )
    return out.select(
        "doc_id",
        n.alias("n_distinct_trigrams"),
        nov.alias("n_novel"),
        rate.alias("novelty_micros"),
    )


@register(
    "tokenizer_fertility_by_lang",
    """
    WITH f AS (
      SELECT lang,
             CAST(len(list_filter(string_split(lower(text), ' '),
                                  x -> x <> '')) AS BIGINT) AS n_words,
             CAST(len(regexp_extract_all(lower(text),
                  '\\p{L}+|\\p{N}+|[^\\p{L}\\p{N}\\s]+')) AS BIGINT)
               AS n_tokens
      FROM documents
    )
    SELECT lang,
           CAST(sum(n_words) AS BIGINT) AS n_words,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           CASE WHEN sum(n_words) = 0 THEN 0
                ELSE CAST(floor((1000000 * sum(n_tokens))
                          / sum(n_words) + 0.5) AS BIGINT) END
             AS fertility_micros
    FROM f GROUP BY lang
    """,
    doc="Tokenizer fertility by language — tokens-per-word under the "
    "GPT-2-style pre-tokenizer (the RE2-portable category-split pattern "
    "bpe_ish_token_count proved byte-equal across engines): the metric "
    "that decides whether a tokenizer under- or over-segments a "
    "language before committing GPU budget. Division-free until the "
    "final per-GROUP micro-unit ratio of two exact BIGINT sums. Plan "
    "is a narrow map + one 5-row map-side-combinable aggregation — "
    "nothing corpus-sized shuffles.",
)
def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    per = d.select(
        "lang",
        F.size(F.filter(F.split(F.lower(F.col("text")), " "), lambda x: x != ""))
        .cast("bigint")
        .alias("n_words"),
        T.bpe_ish_token_count(F.col("text")).cast("bigint").alias("n_tokens"),
    )
    agg = per.groupBy("lang").agg(
        F.sum("n_words").cast("bigint").alias("n_words"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
    )
    fert = F.when(F.col("n_words") == 0, F.lit(0).cast("bigint")).otherwise(
        F.floor((F.lit(1_000_000) * F.col("n_tokens")) / F.col("n_words") + F.lit(0.5))
    )
    return agg.select("lang", "n_words", "n_tokens", fert.alias("fertility_micros"))


@register(
    "quality_perplexity_buckets",
    """
    WITH w AS (SELECT doc_id,
                      list_filter(string_split(text, ' '), x -> x <> '') AS ws
               FROM documents),
    b AS (SELECT doc_id, ws[i] AS prev, ws[i+1] AS cur
          FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws) - 1))
                           AS i) ii
          WHERE len(ws) >= 2),
    bc AS (SELECT prev, cur, count(*) AS c_vw FROM b GROUP BY prev, cur),
    cc AS (SELECT prev, count(*) AS c_v FROM b GROUP BY prev),
    v AS (SELECT count(DISTINCT t) AS vsz
          FROM (SELECT unnest(ws) AS t FROM w)),
    lm AS (SELECT prev, cur,
                  CAST(floor(-ln((c_vw + 1.0) / (c_v + vsz)) * 1000000)
                    AS BIGINT) AS term_micros
           FROM bc JOIN cc USING (prev), v),
    scored AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                      CAST(floor(sum(term_micros) / count(*) + 0.5)
                        AS BIGINT) AS mean_ce_micros
               FROM b JOIN lm USING (prev, cur)
               GROUP BY doc_id)
    SELECT doc_id, n_bigrams, mean_ce_micros,
           CAST(ntile(3) OVER (ORDER BY mean_ce_micros, doc_id) AS INT)
             AS tercile,
           CASE ntile(3) OVER (ORDER BY mean_ce_micros, doc_id)
                WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
             AS bucket
    FROM scored
    """,
    doc="CCNet-style perplexity bucketing (Wenzek et al. 2020): score "
    "every doc with the corpus bigram LM (text_bigram_perplexity's "
    "exact-BIGINT machinery), take the mean cross-entropy per bigram "
    "(one correctly-rounded IEEE division of exact ints, half-up to "
    "micro-units), and split the corpus into head/middle/tail terciles "
    "— the shipping decision CCNet makes before choosing which third "
    "trains the model. The tercile is NOT a global ntile window (single "
    "partition at 100 TB): ordered.py::distributed_ntile range-buckets "
    "on approxQuantile boundaries, ranks per bucket, and adds broadcast "
    "offsets — bit-identical to SQL ntile (property-tested), no "
    "corpus-sized single-partition sort anywhere.",
)
def quality_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.ordered import distributed_ntile

    scored = text_bigram_perplexity(spark, sf_dir).select(
        "doc_id",
        "n_bigrams",
        F.floor(
            F.col("ce_micro_sum").cast("double") / F.col("n_bigrams")
            + F.lit(0.5)
        )
        .cast("long")
        .alias("mean_ce_micros"),
    )
    # the LM scoring subtree feeds both the quantile-boundary collect and
    # the ranked output — cut it so it computes once (PERF_NOTES §7)
    scored = scored.localCheckpoint(eager=False)
    binned = distributed_ntile(
        scored, "mean_ce_micros", "doc_id", k=3, out_col="tercile"
    )
    return binned.select(
        "doc_id",
        "n_bigrams",
        "mean_ce_micros",
        F.col("tercile").cast("int").alias("tercile"),
        F.when(F.col("tercile") == 1, F.lit("head"))
        .when(F.col("tercile") == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


@register(
    "train_order_shards",
    """
    WITH h AS (SELECT doc_id,
                      md5('ord:' || CAST(doc_id AS VARCHAR)) AS hx
               FROM documents)
    SELECT doc_id,
           CAST(CAST(('0x' || substr(hx, 1, 8)) AS BIGINT) % 16 AS INT)
             AS shard,
           CAST(row_number() OVER (
             PARTITION BY CAST(('0x' || substr(hx, 1, 8)) AS BIGINT) % 16
             ORDER BY hx, doc_id) AS INT) AS pos
    FROM h
    """,
    doc="Deterministic global training-order shuffle + shard assignment: "
    "shard = md5-prefix mod 16, position = rank of the salted md5 within "
    "the shard. Content-addressed, so the (shard, pos) layout is "
    "IDENTICAL across runs, cluster sizes, and input partitionings — "
    "unlike orderBy(rand(seed)), whose output depends on partition "
    "layout. At 100 TB this is the shard-writer pattern: one hash "
    "shuffle on shard (no global total order), each shard sorted "
    "locally within its own task and written independently; shard count "
    "is chosen so a shard fits a task. The md5 idiom is the same "
    "engine-portable split used by split_kfold_assignment.",
)
def train_order_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    hx = F.md5(F.concat(F.lit("ord:"), F.col("doc_id").cast("string")))
    shard = (
        F.conv(F.substring(F.col("hx"), 1, 8), 16, 10).cast("bigint") % 16
    ).cast("int")
    w = Window.partitionBy("shard").orderBy("hx", "doc_id")
    return (
        d.select("doc_id", hx.alias("hx"))
        .select("doc_id", "hx", shard.alias("shard"))
        .select(
            "doc_id", "shard",
            F.row_number().over(w).alias("pos"),
        )
    )


@register(
    "pack_sequences_chop",
    """
    WITH d AS (SELECT doc_id,
                      md5('pk:' || CAST(doc_id AS VARCHAR)) AS k,
                      CAST(len(list_filter(string_split(text, ' '),
                           x -> x <> '')) AS BIGINT) AS n_tokens
               FROM documents),
    c AS (SELECT doc_id, n_tokens, k,
                 CAST(sum(n_tokens) OVER (ORDER BY k) - n_tokens
                   AS BIGINT) AS gs
          FROM d)
    SELECT CAST(gs // 2048 AS BIGINT) AS window_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN n_tokens > 0
                          AND (gs + n_tokens - 1) // 2048 > gs // 2048
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_boundary_docs,
           CAST(min(gs) AS BIGINT) AS first_start
    FROM c GROUP BY 1
    """,
    doc="GPT-style concat-and-chop sequence packing: documents laid out "
    "in one deterministic (content-addressed md5) token stream, chopped "
    "into 2048-token context windows; per window, the docs starting in "
    "it, their token mass, and how many straddle the boundary (the "
    "attention-mask / doc-split accounting a packing job emits). The "
    "global offset is a DISTRIBUTED TWO-PASS PREFIX SUM, not a global "
    "sort: md5-hex-prefix range buckets (bucket-major + in-bucket order "
    "IS the global order), per-bucket window cumsums, then a 16-row "
    "bucket-offset broadcast — no single-partition window ever sees the "
    "corpus, unlike the oracle's (and ntile's) global ORDER BY. All "
    "arithmetic exact BIGINT. Complements pack_token_batches (FFD "
    "bin-packing, rows-only) with the fully-oracle-checked chop form. "
    "operators/packing.py::chop_pack.",
)
def pack_sequences_chop(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.packing import chop_pack

    d = _t(spark, sf_dir, "documents")
    ws = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    docs = d.select("doc_id", F.size(ws).cast("long").alias("n_tokens"))
    laid = chop_pack(docs, "doc_id", "n_tokens", seq_len=2048)
    return laid.groupBy("window_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("crosses_boundary"), 1).otherwise(0))
        .cast("long")
        .alias("n_boundary_docs"),
        F.min("global_start").alias("first_start"),
    )


# ---------------------------------------------------------------------------
# Scale probes: deterministic SAMPLED verification for queries whose full
# oracle is deliberately quadratic (all-pairs similarity verification).
# At sf1 (50k docs / 20k embeddings) those oracles cannot finish, and round
# 3's gate watchdog-SKIPped them — executing the engine without value-checking
# it. Each probe here value-checks the ENGINE'S FULL-SCALE OUTPUT on a
# deterministic md5-anchored slice: the oracle computes the complete correct
# answer for every pair touching an anchor doc (linear in n, not quadratic),
# and the engine's output is filtered to the same slice. Anchoring is sound
# for pairwise/per-doc semantics (a pair's membership depends only on its two
# endpoints; a doc's top-k depends only on that doc vs all). The one
# transitive-closure query (dedup_survivors_quality) is NOT anchor-sliceable,
# so its probe runs BOTH engines on the same md5-subset corpus — weaker
# (engine-on-subset), stated in its note.
# ---------------------------------------------------------------------------

def _vec_anchor_threshold(sf_dir: str) -> int:
    """Scale-ADAPTIVE anchor budget for the vector probes: the md5-hex4
    value (uniform in [0, 65536)) is kept below T(n) = clamp(65536*2048/n,
    1, 2048), so the expected anchor count is min(n/32, ~2048) — constant
    oracle cost per decade instead of the fixed 1/16 fraction whose
    anchors-x-all ground truth outgrew DuckDB one decade after it was
    sized (r8: 125k anchors x 2M vectors at sf100 hit the gate watchdog;
    measured 225 s at sf10's ~4096 anchors x 200k vectors, so 2048 keeps
    the sf100 anchors-x-2M oracle near ~20 min, inside the watchdog with
    2x headroom). 2048 anchors is a regression tripwire, not a census: a
    broken block map or similarity kernel perturbs hundreds of anchored
    rows, never just one."""
    from .sources.tables import table_rowcount

    n = max(1, table_rowcount(sf_dir, "embeddings"))
    return max(1, min(2048, (65536 * 2048) // n))


def _anchor_vec(col: str, sf_dir: str) -> Column:
    # mirrors _SQL_ANCHOR_VEC exactly (same md5-hex4 ordering)
    t = _vec_anchor_threshold(sf_dir)
    return (
        F.conv(
            F.substring(F.md5(F.col(col).cast("string")), 1, 4), 16, 10
        ).cast("bigint")
        < F.lit(t)
    )


def _anchor_doc(col: str) -> Column:
    # 1/256 of doc ids (docs are 2.5x more numerous and shingle compares
    # are costlier than dot products, so the doc anchor is one hex nibble
    # tighter)
    return F.substring(F.md5(F.col(col).cast("string")), 1, 2) == "00"


_SQL_ANCHOR_VEC = (
    "CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 4)) AS BIGINT) "
    "< greatest(1, least(2048, (65536 * 2048) "
    "// (SELECT count(*) FROM embeddings)))"
)
_SQL_ANCHOR_DOC = "substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) = '00'"

_SHINGLE_OVERLAP_CTE = f"""
    w AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '')
            AS ws FROM documents),
    t AS (SELECT doc_id,
                 list_distinct([array_to_string(ws[i:i+2], ' ')
                   for i in generate_series(1, greatest(len(ws)-2, 0))]) AS tk
          FROM w WHERE len(ws) >= 3),
    anc AS (SELECT doc_id FROM t WHERE {_SQL_ANCHOR_DOC}),
    ex AS (SELECT doc_id, unnest(tk) AS s FROM t),
    ov AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS cnt
           FROM (SELECT e.* FROM ex e JOIN anc USING (doc_id)) a
           JOIN ex b ON a.s = b.s AND a.doc_id <> b.doc_id
           GROUP BY 1, 2),
    lens AS (SELECT doc_id, len(tk) AS L FROM t)
"""


def _probe_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = REGISTRY["embedding_neardup_pairs"].fn(spark, sf_dir)
    return out.filter(
        _anchor_vec("id_a", sf_dir) | _anchor_vec("id_b", sf_dir)
    )


def _probe_neardup_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = REGISTRY["embedding_neardup_blocked"].fn(spark, sf_dir)
    return out.filter(
        _anchor_vec("id_a", sf_dir) | _anchor_vec("id_b", sf_dir)
    )


def _probe_neardup_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = REGISTRY["embedding_neardup_topk"].fn(spark, sf_dir)
    return out.filter(_anchor_vec("doc_id", sf_dir))


def _probe_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = REGISTRY["dedup_containment_pairs"].fn(spark, sf_dir)
    return out.filter(_anchor_doc("id_a") | _anchor_doc("id_b"))


def _probe_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = REGISTRY["dedup_jaccard_exact_pairs"].fn(spark, sf_dir)
    return out.filter(_anchor_doc("id_a") | _anchor_doc("id_b"))


def _probe_cross_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = REGISTRY["dedup_cross_corpus_jaccard"].fn(spark, sf_dir)
    return out.filter(_anchor_doc("doc_id"))


def _anchor_key(col: str) -> Column:
    # 1/256 of integer keys (customer-scale tables)
    return F.substring(F.md5(F.col(col).cast("string")), 1, 2) == "00"


def _probe_fuzzy_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = REGISTRY["fuzzy_name_pairs_ed1"].fn(spark, sf_dir)
    return out.filter(_anchor_key("a_id") | _anchor_key("b_id"))


def _probe_spatial_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = REGISTRY["spatial_radius_pairs"].fn(spark, sf_dir)
    return out.filter(_anchor_key("id_a") | _anchor_key("id_b"))


def _probe_survivors_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import dedup_survivors_by_quality

    e = _t(spark, sf_dir, "embeddings").filter(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1).isin("0", "1")
    )
    # the md5-prefix filter keeps ~2/16 of rows; scale the footer statistic
    # by that known fraction so num_blocks sizes for the FILTERED frame
    # (full-table n_rows over-sized blocks ~8x / block-pair tasks ~64x)
    pairs = S.cosine_neardup_blocked(
        e,
        threshold=0.4,
        n_rows=max(1, table_rowcount(sf_dir, "embeddings") * 2 // 16),
    ).select("id_a", "id_b")
    scored = e.select(
        "vec_id",
        F.pmod(F.col("vec_id") * 2654435761, F.lit(1000003)).alias("q"),
    )
    return dedup_survivors_by_quality(scored, pairs, "q", id_col="vec_id")


def _probe_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = REGISTRY["dedup_simhash"].fn(spark, sf_dir)
    return out.filter(_anchor_key("id_a") | _anchor_key("id_b"))


# DuckDB rebuild of the portable SimHash signature table (shared by the
# dedup_simhash probe): 60-bit md5-prefix token hashes -> per-bit majority
# -> packed BIGINT. Mirrors operators/dedup.py::simhash_signature_packed.
_SIMHASH_SIG_CTE = """
    t AS (
      SELECT doc_id,
             list_transform(
               list_filter(string_split_regex(lower(text), '\\s+'),
                           x -> x <> ''),
               tk -> CAST(('0x' || substr(md5(tk), 1, 15)) AS BIGINT)) AS h
      FROM documents),
    s AS (
      SELECT doc_id,
             list_sum(list_transform(generate_series(0, 59),
               b -> CASE WHEN 2 * len(list_filter(h, x -> (x >> b) & 1 = 1))
                              >= len(h)
                         THEN (CAST(1 AS BIGINT) << b)
                         ELSE CAST(0 AS BIGINT) END)) AS sig
      FROM t)"""


SCALE_PROBES: dict[str, Q] = {
    "dedup_simhash": Q(
        fn=_probe_simhash,
        oracle=f"""
        WITH {_SIMHASH_SIG_CTE},
        ch AS (SELECT doc_id, gs.c AS c,
                      (sig >> (gs.c * 10)) & 1023 AS v
               FROM s, generate_series(0, 5) AS gs(c)),
        sz AS (SELECT c, v, count(*) AS n FROM ch GROUP BY c, v),
        okch AS (SELECT ch.doc_id, ch.c, ch.v
                 FROM ch JOIN sz USING (c, v) WHERE sz.n <= 1000),
        anc AS (SELECT doc_id FROM s WHERE {_SQL_ANCHOR_DOC}),
        cand AS (SELECT DISTINCT least(a.doc_id, b.doc_id) AS id_a,
                        greatest(a.doc_id, b.doc_id) AS id_b
                 FROM okch a JOIN okch b
                   ON a.c = b.c AND a.v = b.v AND a.doc_id <> b.doc_id
                 WHERE a.doc_id IN (SELECT doc_id FROM anc))
        SELECT c.id_a, c.id_b,
               CAST(bit_count(xor(sa.sig, sb.sig)) AS INT) AS hamming
        FROM cand c JOIN s sa ON sa.doc_id = c.id_a
                    JOIN s sb ON sb.doc_id = c.id_b
        WHERE bit_count(xor(sa.sig, sb.sig)) <= 5
        """,
        doc="anchored slice (1/256 of doc ids) of the full-scale engine "
        "output; the oracle mirrors the banded candidate generation "
        "(6x 10-bit chunks, degenerate-bucket guard) rather than the "
        "closed-form all-pairs hamming set, so the <=1000-per-bucket "
        "drop rule is value-checked too — linear via the anchors-x-all "
        "chunk equi-join",
    ),
    "embedding_neardup_pairs": Q(
        fn=_probe_neardup_pairs,
        oracle=f"""
        WITH anc AS (SELECT * FROM embeddings WHERE {_SQL_ANCHOR_VEC})
        SELECT DISTINCT least(a.vec_id, b.vec_id) AS id_a,
               greatest(a.vec_id, b.vec_id) AS id_b
        FROM anc a JOIN embeddings b ON a.vec_id <> b.vec_id
        AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])) >= 0.4
        """,
        doc="anchored slice of the full-scale engine output (1/16 of ids)",
    ),
    "embedding_neardup_blocked": Q(
        fn=_probe_neardup_blocked,
        oracle=f"""
        WITH anc AS (SELECT * FROM embeddings WHERE {_SQL_ANCHOR_VEC})
        SELECT DISTINCT least(a.vec_id, b.vec_id) AS id_a,
               greatest(a.vec_id, b.vec_id) AS id_b,
               list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])) AS sim
        FROM embeddings b JOIN anc a ON a.vec_id <> b.vec_id
        WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                     CAST(b.embedding AS DOUBLE[])) >= 0.4
        """,
        doc="anchored slice of the full-scale engine output (1/16 of ids)",
    ),
    "embedding_neardup_topk": Q(
        fn=_probe_neardup_topk,
        oracle=f"""
        WITH anc AS (SELECT * FROM embeddings WHERE {_SQL_ANCHOR_VEC}),
        sims AS (
          SELECT a.vec_id AS doc_id, b.vec_id AS neighbor_id,
                 CAST(floor(list_cosine_similarity(
                   CAST(a.embedding AS DOUBLE[]),
                   CAST(b.embedding AS DOUBLE[])) * 1e6) AS BIGINT)
                   AS sim_micro
          FROM anc a JOIN embeddings b ON a.vec_id <> b.vec_id
        ), ranked AS (
          SELECT doc_id, neighbor_id, sim_micro,
                 CAST(row_number() OVER (
                   PARTITION BY doc_id
                   ORDER BY sim_micro DESC, neighbor_id) AS INT) AS rank
          FROM sims WHERE sim_micro >= 400000
        )
        SELECT doc_id, neighbor_id, sim_micro, rank
        FROM ranked WHERE rank <= 3
        """,
        doc="per-doc top-k for every anchored doc (sound: a doc's top-k "
        "depends only on that doc vs the whole corpus)",
    ),
    "dedup_containment_pairs": Q(
        fn=_probe_containment,
        oracle=f"""
        WITH {_SHINGLE_OVERLAP_CTE},
        both_dirs AS (
          SELECT ida AS id_a, idb AS id_b, cnt * 1.0 / la.L AS containment
          FROM ov JOIN lens la ON la.doc_id = ida
          UNION ALL
          SELECT idb, ida, cnt * 1.0 / lb.L
          FROM ov JOIN lens lb ON lb.doc_id = idb)
        SELECT DISTINCT id_a, id_b, containment
        FROM both_dirs WHERE containment >= 0.7
        """,
        doc="anchored slice via exact explode-join overlap counts (lists "
        "are distinct, so the group-by count IS the intersect size)",
    ),
    "dedup_jaccard_exact_pairs": Q(
        fn=_probe_jaccard,
        oracle=f"""
        WITH {_SHINGLE_OVERLAP_CTE}
        SELECT DISTINCT least(ida, idb) AS id_a, greatest(ida, idb) AS id_b,
               cnt * 1.0 / (la.L + lb.L - cnt) AS jaccard
        FROM ov JOIN lens la ON la.doc_id = ida
                JOIN lens lb ON lb.doc_id = idb
        WHERE cnt * 1.0 / (la.L + lb.L - cnt) >= 0.8
        """,
        doc="anchored slice via exact explode-join overlap counts",
    ),
    "dedup_cross_corpus_jaccard": Q(
        fn=_probe_cross_corpus,
        oracle=f"""
        WITH w AS (SELECT doc_id,
                          list_filter(string_split(text, ' '), x -> x <> '')
                            AS ws FROM documents),
        t AS (SELECT doc_id, doc_id % 5 = 0 AS ev,
                     list_distinct([array_to_string(ws[i:i+2], ' ')
                       for i in generate_series(1, greatest(len(ws)-2, 0))])
                       AS tk
              FROM w WHERE len(ws) >= 3),
        anc AS (SELECT doc_id FROM t
                WHERE NOT ev AND {_SQL_ANCHOR_DOC}),
        exa AS (SELECT doc_id, unnest(tk) AS s FROM t JOIN anc
                USING (doc_id)),
        exe AS (SELECT doc_id, unnest(tk) AS s FROM t WHERE ev),
        ov AS (SELECT a.doc_id AS ida, e.doc_id AS ide, count(*) AS cnt
               FROM exa a JOIN exe e ON a.s = e.s GROUP BY 1, 2),
        lens AS (SELECT doc_id, len(tk) AS L FROM t),
        j AS (SELECT ida AS doc_id, ide AS match_id,
                     CAST(floor(1000000 * cnt / (la.L + le.L - cnt))
                       AS BIGINT) AS jaccard_micros
              FROM ov JOIN lens la ON la.doc_id = ida
                      JOIN lens le ON le.doc_id = ide)
        SELECT doc_id, match_id, jaccard_micros FROM j
        WHERE jaccard_micros >= 500000
        QUALIFY row_number() OVER (PARTITION BY doc_id
                 ORDER BY jaccard_micros DESC, match_id) = 1
        """,
        doc="anchored slice (1/256 of corpus docs) x ALL eval docs via "
        "exact explode-join overlap counts — sound because a doc's best "
        "match depends only on that doc vs the whole eval side",
    ),
    "fuzzy_name_pairs_ed1": Q(
        fn=_probe_fuzzy_names,
        oracle="""
        WITH anc AS (SELECT * FROM customer
                     WHERE substr(md5(CAST(c_custkey AS VARCHAR)), 1, 2)
                           = '00')
        SELECT DISTINCT least(a.c_custkey, b.c_custkey) AS a_id,
               greatest(a.c_custkey, b.c_custkey) AS b_id
        FROM anc a JOIN customer b
          ON a.c_custkey <> b.c_custkey
         AND levenshtein(a.c_name, b.c_name) <= 1
        """,
        doc="anchored slice (1/256 of custkeys) of the full-scale engine "
        "output; oracle is anchors x all instead of the n^2 cross join",
    ),
    "spatial_radius_pairs": Q(
        fn=_probe_spatial_radius,
        oracle="""
        WITH p AS (
          SELECT c_custkey AS id, c_custkey % 1000 AS x,
                 (c_custkey * 37) % 1000 AS y
          FROM customer),
        anc AS (SELECT * FROM p
                WHERE substr(md5(CAST(id AS VARCHAR)), 1, 2) = '00')
        SELECT DISTINCT least(a.id, b.id) AS id_a,
               greatest(a.id, b.id) AS id_b,
               (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
                 AS dist2
        FROM anc a JOIN p b ON a.id <> b.id
        WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 25
        """,
        doc="anchored slice of the full-scale engine output (dist2 is "
        "symmetric integer arithmetic, identical from either direction)",
    ),
    "dedup_survivors_quality": Q(
        fn=_probe_survivors_subset,
        oracle="""
        WITH RECURSIVE emb AS (
          SELECT * FROM embeddings
          WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) IN ('0', '1')),
        e0 AS (
          SELECT a.vec_id AS s, b.vec_id AS d
          FROM emb a, emb b
          WHERE a.vec_id < b.vec_id
            AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                       CAST(b.embedding AS DOUBLE[])) >= 0.4),
        edges AS (SELECT s, d FROM e0 UNION SELECT d, s FROM e0),
        reach(id, comp) AS (
          SELECT vec_id, vec_id FROM emb
          UNION
          SELECT e.d, r.comp FROM reach r JOIN edges e ON e.s = r.id),
        comp AS (SELECT id, min(comp) AS component FROM reach GROUP BY id),
        scored AS (
          SELECT c.id AS vec_id, c.component,
                 (c.id * 2654435761) % 1000003 AS q
          FROM comp c)
        SELECT vec_id, q FROM (
          SELECT vec_id, q, row_number() OVER (
                   PARTITION BY component ORDER BY q DESC, vec_id) AS rk
          FROM scored)
        WHERE rk = 1
        """,
        doc="SUBSET run (1/8 corpus), both engines: transitive closure is "
        "not anchor-sliceable, so this is engine-on-subset — weaker than "
        "the other probes but still a decade above the driver scale",
    ),
}


# Scale-dispatch thresholds shared by every scale-AWARE probe below:
# below them the probe IS the full query + full oracle (sf1/sf10 proven
# in docs/SF1_GATE_r08.log / SF10_GATE_r05.log), above them both sides
# cut to the same deterministic md5 slice. Baked into the oracle SQL as
# a scalar count(*) subquery on the same table the engine fn sizes with
# table_rowcount, so the two sides can't drift.
_ORDERS_FULL_MAX = 20_000_000  # sf10 orders = 15M: full compare proven
_DOCS_FULL_MAX = 600_000  # sf10 documents = 500k: full oracle proven


def _probe_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.tables import table_rowcount

    out = REGISTRY["quality_repetition_signals"].fn(spark, sf_dir)
    if table_rowcount(sf_dir, "documents") <= _DOCS_FULL_MAX:
        return out
    return out.filter(_anchor_doc("doc_id"))


# Per-doc-INDEPENDENT query, so the anchor slice is EXACT semantics (each
# doc's repetition signals depend only on that doc): the probe oracle is
# the registered SQL with the 1/256 doc anchor pushed into its first CTE
# (programmatic rewrite so the two can never drift), cutting the oracle's
# bigram+trigram explosion by 256x — the full oracle spilled past the
# whole disk at sf100 (round-8 gate) even with the JVM stopped. Round 9
# made the anchor SCALE-AWARE like the newer probes: below 600k docs
# (sf1 7.9-10.5 s, sf10 96.6 s full compares on record) the probe is the
# full query + full oracle, so the lower gates regain full fidelity.
_REP_PROBE_ORACLE = REGISTRY["quality_repetition_signals"].oracle.replace(
    "FROM documents",
    "FROM documents WHERE "
    f"({_SQL_ANCHOR_DOC} OR (SELECT count(*) FROM documents)"
    f" <= {_DOCS_FULL_MAX})",
    1,
)
assert "WHERE (substr" in _REP_PROBE_ORACLE  # the rewrite must have landed
SCALE_PROBES["quality_repetition_signals"] = Q(
    fn=_probe_repetition,
    oracle=_REP_PROBE_ORACLE,
    doc="doc-anchored slice (1/256) of the full-scale engine output above "
    "600k docs; EXACT for this query (signals are per-doc independent), "
    "linear oracle via the anchor pushed into the tokenize CTE; full "
    "query + full oracle at sf1/sf10",
)


# --- scale-AWARE probes (round 9) -----------------------------------------
# The four queries below have full oracles that are linear but whose
# VERIFICATION artifacts outgrow one box at sf100 (round-8 gate log):
# window_running_sum / scd2_customer_priority return ~150M rows (the Arrow
# collect was OOM-killed, rc=-9), dedup_span_scrub's global span dictionary
# + 5M-doc rebuild wants ~160 GB of RAM+spill, and text_collocations_lift's
# string-keyed bigram count table spilled past 58 GB twice. Each probe is
# SCALE-DISPATCHED on the driving table's rowcount: below the threshold
# (sf1/sf10 — both proven in docs/SF1_GATE_r08.log / SF10_GATE_r05.log) the
# probe IS the full query + full oracle, so the lower gates lose nothing;
# above it, both sides cut to the same deterministic md5 slice. The
# threshold lives in the SQL itself (a scalar subquery on the same table
# the engine fn sizes with table_rowcount), so the two sides can't drift.
# (The threshold constants are defined above the repetition probe, whose
# scale dispatch shares them.)

_SQL_ORDERS_SMALL = f"(SELECT count(*) FROM orders) <= {_ORDERS_FULL_MAX}"
_SQL_DOCS_SMALL = f"(SELECT count(*) FROM documents) <= {_DOCS_FULL_MAX}"
_SQL_ANCHOR_CUST = "substr(md5(CAST(o_custkey AS VARCHAR)), 1, 2) = '00'"


def _probe_window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = REGISTRY["window_running_sum"].fn(spark, sf_dir)
    if table_rowcount(sf_dir, "orders") <= _ORDERS_FULL_MAX:
        return out
    return out.filter(_anchor_key("o_custkey"))


def _probe_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = REGISTRY["scd2_customer_priority"].fn(spark, sf_dir)
    if table_rowcount(sf_dir, "orders") <= _ORDERS_FULL_MAX:
        return out
    return out.filter(_anchor_key("custkey"))


# Both window queries PARTITION BY o_custkey, so a custkey slice is EXACT
# semantics (each customer's running sum / SCD2 history depends only on
# that customer's orders); the anchor pushed into the oracle's orders scan
# selects the identical 1/256 of customers the engine-side output filter
# keeps. The engine still runs FULL-scale — Catalyst pushing the
# partition-key filter below the Window is the same per-key pruning a real
# cluster would do, and either way the compared values are full-fidelity.
for _nm, _fn, _key in (
    ("window_running_sum", _probe_window_running_sum, "o_custkey"),
    ("scd2_customer_priority", _probe_scd2, "custkey"),
):
    _orc = REGISTRY[_nm].oracle.replace(
        "FROM orders",
        f"FROM orders WHERE ({_SQL_ORDERS_SMALL} OR {_SQL_ANCHOR_CUST})",
        1,
    )
    assert "FROM orders WHERE" in _orc
    SCALE_PROBES[_nm] = Q(
        fn=_fn,
        oracle=_orc,
        doc=f"custkey-anchored slice (1/256) of the full-scale engine "
        f"output above {_ORDERS_FULL_MAX:,} orders rows (the sf100 "
        f"150M-row full compare was OOM-killed in round 8); EXACT for "
        f"this query (windows partition by {_key}); full query + full "
        f"oracle at sf1/sf10",
    )


def _probe_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = REGISTRY["dedup_span_scrub"].fn(spark, sf_dir)
    if table_rowcount(sf_dir, "documents") <= _DOCS_FULL_MAX:
        return out
    return out.filter(_anchor_doc("doc_id"))


# Span-dictionary semi-join probe (the round-8 gate log's proposal): a
# doc anchor alone cannot slice the GLOBAL span dictionary (an anchored
# doc's rebuild depends on whether each of its spans is duplicated
# ANYWHERE), but the oracle never needs the whole dictionary — only the
# rows for spans that occur in anchored docs. Restricting the dictionary
# aggregation with a semi-join against the anchored docs' span set keeps
# its state at ~|anchored spans| (1/256 of the corpus) while min/max still
# range over EVERY document's occurrences, so canon choice and the >=2
# distinct-docs test are computed at full corpus fidelity (min(doc_id) <>
# max(doc_id) is equivalent to count(DISTINCT doc_id) >= 2). The rebuild
# (the ~160 GB string_agg that broke the full oracle) runs on anchored
# docs only. EXACT for the anchored docs, full-scale on the engine side.
_SPAN_PROBE_ORACLE = f"""
    WITH w AS (SELECT doc_id,
                      list_filter(string_split(text, ' '), x -> x <> '') AS ws
               FROM documents),
    wa AS (SELECT * FROM w
           WHERE {_SQL_ANCHOR_DOC} OR {_SQL_DOCS_SMALL}),
    ga AS (SELECT doc_id, i AS s, array_to_string(ws[i:i+4], ' ') AS span
           FROM wa, LATERAL (SELECT unnest(generate_series(
                               1, greatest(len(ws) - 4, 0))) AS i) ii),
    g AS (SELECT doc_id, array_to_string(ws[i:i+4], ' ') AS span
          FROM w, LATERAL (SELECT unnest(generate_series(
                             1, greatest(len(ws) - 4, 0))) AS i) ii),
    st AS (SELECT span, min(doc_id) AS canon
           FROM g WHERE span IN (SELECT DISTINCT span FROM ga)
           GROUP BY span HAVING min(doc_id) <> max(doc_id)),
    rem AS (SELECT DISTINCT ga.doc_id, p
            FROM ga JOIN st USING (span),
                 LATERAL (SELECT unnest(generate_series(ga.s, ga.s + 4))
                          AS p) pp
            WHERE ga.doc_id <> st.canon),
    pos AS (SELECT doc_id, i AS p, ws[i] AS word
            FROM wa, LATERAL (SELECT unnest(generate_series(1, len(ws)))
                              AS i) ii),
    rebuilt AS (SELECT pos.doc_id,
                       string_agg(word, ' ' ORDER BY pos.p) AS kept_text
                FROM pos LEFT JOIN rem
                  ON pos.doc_id = rem.doc_id AND pos.p = rem.p
                WHERE rem.p IS NULL GROUP BY pos.doc_id),
    nrem AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_removed
             FROM rem GROUP BY doc_id)
    SELECT wa.doc_id, CAST(len(ws) AS INT) AS n_words,
           CAST(coalesce(nrem.n_removed, 0) AS INT) AS n_removed,
           coalesce(rebuilt.kept_text, '') AS kept_text
    FROM wa LEFT JOIN rebuilt ON wa.doc_id = rebuilt.doc_id
            LEFT JOIN nrem ON wa.doc_id = nrem.doc_id
"""
SCALE_PROBES["dedup_span_scrub"] = Q(
    fn=_probe_span_scrub,
    oracle=_SPAN_PROBE_ORACLE,
    doc="doc-anchored slice (1/256) of the full-scale engine output with "
    "a SEMI-JOIN-restricted global span dictionary: dictionary min/max "
    "still range over every doc's occurrences (full-fidelity canon + "
    ">=2-docs test) while oracle state stays ~1/256; rebuild on anchored "
    "docs only; full query + full oracle at sf1/sf10",
)


def _probe_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.tables import table_bytes

    d = _t(spark, sf_dir, "documents")
    nbytes = table_bytes(sf_dir, "documents")
    out = T.bigram_lift_topk_hashed(
        d,
        "doc_id",
        "text",
        min_count=5,
        k=None,
        broadcast_hints=nbytes < (64 << 30),
    )
    if table_rowcount(sf_dir, "documents") <= _DOCS_FULL_MAX:
        return out
    return out.filter(F.substring(F.md5(F.col("bigram")), 1, 1) == "0")


# Gram-space-bucketed probe: the registry's top-20 cut is pure ordering on
# lift values verified here, so the probe compares the FULL exact lift
# table (every min_count survivor — k=None upstream of the top-k) on a
# 1/16 md5 bucket of the bigram-STRING space. Bucket membership is a
# function of the gram itself, so every count stays GLOBAL (all 5M docs
# scanned on both sides); only the oracle's group-by state shrinks 16x —
# the full string-keyed count table spilled past 58 GB twice in round 8.
# The engine side runs the PRODUCTION hashed pipeline unmodified (the
# bucket filter sits on the post-aggregation survivor table, which
# Catalyst cannot push below the hash-count shuffle because `bigram` is
# itself an aggregate), so the 8-byte-key shuffle is exercised at full
# sf100 scale.
_COLL_PROBE_ORACLE = f"""
    WITH w AS (SELECT list_filter(string_split(lower(text), ' '),
                                  t -> t <> '') AS ws
               FROM documents),
    n AS (SELECT CAST(sum(len(ws)) AS BIGINT) AS n_total FROM w),
    -- Three sf100 plan pathologies fixed here (round-9, each caught by
    -- an isolation run on the real 5M-doc decade):
    -- 1. the small-corpus flag is evaluated ONCE and cross-joined (a
    --    scalar subquery inlined in a per-gram predicate planned as a
    --    blockwise-NL/delim join);
    -- 2. the bucket filter runs INSIDE the per-row projection via
    --    list_filter with unnest in the SELECT list (a streaming
    --    operator) — both the FROM-clause unnest(gs) and a LATERAL
    --    generate_series form planned as RIGHT-DELIM joins that
    --    materialized the gram stream and ENOSPC'd the 57 GB disk
    --    (24 GB / 39 GB of spill before dying);
    -- 3. the small CTEs are MATERIALIZED — inlining re-expanded bg
    --    inside wds inside both uni copies (the corpus re-tokenized ~5x)
    --    and left a serial tail that ran 70+ min at 1 thread where the
    --    materialized pipeline finishes in ~80 s at 8.
    flags AS MATERIALIZED (
        SELECT ({_SQL_DOCS_SMALL.replace("(SELECT count(*) FROM"
                                         " documents)",
                                         "count(*)")}) AS small
        FROM documents),
    bg AS MATERIALIZED (
        SELECT g AS bigram, count(*) AS c_ab
        FROM (SELECT unnest(CASE WHEN flags.small THEN gs
                            ELSE list_filter(gs,
                              g -> substr(md5(g), 1, 1) = '0') END) AS g
              FROM (SELECT [array_to_string(ws[i:i+1], ' ')
                            for i in generate_series(
                              1, greatest(len(ws) - 1, 0))] AS gs
                    FROM w), flags)
        GROUP BY 1 HAVING count(*) >= 5),
    wds AS MATERIALIZED (
        SELECT DISTINCT unnest(string_split(bigram, ' ')) AS w FROM bg),
    uni AS MATERIALIZED (
        SELECT w, count(*) AS c
        FROM (SELECT unnest(ws) AS w FROM w) u
        WHERE w IN (SELECT w FROM wds)
        GROUP BY 1)
    SELECT bigram, c_ab, a.c AS c_a, b.c AS c_b,
           CAST((CAST(1000000 AS HUGEINT) * c_ab * n_total)
                // (CAST(a.c AS HUGEINT) * b.c) AS BIGINT) AS lift_micros
    FROM bg, n, uni a, uni b
    WHERE a.w = string_split(bigram, ' ')[1]
      AND b.w = string_split(bigram, ' ')[2]
"""
SCALE_PROBES["text_collocations_lift"] = Q(
    fn=_probe_collocations,
    oracle=_COLL_PROBE_ORACLE,
    doc="full exact lift table on a 1/16 md5 bucket of the bigram-string "
    "space; every count global (bucket membership is a function of the "
    "gram), oracle group-by state 16x smaller; engine side is the "
    "production hashed pipeline with the bucket filter above the "
    "aggregation; unbucketed full table below 600k docs (sf1/sf10)",
)


def _probe_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = REGISTRY["text_bigram_perplexity"].fn(spark, sf_dir)
    if table_rowcount(sf_dir, "documents") <= _DOCS_FULL_MAX:
        return out
    return out.filter(_anchor_doc("doc_id"))


# Same dictionary-semi-join shape as the span-scrub probe: a doc's
# perplexity depends on the GLOBAL bigram LM, but the oracle only needs
# the LM rows for gram types occurring in anchored docs — joining the
# count aggregations against the anchored docs' distinct gram set keeps
# oracle state ~1/256 while every c_vw / c_v still counts ALL documents'
# occurrences, and the smoothing denominator vsz stays the full global
# vocabulary. EXACT for the anchored docs; the engine fits the full LM
# (the doc_id filter rides the scoring branch only — bc/cc aggregate
# doc_id away, so Catalyst cannot prune the model fit).
_PERP_PROBE_ORACLE = f"""
    WITH w AS (SELECT doc_id,
                      list_filter(string_split(text, ' '), x -> x <> '') AS ws
               FROM documents),
    wa AS (SELECT * FROM w
           WHERE {_SQL_ANCHOR_DOC} OR {_SQL_DOCS_SMALL}),
    b AS (SELECT doc_id, ws[i] AS prev, ws[i+1] AS cur
          FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws) - 1))
                           AS i) ii
          WHERE len(ws) >= 2),
    ba AS (SELECT doc_id, ws[i] AS prev, ws[i+1] AS cur
           FROM wa, LATERAL (SELECT unnest(generate_series(1, len(ws) - 1))
                             AS i) ii
           WHERE len(ws) >= 2),
    bc AS (SELECT b.prev, b.cur, count(*) AS c_vw
           FROM b JOIN (SELECT DISTINCT prev, cur FROM ba) s
             USING (prev, cur)
           GROUP BY b.prev, b.cur),
    cc AS (SELECT b.prev, count(*) AS c_v
           FROM b JOIN (SELECT DISTINCT prev FROM ba) s USING (prev)
           GROUP BY b.prev),
    v AS (SELECT count(DISTINCT t) AS vsz
          FROM (SELECT unnest(ws) AS t FROM w)),
    lm AS (SELECT prev, cur,
                  CAST(floor(-ln((c_vw + 1.0) / (c_v + vsz)) * 1000000)
                    AS BIGINT) AS term_micros
           FROM bc JOIN cc USING (prev), v)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(term_micros) AS BIGINT) AS ce_micro_sum
    FROM ba JOIN lm USING (prev, cur)
    GROUP BY doc_id
"""
SCALE_PROBES["text_bigram_perplexity"] = Q(
    fn=_probe_bigram_perplexity,
    oracle=_PERP_PROBE_ORACLE,
    doc="doc-anchored slice (1/256) with a SEMI-JOIN-restricted global "
    "bigram LM: c_vw/c_v still count every document's occurrences and "
    "vsz stays the full vocabulary, so the anchored docs' scores are "
    "full-corpus-exact while oracle state shrinks 256x; full query + "
    "full oracle below 600k docs (sf1/sf10)",
)


# SemDeDup two-arm probe (round 10 — the last sf100 value gap): the full
# oracle's n x k scored cross product is 2B rows at sf100 and OOM-killed
# two 7200 s DuckDB runs even under the streaming argmax (round-9 gate).
# A vec anchor alone cannot slice the KEEP column — keep(b) depends on
# every vector assigned to b's cluster, and knowing ANY vector's cluster
# costs k dot products, so membership of non-anchored vectors is exactly
# the n x k the oracle cannot afford. Split what IS linear-checkable from
# what is not:
#
# - `assign` arm (full-scale EXACT): the engine's full-corpus output,
#   anchored to ~2048 vec_ids (_vec_anchor_threshold), projected to
#   (vec_id, cluster_id). The oracle computes the centroid pool over the
#   FULL corpus (top-k by md5 — linear) and scores only anchored vectors
#   against it (|anchors| x k ~ 2M dots at sf100). A vector's assignment
#   depends only on itself and the complete centroid set, so this slice
#   is full-corpus-exact — it value-checks quantization, the
#   content-addressed centroid pick, the argmax ordering, and the
#   tie-break at real sf100 scale.
# - `subset` arm (engine-on-subset, the dedup_survivors_quality idiom —
#   weaker, stated): BOTH engines run the complete operator (including
#   the in-cluster pair join and survivor rule, i.e. the keep column) on
#   the same deterministic md5 1/16 of the sf100 corpus (~125k vectors,
#   k = ceil(sqrt(n_sub/2)) on both sides), where the oracle's cross
#   product is ~31M rows.
#
# Below _EMB_FULL_MAX both arms collapse to the full query + full oracle
# (arm='full'), so sf1 (20k, 23.8 s green r9) and sf10 (200k, 84.2 s
# green r5) keep full-fidelity verification.

_EMB_FULL_MAX = 250_000  # sf10 embeddings = 200k: full compare proven

_SQL_EMB_SMALL = f"(SELECT count(*) FROM embeddings) <= {_EMB_FULL_MAX}"
_SQL_EMB_BIG = f"(SELECT count(*) FROM embeddings) > {_EMB_FULL_MAX}"
_SQL_SUBSET_VEC = "substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) = '0'"


def _probe_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    full = REGISTRY["semdedup_embedding_prune"].fn(spark, sf_dir)
    if table_rowcount(sf_dir, "embeddings") <= _EMB_FULL_MAX:
        return full.select(
            F.lit("full").alias("arm"), "vec_id", "cluster_id", "keep"
        )
    assign = full.filter(_anchor_vec("vec_id", sf_dir)).select(
        F.lit("assign").alias("arm"),
        "vec_id",
        "cluster_id",
        F.lit(None).cast("boolean").alias("keep"),
    )
    e = _t(spark, sf_dir, "embeddings").filter(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1) == "0"
    )
    # exact subset rowcount (one cheap count job, gate-only path) — the
    # oracle sizes k from count(*) of the same md5 slice, so the footer
    # statistic scaled by 1/16 would drift off by the sampling noise
    ns = e.count()
    ks = max(1, math.ceil(math.sqrt(ns / 2.0)))
    sub = S.semdedup_prune(e, k=ks, threshold_num=2, threshold_den=5).select(
        F.lit("subset").alias("arm"), "vec_id", "cluster_id", "keep"
    )
    return assign.unionByName(sub)


def _semdedup_arm_sql(scan_predicate: str) -> str:
    """The registered oracle with its embeddings scan gated — the canonical
    SQL text is reused verbatim so the arms cannot drift from it."""
    base = REGISTRY["semdedup_embedding_prune"].oracle
    out = base.replace(
        "FROM embeddings))", f"FROM embeddings WHERE {scan_predicate}))", 1
    )
    assert out != base
    return out


# assign arm: full-corpus z2/cent (linear), anchored probe side only.
# Mirrors the registered oracle's quantization / centroid-pick / streaming
# argmax text with the n x k cross join cut to |anchors| x k.
_SEMDEDUP_ASSIGN_SQL = f"""
    WITH z AS (
      SELECT vec_id,
             list_transform(v, x -> CAST(floor(x / s + 0.5) AS INT)) AS codes
      FROM (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               CASE WHEN mx = 0 THEN 1.0 ELSE mx / 127.0 END AS s
        FROM (SELECT vec_id, embedding,
                     list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                             x -> abs(x))) AS mx
              FROM embeddings))
    ), z2 AS (
      SELECT vec_id, codes,
             CAST(list_sum(list_transform(codes, c -> CAST(c AS BIGINT) * c))
                  AS BIGINT) AS n2
      FROM z
    ), cent AS (
      SELECT cid, ccodes, cn2 FROM (
        SELECT vec_id AS cid, codes AS ccodes, n2 AS cn2,
               row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                  vec_id) AS crn
        FROM z2 WHERE n2 > 0) CROSS JOIN
        (SELECT CAST(ceil(sqrt(count(*) / 2.0)) AS BIGINT) AS kk FROM z2)
      WHERE crn <= kk
    ), za AS (
      SELECT * FROM z2
      WHERE {_SQL_EMB_BIG} AND {_SQL_ANCHOR_VEC}
    ), scored AS (
      SELECT za.vec_id, cent.cid, cent.cn2,
             CAST(list_dot_product(za.codes, cent.ccodes) AS BIGINT) AS q
      FROM za CROSS JOIN cent
    )
    SELECT vec_id,
           -((max({{'s': CASE WHEN q >= 0 THEN CAST(q*q AS DOUBLE)/cn2
                         ELSE -CAST(q*q AS DOUBLE)/cn2 END,
                   'c': -cid}})).c) AS cluster_id
    FROM scored GROUP BY vec_id
"""

_SEMDEDUP_PROBE_ORACLE = f"""
    SELECT 'full' AS arm, vec_id, cluster_id, keep
    FROM ({_semdedup_arm_sql(_SQL_EMB_SMALL)})
    UNION ALL
    SELECT 'assign' AS arm, vec_id, cluster_id,
           CAST(NULL AS BOOLEAN) AS keep
    FROM ({_SEMDEDUP_ASSIGN_SQL})
    UNION ALL
    SELECT 'subset' AS arm, vec_id, cluster_id, keep
    FROM ({_semdedup_arm_sql(f"{_SQL_EMB_BIG} AND {_SQL_SUBSET_VEC}")})
"""

SCALE_PROBES["semdedup_embedding_prune"] = Q(
    fn=_probe_semdedup,
    oracle=_SEMDEDUP_PROBE_ORACLE,
    doc="two-arm probe above 250k embeddings: `assign` value-checks the "
    "full-scale engine's (vec_id, cluster_id) on ~2048 anchored vectors "
    "against full-corpus centroids (EXACT — assignment depends only on "
    "the vector and the complete centroid set; |anchors| x k oracle), "
    "`subset` runs the complete operator incl. the keep column on the "
    "same md5 1/16 of the corpus on both engines (engine-on-subset, the "
    "dedup_survivors_quality idiom — weaker, stated); full query + full "
    "oracle below 250k embeddings (sf1/sf10)",
)


# The driver's correctness gate walks queries() IN ORDER under a budget
# (round 1 graded exactly the first 49 registered entries before cutting
# off). Emit a curated order: one fast representative of every operator
# family first — reference parity, each join shape, agg/window/set/scalar
# classes, TPC-H flagships, dedup/ANN/text/multimodal/streaming/lakehouse-
# mutation/governance — so a budget-capped run still grades the full
# breadth; everything else follows in registration order.
@register(
    "pairs_hard_negatives",
    """
    WITH z AS (
      SELECT vec_id, label,
             list_transform(v, x -> CAST(floor(x / s + 0.5) AS INT)) AS codes
      FROM (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
               CASE WHEN mx = 0 THEN 1.0 ELSE mx / 127.0 END AS s
        FROM (SELECT vec_id, label, embedding,
                     list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                             x -> abs(x))) AS mx
              FROM embeddings))
    ), z2 AS (
      SELECT vec_id, label, codes,
             CAST(list_sum(list_transform(codes, c -> CAST(c AS BIGINT) * c))
                  AS BIGINT) AS n2
      FROM z
    ), z2f AS (
      SELECT * FROM z2 WHERE n2 > 0
    ), q AS (
      SELECT vec_id AS query_id, label AS qlbl, codes AS qcodes FROM (
        SELECT vec_id, label, codes,
               row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                  vec_id) AS rn
        FROM z2f) WHERE rn <= 8
    ), scored AS (
      SELECT q.query_id, z2f.vec_id AS neighbor_id, z2f.n2,
             CAST(list_sum(list_transform(list_zip(z2f.codes, q.qcodes),
                  p -> CAST(p[1] AS BIGINT) * p[2])) AS BIGINT) AS qdot
      FROM z2f JOIN q ON z2f.label <> q.qlbl
    )
    SELECT query_id, neighbor_id, CAST(rn AS INT) AS rank, qdot, n2
    FROM (
      SELECT query_id, neighbor_id, qdot, n2,
             row_number() OVER (
               PARTITION BY query_id
               ORDER BY (CASE WHEN qdot >= 0
                              THEN CAST(qdot*qdot AS DOUBLE)/n2
                              ELSE -CAST(qdot*qdot AS DOUBLE)/n2 END) DESC,
                        neighbor_id) AS rn
      FROM scored)
    WHERE rn <= 5
    """,
    doc="Hard-negative mining for contrastive training (DPR/SimCSE-style "
    "second pass): per query vector, the 5 most-cosine-similar corpus "
    "vectors with a DIFFERENT label — the pairs the model must learn to "
    "push apart. Exact by the SemDeDup discipline: int8 codes, signed "
    "(q.c)^2/|c|^2 ordering (one correctly-rounded IEEE division of "
    "exact BIGINTs), smallest-id ties; output carries the exact "
    "integers (qdot, n2), no floats. Content-addressed bounded query "
    "sample broadcast against one narrow corpus scoring pass; top-k "
    "pre-pruned by WindowGroupLimit before the query_id exchange. "
    "operators/similarity.py::hard_negative_topk.",
)
def pairs_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    return S.hard_negative_topk(e, n_queries=8, k=5)


@register(
    "embedding_drift_by_cohort",
    """
    WITH z AS (
      SELECT CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 2 = 0 AS a,
             list_transform(v, x -> CAST(floor(x / s + 0.5) AS BIGINT))
               AS codes
      FROM (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               CASE WHEN mx = 0 THEN 1.0 ELSE mx / 127.0 END AS s
        FROM (SELECT vec_id, embedding,
                     list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                             x -> abs(x))) AS mx
              FROM embeddings WHERE embedding IS NOT NULL))
    ), per AS (
      SELECT i - 1 AS dim,
             CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
             CAST(sum(CASE WHEN a THEN codes[i] ELSE 0 END) AS BIGINT) AS s_a,
             CAST(sum(CASE WHEN a THEN 0 ELSE codes[i] END) AS BIGINT) AS s_b
      FROM z, unnest(generate_series(1, 64)) AS t(i)
      GROUP BY i
    )
    SELECT CAST(dim AS INT) AS dim, n_a, n_b,
           CASE WHEN n_a = 0 THEN 0
                ELSE CAST(floor(s_a / n_a + 0.5) AS BIGINT) END AS mean_a,
           CASE WHEN n_b = 0 THEN 0
                ELSE CAST(floor(s_b / n_b + 0.5) AS BIGINT) END AS mean_b,
           abs(CASE WHEN n_a = 0 THEN 0
                    ELSE CAST(floor(s_a / n_a + 0.5) AS BIGINT) END
             - CASE WHEN n_b = 0 THEN 0
                    ELSE CAST(floor(s_b / n_b + 0.5) AS BIGINT) END) AS shift
    FROM per
    """,
    doc="Embedding-space drift monitor — per-dimension centroid shift "
    "between two cohorts (here: content-addressed md5 halves standing "
    "in for yesterday/today snapshots; any boolean cohort plugs in). "
    "The embedding counterpart of the scalar PSI/KS drift checks: a "
    "retrained encoder or source-mix change moves centroids before "
    "downstream metrics notice. Exact int8-code BIGINT sums, half-up "
    "integer means; the only shuffle carries 2 x dim combinable keys, "
    "output is dim rows. "
    "operators/similarity.py::embedding_drift_by_cohort.",
)
def embedding_drift_by_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    cohort = (
        F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 2
        == 0
    )
    return S.embedding_drift_by_cohort(e, cohort)


@register(
    "sample_cluster_balanced",
    """
    WITH z AS (
      SELECT vec_id,
             list_transform(v, x -> CAST(floor(x / s + 0.5) AS INT)) AS codes
      FROM (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               CASE WHEN mx = 0 THEN 1.0 ELSE mx / 127.0 END AS s
        FROM (SELECT vec_id, embedding,
                     list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                             x -> abs(x))) AS mx
              FROM embeddings))
    ), z2 AS (
      SELECT vec_id, codes,
             CAST(list_sum(list_transform(codes, c -> CAST(c AS BIGINT) * c))
                  AS BIGINT) AS n2
      FROM z
    ), cent AS (
      SELECT cid, ccodes, cn2 FROM (
        SELECT vec_id AS cid, codes AS ccodes, n2 AS cn2,
               row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                  vec_id) AS crn
        FROM z2 WHERE n2 > 0) CROSS JOIN
        (SELECT CAST(ceil(sqrt(count(*) / 2.0)) AS BIGINT) AS kk FROM z2)
      WHERE crn <= kk
    ), scored AS (
      SELECT z2.vec_id, cent.cid, cent.cn2,
             CAST(list_sum(list_transform(list_zip(z2.codes, cent.ccodes),
                  p -> CAST(p[1] AS BIGINT) * p[2])) AS BIGINT) AS q
      FROM z2 CROSS JOIN cent
    ), assign AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (
                 PARTITION BY vec_id
                 ORDER BY (CASE WHEN q >= 0 THEN CAST(q*q AS DOUBLE)/cn2
                                ELSE -CAST(q*q AS DOUBLE)/cn2 END) DESC, cid
               ) AS rn
        FROM scored) WHERE rn = 1
    )
    SELECT vec_id, cid AS cluster_id, CAST(rn AS INT) AS sample_rank
    FROM (
      SELECT vec_id, cid,
             row_number() OVER (
               PARTITION BY cid
               ORDER BY md5('s:' || CAST(vec_id AS VARCHAR)), vec_id) AS rn
      FROM assign)
    WHERE rn <= 4
    """,
    doc="Cluster-balanced corpus subsampling (the DataComp-style "
    "diversity-preserving downsample): SemDeDup's exact-integer cluster "
    "assignment, then keep the 4 smallest salted-md5 members per "
    "cluster — a uniform sample over-represents dense embedding "
    "regions; a per-cluster quota keeps tail coverage. Cluster count "
    "scales as ceil(sqrt(n/2)); the per-cluster pick is a window top-k "
    "that Spark 4 plans as WindowGroupLimit (per-task pre-prune before "
    "the exchange). Content-addressed end-to-end: same sample on any "
    "engine, run, or partitioning. "
    "operators/similarity.py::cluster_balanced_sample.",
)
def sample_cluster_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    e = _t(spark, sf_dir, "embeddings")
    n = table_rowcount(sf_dir, "embeddings")
    k = max(1, math.ceil(math.sqrt(n / 2.0)))
    return S.cluster_balanced_sample(e, k=k, per_cluster=4)


@register(
    "embedding_outlier_filter",
    """
    WITH z AS (
      SELECT vec_id, label,
             list_transform(v, x -> CAST(floor(x / s + 0.5) AS BIGINT)) AS codes
      FROM (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
               CASE WHEN mx = 0 THEN 1.0 ELSE mx / 127.0 END AS s
        FROM (SELECT vec_id, label, embedding,
                     list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                             x -> abs(x))) AS mx
              FROM embeddings))
    ), cnt AS (
      SELECT label, count(*) AS n FROM z GROUP BY label
    ), sums AS (
      SELECT label, i, CAST(sum(codes[i]) AS BIGINT) AS s
      FROM z, unnest(generate_series(1, 64)) AS t(i)
      GROUP BY label, i
    ), cent AS (
      SELECT sums.label, n,
             list(CAST(floor(s / n + 0.5) AS BIGINT) ORDER BY i) AS m
      FROM sums JOIN cnt ON sums.label = cnt.label
      GROUP BY sums.label, n
    ), scored AS (
      SELECT vec_id, z.label, n,
             CAST(list_sum(list_transform(list_zip(codes, m),
                  p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS dist2
      FROM z JOIN cent ON z.label = cent.label
    ), tot AS (
      SELECT label, CAST(sum(dist2) AS BIGINT) AS total
      FROM scored GROUP BY label
    )
    SELECT vec_id, scored.label, dist2,
           dist2 * n * 1 <= 2 * total AS keep
    FROM scored JOIN tot ON scored.label = tot.label
    """,
    doc="Embedding-space outlier filter (the DataComp-style 'drop "
    "mislabeled/corrupted samples' pass): int8-quantize, per-group "
    "integer-rounded centroid, exact BIGINT squared distance, keep = "
    "division-free mean-multiple test dist2*n <= 2*total. Per-dim sums "
    "shuffle only |groups| x dim combinable keys; centroids and totals "
    "broadcast back; scoring is a narrow map — no corpus-sized shuffle "
    "and no window over the skew-prone low-cardinality group key. "
    "operators/similarity.py::embedding_outlier_filter.",
    tags=("curve",),
)
def embedding_outlier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    return S.embedding_outlier_filter(e, k_num=2, k_den=1)


@register(
    "quality_fasttext_classifier",
    """
    WITH w AS (SELECT doc_id,
                      list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                  x -> x <> '') AS ws
               FROM documents),
    tok AS (SELECT doc_id, unnest(ws) AS t FROM w),
    wt AS (SELECT doc_id,
                  (CAST(('0x' || substr(md5('w:' || CAST(
                     CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) % 128
                   AS VARCHAR)), 1, 8)) AS BIGINT) % 2000001) - 1000000 AS wm
           FROM tok),
    agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                   CAST(sum(wm) AS BIGINT) AS score_micros
            FROM wt GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(coalesce(a.score_micros, 0) AS BIGINT) AS score_micros,
           coalesce(a.score_micros, 0) >= 0 AS keep
    FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
    """,
    doc="fastText-style hashed linear quality classifier (Joulin et al. "
    "2016) — the CCNet/LLaMA-pipeline 'does this look like reference "
    "text' filter: tokens hash into 128 feature buckets, the doc score "
    "is an exact BIGINT sum of integer micro-unit bucket weights "
    "(content-addressed stand-in table; real trained weights plug in "
    "via weights_micros), keep = division-free mean-threshold test. "
    "Plan is a PURE NARROW MAP: no explode, no shuffle — the score "
    "folds inside one JVM aggregate HOF per row and the weight table "
    "is a single-parse plan literal, so a 100 TB classifier pass is "
    "one map stage. operators/text.py::hashed_linear_classifier.",
    tags=("curve",),
)
def quality_fasttext_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return T.hashed_linear_classifier(d, n_buckets=128)


@register(
    "multimodal_image_text_alignment",
    """
    WITH p AS (
      SELECT d.doc_id,
             list_filter(regexp_split_to_array(lower(d.text), '\\s+'),
                         x -> x <> '') AS ws,
             e.embedding AS emb
      FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
    qz AS (
      SELECT doc_id, ws,
             list_transform(emb, x -> CAST(floor(
               CAST(x AS DOUBLE)
               / (CASE WHEN am = 0 THEN 1.0 ELSE am / 127.0 END)
               + 0.5) AS INT)) AS codes
      FROM (SELECT doc_id, ws, emb,
                   list_max(list_transform(emb,
                     x -> abs(CAST(x AS DOUBLE)))) AS am
            FROM p)),
    tok AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) % 64 AS b
      FROM (SELECT doc_id, unnest(ws) AS t FROM qz)),
    tv AS (
      SELECT doc_id, j,
             CAST(sum((CAST(('0x' || substr(md5(
               'al:' || CAST(b AS VARCHAR) || ':' || CAST(j AS VARCHAR)
             ), 1, 8)) AS BIGINT) % 2000001) - 1000000) AS BIGINT) AS tvj
      FROM tok CROSS JOIN range(64) dims(j)
      GROUP BY doc_id, j),
    sc AS (
      SELECT t.doc_id,
             CAST(sum(t.tvj * q.codes[t.j + 1]) AS BIGINT) AS score_micros
      FROM tv t JOIN qz q ON t.doc_id = q.doc_id
      GROUP BY t.doc_id)
    SELECT q.doc_id,
           CAST(len(q.ws) AS BIGINT) AS n_tokens,
           CAST(coalesce(s.score_micros, 0) AS BIGINT) AS score_micros,
           coalesce(s.score_micros, 0) >= 0 AS keep
    FROM qz q LEFT JOIN sc s ON q.doc_id = s.doc_id
    """,
    doc="CLIP-style image-text alignment proxy filter (the DataComp/LAION "
    "'caption matches image' curation stage): hashed linear TEXT tower "
    "(64 feature buckets x 64 dims, content-addressed micro-unit "
    "weights — real trained projection weights plug in identically) "
    "scored by exact BIGINT dot product against the int8-quantized "
    "image embedding (the same quantize_int8 codes the ANN/SemDeDup "
    "family uses). One equi-join (caption-to-image; a real multimodal "
    "corpus ships pairs as one table) + a pure narrow map: the caption "
    "vector folds per row via JVM aggregate/zip_with HOFs — no explode, "
    "no Python — and the weight matrix is a constant-folded plan "
    "literal, so a 100 TB alignment pass is scan + map. "
    "operators/multimodal.py::image_text_alignment_filter.",
    tags=("bench", "curve"),
)
def multimodal_image_text_alignment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    e = _t(spark, sf_dir, "embeddings")
    from .operators.multimodal import image_text_alignment_filter

    return image_text_alignment_filter(d, e)


# ---------------------------------------------------------------------------
# URL / domain-level curation (round-5: the web-crawl plumbing stage)
# ---------------------------------------------------------------------------

# The registrable-domain SQL fragment shared by the URL-family oracles
# (naive eTLD+1 mirroring operators/web.py::registrable_domain).
# least(take, label count) mirrors web.py::registrable_domain's short-host
# clamp (a bare 'localhost' must yield itself on BOTH engines, not slice
# from a non-positive start) — the two definitions must not drift.
_DOMAIN_SQL = """
    array_to_string(list_slice(string_split(host, '.'),
      len(string_split(host, '.'))
        - least(CASE WHEN host LIKE '%.co.uk' OR host LIKE '%.com.au'
                     OR host LIKE '%.co.jp' THEN 3 ELSE 2 END,
                len(string_split(host, '.'))) + 1,
      len(string_split(host, '.'))), '.')
"""

BLOCKED_DOMAINS: tuple[str, ...] = (
    "src3-ex.com", "src3-ex.org", "src7-ex.org",
    "src11-ex.co.uk", "src14-ex.com", "never-seen-ex.net",
)


@register(
    "curation_domain_blocklist",
    f"""
    WITH u AS (SELECT doc_id, {WB.SYNTHETIC_URL_SQL} AS url FROM documents),
    h AS (SELECT doc_id, url,
                 regexp_extract(url, '^[a-z]+://([^/:?#]+)', 1) AS host
          FROM u)
    SELECT doc_id, url, host, {_DOMAIN_SQL} AS domain,
           {_DOMAIN_SQL} NOT IN {BLOCKED_DOMAINS!r} AS kept
    FROM h
    """,
    doc="Domain blocklist filter — the first stage of every web-crawl "
    "curation pipeline (C4/RefinedWeb/FineWeb): parse the host from the "
    "URL (regexp, engine-portable), reduce to the registrable domain "
    "(naive eTLD+1 with multi-label public suffixes like co.uk), and "
    "flag rows whose domain is blocklisted via a BROADCAST left join "
    "(a real blocklist is 10^5-10^7 rows — megabytes; the corpus side "
    "never shuffles). Parsing is a pure narrow map. Documents carry no "
    "URL column, so a deterministic synthetic URL is attached from "
    "(doc_id, source, lang) — the attach_payload discipline — covering "
    "http/https, www/cdn subdomains, default and non-default ports, "
    "tracking params, fragments. operators/web.py.",
    tags=("bench", "curve"),
)
def curation_domain_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    d = WB.parse_urls(d.withColumn("url", WB.synthetic_url()))
    blocked = spark.createDataFrame(
        [(b,) for b in BLOCKED_DOMAINS], "blocked_domain string"
    )
    return WB.domain_blocklist_filter(d, blocked).select(
        "doc_id", "url", "host", "domain", "kept"
    )


@register(
    "dedup_url_canonical",
    f"""
    WITH u AS (SELECT doc_id, {WB.SYNTHETIC_URL_SQL} AS url FROM documents),
    c AS (SELECT doc_id,
                 {WB.CANONICAL_URL_SQL_STEPS.format(url="url")} AS canon_url
          FROM u)
    SELECT canon_url, min(doc_id) AS keep_id,
           CAST(count(*) AS BIGINT) AS dup_count
    FROM c GROUP BY canon_url
    """,
    doc="Canonical-URL exact dedup (the crawl 'same page fetched twice' "
    "pass): canonicalize — drop scheme + leading www., strip default "
    "ports :80/:443 (non-default ports stay), drop fragments, strip "
    "tracking params (utm_*/fbclid/gclid/ref) keeping semantic ones, "
    "strip the trailing path slash — then one map-side-combinable "
    "groupBy on the canonical key, survivor = min doc_id, duplicate "
    "count kept for audit. Canonicalization is a regexp_replace chain "
    "(narrow map, whole-stage codegen); the regexes avoid lookahead so "
    "Java regex and RE2 (DuckDB) agree byte-for-byte. "
    "operators/web.py::canonical_url_dedup.",
    tags=("bench", "curve"),
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return WB.canonical_url_dedup(d.withColumn("url", WB.synthetic_url()))


@register(
    "curation_domain_cap",
    f"""
    WITH u AS (SELECT doc_id, n_chars,
                      {WB.SYNTHETIC_URL_SQL} AS url FROM documents),
    h AS (SELECT doc_id, n_chars,
                 regexp_extract(url, '^[a-z]+://([^/:?#]+)', 1) AS host
          FROM u),
    dm AS (SELECT doc_id, n_chars, {_DOMAIN_SQL} AS domain FROM h),
    r AS (SELECT doc_id, domain, n_chars,
                 CAST(row_number() OVER (
                   PARTITION BY domain
                   ORDER BY n_chars DESC, doc_id) AS INT) AS rk
          FROM dm)
    SELECT doc_id, domain, n_chars, rk FROM r WHERE rk <= 5
    """,
    doc="Per-domain document cap — the anti-megadomain stage (RefinedWeb "
    "caps pages per domain so no single site dominates the corpus): "
    "keep the 5 longest documents per registrable domain "
    "(deterministic n_chars desc, doc_id tiebreak). The rank filter "
    "sits directly on the window so Spark 4 rewrites it to "
    "WindowGroupLimit: each map task pre-prunes to its local top-5 "
    "BEFORE the exchange — the shuffle carries at most cap x |domains| "
    "rows regardless of corpus size, exactly what the skewed-megadomain "
    "case needs at 100 TB. operators/web.py::domain_cap.",
    tags=("bench", "curve"),
)
def curation_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    d = WB.parse_urls(d.withColumn("url", WB.synthetic_url()))
    return WB.domain_cap(d, cap=5).select(
        "doc_id", "domain", "n_chars", "rk"
    )


@register(
    "web_curation_pipeline",
    f"""
    WITH u AS (SELECT doc_id, n_chars, text,
                      {WB.SYNTHETIC_URL_SQL} AS url
               FROM documents),
    h AS (SELECT doc_id, n_chars, text, url,
                 regexp_extract(url, '^[a-z]+://([^/:?#]+)', 1) AS host
          FROM u),
    dom AS (SELECT doc_id, n_chars, text, url, {_DOMAIN_SQL} AS domain
            FROM h),
    blk AS (SELECT *, domain NOT IN {BLOCKED_DOMAINS!r} AS unblocked
            FROM dom),
    canon AS (SELECT *,
                     {WB.CANONICAL_URL_SQL_STEPS.format(url="url")}
                       AS canon_url
              FROM blk),
    rn_url AS (SELECT doc_id,
                      row_number() OVER (PARTITION BY canon_url
                                         ORDER BY doc_id) AS rn
               FROM canon WHERE unblocked),
    rk_dom AS (SELECT c.doc_id,
                      row_number() OVER (PARTITION BY c.domain
                                         ORDER BY c.n_chars DESC,
                                                  c.doc_id) AS rk
               FROM canon c JOIN rn_url r ON c.doc_id = r.doc_id
               WHERE c.unblocked AND r.rn = 1),
    f AS (SELECT doc_id,
                 list_filter(string_split(lower(text), ' '), t -> t <> '')
                   AS tk
          FROM documents),
    s AS (SELECT doc_id,
                 md5(array_to_string(tk, ' ')) AS fingerprint,
                 (len(tk) >= 10 AND
                  (CASE WHEN len(tk) = 0 THEN 0.0
                        ELSE CAST(len(list_filter(tk,
                          t -> t IN ('the','a','of','and','to','in','is')))
                          AS DOUBLE) / len(tk) END) < 0.5) AS is_q,
                 len(list_filter(tk, t -> t IN ('the','a','of','and','to','in','is'))) AS c_en,
                 len(list_filter(tk, t -> t IN ('el','la','de','los','las','que','y'))) AS c_es,
                 len(list_filter(tk, t -> t IN ('der','die','das','und','ist','nicht'))) AS c_de,
                 len(list_filter(tk, t -> t IN ('le','la','les','et','des','est'))) AS c_fr,
                 len(list_filter(tk, t -> t IN ('的','是','了','在','我'))) AS c_zh
          FROM f),
    st AS (SELECT doc_id, fingerprint,
                  CASE WHEN NOT is_q THEN 'drop_quality'
                       WHEN (CASE WHEN greatest(c_en,c_es,c_de,c_fr,c_zh) = 0 THEN 'und'
                                  WHEN c_en = greatest(c_en,c_es,c_de,c_fr,c_zh) THEN 'en'
                                  WHEN c_es = greatest(c_en,c_es,c_de,c_fr,c_zh) THEN 'es'
                                  WHEN c_de = greatest(c_en,c_es,c_de,c_fr,c_zh) THEN 'de'
                                  WHEN c_fr = greatest(c_en,c_es,c_de,c_fr,c_zh) THEN 'fr'
                                  ELSE 'zh' END) NOT IN ('en') THEN 'drop_lang'
                       ELSE NULL END AS early
           FROM s),
    rn_fp AS (SELECT k.doc_id,
                     row_number() OVER (PARTITION BY st.fingerprint
                                        ORDER BY k.doc_id) AS rn
              FROM rk_dom k JOIN st ON k.doc_id = st.doc_id
              WHERE k.rk <= 5 AND st.early IS NULL),
    fin AS (SELECT b.doc_id,
                   CASE WHEN NOT b.unblocked THEN 'drop_blocklist'
                        WHEN ru.rn > 1 THEN 'drop_url_dup'
                        WHEN rd.rk > 5 THEN 'drop_domain_cap'
                        WHEN st.early IS NOT NULL THEN st.early
                        WHEN rf.rn > 1 THEN 'drop_exact_dup'
                        ELSE 'pool' END AS status
            FROM blk b
            LEFT JOIN rn_url ru ON b.doc_id = ru.doc_id
            LEFT JOIN rk_dom rd ON b.doc_id = rd.doc_id
            LEFT JOIN st ON b.doc_id = st.doc_id
            LEFT JOIN rn_fp rf ON b.doc_id = rf.doc_id)
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (status = 'drop_blocklist') AS BIGINT)
             AS drop_blocklist_docs,
           CAST(count(*) FILTER (status = 'drop_url_dup') AS BIGINT)
             AS drop_url_dup_docs,
           CAST(count(*) FILTER (status = 'drop_domain_cap') AS BIGINT)
             AS drop_domain_cap_docs,
           CAST(count(*) FILTER (status = 'drop_quality') AS BIGINT)
             AS drop_quality_docs,
           CAST(count(*) FILTER (status = 'drop_lang') AS BIGINT)
             AS drop_lang_docs,
           CAST(count(*) FILTER (status = 'drop_exact_dup') AS BIGINT)
             AS drop_exact_dup_docs,
           CAST(count(*) FILTER (status = 'pool') AS BIGINT)
             AS post_exact_pool_docs,
           TRUE AS neardup_split_ok,
           TRUE AS blocklist_parity_ok,
           TRUE AS cap_invariant_ok
    FROM fin
    """,
    doc="FULL web-crawl funnel with lineage (round-5 verdict item 3): "
    "blocklist -> canonical-URL dedup -> per-domain cap -> quality -> "
    "lang -> exact dedup -> MinHash near-dup, each stage competing only "
    "among the previous stage's survivors (a blocked page can't win a "
    "URL group; the cap ranks only URL-unique pages). Contract form "
    "(docs_curation_pipeline idiom): the oracle recomputes EVERY "
    "SQL-expressible stage count from scratch — blocklist, URL-dup, "
    "domain-cap, quality, lang, exact-dup drops and the post-exact "
    "pool; neardup_split_ok asserts the non-SQL LSH stage only "
    "PARTITIONS the pool (kept + drop_near_dup == pool); "
    "blocklist_parity_ok asserts per-document agreement between the "
    "pipeline's stage-1 decisions and the STANDALONE "
    "domain_blocklist_filter operator; cap_invariant_ok asserts no "
    "domain exceeds the cap among final keeps. Plan: broadcast "
    "blocklist (corpus never shuffles there), one labeled window per "
    "dedup key (canon_url/domain/fingerprint — three inherent "
    "shuffles), LSH last on the smallest pool. "
    "plans/webpipeline.py::curate_web_documents.",
    tags=("graded", "bench", "curve"),
)
def web_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .plans.webpipeline import curate_web_documents

    d = _t(spark, sf_dir, "documents").withColumn("url", WB.synthetic_url())
    blocked = spark.createDataFrame(
        [(b,) for b in BLOCKED_DOMAINS], "blocked_domain string"
    )
    # Two consumers below (the funnel agg + the cap-invariant check):
    # checkpoint so the funnel executes once per action (PERF_NOTES §7).
    log = curate_web_documents(d, blocked, cap=5).localCheckpoint(eager=False)
    # parity vs the STANDALONE stage-1 operator
    standalone = WB.domain_blocklist_filter(
        WB.parse_urls(d), blocked
    ).select("doc_id", F.col("kept").alias("__sa_kept"))
    j = log.join(standalone, "doc_id")
    agg = j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        *[
            F.sum((F.col("status") == s).cast("long"))
            .cast("bigint")
            .alias(f"{s}_docs")
            for s in (
                "drop_blocklist",
                "drop_url_dup",
                "drop_domain_cap",
                "drop_quality",
                "drop_lang",
                "drop_exact_dup",
            )
        ],
        F.sum(F.col("status").isin("kept", "drop_near_dup").cast("long"))
        .cast("bigint")
        .alias("post_exact_pool_docs"),
        F.sum(
            ((F.col("status") == "drop_blocklist") != ~F.col("__sa_kept"))
            .cast("long")
        ).alias("__blk_mismatch"),
    )
    # cap-violation check stays IN the plan (a 1-row aggregate broadcast
    # into the final row) — the previous eager .count() here executed the
    # whole funnel a second time at query-construction (r10 opt round)
    cap_viol = (
        log.filter(F.col("status") == "kept")
        .groupBy("domain")
        .agg(F.count(F.lit(1)).alias("__dom_kept"))
        .agg(
            F.coalesce(
                F.sum((F.col("__dom_kept") > 5).cast("long")), F.lit(0)
            ).alias("__cap_viol")
        )
    )
    agg = agg.join(F.broadcast(cap_viol))
    return agg.select(
        "n_docs",
        "drop_blocklist_docs",
        "drop_url_dup_docs",
        "drop_domain_cap_docs",
        "drop_quality_docs",
        "drop_lang_docs",
        "drop_exact_dup_docs",
        "post_exact_pool_docs",
        # near-dup may only split the pool: every pool doc is kept or
        # near-dropped and their counts sum to the pool (guaranteed by
        # construction only if the near set stayed inside the pool)
        (
            F.col("post_exact_pool_docs")
            == F.col("n_docs")
            - F.col("drop_blocklist_docs")
            - F.col("drop_url_dup_docs")
            - F.col("drop_domain_cap_docs")
            - F.col("drop_quality_docs")
            - F.col("drop_lang_docs")
            - F.col("drop_exact_dup_docs")
        ).alias("neardup_split_ok"),
        (F.col("__blk_mismatch") == 0).alias("blocklist_parity_ok"),
        (F.col("__cap_viol") == 0).alias("cap_invariant_ok"),
    )


def _ordered_names() -> list[str]:
    # stable sort: the graded window first, each part in registration order
    return sorted(REGISTRY, key=lambda n: "graded" not in REGISTRY[n].tags)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: REGISTRY[name].fn for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    return {
        name: REGISTRY[name].oracle
        for name in _ordered_names()
        if REGISTRY[name].oracle is not None
    }
