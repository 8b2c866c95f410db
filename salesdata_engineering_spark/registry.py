"""Query registry: every implemented operator as a (Spark fn, oracle SQL) pair.

Each entry maps a SURVEY §2 operator (or engine extension) to

- a Spark callable ``(spark, sf_dir) -> DataFrame`` built from the ops
  library, and
- an equivalent ANSI-SQL string DuckDB runs on the same parquet tables
  (``None`` for genuinely non-SQL-expressible ops → driver's weaker
  rows-only check).

Cross-engine exactness rules (learned the hard way, enforced everywhere):

1. Money math stays in DECIMAL end-to-end. The testdata doubles are
   exact 2-decimal values, so ``CAST(x AS DECIMAL(p,2))`` is exact in
   both engines; decimal sums are order-independent → hash-stable.
2. The only lossy decimal step allowed is an explicit ``round(x, 2)``:
   Spark round is HALF_UP, DuckDB round is half-away-from-zero — equal on
   decimals. Lossy decimal *casts* are banned (DuckDB truncates, Spark
   rounds).
3. Keep decimal multiply chains narrow (prices DECIMAL(12,2), rates
   DECIMAL(4,2)) so intermediate precision never exceeds 38 — Spark
   silently reduces scale past 38 and that rounding diverges.
4. Doubles may pass through untouched, or be compared/divided with a
   final ``round(_, 6)`` — identical IEEE ops on identical inputs.
5. Alias every computed column identically in both dialects; the driver
   sorts columns by name before hashing.
6. Session timezone is UTC so timestamp rendering matches DuckDB.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .datasets import CANONICAL_SALES_SQL, canonical_sales, load_tables
from .functions import month_key
from .marts import customer_monthly_spend, sales_team_mart
from .ops.windows import asc_nulls_last, lag_lead, ranked, running_total

PRICE = T.DecimalType(12, 2)  # fits any testdata price/quantity exactly
RATE = T.DecimalType(4, 2)  # fits discount/tax in [0,1) exactly


def _dec(col: str, dt=PRICE) -> F.Column:
    return F.col(col).cast(dt)


def _money_out(c: F.Column) -> F.Column:
    """Exact-decimal round, then DOUBLE for the output column.

    Internal math stays decimal (exact, order-independent); the final cast
    to double is deterministic (nearest-double of the same decimal in both
    engines) and sidesteps Decimal-vs-float representation drift in the
    comparator's pandas bridge — DuckDB's .df() renders DECIMAL as float64."""
    return F.round(c, 2).cast("double")


@dataclass(frozen=True)
class Query:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL, or None → rows-only check
    doc: str = ""
    bench: bool = False  # opt into bench.py's headline set


QUERIES: dict[str, Query] = {}


def register(name: str, oracle: str | None, doc: str = "", bench: bool = False):
    def deco(fn):
        QUERIES[name] = Query(fn=fn, oracle=oracle, doc=doc, bench=bench)
        return fn

    return deco


# ---------------------------------------------------------------------------
# Flagship marts (SURVEY §3.2/3.3 — J1-J3, A1/A2, W1-W3, P1-P4, F1-F8)
# ---------------------------------------------------------------------------

_SALES_CTE = f"WITH sales AS ({CANONICAL_SALES_SQL})"


@register(
    "sales_team_mart",
    _SALES_CTE
    + """
    , monthly AS (
        SELECT store_id, sales_person_id, substring(sales_date, 1, 7) AS sales_month,
               CAST(round(SUM(total_cost), 2) AS DECIMAL(18,2)) AS total_dec
        FROM sales
        GROUP BY 1, 2, 3
    ), rk AS (
        SELECT *, rank() OVER (PARTITION BY store_id, sales_month
                               ORDER BY total_dec DESC) AS rnk
        FROM monthly
    )
    SELECT store_id, sales_person_id, sales_month,
           CAST(total_dec AS DOUBLE) AS total_sales,
           CAST(CASE WHEN rnk = 1 THEN round(total_dec * 0.01, 2) ELSE 0 END AS DOUBLE) AS incentive
    FROM rk
    """,
    doc="Flagship: reference sales_team_data_mart (sales_data_mart_sql_transform.py:8-31).",
    bench=True,
)
def q_sales_team_mart(spark: SparkSession, sf_dir: str) -> DataFrame:
    mart = sales_team_mart(canonical_sales(load_tables(spark, sf_dir)))
    return mart.select(
        "store_id",
        "sales_person_id",
        "sales_month",
        F.col("total_sales").cast("double").alias("total_sales"),
        F.col("incentive").cast("double").alias("incentive"),
    )


@register(
    "customer_mart",
    _SALES_CTE
    + """
    SELECT s.customer_id, substring(s.sales_date, 1, 7) AS sales_month,
           CAST(round(SUM(s.total_cost), 2) AS DOUBLE) AS total_sales,
           max(c.full_name) AS full_name
    FROM sales s JOIN (SELECT c_custkey, max(c_name) AS full_name
                       FROM customer GROUP BY 1) c
      ON s.customer_id = c.c_custkey
    GROUP BY 1, 2
    """,
    doc="Reference customers_data_mart (customer_mart_sql_tranform_write.py:9-23).",
)
def q_customer_mart(spark: SparkSession, sf_dir: str) -> DataFrame:
    tables = load_tables(spark, sf_dir)
    sales = canonical_sales(tables)
    cust = tables["customer"].select(
        F.col("c_custkey").cast("int").alias("customer_id"), F.col("c_name").alias("full_name")
    )
    mart = customer_monthly_spend(sales, cust)
    return mart.select(
        "customer_id", "sales_month", F.col("total_sales").cast("double").alias("total_sales"), "full_name"
    )


# ---------------------------------------------------------------------------
# Aggregations (§2.4) — the full groupBy surface the reference lacks
# ---------------------------------------------------------------------------


@register(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
           CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                          * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS sum_disc_price,
           CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                          * (1 - CAST(l_discount AS DECIMAL(4,2)))
                          * (1 + CAST(l_tax AS DECIMAL(4,2)))), 2) AS DOUBLE) AS sum_charge,
           round(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
           round(CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / COUNT(*), 6) AS avg_disc,
           COUNT(*) AS count_order,
           MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1-shaped full aggregate surface: sum/avg/min/max/count (engine "
    "extension over reference's window-sum-only aggregation, SURVEY §2.4).",
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir)["lineitem"]
    li = li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
    disc_price = _dec("l_extendedprice") * (F.lit(1).cast(RATE) - _dec("l_discount", RATE))
    charge = disc_price * (F.lit(1).cast(RATE) + _dec("l_tax", RATE))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        _money_out(F.sum(_dec("l_quantity"))).alias("sum_qty"),
        _money_out(F.sum(_dec("l_extendedprice"))).alias("sum_base_price"),
        _money_out(F.sum(disc_price)).alias("sum_disc_price"),
        _money_out(F.sum(charge)).alias("sum_charge"),
        F.round(F.sum(_dec("l_quantity")).cast("double") / F.count("*"), 6).alias("avg_qty"),
        F.round(F.sum(_dec("l_discount", RATE)).cast("double") / F.count("*"), 6).alias("avg_disc"),
        F.count("*").alias("count_order"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
    )


@register(
    "filter_range_revenue",
    """
    SELECT CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                          * CAST(l_discount AS DECIMAL(4,2))), 2) AS DOUBLE) AS revenue,
           COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.04 AND 0.07
      AND l_quantity < 25
    """,
    doc="TPC-H Q6-shaped predicate stack (P5: range + between + comparison) — "
    "all filters push to the parquet scan.",
)
def q_filter_range_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir)["lineitem"]
    li = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_quantity") < 25)
    ).filter(F.col("l_discount").between(0.04, 0.07))
    return li.agg(
        _money_out(F.sum(_dec("l_extendedprice") * _dec("l_discount", RATE))).alias("revenue"),
        F.count("*").alias("n_rows"),
    )


@register(
    "distinct_pairs",
    "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    doc="A3/A4 — distinct as hash aggregate (parity: .distinct() collapse, "
    "customer_mart_sql_tranform_write.py:19; SELECT DISTINCT main.py:40-41).",
)
def q_distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_tables(spark, sf_dir)["lineitem"].select("l_returnflag", "l_linestatus").distinct()


@register(
    "rollup_qty",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="ROLLUP (engine extension; absent in reference — SURVEY §2.4).",
)
def q_rollup_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir)["lineitem"]
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        F.count("*").alias("n"),
    )


@register(
    "cube_qty",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    doc="CUBE (engine extension; absent in reference — SURVEY §2.4).",
)
def q_cube_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir)["lineitem"]
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        F.count("*").alias("n"),
    )


# ---------------------------------------------------------------------------
# Joins (§2.3)
# ---------------------------------------------------------------------------


@register(
    "join_star_enrich",
    """
    SELECT n.n_name AS nation, r.r_name AS region,
           COUNT(*) AS n_customers,
           CAST(round(SUM(CAST(c.c_acctbal AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY 1, 2
    """,
    doc="J1-J3 star enrichment: fact ⋈ broadcast(nation) ⋈ broadcast(region) "
    "(parity: dimension_tables_join.py:17-54).",
)
def q_join_star_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    cust, nation, region = t["customer"], t["nation"], t["region"]
    joined = cust.join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey, "inner"
    ).join(F.broadcast(region), nation.n_regionkey == region.r_regionkey, "inner")
    return (
        joined.select(F.col("n_name").alias("nation"), F.col("r_name").alias("region"), "c_acctbal")
        .groupBy("nation", "region")
        .agg(
            F.count("*").alias("n_customers"),
            _money_out(F.sum(_dec("c_acctbal"))).alias("sum_acctbal"),
        )
    )


@register(
    "join_semi_customers_with_orders",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    doc="left-semi join — the ledger 'already active' check re-expressed "
    "relationally (parity: main.py:39-49).",
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    orders = t["orders"].select(F.col("o_custkey").alias("c_custkey"))
    return t["customer"].select("c_custkey", "c_name").join(orders, "c_custkey", "left_semi")


@register(
    "join_anti_customers_without_orders",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    doc="left-anti join — 'not yet processed' complement of the ledger check.",
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    orders = t["orders"].select(F.col("o_custkey").alias("c_custkey"))
    return t["customer"].select("c_custkey", "c_name").join(orders, "c_custkey", "left_anti")


@register(
    "join_left_outer_order_counts",
    """
    SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY 1
    """,
    doc="left-outer join + count (engine extension; reference has inner only).",
)
def q_join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    c, o = t["customer"], t["orders"]
    return (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


# ---------------------------------------------------------------------------
# Windows / sorts / top-k (§2.5, §2.6)
# ---------------------------------------------------------------------------


@register(
    "topk_suppliers_per_nation",
    """
    WITH rev AS (
        SELECT l_suppkey, CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                              * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DECIMAL(18,2)) AS rev_dec
        FROM lineitem GROUP BY 1
    )
    SELECT s.s_nationkey, s.s_name, CAST(rev_dec AS DOUBLE) AS revenue,
           rank() OVER (PARTITION BY s.s_nationkey ORDER BY rev_dec DESC) AS rk
    FROM rev JOIN supplier s ON rev.l_suppkey = s.s_suppkey
    QUALIFY rk <= 2
    """,
    doc="O2/W3 — top-k per group via rank (reference keeps rank-1 via flag; "
    "engine adds true top-k, SURVEY §2.6).",
)
def q_topk_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    rev = t["lineitem"].groupBy("l_suppkey").agg(
        _money_out(F.sum(_dec("l_extendedprice") * (F.lit(1).cast(RATE) - _dec("l_discount", RATE)))).alias("revenue")
    )
    joined = rev.join(F.broadcast(t["supplier"]), rev.l_suppkey == t["supplier"].s_suppkey)
    out = ranked(
        joined.select("s_nationkey", "s_name", "revenue"),
        keys=["s_nationkey"],
        order=F.col("revenue").desc(),
        alias="rk",
    )
    return out.filter(F.col("rk") <= 2)


@register(
    "window_running_total",
    """
    SELECT l_suppkey, l_orderkey, l_linenumber,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)))
                OVER (PARTITION BY l_suppkey
                      ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
                      ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_qty
    FROM lineitem
    """,
    doc="Window frame rowsBetween(unboundedPreceding, currentRow) — engine "
    "extension (reference has only unbounded whole-partition sums W1/W2). "
    "The testdata's (l_orderkey, l_linenumber) is NOT unique (l_linenumber "
    "is random), so l_quantity joins the ordering: rows still tied after "
    "it have equal quantities, making every prefix sum order-invariant — "
    "without it the frame order is partition-dependent and the result "
    "nondeterministic in BOTH engines.",
)
def q_window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir)["lineitem"].withColumn("qty_dec", _dec("l_quantity"))
    out = running_total(
        li,
        keys=["l_suppkey"],
        order=asc_nulls_last("l_shipdate", "l_orderkey", "l_linenumber", "l_quantity"),
        value="qty_dec",
        alias="running_qty",
    )
    return out.select(
        "l_suppkey", "l_orderkey", "l_linenumber", F.col("running_qty").cast("double").alias("running_qty")
    )


@register(
    "window_lag_lead",
    """
    SELECT o_custkey, o_orderkey, o_totalprice,
           lag(o_totalprice) OVER w AS o_totalprice_lag,
           lead(o_totalprice) OVER w AS o_totalprice_lead
    FROM orders
    -- measured column appended as final tie-break: dup-keyed rows
    -- whose copies differ only in NULL pattern (dupnullmix probe,
    -- r12) otherwise tie, and lag/lead become engine-ordered
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey,
                 o_totalprice, o_orderstatus)
    """,
    doc="lag/lead analytics (engine extension, SURVEY §2.5 'absent' row).",
)
def q_window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir)["orders"]
    out = lag_lead(o, keys=["o_custkey"], order=asc_nulls_last("o_orderdate", "o_orderkey", "o_totalprice", "o_orderstatus"), value="o_totalprice")
    return out.select("o_custkey", "o_orderkey", "o_totalprice", "o_totalprice_lag", "o_totalprice_lead")


@register(
    "global_topk_orders",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
    doc="Global top-k → TakeOrderedAndProject (no full sort at scale).",
)
def q_global_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir)["orders"].select("o_orderkey", "o_totalprice")
    return o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey")).limit(10)


# ---------------------------------------------------------------------------
# Set operations (§2.7)
# ---------------------------------------------------------------------------

_BUILDING = "SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'"
_OPEN_ORDER_CUSTS = "SELECT DISTINCT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'O'"


def _setop_inputs(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    t = load_tables(spark, sf_dir)
    building = t["customer"].filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    open_custs = (
        t["orders"].filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("c_custkey")).distinct()
    )
    return building, open_custs


@register(
    "setop_union",
    f"SELECT c_custkey FROM ({_BUILDING}) UNION SELECT c_custkey FROM ({_OPEN_ORDER_CUSTS})",
    doc="U1 + distinct (parity: per-file union main.py:184-204; engine uses unionByName).",
)
def q_setop_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    a, b = _setop_inputs(spark, sf_dir)
    return a.unionByName(b).distinct()


@register(
    "setop_intersect",
    f"SELECT c_custkey FROM ({_BUILDING}) INTERSECT SELECT c_custkey FROM ({_OPEN_ORDER_CUSTS})",
    doc="INTERSECT (engine extension; absent in reference — SURVEY §2.7).",
)
def q_setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    a, b = _setop_inputs(spark, sf_dir)
    return a.intersect(b)


@register(
    "setop_except",
    f"SELECT c_custkey FROM ({_BUILDING}) EXCEPT SELECT c_custkey FROM ({_OPEN_ORDER_CUSTS})",
    doc="EXCEPT (engine extension; absent in reference — SURVEY §2.7).",
)
def q_setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    a, b = _setop_inputs(spark, sf_dir)
    return a.subtract(b)


# ---------------------------------------------------------------------------
# Scalar functions (§2.8) & month-string equivalence (F1 hard-part)
# ---------------------------------------------------------------------------


@register(
    "scalar_functions",
    """
    SELECT c_custkey,
           upper(c_name) AS name_upper,
           length(c_name) AS name_len,
           substring(c_mktsegment, 1, 3) AS seg3,
           c_name || ' ' || c_mktsegment AS name_seg,
           CASE WHEN c_acctbal < 0 THEN 'neg' ELSE 'pos' END AS bal_sign,
           coalesce(NULL, c_mktsegment) AS seg_coalesce
    FROM customer
    """,
    doc="F1-F8 scalar surface: substring/concat/when-otherwise/upper/length/"
    "coalesce (parity cites: customer_mart_sql_tranform_write.py:15-16, "
    "sales_data_mart_sql_transform.py:22-24, main.py:195,245). "
    "COLLATION CONTRACT (class-13 pin): upper() is Unicode full case "
    "mapping — upper('ß') = 'SS' vs DuckDB's 'ẞ'; engine side pinned.",
)
def q_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_tables(spark, sf_dir)["customer"]
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.length("c_name").alias("name_len"),
        F.substring("c_mktsegment", 1, 3).alias("seg3"),
        F.concat(F.col("c_name"), F.lit(" "), F.col("c_mktsegment")).alias("name_seg"),
        F.when(F.col("c_acctbal") < 0, "neg").otherwise("pos").alias("bal_sign"),
        F.coalesce(F.lit(None), F.col("c_mktsegment")).alias("seg_coalesce"),
    )


@register(
    "month_string_equiv",
    """
    SELECT substring(strftime(o_orderdate, '%Y-%m-%d'), 1, 7) AS month_str,
           strftime(o_orderdate, '%Y-%m') AS month_fmt,
           COUNT(*) AS n_orders
    FROM orders GROUP BY 1, 2
    """,
    doc="F1 hard-part: substring(date_string,1,7) ≡ date_format('yyyy-MM') — "
    "both computed, grouped together; any divergence would split groups "
    "(parity: main.py:245 vs engine-preferred date functions).",
)
def q_month_string_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir)["orders"]
    return (
        o.select(
            month_key(F.date_format("o_orderdate", "yyyy-MM-dd")).alias("month_str"),
            F.date_format("o_orderdate", "yyyy-MM").alias("month_fmt"),
        )
        .groupBy("month_str", "month_fmt")
        .agg(F.count("*").alias("n_orders"))
    )


@register(
    "json_extract_events",
    """
    SELECT event_id, event_type,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS prop_k
    FROM events
    """,
    doc="X4 — JSON prop extraction from events.props (SURVEY §2.11; "
    "engine uses get_json_object, JVM-side).",
)
def q_json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir)["events"]
    return e.select(
        "event_id",
        "event_type",
        F.get_json_object("props", "$.k").cast("int").alias("prop_k"),
    )


# Extension operators (text/dedup/similarity — SURVEY §2.11 + north star)
# register themselves on import; keep these imports last (registry_curated
# folds families of the earlier entries, so it must import after them).
from . import registry_ext  # noqa: E402,F401  (registration side effect)
from . import registry_events  # noqa: E402,F401  (registration side effect)
from . import registry_scalar  # noqa: E402,F401  (registration side effect)
from . import registry_tpch  # noqa: E402,F401  (registration side effect)
from . import registry_curated  # noqa: E402,F401  (registration side effect)
from . import registry_maintenance  # noqa: E402,F401  (registration side effect)
from . import registry_modern_sql  # noqa: E402,F401  (registration side effect)

#: The verification driver oracle-checks only the FIRST 50 registered
#: queries, so this list pins an explicit order where those 50 cover every
#: SURVEY §2 operator row and every LLM-pipeline extension exactly once
#: (umbrella entries fold multi-variant families). Everything NOT listed
#: here — the umbrella constituents and equivalence demos — keeps its
#: registration order after the window: pytest still oracle-checks all of
#: them, and a cap-free driver checks everything.
CHECKED_WINDOW: tuple[str, ...] = (
    # flagship marts + core aggregation
    "sales_team_mart",
    "customer_mart",
    "pricing_summary",
    "distinct_pairs",
    "agg_grouping_variants",
    # r13 rotation (VERDICT r12 item 9 — toward the r12-changed
    # surfaces): the TWAP readout (total-order tie-breaks + the
    # DECIMAL(38) numerator recipe, extreme/dupnullmix-changed)
    # replaces the time-capped funnel (driver-green r11+r12, to the
    # tail)
    "events_twap_value",
    # r13: business-day latency (the floor-div + pmod sign fork fix
    # from the extreme axis) replaces triangle cliques (driver-green
    # r9-r12, to the tail; graph_bfs_levels keeps the graph rep)
    "orders_business_day_latency",
    # joins (anti rep rotated to the tail r6; semi + a TPC-H rep cover
    # the row). r13: q13 (driver-green r?-r12) to the tail
    "join_semi_customers_with_orders",
    "q5_local_supplier_volume",
    # sorts / top-k / windows (frames rep rotated r6, global top-k and
    # the analytics-suite umbrella rotated r7 — topk_suppliers keeps the
    # O/W rows; ignore-nulls navigation gets its first driver check)
    "topk_suppliers_per_nation",
    "window_ignore_nulls_family",
    # set ops (multiset rep rotated to the tail r6)
    "setop_union_compat",
    # scalar / date / array / json / modern SQL / UDF surface
    # (subqueries_combined rotated to the tail r7; the recursive-CTE
    # month spine represents the modern-SQL family in the window)
    "scalar_string_functions",
    "date_null_predicates",
    # LM rep rotated r11: CDC content-defined chunking (both readouts
    # moved to try_divide in the r10 empty sweep, never driver-checked)
    # replaces the BPE merge trainer (driver-green r10, to the tail)
    "text_cdc_chunking",
    "json_functions",
    "sql_recursive_month_spine",
    "udf_surface",
    # skew reps rotated r7: the salted JOIN (r6 surface, salt-keyed
    # shuffle plan test) replaces the salted-sum aggregate
    "join_skew_salted",
    # stats rep rotated r11: the two-proportion z-test (rewritten from
    # filter+crossJoin to one conditional aggregate in the r10 empty
    # sweep, never driver-checked) replaces Welch (driver-green r10
    # including its identical rewrite; KS keeps the second stats slot)
    "stats_two_proportion_z",
    # events: batch windows, as-of / interval joins, streaming
    # (session_windows + stream_stream_join rotated to the tail r6;
    # sessionization is now represented by events_session_funnel)
    "events_tumbling_counts",
    "interval_join_click_error",
    # streaming reps rotated r10 (VERDICT r9 item 4); r13: the hourly
    # gap-fill interpolation (sanity-domain intake + the descending-
    # prefix frame rewrite, both extreme-axis changes) replaces the
    # dynamic-gap sessionizer (driver-green r10-r12, to the tail)
    "events_hourly_interpolate",
    "stream_sliding_counts",
    # events analytics reps, rotated r8 (VERDICT r7 #3): the r6 cohort
    # (session funnel, RFM, basket affinity — driver-green r6+r7) moves
    # to the tail; the round-7 additions DAU/MAU stickiness and Shapley
    # attribution get their first driver check. Transition matrix and
    # CDC stay (Markov + maintenance rows keep their window rep).
    # r12 rotation (VERDICT r11 item 5 — toward the ~90 query/oracle
    # pairs the r11 fix classes changed): CUSUM changepoint (its flaky
    # NULL-hour oracle was fixed in the nullmix sweep, never driver-
    # checked) and BFS levels (back per the verdict's shortlist; graph
    # family second rep) replace DAU/MAU stickiness and Shapley
    # attribution (both driver-green r8-r11, to the tail)
    "events_cusum_changepoint",
    "graph_bfs_levels",
    # events analytics rotated r11: the robust-z hourly anomaly readout
    # (try_divide'd in the r10 single-row sweep, never driver-checked)
    # replaces the hourly ACF (driver-green r10); the DQ rule engine
    # (SUM-over-empty coalesce + try_divide pass_rate, changed r10)
    # replaces mix-shift decomposition (driver-green r9+r10)
    "events_hourly_robust_z",
    "dq_rule_engine",
    "cdc_apply_changes",
    # temporal-join family rotated r12: SCD2 segment maintenance (its
    # change detection went null-safe <=> / IS NOT DISTINCT FROM in the
    # nullmix sweep) replaces the point-in-time join built on its
    # output (driver-green r7-r11, to the tail)
    "scd2_customer_segments",
    # r13: the nearest as-of join (the r12 struct-carry payload fix —
    # a NULL payload of the matched row no longer inherits an older
    # row's value — plus the O(n) descending-prefix frame rewrite)
    # gets its first driver check since those changes
    "asof_nearest_click_purchase",
    # stats second rep: KS two-sample (r7 surface) alongside Welch
    "stats_ks_two_sample",
    # r12: the trimmed mean (rank statistic riding the NULL-is-not-a-
    # sample intake rule from the nullmix sweep, never driver-checked)
    # replaces the KMV distinct sketch (driver-green r8-r11, to the tail)
    "stats_trimmed_mean",
    # LLM-pipeline extensions: text, dedup, similarity, multimodal, sampling
    # (winnow fingerprint, doc chunking, substring-span dedup and SCD2 —
    # all driver-green r5/r6+r7 — rotated to the tail r8; their families
    # keep text_profile/pii/repetition, dedup_exact/clusters/minhash,
    # and cdc_apply_changes as window reps)
    "text_profile",
    "text_pii_scrub",
    "text_repetition_score",
    # r13: the winnowing fingerprint returns (the r12 bigdoc O(len²)
    # explode fix + the 64 KiB prefix cap mirrored in its oracle —
    # driver-unchecked since those changes; green r5-r7 in its old form)
    "text_winnow_fingerprint",
    "pack_training_sequences",
    "dedup_exact",
    "dedup_cluster_components",
    "contamination_ngram_overlap",
    # r8 rotation: n-gram containment (asymmetric near-dup, r7 surface)
    "dedup_containment",
    "sim_cosine_topk",
    # r10 rotation: dedup_minhash_lsh returns (heavy banded-bucket-join
    # pipeline, in the tail since r9 — VERDICT r9 item 4 asked for a
    # fresh datapoint); sim_embedding_clusters (driver-green r9, sf1-
    # verified via the gap tool) moves to the tail
    # r12: the blocklist screen (NULL-stratum lookup join went
    # null-safe in the nullmix sweep) replaces minhash LSH (driver-
    # green r10+r11, to the tail; it keeps its bench rung)
    "text_blocklist_screen",
    # X7 rep rotated r11: the PCA top-component power iteration (its
    # zero-norm renormalize changed in the r10 single-row sweep, never
    # driver-checked) replaces the composed IVF+quantized rep (driver-
    # green r9+r10 and hash-verified at sf1/sf3; it and plain IVF stay
    # registered in the tail, pytest-oracle-checked). Earlier ANN
    # window history: r7 IVF-PQ replaced the LSH rep; r8 the persisted
    # SERVE path replaced sim_embedding_near_dup.
    "embedding_pca_top_component",
    # r9 rotation: the persisted-index APPEND (new r8 surface, append==
    # rebuild oracle) replaces the per-call-rebuild ivf_pq_topk (driver-
    # green r7+r8; it stays registered as the build-cost datapoint)
    # r12: auto-rekeyed IVF-PQ serving on a gapped id space (the
    # round's headline surface — rekey_dense + auto_rekey intakes)
    # replaces the persisted-index append (driver-green r9-r11, to the
    # tail; its oracle is the same _SQL_IVF_PQ that still covers serve)
    "sim_ivf_pq_rekeyed_topk",
    "sim_ivf_pq_index_serve",
    "multimodal_featurize",
    "sample_deterministic",
    # sampling second rep rotated r10 (mixture epochs, green r10-r12,
    # to the tail r13 — the five r13 in-rotations are the r12-changed
    # surfaces named by VERDICT r12 item 9)
    "corpus_curation_pipeline",
)


def _finalize_order() -> None:
    """Reorder QUERIES so CHECKED_WINDOW comes first, tail order preserved."""
    missing = [n for n in CHECKED_WINDOW if n not in QUERIES]
    if missing:
        raise RuntimeError(f"CHECKED_WINDOW names not registered: {missing}")
    ordered = {n: QUERIES[n] for n in CHECKED_WINDOW}
    for n, q in list(QUERIES.items()):
        if n not in ordered:
            ordered[n] = q
    QUERIES.clear()
    QUERIES.update(ordered)


_finalize_order()
