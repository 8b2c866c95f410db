"""Loaders for the driver's testdata and the canonical-fact mapping.

``load_tables`` reads the TPC-H-ish parquet tables. ``canonical_sales``
re-expresses them in the reference's fact shape (FIXTURES.md §6 mapping):

    lineitem ⋈ orders ⋈ customer →
        customer_id      = o_custkey      (purchasing customer)
        store_id         = c_nationkey    (store-analog small dim key)
        product_name     = p_name via l_partkey (when parts=True)
        sales_date       = o_orderdate as 'yyyy-MM-dd' string (the
                           reference carries dates as strings and slices
                           months with SUBSTRING — main.py:245)
        sales_person_id  = l_suppkey      (10 suppliers ≈ 10 salespeople)
        price            = l_extendedprice  DECIMAL(18,2)
        quantity         = l_quantity       int
        total_cost       = price * (1 - l_discount) in exact decimal

All money arithmetic stays in DecimalType so sums are exact and
order-independent (see schemas.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schemas import MONEY, TESTDATA_TABLES

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

#: Testdata columns physically stored as INT64 TIMESTAMP(NANOS). Spark reads
#: them as nano-epoch longs (spark.sql.legacy.parquet.nanosAsLong); we
#: convert to TimestampType with *integer* division (nanos DIV 1000 →
#: micros — float division would lose precision above 2^53).
NANO_TS_COLS: dict[str, tuple[str, ...]] = {
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
    "events": ("ts",),
}


def _restore_timestamps(name: str, df: DataFrame) -> DataFrame:
    for col in NANO_TS_COLS.get(name, ()):
        if col in df.columns and dict(df.dtypes)[col] == "bigint":
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` DIV 1000")))
    return df


class _LazyTables(dict):
    """Name → DataFrame mapping that opens each parquet table on first access.

    Laziness matters beyond saving scan setup: a caller-supplied session may
    reject a table another query needs (e.g. events.parquet's
    INT64 TIMESTAMP(NANOS) column on a session without the nanosAsLong
    conf) — queries must never fail on tables they don't touch.
    """

    def __init__(self, spark: SparkSession, sf_dir: str):
        super().__init__()
        self._spark = spark
        self._sf_dir = sf_dir

    def __missing__(self, name: str) -> DataFrame:
        if name not in TESTDATA_TABLES:
            raise KeyError(name)
        df = _restore_timestamps(
            name, self._spark.read.parquet(f"{self._sf_dir}/{name}.parquet")
        )
        self[name] = df
        return df


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Lazy name→DataFrame mapping over the testdata parquet tables.

    Works on ANY caller-supplied session (the correctness driver builds a
    bare one): the testdata stores some timestamp columns as INT64
    TIMESTAMP(NANOS), which Spark rejects unless
    ``spark.sql.legacy.parquet.nanosAsLong`` is set — a runtime-settable
    conf, so we pin it here rather than relying on session.get_spark.
    UTC session time keeps timestamp rendering aligned with DuckDB.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return _LazyTables(spark, sf_dir)


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load tables and register each as a temp view for spark.sql use."""
    tables = load_tables(spark, sf_dir)
    for name in TESTDATA_TABLES:
        tables[name].createOrReplaceTempView(name)
    return tables


def canonical_sales(tables: dict[str, DataFrame]) -> DataFrame:
    """Build the reference-shaped sales fact from the testdata star schema.

    Joins are fact ⋈ broadcast(dim): `orders` is bigger than the dims but
    still broadcastable at test scale; at 100 TB `orders` would be a
    shuffle-hash/sort-merge join on l_orderkey while `customer` stays
    broadcast — Catalyst + AQE pick per-size, we hint only the
    genuinely-small side. (Parity: the dimension joins at
    `src/main/transformations/jobs/dimension_tables_join.py:17-54`.)
    ``product_name`` is ``part_<l_partkey>``, with no join to ``part``.
    """
    from .ops.partitioning import spread

    # spread: a single small lineitem file is ONE input split, serializing
    # the whole fused scan+join+agg map stage on local data; the guard
    # makes it a no-op once the fact spans >= cores worth of splits
    # (measured: sales_team_mart 2.3 s -> 1.6 s median at sf0.1)
    li, orders, cust = spread(tables["lineitem"]), tables["orders"], tables["customer"]
    fact = (
        li.join(orders, li.l_orderkey == orders.o_orderkey, "inner")
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey, "inner")
    )
    price = F.col("l_extendedprice").cast(MONEY)
    discount = F.col("l_discount").cast(MONEY)
    return fact.select(
        F.col("o_custkey").cast("int").alias("customer_id"),
        F.col("c_nationkey").cast("int").alias("store_id"),
        F.concat(F.lit("part_"), F.col("l_partkey").cast("string")).alias("product_name"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("sales_date"),
        F.col("l_suppkey").cast("int").alias("sales_person_id"),
        price.alias("price"),
        F.col("l_quantity").cast("int").alias("quantity"),
        (price * (F.lit(1).cast(MONEY) - discount)).alias("total_cost"),
    )


#: DuckDB CTE mirroring canonical_sales — prefix for
#: oracle SQL strings that consume the canonical fact.
CANONICAL_SALES_SQL = """
    SELECT CAST(o.o_custkey AS INTEGER)  AS customer_id,
           CAST(c.c_nationkey AS INTEGER) AS store_id,
           'part_' || CAST(l.l_partkey AS VARCHAR) AS product_name,
           strftime(o.o_orderdate, '%Y-%m-%d') AS sales_date,
           CAST(l.l_suppkey AS INTEGER) AS sales_person_id,
           CAST(l.l_extendedprice AS DECIMAL(18,2)) AS price,
           CAST(l.l_quantity AS INTEGER) AS quantity,
           CAST(l.l_extendedprice AS DECIMAL(18,2))
             * (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2)))
             AS total_cost
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
"""
