"""The two data-mart pipelines — the reference's flagship queries.

Parity targets (in /root/reference):
- customers_data_mart: `src/main/transformations/jobs/
  customer_mart_sql_tranform_write.py:9-23` — per (customer, month) total
  spend, carrying full_name.
- sales_team_data_mart: `sales_data_mart_sql_transform.py:8-31` — per
  (store, salesperson, month) total sales, rank-1-per-(store,month) gets a
  1% incentive (ties share rank 1 and both get paid — observable
  semantics, kept).

The reference computes both with window-sum + distinct; the engine uses
groupBy (see ops.aggregations) — the equivalence is tested. Inputs are the
canonical sales fact (datasets.canonical_sales) plus dimension frames.

Scale design: the fact→mart path is one shuffle (the groupBy on the mart
keys); the rank window re-shuffles only the *aggregated* rows (group
cardinality ≈ |stores|×|salespeople|×|months| — tiny vs the fact), so the
second exchange is negligible. Dimension attributes join onto the
aggregated frame broadcast-style, never onto the raw fact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .functions import incentive, month_key
from .ops.aggregations import grouped_sum
from .ops.windows import ranked
from .schemas import MONEY


def customer_monthly_spend(sales: DataFrame, customers: DataFrame | None = None) -> DataFrame:
    """customers_data_mart: one row per (customer_id, sales_month).

    ``customers`` (optional) supplies display attributes — joined
    broadcast onto the aggregated (small) frame, mirroring the
    reference's carried columns (full_name/address/phone_number).

    The dim is deduplicated by key first (max() per attribute — a
    total order, not dropDuplicates' arbitrary pick): a duplicated
    customer_id would otherwise multiply mart rows through the join
    (bug class 9). Real 100-TB dims violate PK contracts routinely;
    a lookup must stay a lookup. Free on valid dims (groupBy over an
    already-unique broadcast-size key).
    """
    # round-then-cast: DuckDB's decimal CAST truncates while Spark's
    # rounds HALF_UP, but both engines' round() agree (half away from
    # zero) — so the lossy step must always be an explicit round.
    agg = grouped_sum(
        sales.withColumn("sales_month", month_key("sales_date")),
        keys=["customer_id", "sales_month"],
        value="total_cost",
        alias="total_sales",
    ).withColumn("total_sales", F.round("total_sales", 2).cast(MONEY))
    if customers is not None:
        attrs = [c for c in customers.columns if c != "customer_id"]
        dim = customers.groupBy("customer_id").agg(
            *[F.max(c).alias(c) for c in attrs]
        )
        agg = agg.join(F.broadcast(dim), "customer_id", "left")
    return agg


def sales_team_mart(sales: DataFrame) -> DataFrame:
    """sales_team_data_mart: per (store, salesperson, month) totals with
    rank-based incentive. rank() keeps the reference's tie semantics."""
    monthly = grouped_sum(
        sales.withColumn("sales_month", month_key("sales_date")),
        keys=["store_id", "sales_person_id", "sales_month"],
        value="total_cost",
        alias="total_sales",
    ).withColumn("total_sales", F.round("total_sales", 2).cast(MONEY))
    ranked_df = ranked(
        monthly,
        keys=["store_id", "sales_month"],
        order=F.col("total_sales").desc(),
        alias="rnk",
    )
    return ranked_df.select(
        "store_id",
        "sales_person_id",
        "sales_month",
        "total_sales",
        incentive(F.col("total_sales"), F.col("rnk")).alias("incentive"),
    )
