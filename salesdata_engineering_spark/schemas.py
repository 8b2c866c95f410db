"""Canonical schemas and the schema contract.

The reference validates incoming daily sales CSVs against a fixed
mandatory-column contract (`resources/dev/config.py:40`) and tolerates
extra columns by folding them into a single string column literally named
``"additional column"`` (`src/main/transformations/jobs/main.py:189-202`).
The column contract and the fold live in ``ingest``; this module pins the
types as explicit StructTypes — the engine never relies on ``inferSchema``
for production reads.

Money aggregates as DECIMAL(18,2): the reference mixes CSV-inferred doubles
with MySQL DECIMAL(10,2) DDL (`resources/sql_scripts/table_scripts.sql:72-73`);
the marts round each sum to cents and cast it to ``MONEY``, and the
testdata fact carries ``MONEY`` from the parquet boundary on — which is
also what makes the DuckDB differential oracle hash-stable (float sums are
order-dependent; decimal sums are not).
"""

from __future__ import annotations

from pyspark.sql import types as T

MONEY = T.DecimalType(18, 2)

#: CSV read contract for the mandatory sales columns (ingest.union_files
#: types each file's header from it; surplus columns read as STRING).
#: Money is DOUBLE at read time, not MONEY: landing files carry more than
#: two decimals (total_cost = price * (1 - discount), e.g. 57000.6892), and
#: a DECIMAL(18,2) read would round every row before the sum. The marts
#: cast to MONEY only after ``round(sum, 2)``.
RAW_SALES_SCHEMA = T.StructType(
    [
        T.StructField("customer_id", T.IntegerType()),
        T.StructField("store_id", T.IntegerType()),
        T.StructField("product_name", T.StringType()),
        T.StructField("sales_date", T.DateType()),
        T.StructField("sales_person_id", T.IntegerType()),
        T.StructField("price", T.DoubleType()),
        T.StructField("quantity", T.IntegerType()),
        T.StructField("total_cost", T.DoubleType()),
    ]
)

#: File-processing ledger as ingest.FileLedger writes it: an append-only
#: log of (file, status, seq) rows (parity: product_staging_table,
#: resources/sql_scripts/table_scripts.sql:1-8). Status 'A' = in-flight,
#: 'I' = done; the latest seq per file is its current status.
LEDGER_SCHEMA = T.StructType(
    [
        T.StructField("file_name", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("seq", T.LongType()),
    ]
)

#: Driver testdata table names (TESTDATA.md).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
