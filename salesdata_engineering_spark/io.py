"""Sinks (SURVEY §2.1 S4-S6) and layout helpers.

Parity targets in /root/reference:
- S4 plain overwrite parquet: src/main/write/parquet_writer.py:8-19
- S5 partitioned parquet (sales_month, store_id): main.py:260-261 —
  the layout that makes month/store predicates prune at read time
- S6 JDBC append: src/main/write/database_write.py:8-17 — kept as an
  optional adapter; the engine's default serving copy is parquet.

Scale notes: partitionBy writes one directory per key combo — keep the
leading partition column low-cardinality (months), bucket the
high-cardinality co-location key instead. ``write_bucketed`` gives the
shuffle-free join layout (saveAsTable required: bucket metadata lives
in the catalog).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S4 — plain parquet sink."""
    df.write.mode(mode).parquet(path)


def write_parquet_partitioned(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str],
) -> None:
    """S5 — partitioned overwrite; equality/IN predicates on the
    partition columns prune directories at read time (verified in tests
    via the scan's PartitionFilters).

    The frame is repartitioned by the partition columns first — the
    standard small-files guard: without it EVERY task writes a file
    into EVERY partition directory it touches (measured: 3,200+ files
    and 18 s for the sf0.01 mart writes; one file per directory and ~4x
    faster with the shuffle). At 100 TB this is also the correct shape —
    hash-clustered writers, with ``spark.sql.files.maxRecordsPerFile``
    as the hot-partition splitter."""
    if partition_by:
        df = df.repartition(*[df[c] for c in partition_by])
    df.write.mode("overwrite").partitionBy(*partition_by).parquet(path)


def write_partition_overwrite_dynamic(
    df: DataFrame, path: str, partition_by: Sequence[str]
) -> None:
    """S5b — INCREMENTAL partitioned overwrite: replace ONLY the
    partition directories present in ``df``, leaving every other
    partition untouched (``partitionOverwriteMode=dynamic``). This is
    the daily-mart reload primitive: a day's delta overwrites that
    day's directories idempotently where static overwrite mode would
    silently TRUNCATE the whole table to the delta. The mode is set as
    a per-WRITE DataFrameWriter option — never the session conf, which
    is global: a set-then-restore around the write would leak dynamic
    mode to any concurrent same-session writer (re-enabling the
    whole-table-truncation hazard) and can restore the wrong value
    under interleaving. Same cluster-first small-files guard as
    write_parquet_partitioned."""
    if partition_by:
        df = df.repartition(*[df[c] for c in partition_by])
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(path)
    )


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_by: Sequence[str],
    n_buckets: int,
    sort_by: Sequence[str] = (),
    mode: str = "overwrite",
) -> None:
    """Bucketed catalog table: co-locates join/agg keys so repeated
    joins on ``bucket_by`` skip the shuffle entirely (engine extension;
    the 100 TB answer to the reference's every-run re-shuffle)."""
    w = df.write.mode(mode).bucketBy(n_buckets, *bucket_by)
    if sort_by:
        w = w.sortBy(*sort_by)
    w.saveAsTable(table)


def write_jdbc(df: DataFrame, url: str, table: str, properties: dict[str, str], mode: str = "append") -> None:
    """S6 — JDBC adapter (optional; parity with database_write.py:8-17).
    Executors write partitions concurrently; size partitions so the
    target DB survives the fan-in."""
    df.write.jdbc(url, table, mode=mode, properties=properties)


def read_jdbc(
    spark,
    url: str,
    table: str,
    properties: dict[str, str],
    partition_column: str | None = None,
    lower_bound: int | str | None = None,
    upper_bound: int | str | None = None,
    num_partitions: int | None = None,
    predicates: Sequence[str] | None = None,
) -> DataFrame:
    """S3 — JDBC source (parity: reference DatabaseReader,
    src/main/read/database_read.py:6-10).

    The reference reads a table over one connection; at scale that is a
    single-task scan, so this adapter exposes Spark's parallel-read
    knobs: either ``partition_column`` + bounds + ``num_partitions``
    (stride-partitioned WHERE clauses, one connection per partition) or
    an explicit ``predicates`` list (one partition per predicate).
    Catalyst pushes filters/projections into the generated SQL.
    Untestable in this sandbox (no JDBC driver jar is baked in) — the
    call-path wiring is unit-tested up to the JDBC layer and documented
    as an adapter, mirroring write_jdbc.
    """
    if predicates is not None:
        return spark.read.jdbc(url, table, predicates=list(predicates), properties=properties)
    if partition_column is not None:
        if None in (lower_bound, upper_bound, num_partitions):
            raise ValueError(
                "partition_column requires lower_bound, upper_bound and num_partitions"
            )
        return spark.read.jdbc(
            url,
            table,
            column=partition_column,
            lowerBound=lower_bound,
            upperBound=upper_bound,
            numPartitions=num_partitions,
            properties=properties,
        )
    return spark.read.jdbc(url, table, properties=properties)


SUPPORTED_FORMATS = ("parquet", "orc", "json", "csv")


def write_table(df: DataFrame, path: str, fmt: str = "parquet", mode: str = "overwrite") -> None:
    """Format-generic sink over Spark's native columnar/row sources.

    parquet and orc carry types and column stats (both prune and push
    down); json/csv are interchange edges — csv needs header=true to
    round-trip column names, and neither pushes filters, so they belong
    at the boundary of a pipeline, never in the middle of one."""
    if fmt not in SUPPORTED_FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {SUPPORTED_FORMATS}")
    w = df.write.mode(mode).format(fmt)
    if fmt == "csv":
        w = w.option("header", "true")
    w.save(path)


def read_table(spark, path: str, fmt: str = "parquet", schema: str | None = None) -> DataFrame:
    """Format-generic scan; pass ``schema`` (DDL) for json/csv so types
    survive the round trip — inference is a convenience for exploration,
    not a contract (and costs an extra pass over the data)."""
    if fmt not in SUPPORTED_FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {SUPPORTED_FORMATS}")
    r = spark.read.format(fmt)
    if schema:
        r = r.schema(schema)
    if fmt == "csv":
        r = r.option("header", "true")
    return r.load(path)
