"""SparkSession builder tuned for this engine.

The reference builds a bare local session with default configs
(`src/main/utility/spark_session.py:10-13` in /root/reference). We instead
pin the settings that matter for correctness parity and for scale:

- ``spark.sql.session.timeZone=UTC``: parquet timestamps must render
  identically in Spark and the DuckDB oracle (DuckDB is UTC-naive).
- AQE on (+ partition coalescing + skew-join splitting): at 100 TB the
  static plan is always wrong somewhere; AQE re-plans from runtime stats.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster this should be ~2-3x total cores or driven by
  ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` (AQE coalescing
  makes the static number much less sensitive).
- Arrow enabled so any Pandas-UDF extension operators move data in
  vectorized batches instead of pickled rows. Driver-side rows the
  engine turns into a frame itself (index artifacts, probe sets, the
  empty ledger snapshot, small registry constants) go through
  :func:`local_frame`, which builds them as an Arrow table whatever
  that setting says: Spark gets a ``LocalRelation`` and no Python
  worker is ever started for it. Ledger marks are not frames at all:
  ``ingest.FileLedger.record`` writes its parquet part on the driver.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, _make_type_verifier


def get_spark(
    app_name: str = "salesdata-engineering-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` for local parallelism so bench.py and the
    driver agree on the core count.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else max(os.cpu_count() or 8, 8)
    if driver_memory is None:
        driver_memory = os.environ.get("SPARK_DRIVER_MEMORY", "16g")

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE keep small shuffles wide enough to use every core:
        # the 1 MiB default floor coalesces CPU-bound stages over small
        # inputs down to 1-2 tasks. At scale the 64 MiB advisory target
        # governs; this floor only binds on small/local data.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.io.compression.codec", "zstd")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # The testdata parquet carries INT64 TIMESTAMP(NANOS,...) which Spark
        # rejects by default; read as long and convert in datasets.load_tables.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(
    spark: SparkSession, rows: Sequence[Sequence], schema: StructType | str
) -> DataFrame:
    """A frame over a few driver-side rows (tuples or ``Row``s in schema
    order; ``schema`` is a StructType or a DDL string), built as a
    ``pyarrow.Table`` so the plan leaf is a ``LocalRelation``.

    ``createDataFrame(list)`` pickles the rows into a Python RDD, and the
    first job that reads one makes the JVM fork a ``pyspark.daemon``
    worker -- again in every fresh session, since ``spark.stop()`` kills
    it. An Arrow table reaches the JVM as Arrow batches, so nothing on
    the executor side runs Python.

    Each row still goes through the verifier ``createDataFrame`` runs
    (a wrong-typed value raises), so the Arrow conversion never coerces
    a value the row path would have rejected. Timestamps are not used
    by any caller: Arrow reads a naive ``datetime`` as UTC, the row path
    as the driver's local time.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    verify = _make_type_verifier(schema)
    for row in rows:
        verify(row)
    arrow = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)
