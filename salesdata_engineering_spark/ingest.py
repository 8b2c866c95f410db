"""File-ingestion lifecycle (SURVEY §2.1 S1-S8, §3.1 steps 1-5, 9).

The reference's pipeline (in /root/reference): list S3 keys
(src/main/read/aws_read.py:7-22), download locally
(download/aws_file_download.py:12-25), probe each CSV header
(main.py:110-121), route schema-violating files to error dirs
(main.py:127-140, move/move_files.py:26-62), track per-file status
A(ctive)/I(nactive) in a MySQL staging table (main.py:39-49,157-174,
318-334), fold surplus columns into a catch-all string column literally
named "additional column" (main.py:189-202), and positional-union
everything onto an empty seed frame (main.py:183-204).

Engine re-expression, Spark-first:

- No download step: Spark reads object-store paths directly.
- The ledger is an append-only parquet log; "which files are new" is
  one filtered scan of it, not cursor SQL.
- Union is ``unionByName(allowMissingColumns=True)`` over per-header
  frames; the "additional column" fold is kept as an explicit compat
  op (exact name with the space, main.py:195-197).
- File moves go through the Hadoop filesystem module (``fsops``) and
  work on any FS the JVM can mount.

Scale: validation reads only each CSV's first line, through the Hadoop
FileSystem on the driver (no Spark job). The data scan is one
multi-path ``spark.read.csv`` per distinct header, typed from the
header and ``schemas.RAW_SALES_SCHEMA`` — no inference pass — so a
drop whose files share a header is a single source, and partition
count follows file splits, not file count.

The ledger's control plane stays off the Spark job path where that is
safe: a status mark is one parquet part of a few rows, encoded with
pyarrow on the driver and published by one rename (``fsops.fs_put``),
so it runs no Spark job. Its reads stay on Spark, where they must
scale with the log: ``pending`` is one schema-pinned scan filtered to
the drop's file names, so its collect is bounded by the drop's own
history, not the ledger's, and the latest status per file is resolved
in Python from those rows.
"""

from __future__ import annotations

import csv
import io
import uuid
from contextlib import closing
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .fsops import fs_exists, fs_lines, fs_list, fs_move, fs_put
from .functions import fold_extra_columns
from .schemas import LEDGER_SCHEMA, RAW_SALES_SCHEMA
from .session import local_frame

#: the reference's mandatory-column contract (resources/dev/config.py:40)
MANDATORY_COLUMNS: tuple[str, ...] = (
    "customer_id",
    "store_id",
    "product_name",
    "sales_date",
    "sales_person_id",
    "price",
    "quantity",
    "total_cost",
)

#: exact catch-all name — WITH the space (main.py:195-197)
ADDITIONAL_COLUMN = "additional column"

STATUS_ACTIVE = "A"
STATUS_DONE = "I"


@dataclass
class ValidationResult:
    ok: list[str] = field(default_factory=list)
    rejected: dict[str, list[str]] = field(default_factory=dict)  # path -> missing cols
    headers: dict[str, list[str]] = field(default_factory=dict)  # ok path -> its header


#: the characters Java's ``String.trim`` strips (Spark's blank-line test)
_JAVA_TRIM = "".join(map(chr, range(0x21)))


def probe_columns(spark: SparkSession, path: str) -> list[str]:
    """S1 — header probe (parity: main.py:113): the column names
    ``spark.read.csv(path, header=True).columns`` gives, without a Spark
    job. The first non-blank line is read through the Hadoop FileSystem
    (so every scheme a Spark read reaches works) and parsed with ``csv``;
    a leading UTF-8 BOM is dropped, and empty or duplicate names are
    renamed the way Spark's CSV reader renames them."""
    with closing(fs_lines(spark, path)) as lines:
        raw = next(lines, "").removeprefix("\ufeff")  # UTF-8 BOM
        while raw is not None and not raw.strip(_JAVA_TRIM):
            raw = next(lines, None)
    if raw is None:
        return []
    names = next(csv.reader([raw]))
    case_sensitive = spark.conf.get("spark.sql.caseSensitive", "false") == "true"
    keys = [n if case_sensitive else n.lower() for n in names]
    dups = {k for k in keys if keys.count(k) > 1}
    return [
        f"_c{i}" if not n else f"{n}{i}" if k in dups else n
        for i, (n, k) in enumerate(zip(names, keys))
    ]


def validate_files(
    spark: SparkSession,
    paths: list[str],
    mandatory: tuple[str, ...] = MANDATORY_COLUMNS,
) -> ValidationResult:
    """Set-difference each file's header against the contract
    (parity: main.py:110-121). Missing columns ⇒ whole-file reject;
    an accepted file's header is kept for :func:`union_files`."""
    res = ValidationResult()
    for p in paths:
        header = probe_columns(spark, p)
        missing = sorted(set(mandatory) - set(header))
        if missing:
            res.rejected[p] = missing
        else:
            res.ok.append(p)
            res.headers[p] = header
    return res


def route_rejected(
    spark: SparkSession, rejected: dict[str, list[str]], error_dir: str
) -> list[str]:
    """Move rejected files to the error directory, created if missing
    (parity: main.py:127-140 + move_files.py:26-62), through
    :func:`.fsops.fs_move` on whatever FileSystem the paths resolve to;
    returns the destination paths."""
    return [fs_move(spark, p, error_dir) for p in rejected]


def _read_group(
    spark: SparkSession,
    paths: list[str],
    header: list[str],
    mandatory: tuple[str, ...],
) -> DataFrame:
    """One scan of files sharing ``header``, typed from it in header
    order (mandatory columns from the contract, surplus ones STRING),
    then the extra-column fold."""
    typed = {f.name: f.dataType for f in RAW_SALES_SCHEMA if f.name in mandatory}
    schema = T.StructType([T.StructField(c, typed.get(c, T.StringType())) for c in header])
    extra = [c for c in header if c not in mandatory]
    fold = fold_extra_columns(extra) if extra else F.lit(None).cast("string")
    # enforceSchema keeps its default: each scan task still compares its
    # file's header with the schema and logs a mismatch, while
    # enforceSchema=false would fail every file whose header Spark
    # renames (empty or duplicate names: "note,note" -> note8, note9)
    df = spark.read.csv(paths, header=True, schema=schema)
    # df[c] takes one py4j call per column; a name passed to select goes
    # through F.col, several times slower (this layer is py4j and planning time)
    return df.select(*(df[c] for c in mandatory), fold.alias(ADDITIONAL_COLUMN))


def read_with_fold(
    spark: SparkSession,
    path: str,
    mandatory: tuple[str, ...] = MANDATORY_COLUMNS,
) -> DataFrame:
    """S2 + the extra-column fold (parity: main.py:189-202).

    Surplus columns' VALUES are comma-joined per row into the catch-all
    column (schema evolution by stringification — observable reference
    behavior, preserved exactly, space in the name included); missing
    catch-all when no extras ⇒ NULL literal (main.py:200).

    The file is read with an explicit schema built from its header
    (``schemas.RAW_SALES_SCHEMA`` types for the mandatory columns), not
    inferred, so two things differ from the reference's ``inferschema``
    read: surplus values keep their raw text (``"02139"`` folds as
    ``"02139"``, not ``"2139"``), and a malformed number in a mandatory
    column reads as NULL (PERMISSIVE) instead of turning that file's
    column into strings."""
    return _read_group(spark, [path], probe_columns(spark, path), mandatory)


def read_rows_validated(
    spark: SparkSession,
    path: str,
    schema: str,
) -> tuple[DataFrame, DataFrame]:
    """Row-level validation: (good_rows, bad_rows) from one PERMISSIVE scan.

    The reference rejects whole FILES on a bad header (main.py:115-118,
    a committed example at error_files/sales_data_2019-08-19.csv); this
    is the finer-grained alternative SURVEY §1.3 maps it to — rows that
    fail the typed schema land in Spark's corrupt-record column and are
    routed instead of the file. One scan serves both outputs (the split
    is two filters over the same cached-by-scan frame); at 100 TB the
    good path streams on while a tiny bad-rows side table preserves the
    raw line for forensics, replacing an all-or-nothing reject of a
    multi-GB file.

    ``schema`` is the typed DDL for the expected columns; the corrupt
    column is appended automatically. The parsed frame is PERSISTED
    before the split: Spark disallows queries whose referenced columns
    reduce to only the corrupt-record column on a raw CSV scan
    (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN — the
    documented remedy is cache-or-save), and the persist also means the
    file parses once, not once per side. Callers splitting a very large
    landing zone should ``unpersist()`` after both sides are consumed,
    or write the parsed frame to a staging table instead."""
    from pyspark.storagelevel import StorageLevel

    corrupt = "_corrupt_record"
    df = (
        spark.read.csv(
            path,
            header=True,
            schema=f"{schema}, {corrupt} STRING",
            mode="PERMISSIVE",
            columnNameOfCorruptRecord=corrupt,
        )
        # capture provenance BELOW the persist: input_file_name() reads
        # scan-task state and returns '' once the rows come from the
        # in-memory relation instead of the file scan
        .withColumn("src_file", F.input_file_name())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    good = df.filter(F.col(corrupt).isNull()).drop(corrupt, "src_file")
    bad = df.filter(F.col(corrupt).isNotNull()).select(
        "src_file", F.col(corrupt).alias("raw_line")
    )
    return good, bad


def union_files(
    spark: SparkSession,
    paths: list[str],
    mandatory: tuple[str, ...] = MANDATORY_COLUMNS,
    *,
    headers: dict[str, list[str]] | None = None,
) -> DataFrame:
    """U1 — union the canonical frames by NAME (replaces the reference's
    positional union onto an empty JDBC seed frame, main.py:183-204).

    Files are grouped by their exact header — taken from ``headers``
    (e.g. :attr:`ValidationResult.headers`), probed for files not in
    it; each group is one multi-path scan (see :func:`read_with_fold`
    for its typing)."""
    headers = headers or {}
    groups: dict[tuple[str, ...], list[str]] = {}
    for p in paths:
        header = headers[p] if p in headers else probe_columns(spark, p)
        groups.setdefault(tuple(header), []).append(p)
    frames = [_read_group(spark, ps, list(h), mandatory) for h, ps in groups.items()]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    return out


class FileLedger:
    """Parquet-backed processing ledger (parity: product_staging_table,
    resources/sql_scripts/table_scripts.sql:1-8 + main.py:39-49,157-174,
    318-334). Status A = in-flight, I = done.

    An append-only log (``schemas.LEDGER_SCHEMA``) of one parquet part per
    status mark; the current status of a file is its row with the highest
    seq. Marks are written by the driver without Spark (:meth:`record`);
    reads go through Spark with the schema pinned, and those that serve
    one drop filter the log to that drop's file names first."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        # Resume from the persisted high-water mark: a fresh process
        # appending to an existing ledger must not restart seq at 1, or
        # its new status rows would be shadowed by older higher-seq rows
        # in snapshot()'s latest-per-file resolution.
        self._seq = 0
        if self._exists():
            row = self._log().agg(F.max("seq")).first()
            self._seq = int(row[0] or 0)

    def _exists(self) -> bool:
        # existence only: an unreadable ledger must fail its read, not
        # pass for "no ledger" (every file would look pending again)
        return fs_exists(self.spark, self.path)

    def _log(self) -> DataFrame:
        return self.spark.read.schema(LEDGER_SCHEMA).parquet(self.path)

    def snapshot(self) -> DataFrame:
        """Latest status per file (empty frame if no ledger yet)."""
        if not self._exists():
            return local_frame(self.spark, [], LEDGER_SCHEMA)
        return self._log().groupBy("file_name").agg(
            F.max_by("status", "seq").alias("status"), F.max("seq").alias("seq")
        )

    def record(self, files: list[str], status: str) -> None:
        """INSERT/UPDATE equivalent: append (file, status, seq) rows.

        One call is one status transition and writes one parquet part,
        ``part-<seq>-<uuid>.parquet``, however many files it marks: pass
        the whole cycle's file list at once. The rows are encoded with
        pyarrow on the driver against the ledger's Arrow schema and
        published through :func:`..fsops.fs_put` (a hidden temp sibling,
        then one rename), so the call runs no Spark job and a crash
        mid-write leaves only a hidden file that no read lists; the
        files it was marking stay pending. A long-lived ingest loop still
        accretes one small file per transition;
        ``ops.layout.compact_parquet_dir`` on the ledger path is the
        standing remedy, same as for any append-log table."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        self._seq += 1
        names = [Path(f).name for f in files]
        table = pa.table(
            [names, [status] * len(names), [self._seq] * len(names)],
            schema=to_arrow_schema(LEDGER_SCHEMA),
        )
        buf = io.BytesIO()
        pq.write_table(table, buf)
        part = f"part-{self._seq:05d}-{uuid.uuid4().hex}.parquet"
        fs_put(self.spark, f"{self.path.rstrip('/')}/{part}", buf.getvalue())

    def in_flight(self) -> DataFrame:
        return self.snapshot().filter(F.col("status") == STATUS_ACTIVE).select("file_name")

    def pending(self, files: list[str]) -> list[str]:
        """Files never completed (the relational form of main.py:39-49's
        cursor check). One Spark job: the log is scanned with its schema
        pinned and cut to these files' names, and their rows are
        collected, which bounds the collect by the drop's own history,
        not the ledger's. The latest status per name (highest seq) is
        then resolved in Python, with no shuffle."""
        if not files or not self._exists():
            return list(files)
        names = sorted({Path(f).name for f in files})
        rows = self._log().filter(F.col("file_name").isin(names)).collect()
        latest = {r.file_name: r.status for r in sorted(rows, key=lambda r: r.seq)}
        return [f for f in files if latest.get(Path(f).name) != STATUS_DONE]


@dataclass
class IngestReport:
    accepted: list[str]
    rejected: list[str]
    rows: int


def ingest_batch(
    spark: SparkSession,
    landing_dir: str,
    error_dir: str,
    ledger: FileLedger,
    mandatory: tuple[str, ...] = MANDATORY_COLUMNS,
) -> tuple[DataFrame | None, IngestReport]:
    """The reference's main.py pipeline, steps 1-5: discover → skip
    already-done → validate → route rejects → mark A → union. Caller
    transforms/writes the frame, then calls ``ledger.record(accepted,
    STATUS_DONE)`` (step 9)."""
    files = [
        e.uri for e in fs_list(spark, landing_dir) if not e.is_dir and e.name.endswith(".csv")
    ]
    files = ledger.pending(files)
    result = validate_files(spark, files, mandatory)
    moved = route_rejected(spark, result.rejected, error_dir)
    if not result.ok:
        return None, IngestReport([], moved, 0)
    ledger.record(result.ok, STATUS_ACTIVE)
    df = union_files(spark, result.ok, mandatory, headers=result.headers)
    return df, IngestReport(result.ok, moved, df.count())
