"""Ingestion-lifecycle tests on the three FIXTURES.md input shapes:
valid / extra-column (folded) / missing-column (rejected), plus ledger
A/I semantics and rerun (recovery) behavior — the reference's
main.py:33-204 pipeline as observable behavior."""

from __future__ import annotations

from datetime import date
from pathlib import Path

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from salesdata_engineering_spark.ingest import (
    ADDITIONAL_COLUMN,
    STATUS_DONE,
    FileLedger,
    ingest_batch,
    probe_columns,
    read_with_fold,
    union_files,
    validate_files,
)

VALID_CSV = """customer_id,store_id,product_name,sales_date,sales_person_id,price,quantity,total_cost
6,121,quaker oats,2024-01-01,1,212,4,848
18,123,sugar,2024-01-01,8,50,5,250
"""

EXTRA_CSV = """customer_id,store_id,product_name,sales_date,sales_person_id,price,quantity,total_cost,payment_mode,channel
3,122,refined oil,2024-01-02,5,110,2,220,cash,web
9,121,clean wipes,2024-01-02,2,200,1,200,UPI,store
"""

MISSING_CSV = """customer_id,product_name,sales_date,sales_person_id,price,quantity,total_cost
11,milk,2019-08-19,"[1, 2, 3]",40,3,120
"""


@pytest.fixture()
def landing(tmp_path):
    d = tmp_path / "landing"
    d.mkdir()
    (d / "sales_data_2024-01-01.csv").write_text(VALID_CSV)
    (d / "sales_data_2024-01-02.csv").write_text(EXTRA_CSV)
    (d / "sales_data_2019-08-19.csv").write_text(MISSING_CSV)
    return d


def test_validate_rejects_missing_columns(spark, landing):
    res = validate_files(spark, sorted(str(p) for p in landing.glob("*.csv")))
    assert len(res.ok) == 2
    [(bad, missing)] = res.rejected.items()
    assert bad.endswith("2019-08-19.csv") and missing == ["store_id"]


def test_extra_columns_folded_with_exact_name(spark, landing):
    df = read_with_fold(spark, str(landing / "sales_data_2024-01-02.csv"))
    assert df.columns[-1] == ADDITIONAL_COLUMN  # space preserved
    vals = {r[ADDITIONAL_COLUMN] for r in df.collect()}
    # values comma-joined in column order (main.py:195 concat_ws ", ")
    assert vals == {"cash, web", "UPI, store"}


def test_valid_file_gets_null_additional_column(spark, landing):
    df = read_with_fold(spark, str(landing / "sales_data_2024-01-01.csv"))
    assert [r[ADDITIONAL_COLUMN] for r in df.collect()] == [None, None]


def test_union_by_name_mixes_shapes(spark, landing):
    df = union_files(
        spark,
        [str(landing / "sales_data_2024-01-01.csv"), str(landing / "sales_data_2024-01-02.csv")],
    )
    assert df.count() == 4
    assert df.filter(F.col(ADDITIONAL_COLUMN).isNull()).count() == 2


def test_ingest_batch_end_to_end_with_ledger_and_rerun(spark, tmp_path, landing):
    error_dir = tmp_path / "errors"
    ledger = FileLedger(spark, str(tmp_path / "ledger"))

    df, report = ingest_batch(spark, str(landing), str(error_dir), ledger)
    assert report.rows == 4 and len(report.accepted) == 2
    # rejected file physically moved (parity: move-to-error lifecycle)
    assert [p.name for p in error_dir.iterdir()] == ["sales_data_2019-08-19.csv"]
    assert not (landing / "sales_data_2019-08-19.csv").exists()
    # accepted files are in-flight (A) until the caller finishes
    assert ledger.in_flight().count() == 2
    ledger.record(report.accepted, STATUS_DONE)
    assert ledger.in_flight().count() == 0

    # rerun: nothing new → no frame, no reprocessing (recovery semantics
    # of main.py:39-49 — completed files are skipped)
    df2, report2 = ingest_batch(spark, str(landing), str(error_dir), ledger)
    assert df2 is None and report2.accepted == []

    # a new file lands → only it is processed
    (landing / "sales_data_2024-01-03.csv").write_text(VALID_CSV)
    df3, report3 = ingest_batch(spark, str(landing), str(error_dir), ledger)
    assert len(report3.accepted) == 1 and report3.rows == 2


def _jobs_in(spark, group: str, fn):
    """(fn's result, number of Spark jobs it ran), counted through a job
    group as in test_ann_index's compaction pin."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "ingest job-count pin")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_ingest_job_count_pin(spark, tmp_path, landing):
    """Header probes, the header-typed scans and every ledger mark run no
    Spark job, ``pending`` runs one, and a whole ingest stays within 3
    (pending 1, row count 2) — an inferSchema read, a parquet
    schema-inference read of the ledger, a latest-status shuffle or a
    Spark write of a ledger mark would show up here."""
    paths = sorted(str(p) for p in landing.glob("*.csv"))
    res, n = _jobs_in(spark, "pin-validate", lambda: validate_files(spark, paths))
    assert n == 0 and len(res.ok) == 2
    _, n = _jobs_in(spark, "pin-union", lambda: union_files(spark, res.ok))
    assert n == 0

    ledger = FileLedger(spark, str(tmp_path / "ledger"))
    err = str(tmp_path / "errors")
    (_, report), n = _jobs_in(
        spark, "pin-ingest-new", lambda: ingest_batch(spark, str(landing), err, ledger)
    )
    assert len(report.accepted) == 2 and n <= 3, n
    _, n = _jobs_in(spark, "pin-record", lambda: ledger.record(report.accepted, STATUS_DONE))
    assert n == 0, n
    pending, n = _jobs_in(spark, "pin-pending", lambda: ledger.pending(paths))
    assert pending == [p for p in paths if p not in report.accepted] and n <= 1, n
    (landing / "sales_data_2024-01-03.csv").write_text(VALID_CSV)
    (_, report), n = _jobs_in(
        spark, "pin-ingest-rerun", lambda: ingest_batch(spark, str(landing), err, ledger)
    )
    assert len(report.accepted) == 1 and n <= 3, n


def test_ingest_probes_each_file_once(spark, tmp_path, landing, monkeypatch):
    """validate_files hands the accepted files' headers to union_files,
    so a 4-file drop with 1 reject costs 4 header probes, not 4 + 3."""
    import salesdata_engineering_spark.ingest as ingest

    (landing / "sales_data_2024-01-03.csv").write_text(VALID_CSV)
    probed = []
    real_probe = ingest.probe_columns

    def counting_probe(spark_, path):
        probed.append(path)
        return real_probe(spark_, path)

    monkeypatch.setattr(ingest, "probe_columns", counting_probe)
    ledger = FileLedger(spark, str(tmp_path / "ledger"))
    df, report = ingest_batch(spark, str(landing), str(tmp_path / "errors"), ledger)
    assert len(report.accepted) == 3 and len(report.rejected) == 1
    assert df.count() == 6
    assert len(probed) == 4


@pytest.mark.parametrize(
    "text",
    [
        '"customer_id","store_id","a,b"\n1,2,3\n',
        "\ufeffcustomer_id,store_id\n1,2\n",
        "customer_id,store_id\n",
        "",
        "\n  \r\ncustomer_id,caf\u00e9\r\n1,2\r\n",
        "a,A,b,,a\n1,2,3,4,5\n",
    ],
    ids=["quoted", "utf8_bom", "header_only", "empty", "blank_lead_crlf", "dup_and_empty"],
)
def test_probe_columns_matches_spark_header(spark, tmp_path, text):
    p = tmp_path / "probe.csv"
    p.write_bytes(text.encode("utf-8"))
    assert probe_columns(spark, str(p)) == spark.read.csv(str(p), header=True).columns


def test_union_permuted_headers_by_name(spark, tmp_path):
    """Files with the same columns in another order are read as separate
    header groups and unioned by name, with the contract's types."""
    a = tmp_path / "a.csv"
    a.write_text(VALID_CSV)
    b = tmp_path / "b.csv"
    b.write_text(
        "total_cost,quantity,price,sales_person_id,sales_date,product_name,store_id,customer_id\n"
        "57000.6892,3,19000.2297,7,2024-01-09,ghee,124,42\n"
    )
    df = union_files(spark, [str(a), str(b)])
    assert df.schema.simpleString() == (
        "struct<customer_id:int,store_id:int,product_name:string,sales_date:date,"
        "sales_person_id:int,price:double,quantity:int,total_cost:double,"
        "additional column:string>"
    )
    row = df.filter(F.col("customer_id") == 42).collect()
    assert [tuple(r) for r in row] == [
        (42, 124, "ghee", date(2024, 1, 9), 7, 19000.2297, 3, 57000.6892, None)
    ]
    assert df.count() == 3


def test_read_keeps_surplus_text_and_nulls_malformed_numbers(spark, tmp_path):
    """The two deliberate departures from an inferSchema read: surplus
    values fold as their raw text (inference gave "2139"), and a
    malformed number reads as NULL under PERMISSIVE (inference turned the
    whole column into strings)."""
    p = tmp_path / "odd.csv"
    p.write_text(
        "customer_id,store_id,product_name,sales_date,sales_person_id,price,quantity,total_cost,zip\n"
        "1,121,oats,2024-01-01,1,10.5,n/a,21.0,02139\n"
        "2,121,milk,2024-01-01,1,4.0,2,8.0,10001\n"
    )
    df = read_with_fold(spark, str(p))
    assert dict(df.dtypes)["quantity"] == "int"
    rows = {r.customer_id: (r.quantity, r[ADDITIONAL_COLUMN]) for r in df.collect()}
    assert rows == {1: (None, "02139"), 2: (2, "10001")}


def test_duplicate_surplus_names_still_fold(spark, tmp_path):
    """Header names Spark renames (here note8, note9) must not make the
    schema-pinned scan reject the file."""
    p = tmp_path / "dup.csv"
    p.write_text(
        "customer_id,store_id,product_name,sales_date,sales_person_id,price,quantity,total_cost,note,note\n"
        "1,121,oats,2024-01-01,1,10.5,2,21.0,a,b\n"
    )
    [row] = union_files(spark, [str(p)]).collect()
    assert row[ADDITIONAL_COLUMN] == "a, b"


def test_corrupt_ledger_raises_instead_of_reading_as_empty(spark, tmp_path):
    """A ledger whose part file is truncated must fail pending(), not pass
    for "no ledger" — that would re-ingest every completed file."""
    path = tmp_path / "ledger_corrupt"
    ledger = FileLedger(spark, str(path))
    ledger.record(["a.csv", "b.csv"], STATUS_DONE)
    assert ledger.pending(["a.csv", "c.csv"]) == ["c.csv"]
    part = sorted(path.glob("part-*.parquet"))[0]
    part.write_bytes(part.read_bytes()[: part.stat().st_size // 2])
    for crc in path.glob(f".{part.name}.crc"):
        crc.unlink()  # leave the parquet reader itself to notice
    with pytest.raises(Py4JJavaError, match="FAILED_READ_FILE"):
        ledger.pending(["a.csv", "c.csv"])


def test_ledger_record_writes_one_part_per_call(spark, tmp_path):
    """Each status transition appends exactly one parquet part, however
    many rows it carries and however many cores the session has — every
    later pending/snapshot/restart pays one footer read per part."""
    path = tmp_path / "ledger_parts"
    ledger = FileLedger(spark, str(path))
    ledger.record(["a.csv", "b.csv"], STATUS_DONE)
    ledger.record(["c.csv", "d.csv", "e.csv"], STATUS_DONE)
    ledger.record(["f.csv"], STATUS_DONE)
    assert len(list(path.glob("part-*.parquet"))) == 3
    assert ledger.pending(["a.csv", "e.csv", "f.csv", "g.csv"]) == ["g.csv"]


def test_ledger_seq_survives_restart(spark, tmp_path):
    """A fresh FileLedger on an existing log must continue seq from the
    persisted max — its new rows win latest-per-file resolution."""
    path = str(tmp_path / "ledger_restart")
    first = FileLedger(spark, path)
    first.record(["a.csv", "b.csv"], "A")
    first.record(["a.csv"], "I")
    assert first._seq == 2

    second = FileLedger(spark, path)  # simulated new process
    assert second._seq == 2
    second.record(["b.csv"], "I")  # must append seq=3, not seq=1
    snap = {r.file_name: (r.status, r.seq) for r in second.snapshot().collect()}
    assert snap["b.csv"] == ("I", 3), snap
    assert snap["a.csv"] == ("I", 2), snap


def test_ledger_ignores_a_mark_cut_before_its_rename(spark, tmp_path):
    """A record killed between its write and its rename leaves a whole
    parquet file under a hidden ``_tmp-*`` name. No read lists it — not
    pending, not snapshot, not a ``*.parquet`` glob — so the file it was
    marking stays pending."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from salesdata_engineering_spark.schemas import LEDGER_SCHEMA

    path = tmp_path / "ledger_killed"
    ledger = FileLedger(spark, str(path))
    ledger.record(["a.csv"], STATUS_DONE)
    cut = pa.table(
        [["b.csv"], [STATUS_DONE], [2]], schema=to_arrow_schema(LEDGER_SCHEMA)
    )
    pq.write_table(cut, path / "_tmp-0123456789abcdef0123456789abcdef")

    assert ledger.pending(["a.csv", "b.csv"]) == ["b.csv"]
    assert [r.file_name for r in ledger.snapshot().collect()] == ["a.csv"]
    got = duckdb.sql(f"SELECT file_name FROM read_parquet('{path}/*.parquet')").fetchall()
    assert got == [("a.csv",)]
    assert FileLedger(spark, str(path))._seq == 1  # the restart ignores it too


def test_read_jdbc_wiring_reaches_jdbc_layer(spark):
    """No JDBC driver jar ships in this sandbox, so a real round-trip is
    impossible; assert the adapter wires through to Spark's JDBC layer
    (driver-resolution error, not a Python-side failure) and validates
    its partitioned-read arguments."""
    from salesdata_engineering_spark.io import read_jdbc

    with pytest.raises(ValueError, match="partition_column requires"):
        read_jdbc(spark, "jdbc:h2:mem:x", "t", {}, partition_column="id")

    from py4j.protocol import Py4JJavaError

    with pytest.raises(Py4JJavaError) as err:
        read_jdbc(spark, "jdbc:nosuchdb://nowhere/db", "t", {"driver": "com.example.Missing"})
    assert "ClassNotFoundException" in str(err.value) or "No suitable driver" in str(err.value)


def test_read_rows_validated_splits_good_and_bad(spark, tmp_path):
    """Row-level PERMISSIVE validation: typed rows pass, malformed rows
    land in the corrupt side table with their raw line preserved —
    the finer-grained alternative to whole-file rejection."""
    from salesdata_engineering_spark.ingest import read_rows_validated

    p = tmp_path / "mixed.csv"
    p.write_text(
        "customer_id,store_id,price\n"
        "1,121,212.5\n"
        "oops,not-a-store,free\n"
        "2,122,99.0\n"
    )
    good, bad = read_rows_validated(
        spark, str(p), "customer_id INT, store_id INT, price DOUBLE"
    )
    assert good.count() == 2
    assert set(good.columns) == {"customer_id", "store_id", "price"}
    bad_rows = bad.collect()
    assert len(bad_rows) == 1
    assert bad_rows[0].raw_line == "oops,not-a-store,free"
    assert bad_rows[0].src_file.endswith("mixed.csv")


@pytest.mark.parametrize("fmt", ["orc", "json", "csv"])
def test_format_roundtrip_preserves_rows(spark, tmp_path, fmt, sf_dir):
    """S4-family breadth: documents survive a write/read round trip in
    each native format with schema pinned (json/csv carry no types)."""
    from salesdata_engineering_spark.datasets import load_tables
    from salesdata_engineering_spark.io import read_table, write_table

    src = load_tables(spark, sf_dir)["documents"].select("doc_id", "lang", "n_chars")
    path = str(tmp_path / f"docs_{fmt}")
    write_table(src, path, fmt=fmt)
    back = read_table(
        spark, path, fmt=fmt, schema="doc_id BIGINT, lang STRING, n_chars BIGINT"
    )
    assert back.schema == src.schema
    assert back.count() == src.count()
    assert back.exceptAll(src).count() == 0 and src.exceptAll(back).count() == 0


def test_parquet_schema_evolution_mergeschema(spark, tmp_path):
    """S-family depth: a landing zone whose writers EVOLVE the schema
    (v2 adds a column) must stay readable as one table — mergeSchema
    unions the file schemas and backfills missing columns with NULL,
    the parquet twin of the CSV extra-column fold (ingest.py)."""
    base = str(tmp_path / "evolving")
    spark.createDataFrame(
        [(1, "a", 10.0)], "k int, name string, v double"
    ).write.parquet(f"{base}/batch=1")
    spark.createDataFrame(
        [(2, "b", 20.0, "US")], "k int, name string, v double, region string"
    ).write.parquet(f"{base}/batch=2")
    df = spark.read.option("mergeSchema", "true").parquet(base)
    assert set(df.columns) == {"k", "name", "v", "region", "batch"}
    rows = {r.k: (r.v, r.region) for r in df.collect()}
    assert rows == {1: (10.0, None), 2: (20.0, "US")}
