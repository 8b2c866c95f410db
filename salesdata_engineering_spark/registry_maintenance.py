"""Registry entries for table-maintenance operators (SCD2, incremental
aggregates) — the load-cycle primitives a production warehouse runs that
the reference's overwrite-everything pipeline lacks.

Inputs are built deterministically from the testdata so the DuckDB
oracle can reconstruct the identical scenario.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .datasets import load_tables
from .ops.scd import OPEN_END, merge_partial_sums, scd2_merge
from .registry import register

_BAND_SQL = (
    "CASE WHEN c_acctbal < 0 THEN 'neg' "
    "WHEN c_acctbal < 5000 THEN 'low' ELSE 'high' END"
)


def _band_col() -> F.Column:
    return (
        F.when(F.col("c_acctbal") < 0, "neg")
        .when(F.col("c_acctbal") < 5000, "low")
        .otherwise("high")
    )


_SCD2_HISTORY_SQL = f"""
    WITH cur AS (
        SELECT c_custkey, c_mktsegment AS segment, {_BAND_SQL} AS acctbal_band,
               '1995-01-01' AS valid_from, '{OPEN_END}' AS valid_to, 1 AS is_current
        FROM customer
        UNION ALL
        SELECT c_custkey, 'LEGACY', {_BAND_SQL},
               '1990-01-01', '1995-01-01', 0
        FROM customer WHERE c_custkey % 10 = 0
    ),
    upd AS (
        SELECT c_custkey, 'PREMIUM' AS segment, {_BAND_SQL} AS acctbal_band,
               '1997-01-01' AS effective_date
        FROM customer WHERE c_acctbal > 5000
        UNION ALL
        SELECT c_custkey, c_mktsegment, {_BAND_SQL}, '1997-01-01'
        FROM customer WHERE c_acctbal BETWEEN 0 AND 1000
    ),
    open_rows AS (SELECT * FROM cur WHERE is_current = 1)
    SELECT c_custkey, segment, acctbal_band, valid_from, valid_to, is_current
    FROM cur WHERE is_current = 0
    UNION ALL
    SELECT o.c_custkey, o.segment, o.acctbal_band, o.valid_from, o.valid_to, o.is_current
    FROM open_rows o LEFT JOIN upd u ON o.c_custkey = u.c_custkey
    WHERE u.c_custkey IS NULL
       OR (o.segment IS NOT DISTINCT FROM u.segment
           AND o.acctbal_band IS NOT DISTINCT FROM u.acctbal_band)
    UNION ALL
    SELECT o.c_custkey, o.segment, o.acctbal_band, o.valid_from,
           u.effective_date, 0
    FROM open_rows o JOIN upd u ON o.c_custkey = u.c_custkey
    WHERE o.segment IS DISTINCT FROM u.segment
       OR o.acctbal_band IS DISTINCT FROM u.acctbal_band
    UNION ALL
    SELECT u.c_custkey, u.segment, u.acctbal_band, u.effective_date,
           '{OPEN_END}', 1
    FROM upd u LEFT JOIN open_rows o ON o.c_custkey = u.c_custkey
    WHERE o.c_custkey IS NULL
       OR o.segment IS DISTINCT FROM u.segment
       OR o.acctbal_band IS DISTINCT FROM u.acctbal_band
    """


@register(
    "scd2_customer_segments",
    _SCD2_HISTORY_SQL,
    doc="SCD type-2 dimension merge (ops/scd.py): close changed open "
    "rows at the effective date, append new versions, pass history "
    "through, no-op on identical re-loads. One open-rows ⋈ updates join "
    "+ narrow unions — never a full-history rewrite. Scenario: customers "
    "with acctbal > 5000 move to segment PREMIUM effective 1997-01-01; "
    "low-balance customers re-load unchanged (idempotency branch); every "
    "10th key carries a pre-existing LEGACY history row.",
)
def q_scd2_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_tables(spark, sf_dir)["customer"]
    band = _band_col()
    current = (
        c.select(
            "c_custkey",
            F.col("c_mktsegment").alias("segment"),
            band.alias("acctbal_band"),
            F.lit("1995-01-01").alias("valid_from"),
            F.lit(OPEN_END).alias("valid_to"),
            F.lit(1).alias("is_current"),
        )
        .unionByName(
            c.filter(F.col("c_custkey") % 10 == 0).select(
                "c_custkey",
                F.lit("LEGACY").alias("segment"),
                band.alias("acctbal_band"),
                F.lit("1990-01-01").alias("valid_from"),
                F.lit("1995-01-01").alias("valid_to"),
                F.lit(0).alias("is_current"),
            )
        )
    )
    updates = (
        c.filter(F.col("c_acctbal") > 5000)
        .select(
            "c_custkey",
            F.lit("PREMIUM").alias("segment"),
            band.alias("acctbal_band"),
            F.lit("1997-01-01").alias("effective_date"),
        )
        .unionByName(
            c.filter(F.col("c_acctbal").between(0, 1000)).select(
                "c_custkey",
                F.col("c_mktsegment").alias("segment"),
                band.alias("acctbal_band"),
                F.lit("1997-01-01").alias("effective_date"),
            )
        )
    )
    return scd2_merge(
        current, updates, key="c_custkey", attrs=["segment", "acctbal_band"]
    )


@register(
    "incremental_agg_maintenance",
    """
    SELECT o_orderpriority,
           CAST(round(SUM(CAST(o_totalprice AS DECIMAL(14,2))), 2) AS DOUBLE) AS sum_price,
           COUNT(*) AS n
    FROM orders GROUP BY 1
    """,
    doc="Incremental aggregate maintenance (ops/scd.py "
    "merge_partial_sums): an existing aggregate over history "
    "(o_orderdate < 1997-01-01) is folded with a delta aggregate over "
    "the new load — only the delta is scanned, decimal partial sums "
    "make the fold order-independent. The ORACLE is the full recompute "
    "over all of orders: incremental ≡ full is exactly the invariant "
    "the operator must keep at 100 TB.",
)
def q_incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir)["orders"]
    dec = F.col("o_totalprice").cast("decimal(14,2)")
    cutoff = F.lit("1997-01-01").cast("timestamp")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.sum(dec).alias("sum_price"), F.count("*").alias("n")
        )

    # the history/delta split must be EXHAUSTIVE: a NULL o_orderdate
    # satisfies neither < nor >= (three-valued logic) and would silently
    # vanish from the maintained aggregate — at 100 TB, rows with a
    # missing partition date are routine and belong in the delta batch
    existing = partial(o.filter(F.col("o_orderdate") < cutoff))
    delta = partial(
        o.filter((F.col("o_orderdate") >= cutoff) | F.col("o_orderdate").isNull())
    )
    merged = merge_partial_sums(
        existing.unionByName(delta),
        keys=["o_orderpriority"],
        sum_cols=["sum_price"],
        count_col="n",
    )
    return merged.select(
        "o_orderpriority",
        F.round("sum_price", 2).cast("double").alias("sum_price"),
        F.col("n").cast("long").alias("n"),
    )


from .ops.layout import zorder_key, zorder_sql  # noqa: E402


@register(
    "layout_zorder_key",
    f"""
    SELECT o_orderkey,
           {zorder_sql('o_custkey', 'o_orderkey', 16)} AS zkey
    FROM orders
    """,
    doc="Z-order (Morton) clustering key over (o_custkey, o_orderkey) — "
    "the multi-column data-skipping layout (ops/layout.py): files sorted "
    "by the interleaved bits cover small rectangles of the key space, so "
    "min/max footer stats prune scans filtered on EITHER column. Pure "
    "bit math, identical in both engines; the layout benefit itself is "
    "measured from real parquet footers in tests/test_layout.py.",
)
def q_layout_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir)["orders"]
    return o.select(
        "o_orderkey",
        zorder_key(F.col("o_custkey"), F.col("o_orderkey"), 16).alias("zkey"),
    )


@register(
    "layout_zorder_write",
    None,  # side-effecting write: rows-only check (no SQL oracle mirrors a Spark write)
    doc="END-TO-END Z-order layout: write orders clustered on the Morton "
    "key of (o_custkey, o_orderkey) via ops/layout.py write_zordered, "
    "then read the produced parquet back and return one row per file "
    "with its min/max footprint on BOTH clustering columns — the exact "
    "stats min/max footer pruning uses. span_frac_* is each file's "
    "covered fraction of the global column range: well-clustered files "
    "cover small rectangles (mean fraction ~1/n_files per column vs ~1.0 "
    "for an unclustered write), which is the data-skipping claim made "
    "measurable. Files are written to one scratch dir per (sf_dir, "
    "process), emptied at the start of each call.",
)
def q_layout_zorder_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import shutil
    import tempfile

    from .ops.layout import write_zordered

    n_files = 8
    o = load_tables(spark, sf_dir)["orders"].select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    # a FIXED slot per (sf_dir, process), cleaned here, as
    # stream_upsert_sink_snapshot keeps its snapshot: the returned frame
    # reads the dir lazily, so it must outlive the call, and a fresh
    # mkdtemp per call would leave one data-sized copy behind each time
    tag = hashlib.md5(
        f"{os.path.abspath(sf_dir)}:{os.getpid()}".encode()
    ).hexdigest()[:12]
    out_dir = os.path.join(tempfile.gettempdir(), f"zorder_write_{tag}")
    shutil.rmtree(out_dir, ignore_errors=True)
    write_zordered(o, out_dir, by=["o_custkey", "o_orderkey"], n_files=n_files)

    # explicit schema: an all-empty input writes no data files (only
    # _SUCCESS), and schema inference over that directory would fail —
    # with the schema pinned the read returns an empty frame instead
    back = spark.read.schema(o.schema).parquet(out_dir)
    spans = o.agg(
        (F.max("o_custkey") - F.min("o_custkey") + 1).alias("cust_span"),
        (F.max("o_orderkey") - F.min("o_orderkey") + 1).alias("ord_span"),
    ).first()
    per_file = (
        back.groupBy(F.input_file_name().alias("_file"))
        .agg(
            F.count("*").alias("n_rows"),
            F.min("o_custkey").alias("min_custkey"),
            F.max("o_custkey").alias("max_custkey"),
            F.min("o_orderkey").alias("min_orderkey"),
            F.max("o_orderkey").alias("max_orderkey"),
        )
        .withColumn(
            "span_frac_custkey",
            F.round((F.col("max_custkey") - F.col("min_custkey") + 1) / spans["cust_span"], 4),
        )
        .withColumn(
            "span_frac_orderkey",
            F.round((F.col("max_orderkey") - F.col("min_orderkey") + 1) / spans["ord_span"], 4),
        )
        .drop("_file")  # part-file names carry random task uuids
        .orderBy("min_custkey", "min_orderkey")
    )
    return per_file


# ---------------------------------------------------------------------------
# Profiling / data-quality surface
# ---------------------------------------------------------------------------


@register(
    "profile_price_histogram",
    """
    WITH b AS (
        SELECT CASE WHEN o_totalprice >= 600000 THEN 12
                    ELSE CAST(floor(o_totalprice / 50000) AS INTEGER) END AS bucket
        FROM orders
    )
    SELECT bucket,
           CAST(bucket * 50000 AS DOUBLE) AS lo,
           CAST(CASE WHEN bucket = 12 THEN 'Infinity'::DOUBLE
                     ELSE (bucket + 1) * 50000 END AS DOUBLE) AS hi,
           count(*) AS n
    FROM b GROUP BY bucket
    """,
    doc="Numeric profiling: fixed-width histogram of o_totalprice "
    "(50k-wide buckets, open-ended top bucket). One map-side-combined "
    "hash aggregate on a derived int key — the profile never moves raw "
    "rows, so it costs one scan at any scale.",
)
def q_profile_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir)["orders"]
    width, top = 50000, 12
    bucket = F.when(F.col("o_totalprice") >= width * top, F.lit(top)).otherwise(
        F.floor(F.col("o_totalprice") / width).cast("int")
    )
    return (
        o.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
        .select(
            "bucket",
            (F.col("bucket") * width).cast("double").alias("lo"),
            F.when(F.col("bucket") == top, F.lit(float("inf")))
            .otherwise((F.col("bucket") + 1) * width)
            .cast("double")
            .alias("hi"),
            "n",
        )
    )


@register(
    "dq_expectations_orders",
    """
    SELECT 'o_orderkey_not_null' AS expectation,
           count(*) FILTER (WHERE o_orderkey IS NULL) AS violations,
           count(*) AS checked
    FROM orders
    UNION ALL
    SELECT 'o_orderkey_unique',
           (SELECT count(*) FROM (
                SELECT o_orderkey FROM orders GROUP BY 1 HAVING count(*) > 1)),
           count(*)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice_positive',
           count(*) FILTER (WHERE o_totalprice <= 0), count(*)
    FROM orders
    UNION ALL
    SELECT 'o_orderdate_in_range',
           count(*) FILTER (WHERE o_orderdate < TIMESTAMP '1990-01-01'
                               OR o_orderdate > TIMESTAMP '2030-01-01'),
           count(*)
    FROM orders
    """,
    doc="Expectations-style data-quality summary over orders: null "
    "check, key uniqueness, value range, date sanity — one row per "
    "expectation with violation and row counts. The scalar checks fold "
    "into ONE scan via conditional aggregation; uniqueness is the only "
    "one needing a key-grouped pass. The pipeline gate pattern: assert "
    "violations == 0 before publishing a mart.",
)
def q_dq_expectations_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir)["orders"]
    n = F.count("*")
    scalars = o.agg(
        n.alias("checked"),
        F.count(F.when(F.col("o_orderkey").isNull(), 1)).alias("v_null"),
        F.count(F.when(F.col("o_totalprice") <= 0, 1)).alias("v_price"),
        F.count(
            F.when(
                (F.col("o_orderdate") < F.lit("1990-01-01").cast("timestamp"))
                | (F.col("o_orderdate") > F.lit("2030-01-01").cast("timestamp")),
                1,
            )
        ).alias("v_date"),
    )
    dups = (
        o.groupBy("o_orderkey")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") > 1)
        .agg(F.count("*").alias("v_dup"))
    )
    j = scalars.crossJoin(F.broadcast(dups))
    rows = [
        ("o_orderkey_not_null", "v_null"),
        ("o_orderkey_unique", "v_dup"),
        ("o_totalprice_positive", "v_price"),
        ("o_orderdate_in_range", "v_date"),
    ]
    out = None
    for name, col in rows:
        piece = j.select(
            F.lit(name).alias("expectation"),
            F.col(col).alias("violations"),
            F.col("checked"),
        )
        out = piece if out is None else out.unionByName(piece)
    return out


#: The CDC snapshot contract, shared verbatim by the batch operator
#: below and the streaming twin (registry_events.py stream_cdc_latest) —
#: "one semantics, two runtimes" holds only while both verify against
#: the SAME oracle text.
#: One last-writer pick order for all three CDC paths (batch max_by,
#: streaming stateful fold, this oracle): (ts, event_id) extended by
#: the PAYLOAD columns as final tie-breaks — duplicate change rows
#: whose copies differ only in NULL pattern (dupnullmix probe, r12)
#: otherwise tie and each engine picks its own survivor. DESC default
#: NULLS LAST = NULL payloads lose to non-NULL, matching Spark's
#: struct-max and the pandas fold. A NULL-ts change has no position
#: in a change log (class-12 convention) — excluded in all paths.
CDC_SNAPSHOT_ORACLE = """
    WITH ranked AS (
        SELECT user_id, event_type, value, ts,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC,
                                           event_type DESC, value DESC) AS rn
        FROM events WHERE ts IS NOT NULL
    )
    SELECT user_id, event_type AS last_op,
           CAST(value AS DOUBLE) AS last_value, ts AS last_ts
    FROM ranked WHERE rn = 1 AND event_type <> 'error'
    """


@register(
    "cdc_apply_changes",
    CDC_SNAPSHOT_ORACLE,
    doc="CDC apply-changes: materialize the current snapshot from a "
    "change log with last-writer-wins semantics and tombstones — the "
    "events feed read as upserts keyed by user_id ('error' = DELETE: a "
    "key whose LATEST op is a tombstone leaves the snapshot). Scale "
    "shape: ONE hash aggregate — max_by over the (ts, event_id) "
    "ordering struct — whose map-side combine collapses each key's "
    "change history to one row BEFORE the exchange, where the "
    "row_number-window form (the oracle's spelling) would shuffle and "
    "sort the full log. This is the Delta/Hudi snapshot-compaction "
    "kernel; deletes filter AFTER the argmax so a delete-then-nothing "
    "key stays deleted.",
    bench=True,
)
def q_cdc_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL-ts changes excluded; payload columns in the max key as the
    # final tie-breaks (see CDC_SNAPSHOT_ORACLE comment) — Spark's
    # struct comparison treats a NULL field as smallest, so NULL
    # payloads lose the pick exactly like DESC NULLS LAST
    e = load_tables(spark, sf_dir)["events"].filter(F.col("ts").isNotNull())
    latest = e.groupBy("user_id").agg(
        F.max_by(
            F.struct("event_type", "value", "ts"),
            F.struct("ts", "event_id", "event_type", "value"),
        ).alias("_s")
    )
    return latest.filter(F.col("_s.event_type") != "error").select(
        "user_id",
        F.col("_s.event_type").alias("last_op"),
        F.col("_s.value").cast("double").alias("last_value"),
        F.col("_s.ts").alias("last_ts"),
    )


@register(
    "scd2_point_in_time",
    f"""
    WITH hist AS ({_SCD2_HISTORY_SQL})
    SELECT c_custkey, segment, acctbal_band, valid_from, valid_to
    FROM hist
    WHERE valid_from <= '1996-06-01' AND valid_to > '1996-06-01'
    """,
    doc="Point-in-time dimension snapshot over the SCD2 history: the "
    "version row whose [valid_from, valid_to) interval contains the "
    "as-of date — how every time-travel join against a type-2 "
    "dimension works (fact rows join the version VALID AT their event "
    "time, not the current one). ISO-date strings compare "
    "lexicographically = chronologically, so the interval predicate is "
    "a pure pushed filter; exactly one version per key matches by the "
    "SCD2 non-overlap invariant (asserted in tests/test_scd.py). At "
    "100 TB the as-of filter prunes the history BEFORE any fact join.",
)
def q_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    hist = q_scd2_customer_segments(spark, sf_dir)
    as_of = "1996-06-01"
    return hist.filter(
        (F.col("valid_from") <= as_of) & (F.col("valid_to") > as_of)
    ).select("c_custkey", "segment", "acctbal_band", "valid_from", "valid_to")


@register(
    "dq_referential_integrity",
    """
    SELECT * FROM (
        SELECT 'orders.o_custkey -> customer' AS fk, count(*) AS violations
        FROM orders o WHERE NOT EXISTS
            (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
        UNION ALL
        SELECT 'lineitem.l_orderkey -> orders', count(*)
        FROM lineitem l WHERE NOT EXISTS
            (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
        UNION ALL
        SELECT 'lineitem.l_suppkey -> supplier', count(*)
        FROM lineitem l WHERE NOT EXISTS
            (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)
    )
    """,
    doc="Referential-integrity audit: one LEFT ANTI count per foreign "
    "key — the DQ gate that catches orphaned facts before they "
    "silently vanish in inner joins downstream (the reference's "
    "pipeline would drop them without a trace). Each check is an anti "
    "join against the (broadcastable) parent key set; a 100 TB audit "
    "runs all keys in one pass per fact table.",
)
def q_dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)

    def check(fk: str, child: DataFrame, ck: str, parent: DataFrame, pk: str):
        orphans = child.join(
            parent.select(pk), F.col(ck) == F.col(pk), "left_anti"
        )
        return orphans.agg(F.count("*").alias("violations")).select(
            F.lit(fk).alias("fk"), "violations"
        )

    return (
        check("orders.o_custkey -> customer", t["orders"], "o_custkey",
              t["customer"], "c_custkey")
        .unionAll(check("lineitem.l_orderkey -> orders", t["lineitem"],
                        "l_orderkey", t["orders"], "o_orderkey"))
        .unionAll(check("lineitem.l_suppkey -> supplier", t["lineitem"],
                        "l_suppkey", t["supplier"], "s_suppkey"))
    )


@register(
    "profile_table_stats",
    """
    SELECT 'l_quantity' AS col,
           count(*) AS n_rows,
           CAST(count(l_quantity) AS BIGINT) AS n_nonnull,
           count(DISTINCT l_quantity) AS ndv,
           CAST(MIN(l_quantity) AS DOUBLE) AS min_v,
           CAST(MAX(l_quantity) AS DOUBLE) AS max_v
    FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice', count(*), CAST(count(l_extendedprice) AS BIGINT),
           count(DISTINCT l_extendedprice),
           CAST(MIN(l_extendedprice) AS DOUBLE), CAST(MAX(l_extendedprice) AS DOUBLE)
    FROM lineitem
    UNION ALL
    SELECT 'l_discount', count(*), CAST(count(l_discount) AS BIGINT),
           count(DISTINCT l_discount),
           CAST(MIN(l_discount) AS DOUBLE), CAST(MAX(l_discount) AS DOUBLE)
    FROM lineitem
    """,
    doc="ANALYZE-style per-column statistics (rows, non-null, exact NDV, "
    "min/max) — the optimizer-feeding profile a warehouse collects per "
    "load (Spark's own ANALYZE TABLE ... COMPUTE STATISTICS shape, "
    "re-expressed as a query so the values are oracle-checkable; the "
    "100 TB variant swaps exact NDV for approx_count_distinct, covered "
    "by the HLL family). One aggregate pass per column group over one "
    "scan each; count(DISTINCT) expands to the standard two-level "
    "partial aggregate.",
)
def q_profile_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir)["lineitem"]

    def stats(col: str) -> DataFrame:
        return li.agg(
            F.count("*").alias("n_rows"),
            F.count(col).alias("n_nonnull"),
            F.countDistinct(col).alias("ndv"),
            F.min(col).cast("double").alias("min_v"),
            F.max(col).cast("double").alias("max_v"),
        ).select(
            F.lit(col).alias("col"), "n_rows", "n_nonnull", "ndv", "min_v", "max_v"
        )

    return stats("l_quantity").unionAll(stats("l_extendedprice")).unionAll(
        stats("l_discount")
    )


@register(
    "snapshot_diff_orders",
    """
    WITH a AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
               WHERE o_orderdate < TIMESTAMP '1999-01-01'),
    b AS (SELECT o_orderkey, o_orderstatus,
                 CASE WHEN o_orderstatus = 'O' THEN o_totalprice * 1.1
                      ELSE o_totalprice END AS o_totalprice
          FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01')
    SELECT change, count(*) AS n FROM (
        SELECT CASE
            WHEN a.o_orderkey IS NULL THEN 'added'
            WHEN b.o_orderkey IS NULL THEN 'removed'
            WHEN a.o_orderstatus <> b.o_orderstatus
              OR a.o_totalprice <> b.o_totalprice THEN 'changed'
            ELSE 'unchanged' END AS change
        FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
    )
    GROUP BY 1
    """,
    doc="Snapshot reconciliation diff: two versions of a table (derived "
    "deterministically here: overlapping date windows with a mutation "
    "on open orders) full-outer joined on the key and classified "
    "added / removed / changed / unchanged — the audit primitive "
    "behind every incremental-load validation and CDC backfill check. "
    "One key-partitioned full-outer join + a tiny class aggregate; at "
    "100 TB pre-bucketing both snapshots by the key makes the join "
    "zero-exchange (the engine's bucketed-write layout, "
    "plan-asserted in tests/test_plans.py).",
)
def q_snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir)["orders"]
    a = o.filter(F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp")).select(
        F.col("o_orderkey").alias("_ka"),
        F.col("o_orderstatus").alias("_sa"),
        F.col("o_totalprice").alias("_pa"),
    )
    b = o.filter(F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp")).select(
        F.col("o_orderkey").alias("_kb"),
        F.col("o_orderstatus").alias("_sb"),
        F.when(F.col("o_orderstatus") == "O", F.col("o_totalprice") * 1.1)
        .otherwise(F.col("o_totalprice"))
        .alias("_pb"),
    )
    j = a.join(b, F.col("_ka") == F.col("_kb"), "full_outer")
    change = (
        F.when(F.col("_ka").isNull(), "added")
        .when(F.col("_kb").isNull(), "removed")
        .when(
            (F.col("_sa") != F.col("_sb")) | (F.col("_pa") != F.col("_pb")),
            "changed",
        )
        .otherwise("unchanged")
    )
    return j.select(change.alias("change")).groupBy("change").agg(
        F.count("*").alias("n")
    )


@register(
    "agg_incremental_maintenance",
    """
    SELECT o_orderpriority,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
           CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                / count(*) AS DOUBLE) AS avg_price
    FROM orders GROUP BY 1
    """,
    doc="Incremental aggregate maintenance: the maintained mart is the "
    "MERGE of yesterday's aggregate and the delta batch's aggregate — "
    "counts and decimal sums add, avg re-derives from the merged sums "
    "— and must equal the full recompute (the oracle IS the full "
    "recompute, so the equality is value-checked, not asserted). This "
    "is the 100 TB pattern the partial/final HashAggregate split "
    "already relies on inside one query, lifted to cross-RUN state: "
    "a day's delta touches the delta partition only; the historical "
    "fact is never rescanned. Sums stay in exact DECIMAL so the merge "
    "is associative and order-independent (a double sum would drift "
    "against the recompute); the single cast to double happens at the "
    "output boundary, after the merge.",
)
def q_agg_incremental_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir)["orders"]
    cutoff = F.lit("1997-01-01").cast("timestamp")
    money = F.col("o_totalprice").cast("decimal(18,2)")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count("*").alias("_n"), F.sum(money).alias("_s")
        )

    base = partial(o.filter(F.col("o_orderdate") < cutoff))
    # NULL dates route to the delta side — the split stays exhaustive
    # (see incremental_agg_maintenance)
    delta = partial(
        o.filter((F.col("o_orderdate") >= cutoff) | F.col("o_orderdate").isNull())
    )
    merged = (
        base.unionByName(delta)
        .groupBy("o_orderpriority")
        .agg(F.sum("_n").alias("n_orders"), F.sum("_s").alias("_total"))
    )
    total = F.col("_total").cast("double")
    return merged.select(
        "o_orderpriority",
        "n_orders",
        total.alias("total"),
        (total / F.col("n_orders")).cast("double").alias("avg_price"),
    )


#: Data-quality rule set for the DQ rule engine: (rule_name, SQL
#: predicate over orders). Rules are DATA, not code — adding one is a
#: list entry, and all rules evaluate in ONE scan.
DQ_RULES: tuple[tuple[str, str], ...] = (
    ("total_price_positive", "o_totalprice > 0"),
    ("order_date_present", "o_orderdate IS NOT NULL"),
    ("status_in_domain", "o_orderstatus IN ('F', 'O', 'P')"),
    ("priority_prefix_digit", "o_orderpriority RLIKE '^[0-9]-'"),
)

# NULL rule: a predicate that evaluates to NULL is a VIOLATION (the
# strict DQ reading — an unknown is not a pass), spelled IS NOT TRUE in
# the oracle and when(pred, 0).otherwise(1) in the engine so both
# engines agree on nullable columns, not just the null-free testdata.
def _duck_pred(pred: str) -> str:
    """Spark predicate -> DuckDB dialect (RLIKE has no DuckDB twin;
    SIMILAR TO anchors the whole string, so the prefix regex gains
    an explicit .* tail)."""
    return pred.replace("RLIKE", "SIMILAR TO").replace(
        "'^[0-9]-'", "'[0-9]-.*'"
    )


_DQ_ORACLE = " UNION ALL ".join(
    f"""
    SELECT '{name}' AS rule,
           count(*) AS n_rows,
           CAST(count(*) FILTER (WHERE ({_duck_pred(pred)}) IS NOT TRUE) AS BIGINT)
               AS n_violations,
           round(CAST(count(*) FILTER (WHERE {_duck_pred(pred)}) AS DOUBLE)
                 / count(*), 6) AS pass_rate
    FROM orders
    """
    for name, pred in DQ_RULES
)


@register(
    "dq_rule_engine",
    _DQ_ORACLE,
    doc="Declarative data-quality rule engine: rules are (name, SQL "
    "predicate) DATA (DQ_RULES), evaluated in ONE fact scan as "
    "conditional-count aggregates, then stacked to a long-form "
    "(rule, n_rows, n_violations, pass_rate) report — the "
    "expectations-suite primitive (great-expectations shape) next to "
    "the structural checks (dq_referential_integrity, "
    "profile_table_stats). The oracle spells each rule as its own "
    "UNION ALL scan; the engine's single-pass stack must match it "
    "value-for-value. One scan regardless of rule count is the 100 TB "
    "property; pass_rate is a fixed divide over exact counts.",
)
def q_dq_rule_engine(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir)["orders"]
    aggs = [F.count("*").alias("_n")]
    for name, pred in DQ_RULES:
        # coalesce: SUM over an empty relation is NULL while the
        # oracle's violation count is 0 (r10 empty sweep)
        aggs.append(
            F.coalesce(
                F.sum(F.when(F.expr(pred), 0).otherwise(1)), F.lit(0)
            ).alias(f"_v_{name}")
        )
    one = o.agg(*aggs)
    stack_args = ", ".join(
        f"'{name}', _v_{name}" for name, _ in DQ_RULES
    )
    return one.selectExpr(
        f"stack({len(DQ_RULES)}, {stack_args}) AS (rule, n_violations)", "_n"
    ).select(
        "rule",
        F.col("_n").alias("n_rows"),
        F.col("n_violations").cast("bigint").alias("n_violations"),
        # try_divide: with violations coalesced to 0 the numerator is
        # no longer NULL on empty input, so plain '/' by _n = 0 would
        # now be an ANSI crash; DuckDB's x/0 is NULL
        F.round(
            F.try_divide(
                (F.col("_n") - F.col("n_violations")).cast("double"),
                F.col("_n"),
            ),
            6,
        ).alias("pass_rate"),
    )


@register(
    "pit_join_orders_segments",
    f"""
    WITH hist AS (SELECT * FROM ({_SCD2_HISTORY_SQL}) t),
    j AS (
        SELECT h.segment,
               o.o_custkey,
               CAST(o.o_totalprice AS DECIMAL(18,2)) AS amt
        FROM orders o JOIN hist h
          ON o.o_custkey = h.c_custkey
         AND CAST(h.valid_from AS DATE) <= CAST(o.o_orderdate AS DATE)
         AND CAST(o.o_orderdate AS DATE) < CAST(h.valid_to AS DATE)),
    seg AS (
        SELECT segment,
               count(*) AS n_orders,
               CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
               CAST(SUM(amt) AS DECIMAL(18,2)) AS revenue
        FROM j GROUP BY segment)
    SELECT segment, n_orders, n_customers,
           CAST(revenue AS DOUBLE) AS revenue,
           round(CAST(revenue AS DOUBLE)
                 / CAST(SUM(revenue) OVER () AS DOUBLE), 6) AS revenue_share
    FROM seg ORDER BY segment
    """,
    doc="Point-in-time (PIT) join: every order is attributed to the "
    "customer segment that was EFFECTIVE ON ITS ORDER DATE by joining "
    "the fact to the SCD2 validity intervals (valid_from <= "
    "order_date < valid_to, half-open like the SCD2 merge itself) — "
    "the canonical 'report facts against the dimension as it was' "
    "query, and the whole reason the SCD2 history exists. Reuses "
    "scd2_customer_segments' history construction verbatim on both "
    "sides, so the attribution is checked end-to-end (build history "
    "-> PIT-join -> per-segment rollup). Scale: the join is "
    "equi-keyed on the customer key with the interval predicates as "
    "residual filters — per-key version chains are short (SCD "
    "invariant: non-overlapping intervals), so this stays a plain "
    "keyed join, never an interval blowup; revenue sums are "
    "DECIMAL-exact with one double share at the end.",
)
def q_pit_join_orders_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_tables(spark, sf_dir)["orders"]
    hist = q_scd2_customer_segments(spark, sf_dir)
    od = F.col("o_orderdate").cast("date")
    j = o.join(
        hist,
        (F.col("o_custkey") == F.col("c_custkey"))
        & (F.col("valid_from").cast("date") <= od)
        & (od < F.col("valid_to").cast("date")),
    ).select(
        "segment",
        "o_custkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("amt"),
    )
    seg = j.groupBy("segment").agg(
        F.count("*").alias("n_orders"),
        F.countDistinct("o_custkey").cast("bigint").alias("n_customers"),
        F.sum("amt").cast("decimal(18,2)").alias("revenue"),
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return seg.select(
        "segment",
        "n_orders",
        "n_customers",
        F.col("revenue").cast("double").alias("revenue"),
        F.round(
            F.col("revenue").cast("double")
            / F.sum("revenue").over(wall).cast("double"),
            6,
        ).alias("revenue_share"),
    ).orderBy("segment")
