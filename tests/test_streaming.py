"""Structured Streaming behavior tests: micro-batch file ordering,
watermark late-data eviction, streaming dedup state, and foreachBatch
reuse of batch writers — the semantics a registry oracle can't capture."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from salesdata_engineering_spark.streaming.runner import (
    foreach_batch_pipeline,
    run_to_completion,
)
from salesdata_engineering_spark.streaming.windows import tumbling_agg

SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def _write_file(spark, rows, path):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("overwrite").parquet(path)


def _read_stream(spark, root):
    return (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(f"{root}/batch_*")
    )


TS = "2024-01-01 {h:02d}:{m:02d}:00"


def _ts(h, m=0):
    import datetime

    return datetime.datetime(2024, 1, 1, h, m)


@pytest.fixture()
def three_batches(spark, tmp_path):
    """batch_0: 10:00/10:20 events (+11:00 → watermark 10:30 after it).
    batch_1: 12:00 event → 10:xx windows emit+evict (watermark 11:30).
    batch_2: a 10:05 straggler arriving AFTER its window was finalized —
    the watermark contract guarantees this one is dropped.

    (A late row whose window is merely *older than the watermark* but
    still in state MAY legally be aggregated — Spark's watermark is an
    eviction bound, not a strict input filter — so the test provokes
    the guaranteed case: state already evicted.)"""
    import time

    root = str(tmp_path)
    _write_file(
        spark,
        [(1, _ts(10, 0), 1, 1.0), (2, _ts(10, 20), 1, 1.0), (3, _ts(11, 0), 2, 1.0)],
        f"{root}/batch_0",
    )
    time.sleep(1.1)  # distinct mtimes → deterministic oldest-first order
    _write_file(spark, [(4, _ts(12, 0), 2, 1.0)], f"{root}/batch_1")
    time.sleep(1.1)
    _write_file(spark, [(5, _ts(10, 5), 9, 1.0)], f"{root}/batch_2")  # straggler
    return root


def test_watermark_drops_late_data_after_eviction(spark, three_batches):
    stream = _read_stream(spark, three_batches).withWatermark("ts", "30 minutes")
    agg = tumbling_agg(stream, "ts", "10 minutes", [], n=F.count("*"))
    out = run_to_completion(agg, output_mode="append").collect()
    by_window = {r.window_start.strftime("%H:%M"): r.n for r in out}
    # 10:00 window finalized with ONLY the on-time event; the batch_2
    # straggler must not re-open or re-emit it.
    assert by_window.get("10:00") == 1 and by_window.get("10:20") == 1
    assert sum(by_window.values()) <= 4  # straggler never counted


def test_streaming_dropduplicates_across_batches(spark, tmp_path):
    root = str(tmp_path)
    _write_file(spark, [(1, _ts(10), 1, 1.0), (2, _ts(10, 5), 1, 1.0)], f"{root}/batch_0")
    _write_file(spark, [(2, _ts(10, 5), 1, 1.0), (3, _ts(10, 6), 1, 1.0)], f"{root}/batch_1")
    stream = _read_stream(spark, root).withWatermark("ts", "1 hour")
    dedup = stream.dropDuplicates(["event_id"])
    out = run_to_completion(dedup, output_mode="append")
    ids = sorted(r.event_id for r in out.collect())
    # event 2 re-arrives in batch_1; state dedups it across micro-batches
    assert ids == [1, 2, 3]


def test_foreach_batch_reuses_batch_writer(spark, tmp_path):
    root = str(tmp_path)
    _write_file(spark, [(1, _ts(10), 1, 2.0)], f"{root}/batch_0")
    _write_file(spark, [(2, _ts(11), 2, 3.0)], f"{root}/batch_1")
    out_dir = f"{root}/out"
    seen_batches = []

    def write_batch(df: DataFrame, epoch_id: int) -> None:
        seen_batches.append(epoch_id)
        df.withColumn("doubled", F.col("value") * 2).write.mode("append").parquet(out_dir)

    q = foreach_batch_pipeline(
        _read_stream(spark, root), write_batch, checkpoint=f"{root}/ckpt"
    )
    q.awaitTermination()
    assert len(seen_batches) >= 2  # maxFilesPerTrigger=1 → one batch per file
    got = spark.read.parquet(out_dir).orderBy("event_id").collect()
    assert [(r.event_id, r.doubled) for r in got] == [(1, 4.0), (2, 6.0)]


def test_checkpoint_resume_skips_processed_files(spark, tmp_path):
    """The checkpoint is the file-processing ledger (reference parity:
    product_staging_table A/I statuses, main.py:39-49) — a restarted
    query must not reprocess already-committed files."""
    root = str(tmp_path)
    _write_file(spark, [(1, _ts(10), 1, 1.0)], f"{root}/batch_0")
    out_dir, ckpt = f"{root}/out", f"{root}/ckpt"

    def sink(df: DataFrame, _e: int) -> None:
        df.write.mode("append").parquet(out_dir)

    foreach_batch_pipeline(_read_stream(spark, root), sink, checkpoint=ckpt).awaitTermination()
    # new file lands; restart with the SAME checkpoint
    _write_file(spark, [(2, _ts(11), 1, 1.0)], f"{root}/batch_1")
    foreach_batch_pipeline(_read_stream(spark, root), sink, checkpoint=ckpt).awaitTermination()
    ids = sorted(r.event_id for r in spark.read.parquet(out_dir).collect())
    assert ids == [1, 2]  # file 1 processed exactly once despite restart


def test_stateful_totals_carry_state_across_batches(spark, tmp_path):
    """applyInPandasWithState: the (count, sum) accumulator for user 1
    must fold batch_1 on top of batch_0's persisted state, not restart."""
    from salesdata_engineering_spark.streaming.stateful import running_user_totals

    root = str(tmp_path)
    _write_file(spark, [(1, _ts(10), 1, 2.0), (2, _ts(10, 5), 1, 3.0)], f"{root}/batch_0")
    _write_file(spark, [(3, _ts(11), 1, 5.0), (4, _ts(11), 2, 7.0)], f"{root}/batch_1")
    out = run_to_completion(
        running_user_totals(_read_stream(spark, root)), output_mode="update"
    ).collect()
    # user 1 emits once per batch; the second emission includes batch_0 state
    u1 = sorted((r.n_events, r.total_value) for r in out if r.user_id == 1)
    assert u1 == [(2, 5.0), (3, 10.0)]
    u2 = [(r.n_events, r.total_value) for r in out if r.user_id == 2]
    assert u2 == [(1, 7.0)]


def test_stream_stream_join_time_bounded(spark, tmp_path):
    """Watermarked stream-stream inner join: clicks x errors within 10
    minutes, both sides streaming. The time-range condition bounds the
    join state so watermarks can evict it — the streaming counterpart of
    ops/interval.py's banded batch join."""
    root = str(tmp_path)
    _write_file(spark, [(1, _ts(10, 0), 1, 1.0), (2, _ts(11, 0), 2, 1.0)], f"{root}/clicks/batch_0")
    _write_file(
        spark,
        [(101, _ts(10, 5), 1, 1.0),   # within 10 min of click 1 -> match
         (102, _ts(10, 40), 1, 1.0),  # 40 min later -> no match
         (103, _ts(11, 9), 2, 1.0)],  # within 10 min of click 2 -> match
        f"{root}/errors/batch_0",
    )

    def stream(sub, alias):
        df = (
            spark.readStream.schema(SCHEMA)
            .parquet(f"{root}/{sub}/batch_*")
            .withWatermark("ts", "1 hour")
        )
        return df.select(
            F.col("event_id").alias(f"{alias}_id"),
            F.col("user_id"),
            F.col("ts").alias(f"{alias}_ts"),
        )

    clicks, errors = stream("clicks", "click"), stream("errors", "error")
    joined = clicks.join(
        errors,
        (clicks.user_id == errors.user_id)
        & (F.col("error_ts") >= F.col("click_ts"))
        & (F.col("error_ts") <= F.col("click_ts") + F.expr("interval 10 minutes")),
    ).select("click_id", "error_id")
    out = run_to_completion(joined, output_mode="append").collect()
    assert {(r.click_id, r.error_id) for r in out} == {(1, 101), (2, 103)}


def test_write_stream_parquet_durable_sink_and_restart(spark, tmp_path):
    """Durable file sink: AvailableNow drain writes parquet exactly once;
    a SECOND drain over the same checkpoint must be a no-op (the
    checkpoint's file index already covers the source files) — the
    exactly-once restart contract the reference approximated with its
    MySQL staging ledger."""
    from salesdata_engineering_spark.streaming.runner import write_stream_parquet

    root = str(tmp_path)
    _write_file(spark, [(1, _ts(10, 0), 1, 1.0), (2, _ts(10, 5), 2, 2.0)], f"{root}/src/batch_0")
    out, ckpt = f"{root}/out", f"{root}/ckpt"

    write_stream_parquet(_read_stream(spark, f"{root}/src"), out, ckpt).awaitTermination()
    assert spark.read.parquet(out).count() == 2

    write_stream_parquet(_read_stream(spark, f"{root}/src"), out, ckpt).awaitTermination()
    assert spark.read.parquet(out).count() == 2  # no duplicate replay

    # new source file after restart: only the delta lands
    _write_file(spark, [(3, _ts(11, 0), 1, 3.0)], f"{root}/src/batch_1")
    write_stream_parquet(_read_stream(spark, f"{root}/src"), out, ckpt).awaitTermination()
    assert spark.read.parquet(out).count() == 3


def test_write_stream_parquet_partitioned_layout(spark, tmp_path):
    """partition_by produces the partitioned dir layout (prunable on
    read) straight from the stream."""
    from salesdata_engineering_spark.streaming.runner import write_stream_parquet

    root = str(tmp_path)
    _write_file(spark, [(1, _ts(10), 1, 1.0), (2, _ts(11), 2, 2.0)], f"{root}/src/batch_0")
    out, ckpt = f"{root}/p_out", f"{root}/p_ckpt"
    write_stream_parquet(
        _read_stream(spark, f"{root}/src"), out, ckpt, partition_by=("user_id",)
    ).awaitTermination()
    assert sorted(d for d in os.listdir(out) if d.startswith("user_id=")) == [
        "user_id=1",
        "user_id=2",
    ]


def test_read_events_stream_does_not_flip_nanos_conf(spark, tmp_path):
    """read_events_stream must not leak spark.sql.legacy.parquet.nanosAsLong
    into the session (review round 4, item 4): on micros-typed events (the
    current testdata) the conf stays exactly as the caller left it, so a
    later batch read of nanos-typed parquet in the same session keeps its
    prior dtype contract."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from salesdata_engineering_spark.streaming.runner import read_events_stream

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    prior = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
    try:
        for val in ("false", "true"):
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", val)
            stream = read_events_stream(spark, sf_dir)
            assert stream.isStreaming
            assert (
                spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == val
            ), "conf leaked"

        # prove the later-batch-read contract concretely: with the conf OFF,
        # a genuinely nanos-typed parquet must behave exactly as it would
        # have before read_events_stream ran (same dtype or same rejection)
        nanos_path = str(tmp_path / "nanos.parquet")
        tbl = pa.table({"ts": pa.array([1_700_000_000_000_000_123], pa.timestamp("ns"))})
        pq.write_table(tbl, nanos_path, version="2.6", coerce_timestamps=None)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")

        def nanos_dtype():
            try:
                return dict(spark.read.parquet(nanos_path).dtypes)["ts"]
            except Exception:
                return "<rejected>"

        before = nanos_dtype()
        read_events_stream(spark, sf_dir)
        assert nanos_dtype() == before
    finally:
        if prior is None:
            spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
        else:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prior)


def test_read_events_stream_bad_path_restores_conf(spark):
    """A probe failure that is NOT a nanos rejection (missing path) must
    not leave the legacy nanos conf flipped (review round 5)."""
    prior = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
        from salesdata_engineering_spark.streaming.runner import read_events_stream

        with pytest.raises(Exception):
            read_events_stream(spark, "/definitely/not/a/dir")
        assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "false"
    finally:
        if prior is None:
            spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
        else:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prior)


def test_streaming_cdc_latest_carries_state_and_tombstones(spark, tmp_path):
    """streaming_cdc_latest: batch_1's older row must NOT displace
    batch_0's newer state (last-writer is by event time, not arrival),
    and a key whose latest op is a tombstone surfaces as 'error' for
    the downstream filter."""
    from salesdata_engineering_spark.streaming.stateful import streaming_cdc_latest

    cdc_schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    root = str(tmp_path)
    rows0 = [
        (10, _ts(12), 1, "purchase", 5.0),  # newest for user 1 (by ts)
        (11, _ts(10), 2, "view", 1.0),
    ]
    rows1 = [
        (12, _ts(11), 1, "click", 9.0),   # OLDER than batch_0's state
        (13, _ts(11), 2, "error", 0.0),   # newest for user 2: tombstone
    ]
    for i, rows in enumerate((rows0, rows1)):
        spark.createDataFrame(rows, cdc_schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{root}/batch_{i}")
    stream = (
        spark.readStream.schema(cdc_schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(f"{root}/batch_*")
    )
    out = run_to_completion(
        streaming_cdc_latest(stream), output_mode="update"
    ).collect()
    final = {}
    for r in sorted(out, key=lambda r: (r.last_ts, r.last_seq)):
        final[r.user_id] = (r.last_op, r.last_value)
    assert final[1] == ("purchase", 5.0)  # older batch_1 row ignored
    assert final[2] == ("error", 0.0)     # tombstone wins for user 2


def test_foreach_batch_upsert_merges_across_batches(spark, tmp_path):
    """run_foreach_batch_upsert: the snapshot after draining two
    micro-batches must equal global last-writer-wins — batch_1's older
    row must not displace batch_0's newer state, and new keys append."""
    from salesdata_engineering_spark.streaming.runner import (
        run_foreach_batch_upsert,
    )

    root = str(tmp_path / "feed")
    out = str(tmp_path / "snapshot")
    rows0 = [(10, _ts(12), 1, 5.0)]
    rows1 = [(11, _ts(11), 1, 9.0), (12, _ts(11), 2, 7.0)]
    for i, rows in enumerate((rows0, rows1)):
        _write_file(spark, rows, f"{root}/batch_{i}")
    stream = _read_stream(spark, root).select(
        "user_id", "value", "ts", "event_id"
    )
    run_foreach_batch_upsert(stream, out, "user_id", ["ts", "event_id"])
    snap = {r.user_id: (r.value, r.event_id) for r in spark.read.parquet(out).collect()}
    assert snap == {1: (5.0, 10), 2: (7.0, 12)}


def test_foreach_batch_upsert_recovers_crash_inside_swap(spark, tmp_path):
    """A kill between the snapshot swap's two renames leaves the previous
    snapshot in .old and the merged one in .new with no live dir. The
    restarted sink replays the uncommitted batch onto the recovered
    snapshot and drains to the same state as an uninterrupted run
    (test_foreach_batch_upsert_merges_across_batches)."""
    from salesdata_engineering_spark.streaming.runner import (
        run_foreach_batch_upsert,
    )

    root = str(tmp_path / "feed")
    out, ckpt = str(tmp_path / "snapshot"), str(tmp_path / "ckpt")
    order = ["ts", "event_id"]

    def stream():
        return _read_stream(spark, root).select("user_id", "value", "ts", "event_id")

    _write_file(spark, [(10, _ts(12), 1, 5.0)], f"{root}/batch_0")
    run_foreach_batch_upsert(stream(), out, "user_id", order, checkpoint=ckpt)
    _write_file(spark, [(11, _ts(11), 1, 9.0), (12, _ts(11), 2, 7.0)], f"{root}/batch_1")
    # the crash state of batch_1: merged snapshot complete, live at .old
    spark.createDataFrame(
        [(1, 5.0, _ts(12), 10), (2, 7.0, _ts(11), 12)], stream().schema
    ).write.parquet(f"{out}.new")
    os.rename(out, f"{out}.old")

    run_foreach_batch_upsert(stream(), out, "user_id", order, checkpoint=ckpt)
    snap = {r.user_id: (r.value, r.event_id) for r in spark.read.parquet(out).collect()}
    assert snap == {1: (5.0, 10), 2: (7.0, 12)}
    assert not os.path.exists(f"{out}.new") and not os.path.exists(f"{out}.old")


def test_stateful_totals_restart_from_old_checkpoint_migrates(spark, tmp_path):
    """State-schema versioning (VERDICT r12 item 8): the state struct is
    frozen as (v, payload) so a LAYOUT change is additive — a restart
    from a checkpoint written by older code upgrades each key's state
    lazily via the migrations dict instead of misparsing or requiring a
    wipe. Simulated here end-to-end: drain batch_0 under the current v2
    layout, then restart the SAME checkpoint with a 'future' v3 operator
    (adds a max_value field) whose 2->3 upgrader backfills the new
    field; user 1's v3 accumulation must include the v2-era state."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from salesdata_engineering_spark.streaming import stateful as st
    from salesdata_engineering_spark.streaming.runner import foreach_batch_pipeline

    root = str(tmp_path)
    ckpt = f"{root}/ckpt"
    sink_dir = f"{root}/sink"

    # memory sink cannot resume a checkpoint — drain via foreachBatch
    # (recovery-capable) into an append-parquet sink per run
    def _drain(stream, run_dir):
        def sink(df, _epoch):
            df.write.mode("append").parquet(run_dir)

        foreach_batch_pipeline(
            stream, sink, checkpoint=ckpt, output_mode="update"
        ).awaitTermination()
        return spark.read.parquet(run_dir).collect()

    _write_file(spark, [(1, _ts(10), 1, 2.0), (2, _ts(10, 5), 1, 3.0)], f"{root}/batch_0")
    out0 = _drain(
        st.running_user_totals(_read_stream(spark, root)), f"{sink_dir}/run0"
    )
    assert [(r.n_events, r.total_value) for r in out0 if r.user_id == 1] == [(2, 5.0)]

    migrations = {2: lambda f: f + [float("-inf")]}  # v3 adds max_value

    def fold_v3(key, pdfs, state):
        fields = st._load_versioned(state, migrations, 3)
        n, nvals, total, vmax = fields if fields is not None else (0, 0, 0.0, float("-inf"))
        for pdf in pdfs:
            n += len(pdf)
            nvals += int(pdf["value"].notna().sum())
            total += float(pdf["value"].sum())
            if pdf["value"].notna().any():
                vmax = max(vmax, float(pdf["value"].max()))
        state.update((3, st._pack(n, nvals, total, vmax)))
        # same OUT_SCHEMA: the checkpoint pins the sink/operator shape
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [total if nvals else None],
            }
        )

    _write_file(spark, [(3, _ts(11), 1, 5.0), (4, _ts(11), 2, 7.0)], f"{root}/batch_1")
    out1 = _drain(
        _read_stream(spark, root)
        .groupBy("user_id")
        .applyInPandasWithState(
            fold_v3,
            outputStructType=st.OUT_SCHEMA,
            stateStructType=st.STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        ),
        f"{sink_dir}/run1",
    )
    # second drain processes ONLY batch_1; user 1 folds on top of v2 state
    u1 = [(r.n_events, r.total_value) for r in out1 if r.user_id == 1]
    assert u1 == [(3, 10.0)]
    u2 = [(r.n_events, r.total_value) for r in out1 if r.user_id == 2]
    assert u2 == [(1, 7.0)]


def test_load_versioned_refuses_newer_state(spark, tmp_path):
    """State written by NEWER code must raise, not misparse."""
    import pytest as _pytest

    from salesdata_engineering_spark.streaming import stateful as st

    class _FakeState:
        exists = True
        get = (99, st._pack(1, 1, 1.0))

    with _pytest.raises(ValueError, match="NEWER code"):
        st._load_versioned(_FakeState(), {}, st._TOTALS_VERSION)
