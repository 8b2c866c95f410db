"""File-source streaming pipelines.

Replaces the reference's poll-download-ledger loop (aws_read.py /
aws_file_download.py / main.py:39-49 in /root/reference) with Spark's
file source + checkpoint: exactly-once file tracking comes from the
checkpoint's file index instead of a MySQL staging table, and
`maxFilesPerTrigger` gives the same per-file micro-batching the
reference achieved by rerunning the job.

``run_to_completion`` drains a bounded source with
``Trigger.AvailableNow`` into an in-memory sink and hands back the
result as a batch DataFrame — which is how the driver's oracle checks
can cover streaming plans too.
"""

from __future__ import annotations

import tempfile
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def read_events_stream(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
    recursive: bool = False,
) -> DataFrame:
    """readStream over the events parquet, timestamp-layout adaptive.

    readStream requires a user-supplied schema; hardcoding one breaks the
    moment the producer changes the physical timestamp encoding (seen in
    practice: the testdata flipped from INT64 TIMESTAMP(NANOS) to plain
    timestamp[us], silently compressing a month of event-time into
    minutes). Probe the actual schema with a batch footer read instead,
    then reuse the same dtype-conditional nanos restore as the batch path
    so both paths agree by construction.

    Session confs are NOT blindly mutated (a leak flagged in review: a
    later batch read of nanos-typed parquet in the same session would
    silently change dtype). The footer is probed WITHOUT the legacy
    nanos flag first; only if that read rejects INT64 TIMESTAMP(NANOS)
    is ``spark.sql.legacy.parquet.nanosAsLong`` enabled — and then it
    must STAY enabled, because the streaming scan re-reads the files on
    every micro-batch after this function returns; that conditional pin
    is the same documented contract as the batch path
    (``datasets.load_tables``). On micros-typed data (the current
    testdata) the conf is never touched. The UTC session timezone IS
    pinned unconditionally — identical to ``load_tables`` — because
    event-time rendering (and the ntz→timestamp cast below) must agree
    with the UTC-rendering DuckDB oracle regardless of which session the
    caller hands us; that pin is part of the engine's documented session
    contract (session.py), not a per-call side effect.
    """
    from ..datasets import _restore_timestamps

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    events_path = f"{sf_dir}/events.parquet"
    try:
        raw_schema = spark.read.parquet(events_path).schema
    except Exception:
        # Retry under the legacy flag — but if the failure was NOT the
        # nanos rejection (missing path, corrupt footer, permissions) the
        # retry fails too, and the conf must be restored before
        # re-raising: flipping it on arbitrary errors would be the exact
        # session leak this probe exists to prevent.
        prior = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        try:
            raw_schema = spark.read.parquet(events_path).schema
        except Exception:
            if prior is None:
                spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
            else:
                spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prior)
            raise
        # retry succeeded: the footer really is nanos-typed, and the conf
        # must STAY set for the lifetime of the stream (documented above)
    # Layout-adaptive source root. pathGlobFilter matches LEAF FILE
    # names only, so the single-file driver layout (sf_dir/
    # events.parquet as a file) needs root=sf_dir + glob
    # "events.parquet", while a DIRECTORY table (the derived sf1/sf3
    # data, or any multi-file producer) needs root=the directory +
    # glob "*.parquet" — with the old single-file glob, a directory
    # layout matched ZERO leaf files and the stream silently drained
    # empty (caught by the r8 sf1 window sweep: both streaming queries
    # returned 0 rows against a 21k-row oracle). recursive=True keeps
    # supporting a STAGED layout (nested part files, e.g. base data +
    # a watermark-advancing sentinel); the schema probe above already
    # reads every layout transparently. The check goes through the
    # Hadoop FS, so it holds on every scheme the stream can read.
    from ..fsops import fs_is_dir

    events_is_dir = fs_is_dir(spark, events_path)
    if recursive and not events_is_dir:
        # recursive=True widens the glob to *.parquet, which on a
        # single-FILE layout would anchor at sf_dir and slurp EVERY
        # table's parquet under the events schema (silent nulls /
        # garbage rows). Recursive callers stage an isolated directory
        # of event files (the stream-stream outer join does); require
        # that instead of guessing.
        raise ValueError(
            "read_events_stream(recursive=True) requires events.parquet "
            f"to be a DIRECTORY of event files; got a single file under "
            f"{sf_dir} — stage the event files into their own directory"
        )
    src = events_path if events_is_dir else sf_dir
    reader = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "*.parquet" if events_is_dir else "events.parquet")
    )
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    out = _restore_timestamps("events", reader.parquet(src))
    if dict(out.dtypes)["ts"] == "timestamp_ntz":
        # watermarks demand TIMESTAMP (with local-tz semantics); the cast is
        # value-preserving because the session timezone is pinned to UTC above
        out = out.withColumn("ts", out["ts"].cast("timestamp"))
    # EVENT-TIME SANITY DOMAIN (extreme probe axis, r12): one corrupt
    # far-future timestamp would advance every downstream watermark to
    # its horizon and silently drop ALL valid events that arrive in
    # later micro-batches — at 100 TB a single poisoned row in a
    # billion kills the pipeline's output, invisibly. Out-of-domain
    # event times (pre-epoch or >= 2100-01-01) are quarantined at the
    # intake, mirrored by the same predicate in every streaming oracle.
    # The left bound is EXCLUSIVE: epoch zero is the streaming
    # runtime's INITIAL watermark value, so a row exactly at it is
    # indistinguishable from late data (Spark's stream-stream join
    # provably drops it — extreme sweep, 10 epoch-zero matches) — and
    # an exactly-zero event time is the canonical zero-initialized
    # sentinel of a corrupt producer besides. NULL ts rows pass
    # through unchanged: each query's NULL-event-time semantics
    # (class-10/12 conventions) are decided downstream, not here.
    from pyspark.sql import functions as F

    return out.filter(
        F.col("ts").isNull()
        | (
            (F.col("ts") > F.lit("1970-01-01").cast("timestamp"))
            & (F.col("ts") < F.lit("2100-01-01").cast("timestamp"))
        )
    )


def run_to_completion(
    stream_df: DataFrame,
    output_mode: str = "complete",
    name: str | None = None,
    checkpoint: str | None = None,
) -> DataFrame:
    """Drain a bounded stream (Trigger.AvailableNow) into a memory sink
    and return the sink table as a batch DataFrame.

    The memory sink is driver-local — test/driver harness use only; real
    deployments writeStream to parquet/Kafka with a durable checkpoint
    (see ``write_stream_parquet``). Pass ``checkpoint`` to PIN the
    checkpoint dir across calls (restart/resume tests — the second drain
    picks up state and the processed-file index from the first); the
    default is a fresh temp dir per call."""
    name = name or f"sink_{uuid.uuid4().hex[:12]}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .option(
            "checkpointLocation",
            checkpoint or tempfile.mkdtemp(prefix=f"ckpt_{name}_"),
        )
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(name)


def write_stream_parquet(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    partition_by: tuple[str, ...] = (),
):
    """Durable file sink with checkpoint (the production shape), drained
    with Trigger.AvailableNow."""
    w = (
        stream_df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if partition_by:
        w = w.partitionBy(*partition_by)
    return w.trigger(availableNow=True).start()


def foreach_batch_pipeline(
    stream_df: DataFrame,
    batch_fn: Callable[[DataFrame, int], None],
    checkpoint: str,
    output_mode: str | None = None,
):
    """foreachBatch: reuse a BATCH transform/writer per micro-batch,
    drained with Trigger.AvailableNow — how the reference's mart writers
    (parquet + JDBC) slot into a streaming pipeline without a
    streaming-capable sink. Pass ``output_mode="update"`` when the plan
    holds an update-mode stateful operator (foreachBatch is also the
    recovery-capable sink for restart tests — the memory sink cannot
    resume a checkpoint)."""
    w = stream_df.writeStream.foreachBatch(batch_fn).option(
        "checkpointLocation", checkpoint
    )
    if output_mode:
        w = w.outputMode(output_mode)
    return w.trigger(availableNow=True).start()


def run_foreach_batch_upsert(
    stream_df: DataFrame,
    out_dir: str,
    key_col: str,
    order_cols: list[str],
    checkpoint: str | None = None,
) -> None:
    """Drain a bounded change stream through a foreachBatch UPSERT sink:
    each micro-batch merges into the parquet snapshot at ``out_dir`` by
    last-writer-wins on ``order_cols`` — the canonical production sink
    pattern when the target store has no native streaming writer
    (foreachBatch hands every micro-batch to arbitrary batch code,
    exactly-once per epoch via the checkpoint).

    Merge = read current snapshot, union the batch, one max_by hash
    aggregate per key, write to ``fsops.staged(out_dir)``, then
    :func:`..fsops.swap_in` — the same snapshot kernel as the batch CDC
    operator applied incrementally (the merge plan READS the dir it
    replaces, so an in-place lazy overwrite would truncate its own
    input, and the swap never pulls the snapshot through the driver).
    Each merge starts with :func:`..fsops.recover_swap`, so a batch
    replayed from the durable checkpoint after a kill inside the swap
    merges onto the recovered snapshot instead of silently restarting
    from one batch. Idempotent per batch: replaying a micro-batch
    recomputes the same snapshot (max_by is insensitive to
    duplicates). At real scale the swap becomes a MERGE INTO against a
    table format (Delta/Iceberg); the per-batch plan is identical."""
    from pyspark.sql import functions as F

    from ..fsops import fs_exists, recover_swap, staged, swap_in

    spark = stream_df.sparkSession
    schema = stream_df.schema
    payload = [c for c in stream_df.columns if c != key_col]

    def merge(batch_df: DataFrame, _epoch: int) -> None:
        recover_swap(spark, out_dir)
        if fs_exists(spark, out_dir):
            current = spark.read.schema(schema).parquet(out_dir)
            merged_src = current.unionByName(batch_df)
        else:  # first batch: no snapshot yet
            merged_src = batch_df
        snap = merged_src.groupBy(key_col).agg(
            F.max_by(
                F.struct(*payload), F.struct(*[F.col(c) for c in order_cols])
            ).alias("_s")
        )
        out = snap.select(key_col, *[F.col(f"_s.{c}").alias(c) for c in payload])
        out.write.mode("overwrite").parquet(staged(out_dir))
        swap_in(spark, out_dir)  # the write above has fully consumed out_dir

    foreach_batch_pipeline(
        stream_df, merge, checkpoint or tempfile.mkdtemp(prefix="ckpt_upsert_")
    ).awaitTermination()
