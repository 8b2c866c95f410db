"""Hadoop-FileSystem file lifecycle — the S8 object-store path.

The reference drives its file lifecycle with a cloud-SDK client
(src/main/read/aws_read.py:7-22, download/aws_file_download.py:12-25,
upload/upload_to_s3.py:10-24, move/move_files.py:26-62,
delete/aws_delete.py:12-24 — ~130 LoC of list/download/upload/
copy+delete/delete calls). Spark-first, none of that machinery is
needed: executors read object stores directly through the Hadoop
FileSystem connectors, and the same FileSystem API gives the
driver-side lifecycle ops (list / move-to-error / move-to-processed /
delete) over EVERY scheme — ``file://``, ``hdfs://``, ``s3a://``,
``abfss://``, ``gs://`` — with one code path and no per-store SDK.

These helpers necessarily go through the JVM (PySpark exposes no
filesystem API); the py4j surface used — ``sc._jsc.hadoopConfiguration``
and ``org.apache.hadoop.fs.FileSystem`` — has been stable across
Spark 1.x–4.x and is exercised in-sandbox over ``file://`` (Hadoop's
LocalFileSystem), so pointing at a real object store changes only the
URI and credentials, never this code. ``SPARK_GRAFT_REMOTE_FS_DIR``
runs the same test suite against a real endpoint (tests/test_fsops.py).

Scale note: object stores have no atomic directory rename — S3A
``rename`` is copy+delete per object. That matches the reference's own
move semantics (copy_object + delete_object, move_files.py:26-62) and
is fine for the file-count scale of an ingest landing zone; bulk data
movement belongs to executor-side reads/writes, not driver FS calls.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _fs_and_path(spark: SparkSession, uri: str):
    """(FileSystem, Path) for a URI, resolved against the session's
    Hadoop configuration (credentials, connector settings)."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(uri)
    return path.getFileSystem(conf), path


def fs_exists(spark: SparkSession, uri: str) -> bool:
    fs, path = _fs_and_path(spark, uri)
    return bool(fs.exists(path))


def fs_mkdirs(spark: SparkSession, uri: str) -> bool:
    fs, path = _fs_and_path(spark, uri)
    return bool(fs.mkdirs(path))


def fs_list(spark: SparkSession, dir_uri: str, suffix: str = "") -> list[str]:
    """Non-recursive file listing (parity: aws_read.py list_files);
    returns full URIs, filtered by ``suffix`` (e.g. '.csv')."""
    fs, path = _fs_and_path(spark, dir_uri)
    if not fs.exists(path):
        return []
    out = []
    for status in fs.listStatus(path):
        if status.isFile():
            p = status.getPath().toString()
            if p.endswith(suffix):
                out.append(p)
    return sorted(out)


def fs_delete(spark: SparkSession, uri: str, recursive: bool = False) -> bool:
    """Delete a file or (recursively) a directory (parity:
    aws_delete.py / local_file_delete.py)."""
    fs, path = _fs_and_path(spark, uri)
    return bool(fs.delete(path, recursive))


def _rename(fs, src, dst) -> None:
    """Hadoop ``rename`` reports failure by returning false; raise it."""
    if not fs.rename(src, dst):
        raise IOError(f"rename failed: {src} -> {dst}")


def fs_move(spark: SparkSession, src_uri: str, dst_dir_uri: str) -> str:
    """Move one file into ``dst_dir_uri`` (created if missing), keeping
    its basename; returns the destination URI. Parity with the
    reference's move_s3_to_s3 (move_files.py:26-62): within one
    FileSystem Hadoop's rename applies (itself copy+delete on object
    stores); ACROSS filesystems (bucket A → bucket B, file:// → s3a://)
    rename is refused by contract, so we fall back to
    ``FileUtil.copy(deleteSource=true)`` — the same copy-then-delete
    the reference's copy_object+delete_object performs."""
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    fs, src = _fs_and_path(spark, src_uri)
    jvm = spark.sparkContext._jvm
    dst_dir = jvm.org.apache.hadoop.fs.Path(dst_dir_uri)
    dst_fs = dst_dir.getFileSystem(conf)
    dst_fs.mkdirs(dst_dir)
    dst = jvm.org.apache.hadoop.fs.Path(dst_dir, src.getName())
    if fs.getUri().toString() == dst_fs.getUri().toString():
        _rename(fs, src, dst)
    elif not jvm.org.apache.hadoop.fs.FileUtil.copy(fs, src, dst_fs, dst, True, conf):
        raise IOError(f"cross-fs move failed: {src_uri} -> {dst}")
    return dst.toString()


# Directory publishing. Two renames cannot be atomic together, so a
# directory ``live`` is replaced crash-recoverably through two sibling
# names: the writer fills ``{live}.new`` completely, then swap_in moves
# ``live`` to ``{live}.old``, ``{live}.new`` to ``live`` and deletes
# ``{live}.old``. ``live`` is missing only between the two renames, and
# there ``{live}.old`` always exists — the one state recover_swap acts on.


def _swap_paths(spark: SparkSession, live: str):
    """(FileSystem, live, .new, .old) Paths; the siblings hang off the
    normalized live path, so a trailing slash cannot nest them inside."""
    fs, live_p = _fs_and_path(spark, live)
    live = live_p.toString()
    new_p = _fs_and_path(spark, f"{live}.new")[1]
    return fs, live_p, new_p, _fs_and_path(spark, f"{live}.old")[1]


def recover_swap(spark: SparkSession, live: str) -> None:
    """Finish or roll back a swap_in that a crash cut between its
    renames: with ``live`` missing and ``{live}.old`` present, install
    ``{live}.new`` (complete before ``live`` ever moved) or, without
    one, restore ``{live}.old``. Every other state is left as it is —
    in particular a ``{live}.new`` with no ``{live}.old`` may be a
    partly written first publish and is never installed."""
    fs, live_p, new_p, old_p = _swap_paths(spark, live)
    if fs.exists(live_p) or not fs.exists(old_p):
        return
    if fs.exists(new_p):
        _rename(fs, new_p, live_p)
        fs.delete(old_p, True)
    else:
        _rename(fs, old_p, live_p)


def swap_in(spark: SparkSession, live: str) -> None:
    """Install the fully written directory ``{live}.new`` at ``live``
    (created or replaced) through ``{live}.old``; raises ``IOError``
    when a rename reports failure. A crash inside is finished or rolled back by
    :func:`recover_swap`. Readers of ``live`` can miss it between the
    two renames; serialize them against publishers if that matters."""
    fs, live_p, new_p, old_p = _swap_paths(spark, live)
    fs.delete(old_p, True)
    if fs.exists(live_p):
        _rename(fs, live_p, old_p)
    _rename(fs, new_p, live_p)
    fs.delete(old_p, True)
