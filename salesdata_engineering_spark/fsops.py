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

This module is the one place that knows how files are listed, checked,
read, renamed, moved, deleted, fingerprinted and published; every other
module passes plain URI strings and gets back strings, booleans and
:class:`Entry` records:

- ``fs_exists`` / ``fs_is_dir`` — existence and directory checks;
- ``fs_list`` — a directory's direct children as :class:`Entry` records;
- ``fs_lines`` — a text file's decoded lines, read lazily;
- ``fs_put`` — a whole small file written from driver bytes, published
  by one rename;
- ``fs_delete`` / ``fs_rename`` / ``fs_move`` — the S8 lifecycle moves;
- ``inventory_fingerprint`` — a content key over a tree's listing;
- ``staged`` / ``swap_in`` / ``recover_swap`` — crash-safe directory
  publishing.

They necessarily go through the JVM (PySpark exposes no filesystem
API); the py4j surface used — ``sc._jsc.hadoopConfiguration`` and
``org.apache.hadoop.fs.FileSystem`` — has been stable across Spark
1.x–4.x and is exercised in-sandbox over ``file://`` (Hadoop's
LocalFileSystem) and ``viewfs://`` (a mount table onto it), so pointing
at a real object store changes only the URI and credentials, never this
code. ``SPARK_GRAFT_REMOTE_FS_DIR`` runs the same test suite against a
real endpoint (tests/test_fsops.py).

Scale note: object stores have no atomic directory rename — S3A
``rename`` is copy+delete per object. That matches the reference's own
move semantics (copy_object + delete_object, move_files.py:26-62) and
is fine for the file-count scale of an ingest landing zone; bulk data
movement belongs to executor-side reads/writes, not driver FS calls.
"""

from __future__ import annotations

import functools
import hashlib
import uuid
from collections.abc import Iterator
from typing import NamedTuple

from pyspark.sql import SparkSession


class Entry(NamedTuple):
    """One listed child: its name, ``{dir_uri}/{name}``, whether it is a
    directory, its byte size and its modification time (ms)."""

    name: str
    uri: str
    is_dir: bool
    size: int
    mtime: int


@functools.cache
def _path_class(jvm):
    """Hadoop's ``Path`` class on a JVM gateway. Resolving a class walks
    its package one py4j round trip at a time, so it is done once."""
    return jvm.org.apache.hadoop.fs.Path


def _fs_and_path(spark: SparkSession, uri: str):
    """(FileSystem, Path) for a URI, resolved against the session's
    Hadoop configuration (credentials, connector settings). The
    configuration is read on every call: mount tables and credentials
    can be set on it at runtime."""
    path = _path_class(spark.sparkContext._jvm)(uri)
    return path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), path


def fs_exists(spark: SparkSession, uri: str) -> bool:
    fs, path = _fs_and_path(spark, uri)
    return bool(fs.exists(path))


def fs_is_dir(spark: SparkSession, uri: str) -> bool:
    fs, path = _fs_and_path(spark, uri)
    return bool(fs.isDirectory(path))


def fs_list(spark: SparkSession, dir_uri: str) -> list[Entry]:
    """The direct children of ``dir_uri``, sorted by name (parity:
    aws_read.py list_files); ``[]`` when it does not exist. Each uri is
    ``dir_uri`` joined with the name, so a plain local directory lists
    plain local paths."""
    fs, path = _fs_and_path(spark, dir_uri)
    if not fs.exists(path):
        return []
    base = dir_uri.rstrip("/")
    out = []
    for st in fs.listStatus(path):
        name = st.getPath().getName()
        out.append(
            Entry(name, f"{base}/{name}", st.isDirectory(), st.getLen(), st.getModificationTime())
        )
    return sorted(out)


def fs_lines(spark: SparkSession, uri: str) -> Iterator[str]:
    """The lines of a text file, read lazily and decoded as UTF-8
    (undecodable bytes replaced); close the iterator to release the
    stream early."""
    fs, path = _fs_and_path(spark, uri)
    stream = fs.open(path)
    try:
        # DataInputStream.readLine maps each byte to one char (latin-1),
        # so the bytes come back intact and are decoded here
        while (raw := stream.readLine()) is not None:
            yield raw.encode("latin-1").decode("utf-8", "replace")
    finally:
        stream.close()


def fs_put(spark: SparkSession, uri: str, data: bytes) -> None:
    """Write ``data`` as the file ``uri``, whole or not at all: the bytes
    go to a hidden sibling ``_tmp-<uuid>`` first, which one rename then
    publishes at ``uri``. Neither Spark's hidden-file filter nor a
    ``*.parquet`` glob lists the sibling, so a crash before the rename
    leaves debris no reader picks up. A refused rename (Hadoop returns
    false, e.g. when ``uri`` already exists) deletes the sibling and
    raises ``IOError``. Meant for small driver-built files; bulk data
    belongs to executor-side writes."""
    fs, dst = _fs_and_path(spark, uri)
    tmp = _path_class(spark.sparkContext._jvm)(dst.getParent(), f"_tmp-{uuid.uuid4().hex}")
    out = fs.create(tmp, False)
    try:
        out.write(bytearray(data))
    finally:
        out.close()
    if not fs.rename(tmp, dst):
        fs.delete(tmp, False)
        raise IOError(f"publish failed: {uri}")


def fs_delete(spark: SparkSession, uri: str, recursive: bool = False) -> bool:
    """Delete a file or (recursively) a directory (parity:
    aws_delete.py / local_file_delete.py)."""
    fs, path = _fs_and_path(spark, uri)
    return bool(fs.delete(path, recursive))


def fs_rename(spark: SparkSession, src_uri: str, dst_uri: str) -> None:
    """Rename within one FileSystem; Hadoop reports a failed rename by
    returning false, raised here as ``IOError``."""
    fs, src = _fs_and_path(spark, src_uri)
    if not fs.rename(src, _path_class(spark.sparkContext._jvm)(dst_uri)):
        raise IOError(f"rename failed: {src_uri} -> {dst_uri}")


def fs_move(spark: SparkSession, src_uri: str, dst_dir_uri: str) -> str:
    """Move one file into ``dst_dir_uri`` (created if missing), keeping
    its basename; returns the destination URI. Parity with the
    reference's move_s3_to_s3 (move_files.py:26-62): within one
    FileSystem Hadoop's rename applies (itself copy+delete on object
    stores); ACROSS filesystems (bucket A → bucket B, file:// → s3a://)
    rename is refused by contract, so we fall back to
    ``FileUtil.copy(deleteSource=true)`` — the same copy-then-delete
    the reference's copy_object+delete_object performs."""
    fs, src = _fs_and_path(spark, src_uri)
    dst_fs, dst_dir = _fs_and_path(spark, dst_dir_uri)
    dst_fs.mkdirs(dst_dir)
    dst = _path_class(spark.sparkContext._jvm)(dst_dir, src.getName())
    if fs.getUri().toString() == dst_fs.getUri().toString():
        moved = fs.rename(src, dst)
    else:
        conf = spark.sparkContext._jsc.hadoopConfiguration()
        moved = spark.sparkContext._jvm.org.apache.hadoop.fs.FileUtil.copy(
            fs, src, dst_fs, dst, True, conf
        )
    if not moved:
        raise IOError(f"move failed: {src_uri} -> {dst}")
    return dst.toString()


def inventory_fingerprint(spark: SparkSession, path: str, suffix: str | None = None) -> str:
    """md5 over the file inventory (uri, size, mtime) of ``path`` — a
    file or a tree, optionally filtered to ``suffix`` files; ``""``'s
    md5 when it does not exist. Listing metadata only, no data read:
    the content key behind the index cache and the derived-dataset
    caches."""

    def files(uri: str) -> Iterator[str]:
        for e in fs_list(spark, uri):
            if e.is_dir:
                yield from files(e.uri)
            elif not suffix or e.name.endswith(suffix):
                yield f"{e.uri}:{e.size}:{e.mtime}"

    if fs_is_dir(spark, path):
        found = files(path)
    else:  # Hadoop lists a file as its own one entry
        found = (f"{path}:{e.size}:{e.mtime}" for e in fs_list(spark, path))
    return hashlib.md5("\n".join(found).encode()).hexdigest()


# Directory publishing. Two renames cannot be atomic together, so a
# directory ``live`` is replaced crash-recoverably through two sibling
# names: the writer fills ``staged(live)`` (``{live}.new``) completely,
# then swap_in moves ``live`` to ``{live}.old``, ``{live}.new`` to
# ``live`` and deletes ``{live}.old``. ``live`` is missing only between
# the two renames, and there ``{live}.old`` always exists — the one
# state recover_swap acts on. The siblings hang off ``live`` without a
# trailing slash, so a slash cannot nest them inside it.


def staged(live: str) -> str:
    """The sibling a writer fills before :func:`swap_in` installs it."""
    return f"{live.rstrip('/')}.new"


def _old(live: str) -> str:
    return f"{live.rstrip('/')}.old"


def recover_swap(spark: SparkSession, live: str) -> None:
    """Finish or roll back a swap_in that a crash cut between its
    renames: with ``live`` missing and ``{live}.old`` present, install
    ``{live}.new`` (complete before ``live`` ever moved) or, without
    one, restore ``{live}.old``. Every other state is left as it is —
    in particular a ``{live}.new`` with no ``{live}.old`` may be a
    partly written first publish and is never installed."""
    if fs_exists(spark, live) or not fs_exists(spark, _old(live)):
        return
    if fs_exists(spark, staged(live)):
        fs_rename(spark, staged(live), live)
        fs_delete(spark, _old(live), recursive=True)
    else:
        fs_rename(spark, _old(live), live)


def swap_in(spark: SparkSession, live: str) -> None:
    """Install the fully written directory ``{live}.new`` at ``live``
    (created or replaced) through ``{live}.old``; raises ``IOError``
    when a rename reports failure. A crash inside is finished or rolled back by
    :func:`recover_swap`. Readers of ``live`` can miss it between the
    two renames; serialize them against publishers if that matters."""
    fs_delete(spark, _old(live), recursive=True)
    if fs_exists(spark, live):
        fs_rename(spark, live, _old(live))
    fs_rename(spark, staged(live), live)
    fs_delete(spark, _old(live), recursive=True)
