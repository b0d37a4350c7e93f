"""Warehouse filesystem maintenance via the Hadoop FileSystem API.

Index/table maintenance (dropping a stale table directory, spooling a
temporary copy during compaction) must not assume a POSIX local disk: on
a real deployment the warehouse lives on HDFS or an object store, where
driver-side ``shutil`` against a ``urlparse().path`` is simply wrong.
Every path here goes through ``org.apache.hadoop.fs.Path`` +
``Path.getFileSystem`` — the exact same code works for ``file://``,
``hdfs://`` and ``s3a://`` URIs alike, and the returned paths stay in
URI form so Spark reads/writes resolve them on the same filesystem.

(The reference never faces this: its output directories are plain local
``pathlib`` paths, /root/reference/mapreduce/manager/__main__.py.)
"""

from __future__ import annotations

import uuid
from typing import NamedTuple

from pyspark.sql import SparkSession


def _fs_and_path(spark: SparkSession, path: str):
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)  # type: ignore[attr-defined]
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())  # type: ignore[attr-defined]
    return fs, jpath


class PathStatus(NamedTuple):
    """What ``fs_status`` reports for one path."""

    uri: str  # fully qualified: plain, ``file:`` and ``file://`` agree
    mtime_ms: int
    size: int


def fs_status(spark: SparkSession, path: str) -> PathStatus:
    """``FileSystem.getFileStatus`` of ``path`` on its own filesystem."""
    fs, p = _fs_and_path(spark, path)
    st = fs.getFileStatus(p)
    return PathStatus(st.getPath().toString(), st.getModificationTime(), st.getLen())


def warehouse_uri(spark: SparkSession) -> str:
    """The warehouse location AS A URI (never stripped to a local path —
    on file:// the two coincide; on hdfs:///s3a:// only the URI works)."""
    return spark.conf.get("spark.sql.warehouse.dir").rstrip("/")


def fs_delete(spark: SparkSession, path: str) -> bool:
    """Recursive delete; absent paths are a no-op (the distributed-FS
    equivalent of ``shutil.rmtree(..., ignore_errors=True)``)."""
    fs, p = _fs_and_path(spark, path)
    return bool(fs.delete(p, True))


def drop_table(spark: SparkSession, name: str) -> None:
    """Drop table ``name`` and delete its warehouse location. Overwrite
    means overwrite: a stale location with no catalog entry (a crashed
    run, a fresh session over an old warehouse) must not block the
    rebuild."""
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    fs_delete(spark, f"{warehouse_uri(spark)}/{name}")


def fs_exists(spark: SparkSession, path: str) -> bool:
    """True if ``path`` exists on its own filesystem (URI-scheme-aware)."""
    fs, p = _fs_and_path(spark, path)
    return bool(fs.exists(p))


def fs_mkdtemp(spark: SparkSession, prefix: str) -> str:
    """A fresh scratch directory ON THE WAREHOUSE FILESYSTEM (compaction
    spools must live where the data lives: a local tempfile.mkdtemp
    would silently route an S3 table's spool through one driver disk)."""
    path = f"{warehouse_uri(spark)}/_spool_{prefix}_{uuid.uuid4().hex[:12]}"
    fs, p = _fs_and_path(spark, path)
    fs.mkdirs(p)
    return path
