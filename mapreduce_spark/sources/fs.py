"""Warehouse filesystem maintenance via the Hadoop FileSystem API.

Index/table maintenance (dropping a stale table directory, swapping a
compacted copy in place of the live one) must not assume a POSIX local
disk: on a real deployment the warehouse lives on HDFS or an object
store, where driver-side ``shutil`` against a ``urlparse().path`` is
simply wrong. Every path here goes through ``org.apache.hadoop.fs.Path`` +
``Path.getFileSystem`` — the exact same code works for ``file://``,
``hdfs://`` and ``s3a://`` URIs alike, and the returned paths stay in
URI form so Spark reads/writes resolve them on the same filesystem.

(The reference never faces this: its output directories are plain local
``pathlib`` paths, /root/reference/mapreduce/manager/__main__.py.)
"""

from __future__ import annotations

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


def fs_rename(spark: SparkSession, src: str, dst: str) -> bool:
    """``FileSystem.rename`` of ``src`` to ``dst`` (same filesystem).
    ``dst`` must not exist: Hadoop moves ``src`` INTO an existing
    directory instead of replacing it. False if the filesystem reports
    that the rename failed."""
    fs, p = _fs_and_path(spark, src)
    _, q = _fs_and_path(spark, dst)
    return bool(fs.rename(p, q))
