"""sources/fs.py: the Hadoop FileSystem helpers behind index maintenance.

These run against file:// (the sandbox warehouse) but exercise the exact
JVM code path (org.apache.hadoop.fs.Path + Path.getFileSystem) that a
hdfs:// or s3a:// warehouse would take — the point of VERDICT r6 #7.
"""

from __future__ import annotations

from urllib.parse import urlparse

from mapreduce_spark.sources.fs import (
    fs_delete,
    fs_exists,
    fs_rename,
    warehouse_uri,
)


def test_rename_exists_delete_roundtrip(spark):
    """fs_rename moves a whole directory on the warehouse filesystem —
    the swap step of both index compactions."""
    import os

    src = f"{warehouse_uri(spark)}/fs_unit_rename_src"
    dst = f"{warehouse_uri(spark)}/fs_unit_rename_dst"
    for p in (src, dst):
        fs_delete(spark, p)
    spark.range(3).write.parquet(src)
    assert fs_rename(spark, src, dst) is True
    assert not fs_exists(spark, src) and fs_exists(spark, dst)
    # the moved directory is real on the underlying store and still reads
    assert os.path.isdir(urlparse(dst).path)
    assert sorted(r.id for r in spark.read.parquet(dst).collect()) == [0, 1, 2]
    assert fs_delete(spark, dst) is True
    assert not fs_exists(spark, dst)


def test_delete_of_absent_path_is_noop(spark):
    ghost = f"{warehouse_uri(spark)}/_fs_unit_never_created"
    assert not fs_exists(spark, ghost)
    # shutil.rmtree(ignore_errors=True) semantics: absent -> False, no raise
    assert fs_delete(spark, ghost) is False
