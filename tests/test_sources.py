"""Source-layer tests: text dir / KV lines / csv / json loaders, the
parquet schema memo and the fan_out clamp."""

from __future__ import annotations

import contextlib
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq

from mapreduce_spark.sources.readers import (
    read_csv,
    read_json,
    read_kv_lines,
    read_text_dir,
)
from mapreduce_spark.sources.tables import TABLE_NAMES, fan_out, load_table


def test_read_text_dir_one_row_per_line(spark, tmp_path):
    (tmp_path / "a.txt").write_text("l1\nl2\n")
    (tmp_path / "b.txt").write_text("l3\n")
    df = read_text_dir(spark, str(tmp_path))
    assert sorted(r["value"] for r in df.collect()) == ["l1", "l2", "l3"]
    withf = read_text_dir(spark, str(tmp_path), with_file=True)
    assert set(withf.columns) == {"value", "input_file"}
    files = {r["input_file"].rsplit("/", 1)[-1] for r in withf.collect()}
    assert files == {"a.txt", "b.txt"}


def test_read_kv_lines_first_tab_and_empty_key(spark, tmp_path):
    # the reference's KV model: key = before FIRST tab, may be empty
    # (/root/reference/mapreduce/worker/__main__.py:105)
    (tmp_path / "kv.txt").write_text("k\tv1\tv2\n\tonly-value\nplain\n")
    rows = {
        (r["key"], r["val"]) for r in read_kv_lines(spark, str(tmp_path)).collect()
    }
    assert ("k", "v1\tv2") in rows  # split at FIRST tab only
    assert ("", "only-value") in rows  # empty-string key is valid
    assert ("plain", "") in rows  # no tab → whole line is the key


def test_read_csv_with_schema(spark, tmp_path):
    p = tmp_path / "t.csv"
    p.write_text("id,name\n1,alpha\n2,beta\n")
    df = read_csv(spark, str(p), schema="id INT, name STRING")
    assert df.schema.simpleString() == "struct<id:int,name:string>"
    assert sorted((r["id"], r["name"]) for r in df.collect()) == [
        (1, "alpha"),
        (2, "beta"),
    ]


def test_read_json_lines(spark, tmp_path):
    p = tmp_path / "t.jsonl"
    p.write_text("\n".join(json.dumps({"id": i, "v": i * 1.5}) for i in range(3)))
    df = read_json(spark, str(p), schema="id LONG, v DOUBLE")
    assert df.count() == 3


def test_load_table_all_tables(spark, sf_dir):
    for name in TABLE_NAMES:
        df = load_table(spark, sf_dir, name)
        assert df.count() > 0, name


def test_events_ts_is_ntz(spark, sf_dir):
    # TIMESTAMP(NANOS) parquet must surface as timestamp_ntz, not bigint
    df = load_table(spark, sf_dir, "events")
    assert dict(df.dtypes)["ts"] == "timestamp_ntz"


@contextlib.contextmanager
def _jobs(spark, group):
    """Collect the ids of the Spark jobs launched inside the block."""
    sc = spark.sparkContext
    ids: list[int] = []
    sc.setJobGroup(group, group)
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def test_warm_load_table_and_stream_launch_no_job(spark, sf_dir):
    from mapreduce_spark.streaming.events import _events_stream

    load_table(spark, sf_dir, "events")
    with _jobs(spark, "schema-memo-warm") as ids:
        df = load_table(spark, sf_dir, "events")
        stream = _events_stream(spark, sf_dir)
    assert ids == []
    assert dict(df.dtypes)["ts"] == "timestamp_ntz"
    assert stream.columns == df.columns


def test_rewritten_table_is_reinferred(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    # Hadoop's local mtime has millisecond resolution: make the rewrite
    # visible even when both writes land in the same millisecond.
    mtime = os.stat(path).st_mtime + 10
    os.utime(path, (mtime, mtime))
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert sorted(tuple(r) for r in df.collect()) == [(1, "x"), (2, "y")]


def test_file_uri_and_plain_path_share_one_schema(spark, tmp_path):
    pq.write_table(pa.table({"k": [1], "v": [0.5]}), tmp_path / "u.parquet")
    plain = load_table(spark, str(tmp_path), "u")
    with _jobs(spark, "schema-memo-uri") as ids:
        uri = load_table(spark, f"file:{tmp_path}", "u")
    assert uri.schema == plain.schema
    assert ids == []  # the qualified path hits the plain path's entry


def test_fan_out_clamps_on_file_uri(spark, tmp_path):
    path = tmp_path / "f.parquet"
    pq.write_table(pa.table({"x": list(range(1000))}), path)
    df = spark.read.parquet(f"file://{path}")
    assert all(p.startswith("file:") for p in df.inputFiles())
    assert df.rdd.getNumPartitions() == 1
    size = os.path.getsize(path)
    parallelism = spark.sparkContext.defaultParallelism
    assert parallelism >= 3
    # input bytes / bytes_per_task = 2 tasks, below the core count
    assert fan_out(df, bytes_per_task=size // 2).rdd.getNumPartitions() == 2
    # one task's worth of bytes: no exchange at all
    assert fan_out(df, bytes_per_task=size * 4) is df
    # many tasks' worth: clamped at the core count
    assert fan_out(df, bytes_per_task=1).rdd.getNumPartitions() == parallelism
