"""catalog.load_table's schema cache: a repeated read of an unchanged
table starts no Spark job, a table rewritten at the same path is read
with its new schema, and only local paths are cached."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from hadoop_20_spark import catalog

from conftest import SF_DIR


def test_repeated_load_of_unchanged_table_starts_no_job(spark, tmp_path, count_jobs):
    pq.write_table(
        pa.table({"r_regionkey": [0, 1], "r_name": ["AFRICA", "ASIA"]}),
        tmp_path / "region.parquet",
    )
    load = lambda: catalog.load_table(spark, "region", str(tmp_path))  # noqa: E731
    assert count_jobs(load)[1] >= 1  # the first read infers the schema
    df, jobs = count_jobs(load)
    assert jobs == 0
    assert sorted(r.r_name for r in df.collect()) == ["AFRICA", "ASIA"]


def test_table_rewritten_at_same_path_reads_new_schema(spark, tmp_path):
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": [0, 1]}), path)
    assert catalog.load_table(spark, "region", str(tmp_path)).columns == ["r_regionkey"]
    pq.write_table(
        pa.table({"r_regionkey": [7], "r_name": ["EUROPE"], "r_comment": ["x"]}), path
    )
    df = catalog.load_table(spark, "region", str(tmp_path))
    assert df.columns == ["r_regionkey", "r_name", "r_comment"]
    assert [tuple(r) for r in df.collect()] == [(7, "EUROPE", "x")]


def test_cached_events_read_keeps_timestamp_handling(spark):
    first = catalog.load_table(spark, "events", SF_DIR)
    again = catalog.load_table(spark, "events", SF_DIR)
    assert dict(again.dtypes)["ts"] == "timestamp"
    assert again.dtypes == first.dtypes
    assert sorted(again.collect()) == sorted(first.collect())


def test_files_version_is_local_only(tmp_path):
    f = tmp_path / "a.parquet"
    f.write_bytes(b"12345")
    (root, files), = catalog.files_version([str(f)])
    assert root == str(f) and files[0][1] == 5
    assert catalog.files_version([f"file://{f}"]) == catalog.files_version([str(f)])
    assert catalog.files_version(["hdfs://nn/warehouse/a.parquet"]) is None
    assert catalog.files_version([str(tmp_path / "missing")]) is None
