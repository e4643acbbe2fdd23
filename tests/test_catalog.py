"""The catalog's parquet schema cache: a repeat table load launches no
Spark job, a file rewritten in place is re-inferred (and re-counted), both
events layouts normalize to one ts type, and merge-on-read delete files are
read through the same cache."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import types as T

from airflow_etl_spark import catalog, streaming
from airflow_etl_spark.sources import txn


def _write(path, **cols):
    pq.write_table(pa.table(cols), str(path))


def test_repeat_load_launches_no_jobs(spark, tmp_path, jobs_of):
    _write(tmp_path / "t.parquet", a=pa.array([1, 2, 3], pa.int64()))
    first, n_first = jobs_of(lambda: catalog.load_table(spark, str(tmp_path), "t"))
    again, n_again = jobs_of(lambda: catalog.load_table(spark, str(tmp_path), "t"))
    assert n_first >= 1  # the one schema-inference job the cache saves
    assert n_again == 0
    assert again.schema == first.schema
    assert sorted(r.a for r in again.collect()) == [1, 2, 3]


def test_rewrite_in_place_is_reinferred_and_recounted(spark, tmp_path):
    sf = str(tmp_path)
    _write(tmp_path / "t.parquet", a=pa.array([1, 2], pa.int64()))
    assert catalog.load_table(spark, sf, "t").columns == ["a"]
    assert catalog.row_count(spark, sf, "t") == 2
    _write(
        tmp_path / "t.parquet",
        a=pa.array([1, 2, 3], pa.int64()), b=pa.array(["x", "y", "z"]),
    )
    df = catalog.load_table(spark, sf, "t")
    assert df.columns == ["a", "b"]
    assert sorted((r.a, r.b) for r in df.collect()) == [(1, "x"), (2, "y"), (3, "z")]
    assert catalog.row_count(spark, sf, "t") == 3
    assert catalog.row_count(spark, sf, "t", distinct="b") == 3


def test_paths_without_identity_share_no_cache_entry(spark, tmp_path):
    """A URI path has no local file identity: it is read afresh every
    time, never under another table's cached count."""
    for d, n in (("a", 2), ("b", 3)):
        (tmp_path / d).mkdir()
        _write(tmp_path / d / "t.parquet", a=pa.array(range(n), pa.int64()))
    uris = [f"file://{tmp_path / d}" for d in "ab"]
    assert [catalog.row_count(spark, u, "t") for u in uris] == [2, 3]


def test_both_events_layouts_read_ts_as_timestamp(spark, tmp_path):
    micros = [0, 3_600_000_000, 86_400_000_123]
    layouts = {
        "nanos": pa.array([u * 1000 for u in micros], pa.timestamp("ns")),
        "ntz_micros": pa.array(micros, pa.timestamp("us")),
    }
    rows = {}
    for layout, ts in layouts.items():
        sf = tmp_path / layout
        sf.mkdir()
        _write(
            sf / "events.parquet",
            event_id=pa.array([1, 2, 3], pa.int64()), ts=ts,
            user_id=pa.array([7, 7, 8], pa.int64()),
            event_type=pa.array(["view", "click", "view"]),
            value=pa.array([1.0, 2.0, 3.0]),
        )
        for _ in range(2):  # the cached read normalizes the same way
            df = catalog.load_table(spark, str(sf), "events")
            assert df.schema["ts"].dataType == T.TimestampType(), layout
        stream = streaming.read_table_stream(spark, str(sf), "events")
        assert stream.schema["ts"].dataType == T.TimestampType(), layout
        rows[layout] = sorted((r.event_id, r.ts) for r in df.collect())
    assert rows["nanos"] == rows["ntz_micros"]


def test_mor_reread_launches_no_build_jobs(spark, tmp_path, jobs_of):
    path = str(tmp_path / "tbl")
    txn.commit(spark.createDataFrame([(i, i % 3) for i in range(9)], "k long, g long"), path)
    txn.delete_keys(spark.createDataFrame([(1,)], "k long"), path)
    txn.delete_where_positional(spark, path, "k = 2")
    kinds = {d.get("kind", "eq") for d in txn.live_manifest(path)["deletes"]}
    assert kinds == {"eq", "pos"}
    first = txn.read(spark, path)
    assert sorted(r.k for r in first.collect()) == [0, 3, 4, 5, 6, 7, 8]
    again, n_jobs = jobs_of(lambda: txn.read(spark, path))
    assert n_jobs == 0
    assert sorted(r.k for r in again.collect()) == [0, 3, 4, 5, 6, 7, 8]
