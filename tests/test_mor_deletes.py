"""Merge-on-read equality deletes (txn.delete_keys): O(deleted keys)
DELETE with Iceberg-v2 sequence semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from airflow_etl_spark.operators import maintenance
from airflow_etl_spark.sources import txn


def _table(spark, tmp_path, n=1000):
    path = str(tmp_path / "t")
    df = spark.range(0, n).select(
        F.col("id").alias("k"), (F.col("id") % 10).alias("grp")
    )
    txn.commit(df.repartition(4, "k"), path)
    return path


def test_delete_keys_is_metadata_only(spark, tmp_path):
    path = _table(spark, tmp_path)
    files_before = {e["path"] for e in txn.live_manifest(path)["files"]}
    keys = spark.range(0, 100).select(F.col("id").alias("k"))
    txn.delete_keys(keys, path, ["k"])
    m = txn.live_manifest(path)
    # data files untouched; one delete file added
    assert {e["path"] for e in m["files"]} == files_before
    assert len(m["deletes"]) == 1 and m["deletes"][0]["key_cols"] == ["k"]
    assert txn.read(spark, path).count() == 900
    assert txn.read(spark, path).filter(F.col("k") < 100).count() == 0
    # time travel: the pre-delete snapshot still shows every row
    assert txn.read_version(spark, path, 1).count() == 1000


def test_sequence_rule_reinserted_keys_survive(spark, tmp_path):
    path = _table(spark, tmp_path)
    txn.delete_keys(
        spark.range(0, 100).select(F.col("id").alias("k")), path, ["k"]
    )
    # re-insert half of the deleted keys AFTER the delete
    reins = spark.range(0, 50).select(
        F.col("id").alias("k"), F.lit(-1).cast("long").alias("grp")
    )
    txn.append_files(reins, path)
    out = txn.read(spark, path)
    assert out.count() == 950
    # the re-inserted rows are the NEW versions (grp = -1)
    back = out.filter(F.col("k") < 50).select("grp").distinct().collect()
    assert [r["grp"] for r in back] == [-1]
    # keys 50..99 stay deleted
    assert out.filter((F.col("k") >= 50) & (F.col("k") < 100)).count() == 0


def test_stacked_deletes_and_pruned_readers(spark, tmp_path):
    path = _table(spark, tmp_path)
    txn.delete_keys(spark.range(0, 10).select(F.col("id").alias("k")), path)
    txn.delete_keys(
        spark.createDataFrame([(3,)], "grp long"), path, ["grp"]
    )  # second delete on a DIFFERENT key column
    df = txn.read(spark, path)
    # 1000 - 10 (k<10, grp of those: 0..9 one each) - remaining grp=3 rows
    # grp 3: 100 rows, one of them (k=3) already gone via the k-delete
    assert df.count() == 1000 - 10 - 99
    assert df.filter(F.col("grp") == 3).count() == 0
    # range/point readers apply deletes too
    # k in [0,20] minus k<10 (deleted) minus k=13 (grp 3 deleted) -> 10
    assert txn.read_range(spark, path, "k", 0, 20).count() == 10
    assert txn.read_point(spark, path, "k", 5).count() == 0
    assert txn.read_point(spark, path, "k", 15).count() == 1


def test_compaction_folds_deletes(spark, tmp_path):
    path = _table(spark, tmp_path)
    txn.delete_keys(spark.range(0, 100).select(F.col("id").alias("k")), path)
    maintenance.compact(spark, path, target_file_bytes=50 * 1024 * 1024)
    m = txn.live_manifest(path)
    assert not m.get("deletes")
    assert txn.read(spark, path).count() == 900


def test_rewrite_small_files_respects_deletes(spark, tmp_path):
    path = str(tmp_path / "t")
    base = spark.range(0, 500).select(F.col("id").alias("k"))
    txn.commit(base.repartition(5, "k"), path)
    txn.delete_keys(spark.range(0, 50).select(F.col("id").alias("k")), path)
    removed = maintenance.rewrite_small_files(
        spark, path, target_file_bytes=50 * 1024 * 1024
    )
    assert removed > 0
    # merged files already exclude the deleted rows; delete file still
    # listed (it may govern kept files) but the count stays correct
    assert txn.read(spark, path).count() == 450
    # snapshot diff across the delete still works
    assert txn.read_version(spark, path, 0).count() == 450


def test_delete_file_survives_gc(spark, tmp_path):
    path = _table(spark, tmp_path)
    txn.delete_keys(spark.range(0, 10).select(F.col("id").alias("k")), path)
    # several more commits cycle GC (keep_versions=2)
    for i in range(3):
        txn.append_files(
            spark.createDataFrame([(10_000 + i, 0)], "k long, grp long"), path
        )
    assert txn.read(spark, path).count() == 1000 - 10 + 3
    assert txn.read(spark, path).filter(F.col("k") < 10).count() == 0


def test_upsert_mor_matches_cow_merge_semantics(spark, tmp_path):
    from airflow_etl_spark.operators.merge import upsert

    path = str(tmp_path / "u")
    target = spark.range(0, 500).select(
        F.col("id").alias("k"),
        (F.col("id") * 1.0).alias("v"),
        F.lit("old").alias("tag"),
    )
    txn.commit(target.repartition(4, "k"), path)
    files_before = {e["path"] for e in txn.live_manifest(path)["files"]}
    source = spark.range(400, 600).select(
        F.col("id").alias("k"),
        (F.col("id") * -1.0).alias("v"),
        F.lit("new").alias("tag"),
    )
    txn.upsert_mor(source, path, ["k"])

    got = sorted(map(tuple, txn.read(spark, path).collect()))
    want = sorted(map(tuple, upsert(target, source, ["k"]).collect()))
    assert got == want  # MoR result == COW full-outer merge result
    # no target file rewritten: the old files are all still listed
    m = txn.live_manifest(path)
    assert files_before <= {e["path"] for e in m["files"]}
    assert len(m["deletes"]) == 1


def test_upsert_mor_chains_and_compacts(spark, tmp_path):
    path = str(tmp_path / "c")
    base = spark.range(0, 100).select(
        F.col("id").alias("k"), F.lit(0).alias("ver")
    )
    txn.commit(base, path)
    for ver in (1, 2, 3):
        src = spark.range(0, 50).select(
            F.col("id").alias("k"), F.lit(ver).alias("ver")
        )
        txn.upsert_mor(src, path, ["k"])
    df = txn.read(spark, path)
    assert df.count() == 100
    # keys 0..49 carry the LATEST version only
    assert df.filter(F.col("k") < 50).select("ver").distinct().collect()[0][
        "ver"
    ] == 3
    assert df.filter(F.col("k") >= 50).select("ver").distinct().collect()[0][
        "ver"
    ] == 0
    from airflow_etl_spark.operators import maintenance

    maintenance.compact(spark, path, target_file_bytes=50 * 1024 * 1024)
    m = txn.live_manifest(path)
    assert not m.get("deletes")
    assert txn.read(spark, path).count() == 100


def test_upsert_mor_of_empty_frame_publishes_nothing(spark, tmp_path):
    """A zero-row upsert (an identical satellite re-load's delta) keeps the
    live version, its files and the `_data` listing exactly as they were:
    no new version, no empty data file, no delete file."""
    import os

    path = _table(spark, tmp_path, n=100)
    ver = txn._read_pointer(path)
    m = txn.live_manifest(path)
    listing = sorted(os.listdir(os.path.join(path, "_data")))
    empty = spark.range(0).select(
        F.col("id").alias("k"), (F.col("id") % 10).alias("grp")
    )
    assert txn.upsert_mor(empty, path, ["k"]) == ver
    assert txn._read_pointer(path) == ver
    assert txn.live_manifest(path) == m
    assert sorted(os.listdir(os.path.join(path, "_data"))) == listing
    assert txn.read(spark, path).count() == 100
    # every data entry records its footer row count (Iceberg record_count)
    assert sum(e["record_count"] for e in m["files"]) == 100


def test_delete_keys_requires_manifest_layout(spark, tmp_path):
    path = str(tmp_path / "legacy")
    spark.range(5).write.parquet(path)
    with pytest.raises(FileNotFoundError, match="manifest layout"):
        txn.delete_keys(
            spark.range(1).select(F.col("id").alias("k")), path, ["k"]
        )


def test_streaming_upsert_mor_sink(spark, tmp_path):
    """The change stream upserts into a MoR txn table per micro-batch;
    re-running the drive from the same checkpoint replays nothing, and
    the final table carries exactly the latest row per key."""
    from airflow_etl_spark import streaming

    src = str(tmp_path / "src")
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    # change batch 1: keys 0..99 v1 — drive to completion
    spark.range(0, 100).select(
        F.col("id").alias("k"), F.lit(1).alias("ver")
    ).coalesce(1).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    streaming.write_stream_upsert_mor(stream, table, ["k"], ckpt)
    # change batch 2: keys 50..149 v2 — the same checkpoint resumes and
    # processes ONLY the new file (deterministic batch order)
    spark.range(50, 150).select(
        F.col("id").alias("k"), F.lit(2).alias("ver")
    ).coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    streaming.write_stream_upsert_mor(stream, table, ["k"], ckpt)

    from airflow_etl_spark.sources import txn

    df = txn.read(spark, table)
    assert df.count() == 150
    assert df.filter(F.col("ver") == 2).count() == 100
    # idempotent re-drive: same checkpoint, no new source files -> no-op
    stream2 = spark.readStream.schema(schema).parquet(src)
    streaming.write_stream_upsert_mor(stream2, table, ["k"], ckpt)
    assert txn.read(spark, table).count() == 150


def test_kill_mid_delete_keys_recovers(spark, tmp_path, monkeypatch):
    """Dying after the delete file is written but before the manifest
    publish leaves the pre-delete snapshot live (deleted rows still
    visible, no torn state); the retry lands the delete, and GC sweeps
    the first attempt's orphan delete file."""
    path = _table(spark, tmp_path)
    keys = spark.range(0, 100).select(F.col("id").alias("k"))

    real_flip = txn._flip_pointer
    monkeypatch.setattr(
        txn, "_flip_pointer",
        lambda *a, **kw: (_ for _ in ()).throw(RuntimeError("killed")),
    )
    import pytest as _pytest

    with _pytest.raises(RuntimeError):
        txn.delete_keys(keys, path, ["k"])
    monkeypatch.setattr(txn, "_flip_pointer", real_flip)

    assert txn.read(spark, path).count() == 1000  # pre-delete state intact
    txn.delete_keys(keys, path, ["k"])  # retry
    assert txn.read(spark, path).count() == 900
    # the crashed attempt's delete file is referenced by no manifest and
    # gets swept by the next commit's GC
    txn.append_files(
        spark.createDataFrame([(5000, 0)], "k long, grp long"), path
    )
    m = txn.live_manifest(path)
    listed = {d["path"] for d in m.get("deletes", [])}
    assert len(listed) == 1
    assert txn.read(spark, path).count() == 901


def test_kill_mid_upsert_mor_recovers(spark, tmp_path, monkeypatch):
    """Crash between writing the upsert's data/delete files and the
    publish: old table fully intact; retry applies the whole upsert."""
    path = str(tmp_path / "ku")
    txn.commit(
        spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int"), path
    )
    src = spark.createDataFrame([("b", 20), ("c", 30)], "k string, v int")

    real_flip = txn._flip_pointer
    monkeypatch.setattr(
        txn, "_flip_pointer",
        lambda *a, **kw: (_ for _ in ()).throw(RuntimeError("killed")),
    )
    import pytest as _pytest

    with _pytest.raises(RuntimeError):
        txn.upsert_mor(src, path, ["k"])
    monkeypatch.setattr(txn, "_flip_pointer", real_flip)

    assert {(r.k, r.v) for r in txn.read(spark, path).collect()} == {
        ("a", 1), ("b", 2)
    }
    txn.upsert_mor(src, path, ["k"])
    assert {(r.k, r.v) for r in txn.read(spark, path).collect()} == {
        ("a", 1), ("b", 20), ("c", 30)
    }


def test_driver_side_mor_writers_match_cluster_writers(spark, tmp_path):
    """delete_keys_rows / upsert_rows (driver-side control-plane fast
    paths) must produce exactly the same table state as their
    cluster-side counterparts."""
    import pyarrow as pa

    a, b = str(tmp_path / "drv"), str(tmp_path / "clu")
    base = spark.createDataFrame(
        [(k, 0) for k in range(10)], "k long, v long"
    )
    for p in (a, b):
        txn.commit(base, p)
    up = [(5, 1), (6, 1), (10, 1)]
    txn.upsert_rows(a, pa.table({"k": [r[0] for r in up], "v": [r[1] for r in up]}), ["k"])
    txn.upsert_mor(spark.createDataFrame(up, "k long, v long"), b, ["k"])
    txn.delete_keys_rows(a, pa.table({"k": [0, 6]}))
    txn.delete_keys(spark.createDataFrame([(0,), (6,)], "k long"), b, ["k"])
    va = sorted((r.k, r.v) for r in txn.read(spark, a).collect())
    vb = sorted((r.k, r.v) for r in txn.read(spark, b).collect())
    assert va == vb
    assert va == sorted(
        [(k, 0) for k in range(1, 10) if k not in (5, 6)] + [(5, 1), (10, 1)]
    )


def test_random_schedules_match_pandas_model(spark, tmp_path):
    """Property test (VERDICT r3 #7): 200 seeded random interleavings of
    append / delete / upsert / compact verified row-for-row against a
    pure-Python model of the Iceberg-v2 sequence semantics, plus the
    structural invariant n_read_groups <= n_delete_files + 1. Driver-side
    writers keep each schedule at millisecond cost; compaction and the
    verification read exercise the full Spark read path."""
    import random
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow as pa

    from airflow_etl_spark.operators import maintenance

    rng = random.Random(20260814)
    n_schedules, val_counter = 200, [0]

    def fresh_rows(n):
        out = []
        for _ in range(n):
            val_counter[0] += 1
            out.append((rng.randrange(8), val_counter[0]))
        return out

    # Pre-draw every schedule's op list with the single seeded rng (same
    # op sequences as the original sequential loop), then execute the
    # schedules on a thread pool: each schedule owns a DISTINCT table, so
    # overlapping them only collapses the per-Spark-action scheduler
    # latency (r13; the sequential loop spent ~60 s idling between ~70
    # compact jobs and 200 verification collects).
    schedules = []
    for sched_i in range(n_schedules):
        ops = [("do_append", fresh_rows(rng.randrange(1, 6)))]  # create
        for _ in range(rng.randrange(2, 6)):
            name = rng.choices(
                ["do_append", "do_delete", "do_upsert", "do_compact"],
                weights=[30, 30, 30, 10],
            )[0]
            if name == "do_delete":
                arg = {rng.randrange(8) for _ in range(rng.randrange(1, 4))}
            elif name == "do_compact":
                arg = None
            else:
                arg = fresh_rows(rng.randrange(1, 5))
            ops.append((name, arg))
        schedules.append((sched_i, str(tmp_path / f"s{sched_i}"), ops))

    def run_schedule(item):
        sched_i, path, ops = item
        # model: list of (seq, k, v); deletes applied eagerly (equivalent —
        # a delete's seq exceeds every existing row's seq, and never
        # governs rows committed later)
        model: list[tuple[int, int, int]] = []
        seq = 0
        for name, arg in ops:
            seq += 1
            if name == "do_append":
                txn.append_rows(path, pa.table(
                    {"k": [k for k, _ in arg], "v": [v for _, v in arg]}
                ))
                model.extend((seq, k, v) for k, v in arg)
            elif name == "do_delete":
                txn.delete_keys_rows(path, pa.table({"k": sorted(arg)}))
                model[:] = [r for r in model if r[1] not in arg]
            elif name == "do_upsert":
                txn.upsert_rows(path, pa.table(
                    {"k": [k for k, _ in arg], "v": [v for _, v in arg]}
                ), ["k"])
                keys = {k for k, _ in arg}
                model[:] = [r for r in model if r[1] not in keys]
                model.extend((seq, k, v) for k, v in arg)
            else:
                maintenance.compact(spark, path, 10 ** 9)
        p = maintenance.delete_pressure(path)
        assert p["n_read_groups"] <= p["n_delete_files"] + 1, (sched_i, ops, p)
        got = sorted((r.k, r.v) for r in txn.read(spark, path).collect())
        want = sorted((k, v) for _s, k, v in model)
        assert got == want, (sched_i, ops, got, want)

    with ThreadPoolExecutor(max_workers=8) as ex:
        for _ in ex.map(run_schedule, schedules):
            pass


SORT = {"kind": "range", "cols": ["k"]}


def _rows(spark, *ks, p=0):
    return spark.createDataFrame(
        [(k, k * 10, p) for k in ks], "k long, v long, p long"
    )


def _keys(spark, *ks):
    return spark.createDataFrame([(k,) for k in ks], "k long")


def _arrow_rows(*ks):
    import pyarrow as pa

    return pa.table({"k": list(ks), "v": [k * 10 for k in ks], "p": [0] * len(ks)})


def _arrow_keys(*ks):
    import pyarrow as pa

    return pa.table({"k": list(ks)})


#: every writer that derives a child snapshot from its parent's manifest
CHILD_WRITERS = {
    "append_files": lambda s, p: txn.append_files(_rows(s, 100), p),
    "delete_keys": lambda s, p: txn.delete_keys(_keys(s, 2), p, ["k"]),
    "delete_positions": lambda s, p: txn.delete_positions(
        s.createDataFrame([("gone.parquet", 0)], "target_file string, pos long"), p
    ),
    "delete_where_positional": lambda s, p: txn.delete_where_positional(
        s, p, "k = 3"
    ),
    "delete_duplicate_positions": lambda s, p: txn.delete_duplicate_positions(
        s, p, ["p"]
    ),
    "upsert_mor": lambda s, p: txn.upsert_mor(_rows(s, 4, 101), p, ["k"]),
    "replace_partitions": lambda s, p: txn.replace_partitions(
        _rows(s, 5, p=0), p, "p"
    ),
    "append_rows": lambda s, p: txn.append_rows(p, _arrow_rows(102)),
    "delete_keys_rows": lambda s, p: txn.delete_keys_rows(p, _arrow_keys(6)),
    "upsert_rows": lambda s, p: txn.upsert_rows(p, _arrow_rows(7, 103), ["k"]),
    "append_staged": lambda s, p: txn.append_staged(
        txn.stage_write(_rows(s, 104), p), p
    ),
    "delete_keys_staged": lambda s, p: txn.delete_keys_staged(
        txn.stage_delete_keys(_keys(s, 8), p, ["k"]), p
    ),
    "rewrite_small_files": lambda s, p: maintenance.rewrite_small_files(
        s, p, target_file_bytes=10 ** 9
    ),
}


@pytest.mark.parametrize("writer", sorted(CHILD_WRITERS))
def test_child_writer_carries_parent_state(spark, tmp_path, writer):
    """Every child writer inherits its parent's partition spec, declared
    sort order and pending deletes (regression: delete_keys once dropped
    sort_order, silently erasing the clustering record that compaction
    restores)."""
    path = str(tmp_path / "so")
    # two files per partition (round-robin tasks) so rewrite_small_files
    # has something to merge
    base = _rows(spark, *range(40)).withColumn("p", F.col("k") % 2)
    txn.replace_partitions(base.repartition(2), path, "p", keep_column=True)
    m = txn.live_manifest(path)
    # declare a clustering on the partitioned snapshot (commit() only
    # declares one on an unpartitioned table)
    txn._publish(
        path, m["files"], m["schema"], "p", txn._fs_for(path), 2,
        m["version"], partition_in_data=True, sort_order=SORT,
    )
    txn.delete_keys(_keys(spark, 1), path, ["k"])
    parent = txn.live_manifest(path)

    CHILD_WRITERS[writer](spark, path)
    child = txn.live_manifest(path)
    assert child["parent"] == parent["version"]
    assert child["seq"] == parent["seq"] + 1
    assert child["sort_order"] == SORT
    assert (child["partition_by"], child["partition_in_data"]) == ("p", True)
    assert child["deletes"][: len(parent["deletes"])] == parent["deletes"]
    assert txn.read(spark, path).filter(F.col("k") == 1).count() == 0


def test_compaction_restores_declared_order_after_mor_churn(spark, tmp_path):
    path = str(tmp_path / "so")
    txn.commit(
        spark.range(100).select(F.col("id").alias("k"), F.col("id").alias("v")),
        path, cluster_by="k",
    )
    txn.delete_keys(_keys(spark, 1), path, ["k"])
    txn.upsert_rows(path, _arrow_rows(3).drop_columns(["p"]), ["k"])
    maintenance.compact(spark, path, 10 ** 9)
    m = txn.live_manifest(path)
    assert m["sort_order"] == SORT and not m.get("deletes")
    assert txn.read(spark, path).count() == 99


def test_mor_read_preserves_manifest_column_order(spark, tmp_path):
    """join(on=[names]) moves key columns to the FRONT — a MoR read with
    applied deletes must restore the manifest schema order, or positional
    consumers (snapshot_diff's exceptAll, parquet writers fed by the
    read) silently misalign columns (r7 matview regression)."""
    path = str(tmp_path / "colorder")
    df = spark.createDataFrame([("a", 1, 1), ("b", 2, 2)], "k string, v long, id long")
    txn.commit(df, path)
    txn.delete_keys(spark.createDataFrame([(2,)], "id long"), path, ["id"])
    got = txn.read(spark, path)
    assert got.columns == ["k", "v", "id"]
    # snapshot_diff between delete-bearing and clean snapshots aligns
    d = txn.snapshot_diff(spark, path)
    assert sorted(
        (r.k, r.v, r.id, r._change_type) for r in d.collect()
    ) == [("b", 2, 2, "delete")]


# --------------------------------------------------------------------------
# Positional deletes (txn.delete_positions / delete_where_positional /
# delete_duplicate_positions): Iceberg-v2 position delete files
# --------------------------------------------------------------------------


def test_positional_delete_where_is_metadata_only(spark, tmp_path):
    path = _table(spark, tmp_path)
    files_before = {e["path"] for e in txn.live_manifest(path)["files"]}
    txn.delete_where_positional(spark, path, "k < 100")
    m = txn.live_manifest(path)
    assert {e["path"] for e in m["files"]} == files_before
    assert len(m["deletes"]) == 1 and m["deletes"][0]["kind"] == "pos"
    assert txn.read(spark, path).count() == 900
    assert txn.read(spark, path).filter(F.col("k") < 100).count() == 0
    # time travel: pre-delete snapshot intact
    assert txn.read_version(spark, path, 1).count() == 1000


def test_positional_delete_kills_one_copy_of_identical_rows(spark, tmp_path):
    """The case equality deletes cannot express: two bit-identical rows,
    exactly one dies."""
    path = str(tmp_path / "dup")
    one = spark.range(0, 50).select(F.col("id").alias("k"))
    txn.commit(one, path)
    txn.append(one, path)  # second identical copy, separate file
    assert txn.read(spark, path).count() == 100
    txn.delete_duplicate_positions(spark, path, ["k"])
    out = txn.read(spark, path)
    assert out.count() == 50
    assert out.select("k").distinct().count() == 50
    # idempotent: replaying the dedup deletes nothing further
    txn.delete_duplicate_positions(spark, path, ["k"])
    assert txn.read(spark, path).count() == 50


def test_positional_dedup_null_keys_are_not_duplicates(spark, tmp_path):
    """SQL semantics (ADVICE r9): NULL = NULL is unknown, so two rows
    whose key is NULL are NOT duplicates of each other — every NULL-keyed
    row must survive the positional dedup."""
    path = str(tmp_path / "nullk")
    df = spark.createDataFrame(
        [(1, "a"), (1, "b"), (None, "c"), (None, "d"), (None, "e")],
        "k int, v string",
    )
    txn.commit(df, path)
    txn.delete_duplicate_positions(spark, path, ["k"])
    out = txn.read(spark, path)
    # one of the two k=1 copies died; ALL three NULL-keyed rows survive
    assert out.count() == 4
    assert out.filter(F.col("k").isNull()).count() == 3
    assert out.filter(F.col("k") == 1).count() == 1


def test_positional_ops_on_empty_table_return_empty(spark, tmp_path):
    """_read_with_deletes with no data files but delete entries (or
    keep_pos) must return an empty relation with the manifest schema,
    not crash (ADVICE r9: IndexError at parts[0])."""
    path = str(tmp_path / "empty")
    df = spark.createDataFrame([(1, "a")], "k int, v string")
    txn.commit(df, path)
    # positional-delete the only row, then COMPACT the table down to a
    # manifest with zero data files while a delete entry could linger
    txn.delete_where_positional(spark, path, "k = 1")
    assert txn.read(spark, path).count() == 0
    # dedup on the (visibly) empty table: the keep_pos read must not crash
    txn.delete_duplicate_positions(spark, path, ["k"])
    assert txn.read(spark, path).count() == 0
    # and a manifest with LITERALLY no files + keep_pos read is safe too
    m = txn.live_manifest(path)
    out = txn._read_with_deletes(spark, path, {**m, "files": []}, keep_pos=True)
    assert out.count() == 0
    assert [c for c in out.columns if not c.startswith("__pd_")] == ["k", "v"]


def test_positional_and_equality_deletes_compose(spark, tmp_path):
    path = _table(spark, tmp_path)
    txn.delete_keys(
        spark.range(0, 100).select(F.col("id").alias("k")), path, ["k"]
    )
    txn.delete_where_positional(spark, path, "k >= 900")
    out = txn.read(spark, path)
    assert out.count() == 800
    assert out.agg(F.min("k"), F.max("k")).collect()[0] == (100, 899)


def test_compaction_folds_positional_deletes(spark, tmp_path):
    path = _table(spark, tmp_path)
    txn.delete_where_positional(spark, path, "k % 2 = 0")
    assert txn.read(spark, path).count() == 500
    maintenance.compact(spark, path, target_file_bytes=1 << 30)
    m = txn.live_manifest(path)
    assert not m.get("deletes")
    assert txn.read(spark, path).count() == 500


def test_positional_deletes_ignore_later_appends(spark, tmp_path):
    """A position delete addresses a specific file: rows appended LATER
    (new files) can never match its addresses."""
    path = str(tmp_path / "later")
    txn.commit(spark.range(0, 50).select(F.col("id").alias("k")), path)
    txn.delete_where_positional(spark, path, "k < 10")
    txn.append(spark.range(0, 10).select(F.col("id").alias("k")), path)
    out = txn.read(spark, path)
    assert out.count() == 50  # 40 survivors + 10 re-appended
    assert out.filter(F.col("k") < 10).count() == 10
