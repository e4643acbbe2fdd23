"""Atomic-commit protocol tests (sources.txn): crash recovery at every
stage of a commit, legacy migration, atomic appends, manifest GC, schema
evolution, and COW partition replacement — parametrized over BOTH
filesystem backends (LocalFS and HadoopFS on file:///), since the round-3
protocol must run unchanged against an object store.

The crash points mirror the Iceberg pointer-swap guarantees the reference
relies on (utlis/etl_manager.py:617-635 MERGE is ACID through Trino):
whatever instant a writer dies, the table stays readable and equals either
the old or the new snapshot — never missing, never torn.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from airflow_etl_spark.sources import read_table, txn
from airflow_etl_spark.sources.fs import (
    ConditionalPutFS,
    HadoopFS,
    InMemoryCAS,
    LocalFS,
)


class S3LikeFS(LocalFS):
    """Object-store semantics emulator: the txn protocol may use ONLY the
    primitives S3 actually offers — atomic full-object PUT
    (`write_*_atomic`, emulated with an atomic local write), conditional
    create-if-absent (`create_new` ~ If-None-Match), listings, deletes,
    and an expiring lease lock. `rename` raises: any protocol step that
    needs one would not survive a real object store."""

    lock_name = "_lock.lease"

    def rename(self, src: str, dst: str) -> bool:  # pragma: no cover - guard
        raise AssertionError(
            f"fs.rename({src}, {dst}) called — the txn protocol must not "
            "depend on rename (S3 has none)"
        )

    def lock(self, path: str, timeout_s: float = 600.0):
        from contextlib import contextmanager

        from airflow_etl_spark.sources.fs import _Lease

        @contextmanager
        def _ctx():
            lease = _Lease(self, path, ttl_s=120.0, timeout_s=timeout_s)
            lease.acquire()
            try:
                yield
            finally:
                lease.release()

        return _ctx()


@pytest.fixture(params=["local", "hadoop", "s3like", "cas"])
def tfs(request, spark):
    """The write-path FS backend under test. 'hadoop' is HadoopFS over
    file:/// — the exact code path an s3a:// deployment uses, minus the
    store itself (VERDICT r2 #1 done-criterion). 's3like' additionally
    forbids rename and locks via leases, proving the protocol runs on
    bare object-store primitives. 'cas' is ConditionalPutFS over the
    in-memory conditional-put store — the S3-proper deployment shape,
    where the pointer flip is a genuine compare-and-swap."""
    if request.param == "local":
        return LocalFS()
    if request.param == "hadoop":
        return HadoopFS(spark)
    if request.param == "cas":
        return ConditionalPutFS(spark, InMemoryCAS())
    return S3LikeFS()


def _mk(spark, n, mult=1):
    return spark.range(n).withColumn("v", F.col("id") * mult)


def _vals(spark, path):
    return sorted(r.v for r in read_table(spark, path).collect())


def test_commit_and_read_roundtrip(spark, tmp_path, tfs):
    p = str(tmp_path / "t1")
    txn.commit(_mk(spark, 5), p, fs=tfs)
    assert _vals(spark, p) == [0, 1, 2, 3, 4]
    txn.commit(_mk(spark, 3, mult=10), p, fs=tfs)
    assert _vals(spark, p) == [0, 10, 20]


def test_read_modify_write_without_collect(spark, tmp_path, tfs):
    """commit() must be safe when df's plan reads the table's live version
    (the read-modify-write contract every txn writer keeps)."""
    p = str(tmp_path / "t2")
    txn.commit(_mk(spark, 4), p, fs=tfs)
    df = read_table(spark, p).withColumn("v", F.col("v") + 100)
    txn.commit(df, p, fs=tfs)
    assert _vals(spark, p) == [100, 101, 102, 103]


def test_crash_before_pointer_flip_keeps_old_version(
    spark, tmp_path, tfs, monkeypatch
):
    """Die after the new snapshot + manifest are fully written but before
    the pointer flips: the table must still read the OLD contents, and the
    next commit must succeed and GC the garbage."""
    p = str(tmp_path / "t3")
    txn.commit(_mk(spark, 3), p, fs=tfs)

    real_flip = txn._flip_pointer
    monkeypatch.setattr(
        txn, "_flip_pointer",
        lambda *a, **k: (_ for _ in ()).throw(RuntimeError("killed")),
    )
    with pytest.raises(RuntimeError):
        txn.commit(_mk(spark, 9, mult=7), p, fs=tfs)
    monkeypatch.setattr(txn, "_flip_pointer", real_flip)

    # old snapshot still live and readable
    assert _vals(spark, p) == [0, 1, 2]
    # recovery: a later commit lands normally and the orphan goes away
    txn.commit(_mk(spark, 2, mult=5), p, fs=tfs)
    assert _vals(spark, p) == [0, 5]
    assert len(txn._list_versions(p)) <= 2


def test_crash_after_flip_before_gc_reads_new_version(
    spark, tmp_path, tfs, monkeypatch
):
    p = str(tmp_path / "t4")
    txn.commit(_mk(spark, 3), p, fs=tfs)

    monkeypatch.setattr(
        txn, "_gc",
        lambda *a, **k: (_ for _ in ()).throw(RuntimeError("killed mid-gc")),
    )
    with pytest.raises(RuntimeError):
        txn.commit(_mk(spark, 4, mult=2), p, fs=tfs)
    monkeypatch.undo()

    # pointer already flipped: new contents win; stale manifests are
    # garbage, not corruption
    assert _vals(spark, p) == [0, 2, 4, 6]


def test_orphan_files_gcd_after_failed_commit(spark, tmp_path, tfs, monkeypatch):
    """A crashed commit leaves a fully-written data dir referenced by no
    manifest; the NEXT commit's reference-based GC must delete those
    orphans (the `remove_orphan_files` analog falling out of the manifest
    rule — VERDICT r2 next-round #2)."""
    p = str(tmp_path / "t_orph")
    txn.commit(_mk(spark, 3), p, fs=tfs)

    # die before even writing the manifest: orphan data dir only
    real = txn._publish
    monkeypatch.setattr(
        txn, "_publish",
        lambda *a, **k: (_ for _ in ()).throw(RuntimeError("killed")),
    )
    with pytest.raises(RuntimeError):
        txn.commit(_mk(spark, 50, mult=3), p, fs=tfs)
    monkeypatch.setattr(txn, "_publish", real)

    data_dirs = set(os.listdir(os.path.join(p, txn.DATA)))
    assert len(data_dirs) == 2  # live + orphan
    txn.commit(_mk(spark, 2, mult=9), p, fs=tfs)
    # orphan dir swept; only manifest-referenced files remain on disk
    remaining = {
        txn._rel_of(fp)
        for fp, _n, _t in LocalFS().list_files(os.path.join(p, txn.DATA), ".parquet")
    }
    referenced = set()
    for v in txn._list_versions(p):
        referenced |= {e["path"] for e in txn._load_manifest(p, v)["files"]}
    assert remaining == referenced
    assert _vals(spark, p) == [0, 9]


def test_torn_pointer_tmp_is_ignored_and_gcd(spark, tmp_path, tfs):
    """A dangling _current.tmp-* (crash inside the pointer publish before
    rename) must not confuse readers and must be cleaned by the next
    commit."""
    p = str(tmp_path / "t5")
    txn.commit(_mk(spark, 3), p, fs=tfs)
    stray = os.path.join(p, txn.CURRENT + ".tmp-deadbeef")
    with open(stray, "w") as f:
        f.write("v99999999-ffffffff")
    assert _vals(spark, p) == [0, 1, 2]
    txn.commit(_mk(spark, 1), p, fs=tfs)
    assert not os.path.exists(stray)


def test_legacy_plain_dir_reads_and_migrates(spark, tmp_path, tfs):
    p = str(tmp_path / "t6")
    _mk(spark, 4).write.parquet(p)
    # legacy read works through the same API
    assert _vals(spark, p) == [0, 1, 2, 3]
    assert txn.table_exists(p)
    # first commit migrates: manifest layout, stale top-level parts removed
    txn.commit(read_table(spark, p).filter(F.col("v") < 2), p, fs=tfs)
    assert _vals(spark, p) == [0, 1]
    assert txn._read_pointer(p) is not None
    assert not any(e.endswith(".parquet") for e in os.listdir(p))


def test_legacy_partitioned_dir_append_keeps_partition_rows(spark, tmp_path, tfs):
    """ADVICE r2 (medium): appending to a legacy hive-partitioned plain dir
    must NOT lose the partition-subdirectory rows — migration goes through
    a full read+union, never a top-level file move."""
    p = str(tmp_path / "t6p")
    (
        spark.createDataFrame(
            [(1, "a"), (2, "a"), (3, "b")], "v long, k string"
        ).write.partitionBy("k").parquet(p)
    )
    txn.append(
        spark.createDataFrame([(9, "c")], "v long, k string"), p, fs=tfs
    )
    got = {(r.v, r.k) for r in read_table(spark, p).collect()}
    assert got == {(1, "a"), (2, "a"), (3, "b"), (9, "c")}
    assert txn._read_pointer(p) is not None  # migrated


def test_atomic_append_and_legacy_append(spark, tmp_path, tfs):
    p = str(tmp_path / "t7")
    txn.append(_mk(spark, 2), p, fs=tfs)  # creates the table
    txn.append(_mk(spark, 2, mult=10), p, fs=tfs)
    assert _vals(spark, p) == [0, 0, 1, 10]

    # appending to a legacy plain dir migrates it
    p2 = str(tmp_path / "t8")
    _mk(spark, 2).write.parquet(p2)
    txn.append(_mk(spark, 1, mult=99), p2, fs=tfs)
    assert _vals(spark, p2) == [0, 0, 1]
    assert txn._read_pointer(p2) is not None


def test_gc_keeps_reader_resolved_version(spark, tmp_path, tfs):
    """A reader that pinned the live manifest BEFORE a commit must still
    execute its plan afterwards (keep_versions >= 2)."""
    p = str(tmp_path / "t9")
    txn.commit(_mk(spark, 6), p, fs=tfs)
    df_old = read_table(spark, p)  # pins the current file list lazily
    txn.commit(_mk(spark, 2, mult=3), p, fs=tfs)
    # the pre-commit plan still executes against its (retained) snapshot
    assert sorted(r.v for r in df_old.collect()) == [0, 1, 2, 3, 4, 5]
    assert _vals(spark, p) == [0, 3]


def test_missing_table_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        read_table(spark, str(tmp_path / "nope"))
    assert not txn.table_exists(str(tmp_path / "nope"))


def test_time_travel_reads(spark, tmp_path, tfs):
    p = str(tmp_path / "tt")
    txn.commit(_mk(spark, 3), p, keep_versions=3, fs=tfs)
    txn.commit(_mk(spark, 2, mult=5), p, keep_versions=3, fs=tfs)
    txn.commit(_mk(spark, 4, mult=9), p, keep_versions=3, fs=tfs)
    assert sorted(r.v for r in txn.read_version(spark, p, 0).collect()) == [0, 9, 18, 27]
    assert sorted(r.v for r in txn.read_version(spark, p, 1).collect()) == [0, 5]
    assert sorted(r.v for r in txn.read_version(spark, p, 2).collect()) == [0, 1, 2]
    with pytest.raises(FileNotFoundError):
        txn.read_version(spark, p, 3)
    log = txn.version_log(p)
    assert [e["ordinal"] for e in log] == [1, 2, 3]
    assert [e["is_current"] for e in log] == [False, False, True]


def test_kill_mid_merge_recovers(spark, tmp_path, monkeypatch):
    """MERGE INTO on the txn layer: dying after the merged snapshot is
    written but before the pointer flip leaves the PRE-merge table live;
    retrying the merge lands the full result."""
    from airflow_etl_spark.operators.merge import merge_into

    p = str(tmp_path / "m1")
    txn.commit(
        spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int"), p
    )
    src = spark.createDataFrame([("b", 20), ("c", 30)], "k string, v int")

    real_flip = txn._flip_pointer
    monkeypatch.setattr(
        txn, "_flip_pointer",
        lambda *a, **k: (_ for _ in ()).throw(RuntimeError("killed")),
    )
    with pytest.raises(RuntimeError):
        merge_into(spark, p, src, ["k"])
    monkeypatch.setattr(txn, "_flip_pointer", real_flip)

    # pre-merge state intact
    assert {(r.k, r.v) for r in read_table(spark, p).collect()} == {("a", 1), ("b", 2)}
    # retry completes the merge
    merge_into(spark, p, src, ["k"])
    assert {(r.k, r.v) for r in read_table(spark, p).collect()} == {
        ("a", 1), ("b", 20), ("c", 30)
    }


def test_update_and_delete_into(spark, tmp_path):
    from airflow_etl_spark.operators.merge import delete_into, update_into

    p = str(tmp_path / "m2")
    txn.commit(
        spark.createDataFrame(
            [("a", 1), ("b", 2), ("c", 3)], "k string, v int"
        ), p,
    )
    update_into(spark, p, F.col("k") == "b", {"v": 99})
    assert {(r.k, r.v) for r in read_table(spark, p).collect()} == {
        ("a", 1), ("b", 99), ("c", 3)
    }
    delete_into(spark, p, F.col("v") > 50)
    assert {(r.k, r.v) for r in read_table(spark, p).collect()} == {
        ("a", 1), ("c", 3)
    }


def test_compact_concurrent_append_consistent(spark, tmp_path):
    """An append racing a compaction must never be lost: both serialize on
    the table lock, and whichever lands second sees the other's effect."""
    import threading

    from airflow_etl_spark.operators import maintenance

    p = str(tmp_path / "m3")
    spark.range(500).write.parquet(p)  # legacy dir; compact migrates it
    errs = []

    def compact_it():
        try:
            maintenance.compact(spark, p, target_file_bytes=10 ** 9)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    def append_it():
        try:
            txn.append(spark.range(500, 510), p)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ts = [threading.Thread(target=compact_it), threading.Thread(target=append_it)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    got = sorted(r.id for r in read_table(spark, p).collect())
    assert got == list(range(510))


def test_append_files_is_o_delta_and_atomic(spark, tmp_path, tfs, monkeypatch):
    """append_files: the new manifest REFERENCES the old data files (no
    rewrite, no copy, no links), the delta lands as new parts, the flip is
    atomic, and shared files survive manifest GC."""
    p = str(tmp_path / "af1")
    txn.commit(spark.range(1000), p, fs=tfs)
    old_entries = {e["path"] for e in txn.live_manifest(p)["files"]}
    old_mtimes = {
        fp: os.path.getmtime(fp) for fp in txn.data_files(p)
    }

    txn.append_files(spark.range(1000, 1200), p, fs=tfs)
    new_entries = {e["path"] for e in txn.live_manifest(p)["files"]}
    # every old file rides along BY REFERENCE; delta entries are new
    assert old_entries < new_entries
    for fp, mt in old_mtimes.items():
        assert os.path.getmtime(fp) == mt  # untouched, not rewritten
    assert sorted(r.id for r in read_table(spark, p).collect()) == list(range(1200))

    # several more appends: GC drops old manifests, shared data survives
    txn.append_files(spark.range(1200, 1250), p, fs=tfs)
    txn.append_files(spark.range(1250, 1300), p, fs=tfs)
    assert len(txn._list_versions(p)) <= 2
    assert sorted(r.id for r in read_table(spark, p).collect()) == list(range(1300))

    # kill before the pointer flip: table unchanged, retry completes
    monkeypatch.setattr(
        txn, "_flip_pointer",
        lambda *a, **k: (_ for _ in ()).throw(RuntimeError("killed")),
    )
    with pytest.raises(RuntimeError):
        txn.append_files(spark.range(1300, 1400), p, fs=tfs)
    monkeypatch.undo()
    assert read_table(spark, p).count() == 1300
    txn.append_files(spark.range(1300, 1400), p, fs=tfs)
    assert read_table(spark, p).count() == 1400


def test_schema_evolution_append(spark, tmp_path, tfs):
    """merge_schema=True absorbs drift WITHOUT rewriting old files: new
    columns read as NULL from pre-drift files, dropped columns read as
    NULL from post-drift files (VERDICT r2 next-round #4)."""
    p = str(tmp_path / "se1")
    txn.commit(
        spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int"), p, fs=tfs
    )
    old_files = set(txn.data_files(p))

    # source gained a column
    drifted = spark.createDataFrame(
        [("c", 3, "x"), ("d", 4, "y")], "k string, v int, extra string"
    )
    with pytest.raises(ValueError, match="schema drift"):
        txn.append_files(drifted, p, fs=tfs)
    txn.append_files(drifted, p, fs=tfs, merge_schema=True)
    assert old_files < set(txn.data_files(p))  # old files still live, unrewritten

    got = {(r.k, r.v, r.extra) for r in read_table(spark, p).collect()}
    assert got == {("a", 1, None), ("b", 2, None), ("c", 3, "x"), ("d", 4, "y")}

    # source then LOST column v — absorbed the same way
    shrunk = spark.createDataFrame([("e", "z")], "k string, extra string")
    txn.append_files(shrunk, p, fs=tfs, merge_schema=True)
    got = {(r.k, r.v, r.extra) for r in read_table(spark, p).collect()}
    assert ("e", None, "z") in got and len(got) == 5

    # type conflicts are NEVER absorbed
    bad = spark.createDataFrame([("f", "oops")], "k string, v string")
    with pytest.raises(ValueError, match="type conflict"):
        txn.append_files(bad, p, fs=tfs, merge_schema=True)


def test_replace_partitions_cow(spark, tmp_path, tfs):
    """Copy-on-write partition swap: only the partitions present in the
    incoming frame change; untouched partitions' files are carried by
    reference; read_partitions prunes at file level."""
    p = str(tmp_path / "rp1")
    day1 = spark.createDataFrame(
        [(i, f"v{i}", i % 4) for i in range(40)], "k long, v string, b int"
    )
    txn.replace_partitions(day1, p, "b", fs=tfs)
    m1 = txn.live_manifest(p)
    assert m1["partition_by"] == "b"
    assert sorted({e["partition"] for e in m1["files"]}) == ["0", "1", "2", "3"]
    # partition column is manifest metadata, not data
    assert "b" not in read_table(spark, p).columns
    assert read_table(spark, p).count() == 40

    files_b0 = {e["path"] for e in m1["files"] if e["partition"] == "0"}
    # swap only partition 2
    fix = spark.createDataFrame(
        [(i, "FIXED", 2) for i in range(2, 40, 4)], "k long, v string, b int"
    )
    txn.replace_partitions(fix, p, "b", fs=tfs)
    m2 = txn.live_manifest(p)
    assert {e["path"] for e in m2["files"] if e["partition"] == "0"} == files_b0
    got = {r.v for r in txn.read_partitions(spark, p, [2]).collect()}
    assert got == {"FIXED"}
    # untouched partitions intact
    assert {r.v for r in txn.read_partitions(spark, p, ["1"]).collect()} == {
        f"v{i}" for i in range(1, 40, 4)
    }
    # full read = union of partitions
    assert read_table(spark, p).count() == 40


def test_compact_preserves_cow_partitioning(spark, tmp_path, tfs):
    """ADVICE r2 (medium): compaction of a COW-partitioned table must keep
    the partition layout so later copy-on-write loads still work — round
    2's compact converted it to an unpartitioned snapshot and subsequent
    partition writes were silently lost."""
    from airflow_etl_spark.operators import maintenance

    p = str(tmp_path / "cp1")
    for day in range(3):  # several small deltas → fragmented partitions
        df = spark.createDataFrame(
            [(i, f"d{day}", i % 2) for i in range(day, 20 + day)],
            "k long, v string, b int",
        )
        txn.replace_partitions(df, p, "b", fs=tfs)
    maintenance.compact(spark, p, target_file_bytes=10 ** 9, fs=tfs)
    m = txn.live_manifest(p)
    assert m["partition_by"] == "b"  # layout preserved
    n_before = read_table(spark, p).count()

    # a COW load AFTER compaction still swaps partitions correctly
    fix = spark.createDataFrame(
        [(999, "after-compact", 1)], "k long, v string, b int"
    )
    txn.replace_partitions(fix, p, "b", fs=tfs)
    assert {r.v for r in txn.read_partitions(spark, p, [1]).collect()} == {
        "after-compact"
    }
    assert {r.v for r in txn.read_partitions(spark, p, [0]).collect()} == {"d2"}
    assert read_table(spark, p).count() != n_before  # partition 1 swapped


def test_manifest_is_valid_json_with_sizes(spark, tmp_path, tfs):
    """Manifests carry relative paths + byte sizes (catalog reads sizes
    from metadata, zero file stats) and a schema readers apply."""
    p = str(tmp_path / "mj1")
    txn.commit(_mk(spark, 10), p, fs=tfs)
    ver = txn._read_pointer(p)
    with open(os.path.join(p, txn.MANIFESTS, ver + ".json")) as f:
        m = json.load(f)
    assert m["version"] == ver
    assert m["schema"]["type"] == "struct"
    for e in m["files"]:
        assert not e["path"].startswith("/")
        assert e["bytes"] == os.path.getsize(os.path.join(p, e["path"]))
    assert txn.live_bytes(p) == sum(e["bytes"] for e in m["files"])


def test_lease_lock_serializes_and_recovers(tmp_path, spark):
    """The object-store lock path: two lease acquirers serialize; an
    expired (crashed-writer) lease is taken over instead of deadlocking."""
    import threading
    import time as _time

    hf = HadoopFS(spark)
    lease_path = str(tmp_path / "tbl" / "_lock.lease")
    os.makedirs(str(tmp_path / "tbl"))

    order = []

    def hold(name, dwell):
        with hf.lock(lease_path, timeout_s=30):
            order.append((name, "in"))
            _time.sleep(dwell)
            order.append((name, "out"))

    t1 = threading.Thread(target=hold, args=("a", 0.4))
    t1.start()
    _time.sleep(0.1)
    t2 = threading.Thread(target=hold, args=("b", 0.0))
    t2.start()
    t1.join(); t2.join()
    assert order == [("a", "in"), ("a", "out"), ("b", "in"), ("b", "out")]

    # crashed writer: stale lease with an expiry in the past is broken
    with open(lease_path, "w") as f:
        f.write(f"deadbeef {_time.time() - 5}")
    t0 = _time.monotonic()
    with hf.lock(lease_path, timeout_s=10):
        pass
    assert _time.monotonic() - t0 < 5  # takeover, not timeout


def test_snapshot_diff_cdc(spark, tmp_path, tfs):
    """Row-level change feed between retained snapshots (Delta CDF
    analog): inserts, deletes, and update pairs — with multiset semantics
    (duplicate rows diff correctly)."""
    p = str(tmp_path / "cdc1")
    txn.commit(
        spark.createDataFrame(
            [("a", 1), ("b", 2), ("b", 2), ("c", 3)], "k string, v int"
        ),
        p, keep_versions=3, fs=tfs,
    )
    txn.commit(
        spark.createDataFrame(
            [("a", 1), ("b", 2), ("c", 30), ("d", 4)], "k string, v int"
        ),
        p, keep_versions=3, fs=tfs,
    )
    diff = {
        (r.k, r.v, r._change_type)
        for r in txn.snapshot_diff(spark, p).collect()
    }
    assert diff == {
        ("b", 2, "delete"),     # one of the two duplicate b-rows went away
        ("c", 3, "delete"), ("c", 30, "insert"),  # update = delete+insert
        ("d", 4, "insert"),
    }
    # no-change diff is empty
    txn.commit(
        spark.createDataFrame(
            [("a", 1), ("b", 2), ("c", 30), ("d", 4)], "k string, v int"
        ),
        p, keep_versions=3, fs=tfs,
    )
    assert txn.snapshot_diff(spark, p).count() == 0


def test_manifest_stats_prune_clustered_reads(spark, tmp_path, tfs):
    """commit(cluster_by=...) makes per-file min/max disjoint; read_range
    then provably skips files (manifest-stats pruning, zero query-time
    footer reads) while returning exactly read().filter()."""
    p = str(tmp_path / "st1")
    df = spark.range(0, 100_000).withColumn("v", F.col("id") % 97)
    txn.commit(df, p, fs=tfs, cluster_by="id", cluster_partitions=8)

    m = txn.live_manifest(p)
    n_files = len(m["files"])
    assert n_files > 1
    assert all("stats" in e and "id" in e["stats"] for e in m["files"])

    lo, hi = 40_000, 40_500
    pruned = txn.pruned_files(p, "id", lo, hi)
    assert 0 < len(pruned) < n_files  # real skipping happened

    got = sorted(
        r.id for r in txn.read_range(spark, p, "id", lo, hi).collect()
    )
    assert got == list(range(lo, hi + 1))

    # open-ended ranges prune too and stay exact
    assert txn.read_range(spark, p, "id", lo=99_990).count() == 10
    assert len(txn.pruned_files(p, "id", lo=99_990)) < n_files

    # a column with no stats never prunes (correctness over optimization)
    assert len(txn.pruned_files(p, "nope")) == n_files


def test_stats_survive_append_and_string_columns(spark, tmp_path, tfs):
    """Appends stat only their delta files; string min/max prune too."""
    p = str(tmp_path / "st2")
    txn.commit(
        spark.createDataFrame([("apple",), ("banana",)], "w string").coalesce(1),
        p, fs=tfs,
    )
    txn.append_files(
        spark.createDataFrame([("yam",), ("zebra",)], "w string").coalesce(1),
        p, fs=tfs,
    )
    m = txn.live_manifest(p)
    assert all("stats" in e for e in m["files"])
    assert len(m["files"]) == 2
    assert len(txn.pruned_files(p, "w", "x", "zz")) < len(m["files"])
    got = {r.w for r in txn.read_range(spark, p, "w", "x", "zz").collect()}
    assert got == {"yam", "zebra"}


def test_expire_snapshots_maintenance_op(spark, tmp_path, tfs):
    """expire_snapshots drops old manifests + newly-unreferenced files,
    never the live snapshot or files shared with it."""
    from airflow_etl_spark.operators import maintenance

    p = str(tmp_path / "exp1")
    for i in range(4):
        txn.commit(_mk(spark, 3 + i, mult=i + 1), p, keep_versions=10, fs=tfs)
    assert len(txn._list_versions(p)) == 4
    out = maintenance.expire_snapshots(p, keep_versions=2, fs=tfs)
    assert out == {"versions_before": 4, "versions_after": 2}
    # live data intact; expired snapshots unreadable
    assert _vals(spark, p) == [0, 4, 8, 12, 16, 20]
    with pytest.raises(FileNotFoundError):
        txn.read_version(spark, p, 2)
    # only referenced files remain on disk
    referenced = set()
    for v in txn._list_versions(p):
        referenced |= {e["path"] for e in txn._load_manifest(p, v)["files"]}
    remaining = {
        txn._rel_of(fp)
        for fp, _n, _t in LocalFS().list_files(os.path.join(p, txn.DATA), ".parquet")
    }
    assert remaining == referenced


def test_mor_and_layout_paths_on_all_backends(spark, tmp_path, tfs):
    """The round-3 write paths — z-order commit, equality delete, MoR
    upsert, incremental small-file rewrite — must run on every FS backend
    including the rename-free, lease-locked object-store double."""
    from airflow_etl_spark.operators import maintenance

    p = str(tmp_path / "mor_backend")
    df = spark.range(0, 300).select(
        F.col("id").alias("k"), (F.col("id") % 17).alias("x"),
        (F.col("id") % 11).alias("y"),
    )
    txn.commit(df, p, fs=tfs, zorder_by=["x", "y"], cluster_partitions=4)
    txn.delete_keys(
        spark.range(0, 30).select(F.col("id").alias("k")), p, ["k"], fs=tfs
    )
    assert txn.read(spark, p, fs=tfs).count() == 270
    src = spark.range(10, 50).select(
        F.col("id").alias("k"), F.lit(-1).cast("long").alias("x"),
        F.lit(-1).cast("long").alias("y"),
    )
    txn.upsert_mor(src, p, ["k"], fs=tfs)
    out = txn.read(spark, p, fs=tfs)
    # 300 - 30 deleted (0..29) + re-upserted 10..49 = 270 rows with
    # 10..29 restored and 30..49 replaced
    assert out.count() == 270 + 20
    assert out.filter((F.col("k") >= 10) & (F.col("k") < 50))\
        .filter(F.col("x") == -1).count() == 40
    removed = maintenance.rewrite_small_files(
        spark, p, target_file_bytes=50 * 1024 * 1024, fs=tfs
    )
    assert removed >= 0
    assert txn.read(spark, p, fs=tfs).count() == 290


def test_time_travel_serves_pre_evolution_schema(spark, tmp_path, tfs):
    """After merge_schema evolution, reading the OLD snapshot by name
    must serve the ORIGINAL column set — the evolved column belongs to
    the new manifest only (cat_schema_evolution asserts this in-query;
    this pins the txn-layer invariant directly)."""
    from pyspark.sql import functions as F

    p = str(tmp_path / "evo")
    v1 = txn.commit(
        spark.range(10).select(F.col("id"), (F.col("id") * 2).alias("v")),
        p, fs=tfs,
    )
    txn.append_files(
        spark.range(10, 20).select(
            F.col("id"), (F.col("id") * 2).alias("v"),
            F.lit("web").alias("channel"),
        ),
        p, fs=tfs, merge_schema=True,
    )
    cur = txn.read(spark, p, fs=tfs)
    assert "channel" in cur.columns and cur.count() == 20
    # pre-evolution rows read NULL in the evolved column
    assert cur.filter(F.col("channel").isNull()).count() == 10
    old = txn.read_named_version(spark, p, v1, fs=tfs)
    assert "channel" not in old.columns
    assert old.count() == 10


def test_hadoopfs_read_of_vanished_file_is_none(spark, tmp_path):
    """TOCTOU on the lease path: a file deleted between exists() and
    open() reads as None (absent), never a Py4J FileNotFoundException —
    a lease RELEASE racing a waiting acquirer's read is normal traffic
    on object stores."""
    from airflow_etl_spark.sources.fs import HadoopFS

    hf = HadoopFS(spark)
    p = str(tmp_path / "ghost.txt")
    with open(p, "w") as f:
        f.write("x")
    real_exists = hf.exists

    def exists_then_vanish(path):
        r = real_exists(path)
        if path == p and os.path.exists(p):
            os.remove(p)  # vanish AFTER the existence check
        return r

    hf.exists = exists_then_vanish
    try:
        assert hf.read_text(p) is None
    finally:
        hf.exists = real_exists


def test_lease_contention_under_load_never_crashes(spark, tmp_path):
    """Many lease contenders on one path: every holder enters exactly
    once, mutual exclusion holds, and no acquirer dies on the
    release-delete race (the TOCTOU fix's end-to-end property)."""
    import threading

    from airflow_etl_spark.sources.fs import HadoopFS

    hf = HadoopFS(spark)
    lease_path = str(tmp_path / "t" / "_lock.lease")
    os.makedirs(str(tmp_path / "t"), exist_ok=True)
    inside = []
    errors = []
    gate = threading.Semaphore(1)

    def hold(name):
        try:
            with hf.lock(lease_path, timeout_s=60):
                assert gate.acquire(blocking=False), "mutual exclusion broken"
                inside.append(name)
                gate.release()
        except Exception as e:  # pragma: no cover - the regression signal
            errors.append((name, repr(e)))

    threads = [
        threading.Thread(target=hold, args=(i,)) for i in range(8)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
    assert sorted(inside) == list(range(8))


# ----------------------------------------------- as-of-timestamp travel --
def test_committed_at_monotonic_and_asof_resolution(spark, tmp_path):
    tbl = str(tmp_path / "asof")
    df = spark.createDataFrame([(1,)], "id long")
    v1 = txn.commit(df, tbl, keep_versions=5)
    v2 = txn.append_files(spark.createDataFrame([(2,)], "id long"), tbl,
                          keep_versions=5)
    t1, t2 = txn.committed_at(tbl, v1), txn.committed_at(tbl, v2)
    assert t1 < t2  # strictly monotonic even for same-microsecond commits
    assert txn.read_asof(spark, tbl, t1).count() == 1
    assert txn.read_asof(spark, tbl, t2 - 1).count() == 1  # boundary
    assert txn.read_asof(spark, tbl, t2).count() == 2
    assert txn.read_asof(spark, tbl, t2 + 10_000_000).count() == 2


def test_read_asof_before_first_commit_raises(spark, tmp_path):
    tbl = str(tmp_path / "asof2")
    v1 = txn.commit(spark.createDataFrame([(1,)], "id long"), tbl)
    t1 = txn.committed_at(tbl, v1)
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError, match="no retained snapshot"):
        txn.read_asof(spark, tbl, t1 - 1)


def test_run_concurrent_orders_results_and_settles_before_raising():
    """txn.run_concurrent (r11): results return in submission order, and
    a failing op re-raises only after EVERY op has settled (no
    half-cancelled fixture state) — pure threading contract, no Spark."""
    import threading
    import time as _t

    import pytest as _pytest

    from airflow_etl_spark.sources import txn as _txn

    done = []

    def mk(i, delay):
        def op():
            _t.sleep(delay)
            done.append(i)
            return i * 10
        return op

    out = _txn.run_concurrent([mk(0, 0.05), mk(1, 0.0), mk(2, 0.02)])
    assert out == [0, 10, 20]  # submission order, not completion order
    assert set(done) == {0, 1, 2}

    done.clear()
    settled = threading.Event()

    def slow_ok():
        _t.sleep(0.1)
        done.append("ok")
        settled.set()
        return "fine"

    def boom():
        raise ValueError("boom")

    with _pytest.raises(ValueError, match="boom"):
        _txn.run_concurrent([boom, slow_ok])
    # the failure waited for the slow op to finish
    assert settled.is_set() and done == ["ok"]


def _ks(spark, *ks):
    return spark.createDataFrame([(k,) for k in ks], "k long")


def test_staged_dir_survives_same_table_publish_and_gc(spark, tmp_path):
    """A publish landing between stage_write and append_staged runs GC;
    the `_staged` registry keeps the unreferenced staged dir alive."""
    p = str(tmp_path / "stg")
    txn.commit(_ks(spark, 0, 1), p)
    staged = txn.stage_write(_ks(spark, 10, 11), p)
    txn.append_files(_ks(spark, 20), p)
    assert os.path.isdir(os.path.join(p, txn.DATA, staged["tag"]))
    txn.append_staged(staged, p)
    assert staged["tag"] not in txn._read_staged(p)
    assert sorted(r.k for r in txn.read(spark, p).collect()) == [0, 1, 10, 11, 20]


def test_stale_staged_entry_swept_with_its_dir(spark, tmp_path):
    """A registry entry older than STAGED_TTL_S is a crashed stager's:
    the next publish drops the entry and deletes its dir."""
    p = str(tmp_path / "stale")
    txn.commit(_ks(spark, 0), p)
    staged = txn.stage_write(_ks(spark, 5), p)
    reg = txn._read_staged(p)
    reg[staged["tag"]] -= txn.STAGED_TTL_S + 1
    LocalFS().write_text_atomic(txn._staged_path(p), json.dumps(reg))
    txn.append_files(_ks(spark, 1), p)
    assert txn._read_staged(p) == {}
    assert not os.path.exists(os.path.join(p, txn.DATA, staged["tag"]))


def test_staged_publish_on_missing_table_raises(tmp_path):
    p = str(tmp_path / "missing")
    with pytest.raises(FileNotFoundError, match="append_staged"):
        txn.append_staged({"tag": "c-0", "entries": [], "schema": {}}, p)
    with pytest.raises(FileNotFoundError, match="delete_keys_staged"):
        txn.delete_keys_staged({"tag": "d-0", "delete_entries": []}, p)


def test_failed_staged_write_leaves_no_registry_entry_or_dir(spark, tmp_path):
    """A staged Spark write that fails at execution releases its tag and
    deletes its partial dir, so GC is not blocked on debris for a TTL."""
    p = str(tmp_path / "leak")
    txn.commit(_ks(spark, 0), p)
    dirs = set(os.listdir(os.path.join(p, txn.DATA)))
    bad = spark.range(3).select(
        F.when(F.col("id") == 2, F.raise_error(F.lit("staged boom")))
        .otherwise(F.col("id")).alias("k")
    )
    with pytest.raises(Exception, match="staged boom"):
        txn.stage_write(bad, p)
    with pytest.raises(Exception, match="staged boom"):
        txn.stage_delete_keys(bad, p)
    assert txn._read_staged(p) == {}
    assert set(os.listdir(os.path.join(p, txn.DATA))) == dirs


def test_same_table_concurrent_stages_publish_in_order(spark, tmp_path):
    """Two stage_writes and a stage_delete_keys on ONE table overlap
    through run_concurrent (each holds the table lock only to register
    its tag); publishing them in order gives both staged row sets minus
    the deleted keys and leaves no staged registration behind."""
    p = str(tmp_path / "conc")
    txn.commit(_ks(spark, 0, 1), p)
    a, b, d = txn.run_concurrent([
        lambda: txn.stage_write(_ks(spark, 10, 11, 12), p),
        lambda: txn.stage_write(_ks(spark, 20, 21), p),
        lambda: txn.stage_delete_keys(_ks(spark, 1, 11, 21), p),
    ])
    txn.append_staged(a, p)
    txn.append_staged(b, p)
    txn.delete_keys_staged(d, p)
    assert sorted(r.k for r in txn.read(spark, p).collect()) == [0, 10, 12, 20]
    assert txn._read_staged(p) == {}
