"""Table-maintenance operators (SURVEY.md §2.11 C13).

The reference runs Iceberg maintenance via Trino: `ALTER TABLE … EXECUTE
optimize(file_size_threshold => '500MB')` and
`remove_orphan_files(retention_threshold => '30d')` (utlis/clean_data.py:49,52),
metadata-file retention (utlis/clean_metadata.py:326-394) and unused-folder
GC (:498-528). Without a transactional table format the parquet-dir
equivalents are:

- `compact`: rewrite a parquet directory into ~target-sized files
  (coalesce to ceil(bytes/target); no shuffle).
- `orphan_rows` / `orphan_files`: files under a root not referenced by
  the live table set.
- `retention_rows` / `retention_plan`: per-directory keep/delete split by
  mtime cutoff with the reference's "always keep the latest" guard.

Destructive steps are planned first and committed by the caller (the
reference's generate-then-execute housekeeping style). A plan is a
driver-side listing: `orphan_rows` and `retention_rows` return it as a
Python list, and `orphan_files` / `retention_plan` wrap the same rows in
a DataFrame for SQL consumers.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession


def compact(
    spark: SparkSession, path: str, target_file_bytes: int = 500 * 1024 * 1024,
    fs=None,
) -> int:
    """Rewrite the table at `path` into ~target-sized files via an atomic
    manifest commit (sources.txn). Returns the target file count.

    The Iceberg equivalent is `ALTER TABLE … EXECUTE optimize(
    file_size_threshold => '500MB')` (utlis/clean_data.py:49) — like
    Iceberg, the rewrite lands in a new immutable snapshot and the table
    flips to it atomically; a crash mid-compact leaves the old version
    live, never a missing table. A legacy plain dir is migrated to the
    manifest layout by its first compaction (read it back with
    sources.read_table).

    A versioned table whose rewrite would reproduce its own files is left
    as it is: no pending deletes, no declared `sort_order`, and one file
    per partition (or, unpartitioned, one file where one is the target).
    Nothing is written or published, and the target count is returned —
    Iceberg's `rewrite_data_files` likewise skips a file group that is
    already one file with no deletes. A declared order still rewrites a
    single file, since `rewrite_small_files` can leave it unsorted.

    A COW-partitioned table (txn.replace_partitions layout) keeps its
    partitioning: files are re-clustered per partition value via
    replace_partitions over every value, so subsequent copy-on-write
    loads still swap whole partitions (r2 ADVICE: compaction must never
    convert a partitioned layout to an unpartitioned snapshot)."""
    from pyspark.sql import functions as F

    from ..sources import txn

    fs = fs or txn._fs_for(path)
    # probe + read + commit all inside the table lock: probing outside
    # races a concurrent writer's legacy→versioned migration (its GC
    # deletes the very files this plan would scan). The pointer and
    # manifest are read ONCE here; every read below plans off `m`.
    with txn.table_lock(path, fs):
        ver = txn._read_pointer(path, fs)
        m = txn._load_manifest(path, ver, fs) if ver else {}
        if not m and not txn._has_plain_files(path, fs):
            raise FileNotFoundError(f"no table at {path}")
        # a legacy plain dir (no manifest) is migrated by this compaction
        total = (
            sum(e.get("bytes", 0) for e in m["files"]) if m
            else txn.live_bytes(path, fs)
        )
        n_files = max(1, math.ceil(total / target_file_bytes))
        pcol = m.get("partition_by")
        if m and _already_compact(m, n_files):
            return n_files
        if pcol is None:
            df = (
                txn._read_with_deletes(spark, path, m) if m
                else txn.read(spark, path, fs)
            )
            # restore the table's DECLARED layout: appends degrade
            # clustering; compaction re-sorts per the recorded order
            order = m.get("sort_order")
            if order and order.get("kind") == "zorder":
                txn._commit_locked(
                    df, path, fs=fs, zorder_by=order["cols"],
                    cluster_partitions=n_files,
                )
            elif order and order.get("kind") == "range":
                txn._commit_locked(
                    df, path, fs=fs, cluster_by=order["cols"],
                    cluster_partitions=n_files,
                )
            else:
                txn._commit_locked(df.coalesce(n_files), path, fs=fs)
            return n_files
        # partition-preserving compaction: rebuild every partition's rows
        # (value re-attached from manifest metadata when it is not a data
        # column), write back through the same COW machinery — one Spark
        # job, partition purity preserved
        in_data = m.get("partition_in_data", False)
        parts = []
        for v in sorted({e.get("partition") for e in m["files"]} - {None}):
            entries = [e for e in m["files"] if e.get("partition") == v]
            pdf = txn._read_with_deletes(spark, path, m, entries)
            if not in_data:
                pdf = pdf.withColumn(pcol, F.lit(v))
            parts.append(pdf)
        if not parts:
            return 0
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        # publish inline — the table lock is already held (flock/lease are
        # not re-entrant, so replace_partitions' own lock would deadlock)
        entries = txn._write_snapshot(
            df.repartition(n_files, pcol), path, fs, partition_by=pcol,
            keep_column=in_data,
        )
        txn._publish(
            path, entries, m.get("schema"), pcol, fs, 2, ver,
            partition_in_data=in_data,
        )
        return n_files


def _already_compact(m: dict, n_files: int) -> bool:
    """`compact`'s skip rule over the live manifest `m`: a rewrite would
    write back the very files it read."""
    if m.get("deletes") or m.get("sort_order"):
        return False
    files = m["files"]
    if m.get("partition_by") is None:
        return len(files) == 1 and n_files == 1
    parts = [e.get("partition") for e in files]
    return None not in parts and len(set(parts)) == len(parts)


def rewrite_small_files(
    spark: SparkSession, path: str,
    target_file_bytes: int = 500 * 1024 * 1024,
    small_threshold: int | None = None, fs=None,
) -> int:
    """Incremental compaction: rewrite ONLY the table's small files into
    ~target-sized ones, leaving well-sized files byte-identical in place —
    Iceberg's `rewrite_data_files` with a min-file-size filter, and the
    right routine maintenance for append-heavy tables (daily hub/link
    deltas, driver-side ledger appends) where `compact` would pay an
    O(table) rewrite to fix an O(new files) problem.

    A file is small when under `small_threshold` (default: half the
    target). Per partition (or the whole table when unpartitioned), if at
    least two small files exist they are read, coalesced, rewritten, and
    the manifest swaps exactly those entries — kept files keep their
    paths, stats, and bloom filters; rewritten groups get fresh stats and
    recomputed blooms for whichever columns the replaced files had
    bloomed. Crash-safe like every commit: the swap is one manifest
    publish. Returns the number of files removed by the rewrite (0 =
    nothing to do)."""
    from ..sources import txn

    fs = fs or txn._fs_for(path)
    with txn._live_table(path, fs, "rewrite_small_files") as (ver, m):
        thr = small_threshold if small_threshold is not None else target_file_bytes // 2
        pcol = m.get("partition_by")
        groups: dict[object, list[dict]] = {}
        for e in m["files"]:
            groups.setdefault(e.get("partition"), []).append(e)
        kept: list[dict] = []
        new_entries: list[dict] = []
        removed = 0
        for pval, entries in sorted(
            groups.items(), key=lambda kv: (kv[0] is None, kv[0])
        ):
            smalls = [e for e in entries if e.get("bytes", 0) < thr]
            if len(smalls) < 2:
                kept.extend(entries)
                continue
            kept.extend(e for e in entries if e not in smalls)
            # deletes applicable to the smalls fold into the rewrite (the
            # merged files get a NEW higher seq, so old delete files stop
            # applying to them — exactly right, the rows are already gone)
            df = txn._read_with_deletes(spark, path, m, smalls)
            n = max(1, math.ceil(sum(e.get("bytes", 0) for e in smalls)
                                 / target_file_bytes))
            written = txn._write_snapshot(df.coalesce(n), path, fs)
            bloom_cols = sorted({c for e in smalls for c in e.get("bloom", {})})
            if bloom_cols:
                txn._attach_blooms(spark, path, written, bloom_cols, fs)
            if pcol is not None:
                for w in written:
                    w["partition"] = pval
            new_entries.extend(written)
            removed += len(smalls) - len(written)
        if not new_entries:
            return 0
        # delete files stay for the KEPT data files they still govern
        txn._publish_child(path, ver, m, fs, files=kept, add=new_entries)
        return removed


def orphan_files(
    spark: SparkSession, root: str, live_paths: list[str], fs=None,
    min_age_s: float = 0.0,
) -> DataFrame:
    """`orphan_rows` as a (path, n_bytes) DataFrame."""
    return spark.createDataFrame(
        orphan_rows(root, live_paths, fs, min_age_s), "path string, n_bytes long"
    )


def orphan_rows(
    root: str, live_paths: list[str], fs=None, min_age_s: float = 0.0,
) -> list[tuple[str, int]]:
    """(path, n_bytes) of every file under `root` not contained in any
    live table path — the unused-file GC input
    (utlis/clean_metadata.py:498-528). Listing is driver-side (metadata
    op, not data) through the FS abstraction (sources.fs): LocalFS by
    default, HadoopFS for object stores.

    `min_age_s` is the retention grace: files younger than it are never
    reported (mirrors the reference's `retention_threshold => '30d'`
    age-based cleanup, utlis/clean_data.py:52). A destructive GC MUST set
    it: a table created after `live_paths` was assembled (a concurrent
    pipeline run's new staging table) would otherwise classify as orphan
    between the plan and the delete (ADVICE r2)."""
    import time

    from ..sources.fs import LocalFS

    fs = fs or LocalFS()
    cutoff = time.time() - min_age_s
    # resolve BOTH sides the same way — comparing resolved file paths
    # against unresolved prefixes marks every live file orphan as soon as a
    # symlink appears anywhere in the path (e.g. /tmp on macOS)
    live = [fs.resolve(p).rstrip("/") + "/" for p in live_paths]
    rows = []
    for fp_raw, n_bytes, mtime in fs.list_files(root):
        if mtime > cutoff:
            continue  # too young — may belong to a table born after planning
        fp = fs.resolve(fp_raw)
        if not any(fp.startswith(lp) for lp in live):
            rows.append((fp, n_bytes))
    return rows


def retention_plan(
    spark: SparkSession, root: str, cutoff_epoch_s: float, fs=None
) -> DataFrame:
    """`retention_rows` as a (path, action) DataFrame."""
    return spark.createDataFrame(
        retention_rows(root, cutoff_epoch_s, fs), "path string, action string"
    )


def retention_rows(
    root: str, cutoff_epoch_s: float, fs=None
) -> list[tuple[str, str]]:
    """(path, "keep" | "delete") rows by mtime: delete files older than
    the cutoff, but always keep the newest file per directory (the
    reference keeps the latest metadata set even when stale,
    utlis/clean_metadata.py:326-394). FS-agnostic through sources.fs."""
    from ..sources.fs import LocalFS

    by_dir: dict[str, list[tuple[str, float]]] = {}
    for fp, _n, mtime in (fs or LocalFS()).list_files(root):
        parent = fp.rsplit("/", 1)[0]
        by_dir.setdefault(parent, []).append((fp, mtime))
    rows = []
    for d, files in by_dir.items():
        newest = max(files, key=lambda t: t[1])[0]
        for fp, mt in files:
            action = "keep" if (mt >= cutoff_epoch_s or fp == newest) else "delete"
            rows.append((fp, action))
    return rows


def expire_snapshots(path: str, keep_versions: int = 2, fs=None) -> dict:
    """Iceberg's `expire_snapshots` as a first-class maintenance op over
    the manifest layer: drop retained manifests beyond `keep_versions`
    and every data file referenced by NO surviving manifest (reference
    runs metadata retention + orphan cleanup as housekeeping,
    utlis/clean_metadata.py:326-394). Returns before/after counts —
    generate-then-execute evidence for the housekeeping ledger. Holds the
    table lock; GC rules are exactly txn._gc's (the live manifest always
    survives)."""
    from ..sources import txn

    fs = fs or txn._fs_for(path)
    with txn.table_lock(path, fs):
        before = len(txn._list_versions(path, fs))
        txn._gc(path, keep_versions, fs)
        after = len(txn._list_versions(path, fs))
    return {"versions_before": before, "versions_after": after}


def delete_pressure(path: str, fs=None) -> dict:
    """MoR delete-file pressure of the live manifest — the metric the
    delete-compaction trigger keys on. Continuously-upserted tables
    (`upsert_mor` / the streaming CDC sink) grow one equality-delete file
    per batch; every read then pays one broadcast anti-join per delete
    applicable to a file group (`txn._read_with_deletes`). Returns
    {n_delete_files, delete_bytes, n_read_groups} — n_read_groups is the
    exact number of distinct anti-join pipelines the current read plan
    unions (at most n_delete_files + 1 by the sequencing rule). Metadata
    only: one manifest read, no Spark job."""
    import bisect

    from ..sources import txn

    fs = fs or txn._fs_for(path)
    m = txn.live_manifest(path, fs)
    if m is None:
        return {"n_delete_files": 0, "delete_bytes": 0, "n_read_groups": 1}
    dels = sorted(m.get("deletes") or [], key=lambda d: d.get("seq", 0))
    dseqs = [d.get("seq", 0) for d in dels]
    groups = {
        bisect.bisect_right(dseqs, e.get("seq", 0)) for e in m["files"]
    } or {0}
    return {
        "n_delete_files": len(dels),
        "delete_bytes": sum(d.get("bytes", 0) for d in dels),
        "n_read_groups": len(groups),
    }


def compact_if_delete_pressure(
    spark: SparkSession,
    path: str,
    max_delete_files: int = 8,
    max_read_groups: int = 4,
    target_file_bytes: int = 500 * 1024 * 1024,
    fs=None,
) -> bool:
    """Delete-pressure-triggered compaction — the MoR steady-state valve
    (VERDICT r3 #4). A table under continuous `upsert_mor`/CDC apply
    accumulates delete files without bound until a rewrite folds them;
    the monthly size-triggered compaction is too coarse for that steady
    state (the reference runs `optimize` on a schedule for the same
    reason, utlis/clean_data.py:49). This compacts ONLY when the live
    manifest's delete pressure exceeds a threshold, so a sweep over all
    owned tables costs one manifest read per quiet table and a rewrite
    only where reads are actually degrading. Returns whether a compaction
    ran; after it, the read plan is back to a single no-anti-join group
    (compaction applies deletes and publishes a delete-free manifest)."""
    from ..sources import txn

    fs = fs or txn._fs_for(path)
    p = delete_pressure(path, fs)
    if (
        p["n_delete_files"] < max_delete_files
        and p["n_read_groups"] < max_read_groups
    ):
        return False
    compact(spark, path, target_file_bytes, fs=fs)
    return True


def layout_overlap(path: str, col: str, fs=None) -> dict:
    """Clustering-quality audit from MANIFEST STATS ALONE (zero data
    reads): how many file pairs have overlapping [min, max] ranges on
    `col`. A well-clustered table's ranges are disjoint (read_range
    prunes to O(matching files)); a hash-scattered one overlaps on
    every pair (every range query scans every file) — this number is
    the evidence for scheduling a cluster_by/zorder_by rewrite, read
    at metadata cost even on a 100 TB table. Returns {n_files,
    overlap_pairs, max_pairs, files_missing_stats}; files without
    stats on `col` count as overlapping everything (the pessimistic
    truth the reader's pruning also assumes)."""
    from ..sources import txn

    fs = fs or txn._fs_for(path)
    ver = txn._read_pointer(path, fs)
    if ver is None:
        raise FileNotFoundError(f"no versioned table at {path}")
    m = txn._load_manifest(path, ver, fs)
    ranges = []
    missing = 0
    for e in m["files"]:
        st = (e.get("stats") or {}).get(col)
        if st is None:
            missing += 1
            ranges.append(None)
        else:
            ranges.append((st[0], st[1]))
    n = len(ranges)
    overlap = 0
    for i in range(n):
        for j in range(i + 1, n):
            a, b = ranges[i], ranges[j]
            if a is None or b is None or (a[0] <= b[1] and b[0] <= a[1]):
                overlap += 1
    return {
        "n_files": n,
        "overlap_pairs": overlap,
        "max_pairs": n * (n - 1) // 2,
        "files_missing_stats": missing,
    }
