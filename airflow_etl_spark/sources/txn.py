"""Atomic table commits — manifest-file protocol for mutable tables,
portable across filesystems (local disk, HDFS, object stores).

The reference mutates Iceberg tables through Trino and gets ACID for free
(MERGE utlis/etl_manager.py:617-635, UPDATE :195-199, DELETE :340-350),
with the data living on MinIO — an object store
(utlis/backup_nessie_postgres.py:67-75). Round 2's commit layer had the
right pointer-swap semantics but a POSIX-only implementation (os.rename,
flock, hardlink snapshots). This round re-expresses the protocol in the
only primitives an object store offers — immutable files, one atomic
small-file publish, and a lease — routed through the `sources.fs`
abstraction (LocalFS / HadoopFS):

table layout::

    table_dir/
      _current                    # text file: name of the live manifest
      _manifests/
        v00000001-3fa9c1d2.json   # immutable manifest: the file list
        v00000002-8be04417.json
      _data/
        c-ab12cd34/part-*.parquet # immutable data files, one dir per write
        a-77aa0102/part-*.parquet
      _lock / _lock.lease         # writer lock (flock locally, lease else)

A **manifest** is a JSON file listing the table's data files (paths
relative to the table root, sizes, footer row counts and min/max stats,
optional partition values) plus the table schema — the same core idea as
an Iceberg snapshot's manifest list, minus the format machinery. Because
a version is a *listing*, not a physical directory:

- **Appends are O(delta) everywhere.** A new manifest references the old
  files plus the freshly written delta — no hardlinks (POSIX-only), no
  copies (O(table)). This is what keeps Data Vault hub/link loads
  O(new keys) per day at 100 TB.
- **Copy-on-write partition replacement is first-class**
  (`replace_partitions`): the new manifest keeps unaffected partitions'
  files and swaps only the rewritten ones — Iceberg/Delta's
  overwrite-by-partition, used by the per-etl_date staging loads.
- **Row-level MERGE is merge-on-read** (`upsert_mor`): the batch plus an
  equality-delete file of its keys, one publish — Iceberg v2's
  row-level deletes, used by the SCD2 satellite loads.
- **GC is reference-based**: a data file is deleted exactly when no
  retained manifest references it — which makes orphan cleanup after a
  crashed commit (the reference's `remove_orphan_files`,
  utlis/clean_data.py:52) fall out of the same rule.
- **Schema evolution without rewrites** (`merge_schema=True`): the
  manifest carries the table schema; readers apply it explicitly, so old
  files simply read missing columns as NULL — drift absorption
  (reference's dbt+Iceberg staging behavior, SURVEY §1.3) is a metadata
  operation.

Every writer is a data write (a Spark job or a driver-side arrow file)
followed by the one shared child publish, `_publish_child`, which derives
the new manifest from its parent's: partition spec, sort order and
pending delete files carry over, as in an Iceberg snapshot.

Concurrency / crash model (unchanged from round 2, now portable):

- **Readers never lock.** `read()` resolves `_current` → manifest → a
  pinned, concrete file list at plan time; concurrent commits never yank
  files out from under an executing job (GC retains `keep_versions`
  manifests, and append-derived manifests share files, so appended
  tables effectively never invalidate readers).
- **Writers** take the table lock (flock via LocalFS — the POSIX fast
  path; an expiring lease file via HadoopFS — the object-store path),
  write the new data files while the OLD manifest stays live, publish
  the manifest, atomically replace `_current`, then GC.
- **Crash at any point** leaves either the old pointer (new files are
  unreferenced garbage, GC'd by the next commit) or the new pointer —
  never a missing or torn table.

On S3 proper, the one non-native primitive is the pointer replace;
`sources.fs.ConditionalPutFS` implements it over conditional PUT
(If-None-Match / If-Match), and on that backend the flip is a true CAS:
`_flip_pointer` verifies the pointer still names the commit's parent and
raises `CommitConflict` for a zombie writer whose lease was taken over.
Everything else (immutable writes, lease create-if-absent, listings)
maps directly.

At 100 TB: manifests are metadata-scale (one small JSON per commit);
snapshots are written by the cluster, never streamed through the driver.
A pathological append-every-row workload makes the manifest O(files) —
the same pressure Iceberg answers with manifest lists; here control
tables stay small and `maintenance.compact` folds file counts back down.
"""

from __future__ import annotations

import functools
import io
import json
import os
import re
import time
import uuid
from contextlib import contextmanager
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql.types import StructField, StructType

from .. import catalog
from ..operators.core import broadcast_if_bounded
from .fs import LocalFS, PreconditionFailed


class CommitConflict(RuntimeError):
    """The live pointer moved between this commit's parent read and its
    flip — only raisable on a conditional-put backend, where the flip is
    a CAS. The table is untouched; the loser's snapshot is GC fodder."""


CURRENT = "_current"
MANIFESTS = "_manifests"
DATA = "_data"
LOCK = "_lock"
PINS = "_pins"
#: registry of staged (written, not yet published) `_data` dirs — GC
#: protection for the two-phase stage_write/commit_staged path
STAGED = "_staged"
#: staged dirs older than this are crash leftovers: GC sweeps them and
#: drops their registry entry
STAGED_TTL_S = 24 * 3600.0

_VER_RE = re.compile(r"^v(\d{8})-[0-9a-f]{8}$")


# --------------------------------------------------------------- paths ----
def _join(*parts: str) -> str:
    """URI-safe join (os.path.join would mangle s3a:// on Windows and is
    scheme-blind; table paths here are always /-separated)."""
    return "/".join(p.rstrip("/") for p in parts)


def _fs_for(path: str):
    """Backend selection: URI schemes go through the JVM FileSystem (the
    object-store path), bare paths through pathlib. Explicit `fs=` wins."""
    if "://" in path and not path.startswith("file:"):
        from .fs import HadoopFS

        spark = SparkSession.getActiveSession()
        if spark is None:  # pragma: no cover - URI path without a session
            raise RuntimeError(f"no active SparkSession to reach {path}")
        return HadoopFS(spark, path)
    return LocalFS()


def _rel_of(abs_path: str) -> str:
    """Table-root-relative path of a data file (everything from _data/ on)."""
    marker = "/" + DATA + "/"
    return DATA + "/" + abs_path.split(marker, 1)[1]


# ------------------------------------------------------------ metadata ----
def _current_file(path: str) -> str:
    return _join(path, CURRENT)


def _read_pointer(path: str, fs=None) -> str | None:
    fs = fs or _fs_for(path)
    txt = fs.read_text(_current_file(path))
    return (txt.strip() or None) if txt is not None else None


def _list_versions(path: str, fs=None) -> list[str]:
    fs = fs or _fs_for(path)
    out = []
    for name in fs.list_dir(_join(path, MANIFESTS)):
        if name.endswith(".json") and _VER_RE.match(name[:-5]):
            out.append(name[:-5])
    return sorted(out)


def _manifest_path(path: str, ver: str) -> str:
    return _join(path, MANIFESTS, ver + ".json")


def read_pins(path: str, fs=None) -> set[str]:
    """Versions of this table pinned by an external catalog (the
    `_pins` file a WarehouseCatalog maintains at publish time). GC keeps
    these beyond `keep_versions` so a catalog branch that pins an older
    version (e.g. main, while commits land on a dev ref) never dangles —
    the retention-alignment contract of sources/catalog_txn.py."""
    fs = fs or _fs_for(path)
    text = fs.read_text(_join(path, PINS))
    if not text:
        return set()
    try:
        return set(json.loads(text))
    except ValueError:  # pragma: no cover - corrupt pin file: ignore
        return set()


def write_pins(path: str, versions: set[str] | list[str], fs=None) -> None:
    """Replace the table's catalog pin set (atomic; no-op if unchanged)."""
    fs = fs or _fs_for(path)
    target = sorted(versions)
    pin_file = _join(path, PINS)
    cur = fs.read_text(pin_file)
    if cur is not None:
        try:
            if json.loads(cur) == target:
                return
        except ValueError:
            pass
    fs.write_text_atomic(pin_file, json.dumps(target))


def _staged_path(path: str) -> str:
    return _join(path, STAGED)


def _read_staged(path: str, fs=None) -> dict[str, float]:
    """{staged _data dir tag: registered-at epoch s} — the in-flight
    two-phase writes GC must not sweep (see stage_write)."""
    fs = fs or _fs_for(path)
    txt = fs.read_text(_staged_path(path))
    if not txt:
        return {}
    try:
        d = json.loads(txt)
        return d if isinstance(d, dict) else {}
    except ValueError:  # pragma: no cover - torn write
        return {}


def _register_staged(path: str, tag: str, fs) -> None:
    with table_lock(path, fs):
        d = _read_staged(path, fs)
        d[tag] = time.time()
        fs.write_text_atomic(_staged_path(path), json.dumps(d))


def _release_staged(path: str, tags: list[str], fs) -> None:
    """Drop published tags from the staged registry. Caller holds the
    table lock."""
    d = _read_staged(path, fs)
    kept = {t: ts for t, ts in d.items() if t not in set(tags)}
    if kept != d:
        fs.write_text_atomic(_staged_path(path), json.dumps(kept))


def _load_manifest(path: str, ver: str, fs=None) -> dict:
    fs = fs or _fs_for(path)
    txt = fs.read_text(_manifest_path(path, ver))
    if txt is None:
        raise FileNotFoundError(f"manifest {ver} missing at {path}")
    return json.loads(txt)


def live_manifest(path: str, fs=None) -> dict | None:
    """The live snapshot's manifest dict, or None for legacy/missing."""
    fs = fs or _fs_for(path)
    ver = _read_pointer(path, fs)
    return _load_manifest(path, ver, fs) if ver else None


def _has_plain_files(path: str, fs=None) -> bool:
    """Legacy layout probe: top-level part files or key=value partitions."""
    fs = fs or _fs_for(path)
    for entry in fs.list_dir(path):
        if entry.endswith(".parquet"):
            return True
        if "=" in entry and fs.is_dir(_join(path, entry)):
            return True
    return False


def table_exists(path: str, fs=None) -> bool:
    fs = fs or _fs_for(path)
    return _read_pointer(path, fs) is not None or _has_plain_files(path, fs)


def data_files(path: str, fs=None) -> list[str]:
    """Absolute paths of the live snapshot's data files (manifest layout)
    or every part file of a legacy plain dir."""
    fs = fs or _fs_for(path)
    m = live_manifest(path, fs)
    if m is not None:
        return [_join(path, e["path"]) for e in m["files"]]
    if _has_plain_files(path, fs):
        return [p for p, _n, _t in fs.list_files(path, ".parquet")]
    raise FileNotFoundError(f"no table at {path}")


def live_bytes(path: str, fs=None) -> int:
    """Live data bytes — from manifest metadata (zero file stats) when
    versioned, from a listing for legacy dirs."""
    fs = fs or _fs_for(path)
    m = live_manifest(path, fs)
    if m is not None:
        return sum(e.get("bytes", 0) for e in m["files"])
    return sum(n for _p, n, _t in fs.list_files(path, ".parquet"))


def live_partition_by(path: str, fs=None) -> str | None:
    """Partition column of the live snapshot (None for unpartitioned)."""
    m = live_manifest(path, fs)
    return m.get("partition_by") if m else None


def version_log(path: str, fs=None) -> list[dict]:
    """The table's metadata log (Iceberg `$metadata_log_entries` analog,
    reference utlis/clean_metadata.py:54): retained snapshots oldest-first
    with currency flags. Driver-side metadata — rows are version-count
    sized."""
    fs = fs or _fs_for(path)
    live = _read_pointer(path, fs)
    return [
        {"version": v, "ordinal": i + 1, "is_current": v == live}
        for i, v in enumerate(_list_versions(path, fs))
    ]


# ---------------------------------------------------------------- locks ---
@contextmanager
def table_lock(path: str, fs=None):
    """Cross-process writer lock through the FS backend: flock on LocalFS
    (serializes across processes and across fds within one process), an
    expiring lease file on HadoopFS/object stores (sources.fs._Lease)."""
    fs = fs or _fs_for(path)
    fs.mkdirs(path)
    name = getattr(fs, "lock_name", LOCK)
    with fs.lock(_join(path, name)):
        yield


# -------------------------------------------------------------- readers ---
def _schema_of(m: dict) -> StructType | None:
    return StructType.fromJson(m["schema"]) if m.get("schema") else None


def _read_manifest(
    spark: SparkSession, path: str, m: dict, entries: list[dict] | None = None,
    with_pos: bool = False,
) -> DataFrame:
    files = m["files"] if entries is None else entries
    schema = _schema_of(m)
    paths = [_join(path, e["path"]) for e in files]
    if not paths:
        df = spark.createDataFrame([], schema or StructType([]))
        if with_pos:
            df = df.select(
                "*",
                F.lit(None).cast("string").alias("__pd_file"),
                F.lit(None).cast("long").alias("__pd_pos"),
            )
        return df
    reader = spark.read.schema(schema) if schema is not None else spark.read
    df = reader.parquet(*paths)
    if with_pos:
        # (file basename, row ordinal) is the positional-delete address:
        # data files are uuid-named and immutable, so the basename is a
        # stable identity within the table and row_index never moves
        df = df.select(
            "*",
            F.element_at(
                F.split(F.col("_metadata.file_path"), "/"), -1
            ).alias("__pd_file"),
            F.col("_metadata.row_index").alias("__pd_pos"),
        )
    return df


def _read_delete_entry(spark: SparkSession, path: str, d: dict) -> DataFrame:
    return catalog.read_parquet(spark, _join(path, d["path"])).select(*d["key_cols"])


def _read_with_deletes(
    spark: SparkSession, path: str, m: dict, entries: list[dict] | None = None,
    keep_pos: bool = False,
) -> DataFrame:
    """Read manifest entries applying the manifest's delete files
    (merge-on-read), both kinds:

    EQUALITY deletes follow the Iceberg v2 sequencing rule: a delete file
    applies only to data files with a LOWER sequence number, so a key
    re-inserted AFTER its deletion survives. Data files therefore group
    by how many deletes apply to them — because applicable deletes are
    always a suffix of the seq-sorted delete list, there are at most
    len(deletes)+1 groups no matter how many commits the table has seen.
    Each group anti-joins its applicable delete keys (broadcast — delete
    files are O(deleted keys) small by design); groups union back.

    POSITIONAL deletes (kind == "pos", Iceberg v2's position delete
    files) address rows as (data-file basename, row ordinal) — they can
    kill ONE copy of a bit-identical duplicate row, which no equality
    delete can express. Name-targeting replaces the sequence rule: a
    rewritten file gets a fresh uuid name, so stale positions simply
    stop matching (and compaction drops them with the rest). Applied as
    one broadcast anti-join on (file, pos) after the equality groups
    re-union.

    Compaction/rewrite applies deletes and drops them, so the group
    count self-heals under routine maintenance."""
    import bisect

    all_dels = m.get("deletes") or []
    pos_dels = [d for d in all_dels if d.get("kind") == "pos"]
    dels = sorted(
        (d for d in all_dels if d.get("kind") != "pos"),
        key=lambda d: d.get("seq", 0),
    )
    files = m["files"] if entries is None else entries
    with_pos = bool(pos_dels) or keep_pos
    if not dels and not with_pos:
        return _read_manifest(spark, path, m, files)
    if not files:
        # no data files but delete entries (or keep_pos) present — e.g.
        # a positional dedup/delete on an empty table: there is nothing
        # to group, so return the empty relation with the manifest
        # schema (position columns only if the caller keeps them)
        return _read_manifest(spark, path, m, [], with_pos=keep_pos)
    dseqs = [d.get("seq", 0) for d in dels]
    groups: dict[int, list[dict]] = {}
    for e in files:
        # first delete strictly newer than this file's seq
        i = bisect.bisect_right(dseqs, e.get("seq", 0))
        groups.setdefault(i, []).append(e)
    parts = []
    data_cols: list[str] | None = None
    for i, es in sorted(groups.items()):
        df = _read_manifest(spark, path, m, es, with_pos=with_pos)
        cols = [c for c in df.columns if not c.startswith("__pd_")]
        data_cols = cols
        for d in dels[i:]:
            # bound: manifest-recorded delete-file bytes (r12, VERDICT
            # r11 #1) — delete files are O(deleted keys) small by design,
            # but a mass delete writes a table-sized key file; the byte
            # gate keeps the normal case broadcast and the mass-delete
            # case a shuffle anti-join instead of a driver OOM
            df = df.join(
                broadcast_if_bounded(
                    _read_delete_entry(spark, path, d),
                    bound_bytes=d.get("bytes"),
                ),
                on=d["key_cols"],
                how="left_anti",
            )
        # join(on=[names]) moves the key columns to the FRONT — restore
        # the manifest schema order, or positional consumers (exceptAll
        # in snapshot_diff, writers) silently misalign columns
        keep = cols + (["__pd_file", "__pd_pos"] if with_pos else [])
        parts.append(df.select(*keep))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    if pos_dels:
        pd_keys = catalog.read_parquet(
            spark, *[_join(path, d["path"]) for d in pos_dels]
        ).select("target_file", "pos")
        # bound: Σ manifest bytes of the positional-delete files (same
        # mass-delete gate as the equality branch above); entries
        # missing a recorded size fall back to the limit-probe
        pos_bytes = (
            sum(d["bytes"] for d in pos_dels)
            if all(d.get("bytes") is not None for d in pos_dels)
            else None
        )
        out = out.join(
            broadcast_if_bounded(pd_keys, bound_bytes=pos_bytes),
            (out["__pd_file"] == pd_keys["target_file"])
            & (out["__pd_pos"] == pd_keys["pos"]),
            "left_anti",
        )
    if with_pos and not keep_pos:
        out = out.select(*(data_cols or []))
    return out


def read(spark: SparkSession, path: str, fs=None) -> DataFrame:
    """Read the live snapshot. The file list is pinned at plan time: a
    concurrent commit cannot change what this plan scans. The manifest's
    schema is applied explicitly, so files written before a schema-merge
    read their missing columns as NULL. Equality-delete files
    (delete_keys) are applied merge-on-read."""
    fs = fs or _fs_for(path)
    ver = _read_pointer(path, fs)
    if ver is not None:
        return _read_with_deletes(spark, path, _load_manifest(path, ver, fs))
    if _has_plain_files(path, fs):
        return spark.read.parquet(path)  # legacy dir (partition discovery)
    raise FileNotFoundError(f"no table at {path}")


def read_version(
    spark: SparkSession, path: str, version_back: int = 0, fs=None
) -> DataFrame:
    """Time-travel read: `version_back=0` is the live snapshot, 1 the
    previous retained one, … (bounded by `keep_versions` at commit time —
    the same contract as Iceberg snapshot reads under retention). Raises
    when the requested snapshot has been GC'd."""
    fs = fs or _fs_for(path)
    vs = _list_versions(path, fs)
    live = _read_pointer(path, fs)
    if live is None or live not in vs:
        raise FileNotFoundError(f"no versioned table at {path}")
    idx = vs.index(live) - version_back
    if version_back < 0 or idx < 0:
        raise FileNotFoundError(
            f"version {version_back} back not retained at {path} "
            f"({len(vs)} snapshots on disk)"
        )
    return _read_with_deletes(spark, path, _load_manifest(path, vs[idx], fs))


def read_named_version(
    spark: SparkSession, path: str, version: str, fs=None
) -> DataFrame:
    """Read a RETAINED snapshot by its version NAME (deletes applied) —
    the resolution step catalog-level readers use: the warehouse catalog
    (sources/catalog_txn.py) pins (table, version) pairs, and a pinned
    version stays readable for as long as table GC retains it. Raises
    when the named snapshot has been GC'd."""
    fs = fs or _fs_for(path)
    if version not in _list_versions(path, fs):
        raise FileNotFoundError(f"{path}: snapshot {version!r} not retained")
    return _read_with_deletes(spark, path, _load_manifest(path, version, fs))


#: the most manifest-recorded data plus delete bytes `read_arrow` serves.
#: Control tables (run ledger, date queue, schema registry) hold a few
#: hundred rows in kilobyte files; a snapshot past this is data plane and
#: belongs on the cluster.
ARROW_READ_MAX_BYTES = 64 * 1024 * 1024

#: table path -> {(rel path, manifest-recorded bytes): parsed pyarrow Table}
#: for `read_arrow`. Data and delete files are write-once (uuid names,
#: atomic writes), so a parsed file stays valid for as long as a manifest
#: lists it; each read keeps only the live snapshot's files.
_ARROW_FILES: dict[str, dict[tuple[str, int], object]] = {}


def read_arrow(path: str, fs=None):
    """Driver-side read of a small table's live snapshot as a pyarrow
    Table — ZERO Spark jobs. The control-plane counterpart of `read`,
    with the same semantics as `_read_with_deletes`: the manifest schema
    is applied (columns a file lacks read as NULL), an equality delete
    drops matching keys only from files with a LOWER sequence number,
    and a positional delete drops its (file basename, row ordinal)
    address. Before any file is opened, a snapshot whose recorded file
    and delete bytes exceed ARROW_READ_MAX_BYTES is refused (ValueError),
    so no data-plane table can take this path. Raises FileNotFoundError
    when no versioned table is at `path`. Files parsed by an earlier read
    of `path` are reused (_ARROW_FILES), so a read after one append parses
    one file."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    fs = fs or _fs_for(path)
    m = live_manifest(path, fs)
    if m is None:
        raise FileNotFoundError(f"no versioned table at {path}")
    deletes = m.get("deletes") or []
    n_bytes = sum(e.get("bytes", 0) for e in m["files"] + deletes)
    if n_bytes > ARROW_READ_MAX_BYTES:
        raise ValueError(
            f"{path}: {n_bytes} live bytes exceed the driver-side read bound "
            f"({ARROW_READ_MAX_BYTES}); read it through Spark (txn.read)"
        )

    cached = _ARROW_FILES.get(path, {})
    live: dict[tuple[str, int], object] = {}

    def load(e: dict):
        key = (e["path"], e.get("bytes", 0))
        t = cached.get(key)
        if t is None:
            data = fs.read_bytes(_join(path, e["path"]))
            if data is None:
                raise FileNotFoundError(_join(path, e["path"]))
            t = pq.read_table(pa.BufferReader(data))
        live[key] = t
        return t

    def keys_of(t, cols: list[str]):
        return zip(*(t.column(c).to_pylist() for c in cols))

    schema = to_arrow_schema(_schema_of(m))
    # SQL equality: a NULL key component matches nothing
    eq_dels = [
        (d.get("seq", 0), d["key_cols"],
         {k for k in keys_of(load(d), d["key_cols"]) if None not in k})
        for d in deletes if d.get("kind") != "pos"
    ]
    pos_dels: set[tuple] = set()
    for d in deletes:
        if d.get("kind") == "pos":
            pos_dels |= set(keys_of(load(d), ["target_file", "pos"]))
    parts = []
    for e in m["files"]:
        t = load(e)
        t = pa.Table.from_arrays(
            [
                t.column(f.name).cast(f.type) if f.name in t.column_names
                else pa.nulls(t.num_rows, f.type)
                for f in schema
            ],
            schema=schema,
        )
        name = e["path"].rsplit("/", 1)[1]
        keep = [(name, i) not in pos_dels for i in range(t.num_rows)]
        for seq, cols, dead in eq_dels:
            if seq > e.get("seq", 0):
                keep = [
                    k and key not in dead
                    for k, key in zip(keep, keys_of(t, cols))
                ]
        parts.append(t.filter(pa.array(keep, pa.bool_())))
    _ARROW_FILES[path] = live
    return pa.concat_tables(parts) if parts else schema.empty_table()


def committed_at(path: str, version: str, fs=None) -> int:
    """Commit timestamp (epoch micros) recorded in a snapshot's manifest.
    Pre-timestamp manifests (older tables) report 0 — they sort before
    every real stamp, which is the correct AS-OF resolution for them."""
    fs = fs or _fs_for(path)
    return _load_manifest(path, version, fs).get("committed_at", 0)


def read_asof(
    spark: SparkSession, path: str, ts_us: int, fs=None
) -> DataFrame:
    """AS-OF-TIMESTAMP time travel (the Iceberg `FOR SYSTEM_TIME AS OF` /
    reference backup-restore semantics, `utlis/backup_nessie_postgres.py`):
    read the newest RETAINED snapshot whose commit stamp is <= ts_us.
    Resolution is a manifest-metadata walk (retained-version-count reads,
    no data IO); the snapshot itself is served with deletes applied via
    read_named_version. Raises when every retained snapshot is newer than
    the asked-for time — the table didn't exist (or aged out) then."""
    fs = fs or _fs_for(path)
    best, best_at = None, -1
    for ver in _list_versions(path, fs):
        try:
            at = _load_manifest(path, ver, fs).get("committed_at", 0)
        except FileNotFoundError:  # pragma: no cover - racing GC
            continue
        if at <= ts_us and (at, ver) > (best_at, best or ""):
            best, best_at = ver, at
    if best is None:
        raise FileNotFoundError(
            f"{path}: no retained snapshot at or before ts_us={ts_us}"
        )
    return read_named_version(spark, path, best, fs)


def _stats_overlap(stats: dict | None, col: str, lo, hi) -> bool:
    """May this file contain rows with col in [lo, hi]? Missing stats →
    must read (pruning never changes results, only skips provably-empty
    files)."""
    if not stats or col not in stats:
        return True
    mn, mx = stats[col]
    if isinstance(mn, str):
        lo = None if lo is None else str(lo)
        hi = None if hi is None else str(hi)
    if lo is not None and mx < lo:
        return False
    if hi is not None and mn > hi:
        return False
    return True


def pruned_files(path: str, col: str, lo=None, hi=None, fs=None) -> list[str]:
    """The live files that can hold rows with `col` in [lo, hi], judged
    from manifest statistics alone — zero listing, zero footer reads at
    query time (they were paid once at commit)."""
    fs = fs or _fs_for(path)
    m = live_manifest(path, fs)
    if m is None:
        raise FileNotFoundError(f"no versioned table at {path}")
    return [
        _join(path, e["path"]) for e in m["files"]
        if _stats_overlap(e.get("stats"), col, lo, hi)
    ]


def read_range(
    spark: SparkSession, path: str, col: str, lo=None, hi=None, fs=None
) -> DataFrame:
    """Range read with manifest-statistics file pruning (the Iceberg scan
    planner's core move): files whose footer min/max provably exclude
    [lo, hi] never enter the plan; the residual filter stays on the
    surviving files, so results are EXACTLY read().filter(between). On a
    range-clustered table (write sorted by `col` — see
    `commit(cluster_by=...)`) a narrow range reads O(matching files)
    instead of O(table)."""
    fs = fs or _fs_for(path)
    m = live_manifest(path, fs)
    if m is None:
        # legacy plain dir: parquet row-group stats still prune via the
        # ordinary pushed filter
        df = read(spark, path, fs)
    else:
        entries = [
            e for e in m["files"] if _stats_overlap(e.get("stats"), col, lo, hi)
        ]
        df = _read_with_deletes(spark, path, m, entries)
    c = F.col(col)
    if lo is not None:
        df = df.filter(c >= F.lit(lo))
    if hi is not None:
        df = df.filter(c <= F.lit(hi))
    return df


# ------------------------------------------------------------- z-order ----
ZORDER_BITS = 16  # per-dimension fixed-point resolution


def zorder_key(cols: list, mins: list, maxs: list) -> "F.Column":
    """Morton (Z-order) interleaved key over 2-3 columns as a pure JVM
    expression: each column is scaled to a ZORDER_BITS-bit fixed-point
    rank within [min, max], then the ranks' bits are interleaved
    round-robin. Sorting by this key clusters rows so that EVERY
    participating dimension's values become locally contiguous — per-file
    min/max stats then prune range reads on ANY of the dimensions, where
    plain cluster_by(a, b) only prunes on the leading column. The
    multi-dimensional data-layout lever (Delta/Iceberg Z-ORDER).

    `mins`/`maxs` are the column domains (driver-known scalars — one
    min/max aggregate over the frame, metadata-scale)."""
    ranks = []
    for c, lo, hi in zip(cols, mins, maxs):
        col = F.col(c) if isinstance(c, str) else c
        span = float(hi) - float(lo)
        if span <= 0:
            ranks.append(F.lit(0).cast("long"))
            continue
        scaled = F.floor(
            (col.cast("double") - float(lo)) / span * (2 ** ZORDER_BITS)
        ).cast("long")
        ranks.append(F.least(F.lit(2 ** ZORDER_BITS - 1), F.greatest(F.lit(0), scaled)))
    n = len(ranks)
    z = F.lit(0).cast("long")
    for bit in range(ZORDER_BITS):
        for d, r in enumerate(ranks):
            out_bit = bit * n + d
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(r, bit).bitwiseAND(F.lit(1)), out_bit)
            )
    return z


# ---------------------------------------------------------- bloom filters -
#: Bloom geometry — FIXED so probes computed at read time match positions
#: computed at commit time. m bits, k md5-derived hash positions per value.
BLOOM_M = 1024
BLOOM_K = 4


def _bloom_positions_py(value) -> list[int]:
    """The k bloom bit positions of a value, driver-side. MUST mirror the
    Spark-side expression in _attach_blooms: position_i =
    h28(md5(f"{i}:{str(value)}")) % m. String/integer keys only — their
    str() matches Spark's string cast; floats/dates do not round-trip."""
    import hashlib

    out = []
    for i in range(BLOOM_K):
        h = int(hashlib.md5(f"{i}:{value}".encode()).hexdigest()[:7], 16)
        out.append(h % BLOOM_M)
    return sorted(set(out))


def _attach_blooms(
    spark: SparkSession, path: str, entries: list[dict], cols: list[str], fs
) -> None:
    """Per-file bloom filters for point-lookup file skipping, stored in the
    manifest entries (`entry["bloom"][col]` = sorted bit-position list) —
    the manifest-statistics analog of Iceberg/Parquet bloom filters, for
    keys whose values interleave across files so min/max ranges cannot
    prune (a foreign key, a uuid, a user id).

    Cost model: ONE Spark job over the freshly written delta files only
    (never the table), grouping by `_metadata.file_path` — the per-file
    position sets come back to the driver as metadata (≤ m ints per file
    per column). A column whose positions saturate the filter (> 60% of m
    set — a near-unique column at large file sizes) stores no bloom: an
    always-maybe filter is dead metadata weight."""
    paths = [_join(path, e["path"]) for e in entries]
    if not paths or not cols:
        return
    df = spark.read.parquet(*paths).select(
        F.col("_metadata.file_path").alias("__fp"),
        *[
            F.array_distinct(
                F.array(*[
                    F.conv(
                        F.substring(
                            F.md5(
                                F.concat(F.lit(f"{i}:"), F.col(c).cast("string"))
                            ),
                            1,
                            7,
                        ),
                        16,
                        10,
                    ).cast("bigint")
                    % BLOOM_M
                    for i in range(BLOOM_K)
                ])
            ).alias(f"__pos_{c}")
            for c in cols
        ],
    )
    per_file = df.groupBy("__fp").agg(
        *[
            F.array_sort(
                F.array_distinct(F.flatten(F.collect_list(f"__pos_{c}")))
            ).alias(c)
            for c in cols
        ]
    )
    # one row per delta file — metadata-scale collect, same class as the
    # footer-stats pass
    blooms: dict[str, dict] = {}
    for row in per_file.collect():
        if ("/" + DATA + "/") not in row["__fp"]:  # pragma: no cover
            continue
        rel = _rel_of(row["__fp"])
        per_col = {}
        for c in cols:
            poss = [p for p in row[c] if p is not None]
            if len(poss) <= BLOOM_M * 0.6:
                per_col[c] = poss
        if per_col:
            blooms[rel] = per_col
    for e in entries:
        b = blooms.get(e["path"])
        if b:
            e["bloom"] = b


def _bloom_may_contain(entry: dict, col: str, value) -> bool:
    """May this file contain `value` in `col`? No bloom → must read."""
    bloom = entry.get("bloom", {}).get(col)
    if bloom is None:
        return True
    positions = set(bloom)
    return all(p in positions for p in _bloom_positions_py(value))


def pruned_files_point(path: str, col: str, value, fs=None) -> list[str]:
    """Live files that can hold rows with col = value, judged from manifest
    bloom filters AND min/max stats together — zero listing, zero data
    reads at plan time."""
    fs = fs or _fs_for(path)
    m = live_manifest(path, fs)
    if m is None:
        raise FileNotFoundError(f"no versioned table at {path}")
    return [
        _join(path, e["path"])
        for e in m["files"]
        if _bloom_may_contain(e, col, value)
        and _stats_overlap(e.get("stats"), col, value, value)
    ]


def read_point(spark: SparkSession, path: str, col: str, value, fs=None) -> DataFrame:
    """Point lookup with bloom + stats file skipping: files whose bloom
    filter or min/max provably exclude `value` never enter the plan; the
    residual equality filter keeps results EXACTLY equal to
    read().filter(col = value). On a key-bloomed table a point lookup
    reads O(files actually holding the key) — the primary-key-fetch path
    over an unsorted 100 TB table."""
    fs = fs or _fs_for(path)
    m = live_manifest(path, fs)
    if m is None:
        df = read(spark, path, fs)
    else:
        entries = [
            e
            for e in m["files"]
            if _bloom_may_contain(e, col, value)
            and _stats_overlap(e.get("stats"), col, value, value)
        ]
        df = _read_with_deletes(spark, path, m, entries)
    return df.filter(F.col(col) == F.lit(value))


def snapshot_diff(
    spark: SparkSession, path: str, back_from: int = 1, back_to: int = 0,
    fs=None,
) -> DataFrame:
    """Row-level change feed between two retained snapshots (Delta CDF /
    Iceberg changelog analog, built on time travel): rows only in the
    newer snapshot come back as `_change_type='insert'`, rows only in the
    older as `'delete'`; an update is a delete+insert pair. Multiset
    semantics (exceptAll), so duplicate rows diff correctly.

    At scale both sides are full scans feeding one hash aggregate per
    side — the same cost as the UPDATE/MERGE that produced the change;
    manifest-shared files (append-only tables) diff as pure inserts of
    the delta files' rows. Incremental consumers (downstream marts, the
    reference's reconciliation reads) poll this instead of re-reading
    the table."""
    older = read_version(spark, path, back_from, fs)
    newer = read_version(spark, path, back_to, fs)
    ins = newer.exceptAll(older).withColumn("_change_type", F.lit("insert"))
    dels = older.exceptAll(newer).withColumn("_change_type", F.lit("delete"))
    return ins.unionByName(dels)


def read_partitions(
    spark: SparkSession, path: str, values, fs=None
) -> DataFrame:
    """Read ONLY the files of the given partition values — file-level
    partition pruning straight off the manifest (no directory listing, no
    partition discovery). The partition column itself is manifest
    metadata, not data, so it does not appear in the result."""
    fs = fs or _fs_for(path)
    m = live_manifest(path, fs)
    if m is None or not m.get("partition_by"):
        raise FileNotFoundError(f"no partitioned table at {path}")
    want = {str(v) for v in values}
    entries = [e for e in m["files"] if e.get("partition") in want]
    return _read_with_deletes(spark, path, m, entries)


# -------------------------------------------------------------- writers ---
def _next_version(path: str, fs=None) -> str:
    vs = _list_versions(path, fs)
    n = int(vs[-1][1:9]) + 1 if vs else 1
    return f"v{n:08d}-{uuid.uuid4().hex[:8]}"


#: sentinel for "no expectation" — callers outside the commit protocol
#: (and backends without the conditional surface) keep last-writer-wins
_ANY_PARENT = object()


def _flip_pointer(path: str, ver: str, fs=None, expected_parent=_ANY_PARENT) -> None:
    """Publish `ver` as the live snapshot — THE atomic step. tmp + rename
    on POSIX/HDFS; on a conditional-put backend (`ConditionalPutFS`) the
    flip is a compare-and-swap conditioned on the pointer still naming
    `expected_parent` — the snapshot this commit was computed against. A
    writer whose lease was taken over (zombie) observes a moved pointer
    and gets CommitConflict instead of clobbering the new owner's commit;
    its fully-written snapshot stays unreferenced garbage for GC."""
    fs = fs or _fs_for(path)
    cur = _current_file(path)
    if expected_parent is not _ANY_PARENT and hasattr(fs, "write_text_if"):
        text, etag = fs.read_text_versioned(cur)
        observed = (text.strip() or None) if text is not None else None
        if observed != expected_parent:
            raise CommitConflict(
                f"{path}: pointer moved {expected_parent!r} -> {observed!r} "
                "since this commit read its parent (lease takeover?)"
            )
        try:
            if observed is None:
                fs.write_text_if(cur, ver, if_none_match=True)
            else:
                fs.write_text_if(cur, ver, if_match=etag)
        except PreconditionFailed as e:
            raise CommitConflict(f"{path}: pointer CAS lost to a racing writer") from e
        return
    fs.write_text_atomic(cur, ver)


def _write_snapshot(
    df: DataFrame, path: str, fs, partition_by: str | None = None,
    keep_column: bool = False, tag: str | None = None,
):
    """Run the Spark job writing `df` into a fresh immutable `_data/c-*`
    dir and return its manifest entries. Runs BEFORE any metadata change:
    a read-modify-write plan executes against the old (still-live) files.

    `keep_column=True` partitions on a SHADOW copy of the column so the
    real column stays in the data files (partitionBy strips its column
    from the data; readers of, e.g., a staged table still filter on
    etl_date as an ordinary column — and parquet min/max stats make that
    filter skip whole row groups)."""
    tag = tag or f"c-{uuid.uuid4().hex[:8]}"
    ddir = _join(path, DATA, tag)
    part_col = partition_by
    frame = df
    if partition_by and keep_column:
        part_col = f"__part__{partition_by}"
        frame = df.withColumn(part_col, F.col(partition_by).cast("string"))
    # zstd for the durable layer: ~30% smaller than snappy at comparable
    # scan speed — at 100 TB that is tens of TB of storage and scan IO
    writer = frame.write.mode("overwrite").option("compression", "zstd")
    if part_col:
        writer = writer.partitionBy(part_col)
    writer.parquet(ddir)
    entries = []
    for fp, n_bytes, _mt in fs.list_files(ddir, ".parquet"):
        rel = _rel_of(fp)
        e = {"path": rel, "bytes": n_bytes}
        if part_col:
            e["partition"] = _partition_of(rel, part_col)
        e.update(_file_stats(fp))
        entries.append(e)
    return entries


def _write_delta(df: DataFrame, path: str, fs) -> list[dict]:
    """`_write_snapshot` for a delta published into an existing table:
    when no written file holds a row, its `_data/c-*` dir is removed and
    [] returned, so the caller publishes nothing."""
    tag = f"c-{uuid.uuid4().hex[:8]}"
    entries = _write_snapshot(df, path, fs, tag=tag)
    if any(e.get("record_count", 1) for e in entries):
        return entries
    fs.delete(_join(path, DATA, tag), recursive=True)
    return []


def _partition_of(rel: str, col: str) -> str | None:
    for seg in rel.split("/"):
        if seg.startswith(col + "="):
            return unquote(seg[len(col) + 1:])
    return None


def _file_stats(abs_path: str) -> dict:
    """The manifest entry fields read from a data file's parquet FOOTER
    (no data read): Iceberg's `record_count` and per-column min/max
    `stats`, the scan statistics pruning uses. Driver-side and
    per-delta-file only (a commit stats its own new files, never the
    table), so the cost is one footer parse per written file. Nested and
    binary columns are skipped; dates/timestamps serialize as ISO strings
    (ordered lexicographically, so pruning comparisons still work).
    Returns {} when the footer is unreachable (e.g. a remote object
    store without a local pyarrow path) — the fields are optimizations:
    a missing `stats` only disables pruning, and a missing
    `record_count` reads as a non-empty file."""
    import datetime

    try:
        import pyarrow.parquet as pq

        md = pq.ParquetFile(abs_path).metadata
    except Exception:
        return {}
    out: dict[str, list] = {}
    for rg in range(md.num_row_groups):
        row_group = md.row_group(rg)
        for ci in range(row_group.num_columns):
            col = row_group.column(ci)
            st = col.statistics
            if st is None or not st.has_min_max:
                continue
            name = col.path_in_schema
            if "." in name:
                continue
            mn, mx = st.min, st.max
            if isinstance(mn, bytes) or isinstance(mx, bytes):
                continue
            if isinstance(mn, (datetime.date, datetime.datetime)):
                mn, mx = mn.isoformat(), mx.isoformat()
            cur = out.get(name)
            if cur is None:
                out[name] = [mn, mx]
            else:
                out[name] = [min(cur[0], mn), max(cur[1], mx)]
    return {"record_count": md.num_rows, **({"stats": out} if out else {})}


def _publish(
    path: str,
    entries: list[dict],
    schema_json: dict | None,
    partition_by: str | None,
    fs,
    keep_versions: int,
    parent: str | None,
    partition_in_data: bool = False,
    sort_order: dict | None = None,
) -> str:
    """Publish a FULL snapshot of `entries`: nothing but the version chain
    (seq, commit timestamp) comes from the parent. Writers that derive
    their snapshot from the parent's go through `_publish_child`."""
    parent_m: dict = {}
    if parent:
        try:
            parent_m = _load_manifest(path, parent, fs)
        except FileNotFoundError:  # pragma: no cover - racing GC
            pass
    spec = {
        "schema": schema_json, "partition_by": partition_by,
        "partition_in_data": partition_in_data, "sort_order": sort_order,
    }
    return _publish_child(
        path, parent, {**parent_m, **spec, "files": [], "deletes": []}, fs,
        keep_versions, add=entries,
    )


def _publish_child(
    path: str,
    parent: str | None,
    m: dict,
    fs,
    keep_versions: int = 2,
    add: list[dict] = (),
    deletes: list[dict] = (),
    files: list[dict] | None = None,
    schema: dict | None = None,
) -> str:
    """THE snapshot publish: derive the child of `parent` from its
    manifest `m` (loaded by the caller under the table lock) and flip the
    pointer to it. The child inherits m's partition spec, sort order and
    pending delete files — Iceberg's snapshot-inheritance rule — and
    keeps m's files unless `files` replaces the list. `add` and `deletes`
    are this commit's new data and delete entries; `schema` overrides
    m's (schema-merging appends)."""
    # sequence numbers order data files vs delete files (the Iceberg v2
    # rule: a delete applies only to rows whose data file has a LOWER
    # sequence) — every entry added by THIS commit gets the next seq, and
    # pre-sequence-era carried files count as seq 0, older than any delete
    seq = m.get("seq", 0) + 1
    files = m.get("files", []) if files is None else files
    for e in files:
        e.setdefault("seq", 0)
    for e in [*add, *deletes]:
        e.setdefault("seq", seq)
    ver = _next_version(path, fs)
    manifest = {
        "version": ver,
        "parent": parent,
        "seq": seq,
        # commit timestamp (epoch micros) for AS-OF-TIMESTAMP time travel
        # — forced strictly above the parent's so same-microsecond commits
        # still resolve deterministically (Iceberg keeps snapshot
        # timestamps monotonic per table for the same reason)
        "committed_at": max(
            int(time.time() * 1_000_000), m.get("committed_at", 0) + 1
        ),
        "schema": m.get("schema") if schema is None else schema,
        "partition_by": m.get("partition_by"),
        "partition_in_data": m.get("partition_in_data", False),
        "files": files + list(add),
    }
    all_deletes = (m.get("deletes") or []) + list(deletes)
    if all_deletes:
        manifest["deletes"] = all_deletes
    if m.get("sort_order"):
        manifest["sort_order"] = m["sort_order"]
    fs.mkdirs(_join(path, MANIFESTS))
    fs.write_text_atomic(_manifest_path(path, ver), json.dumps(manifest))
    # every writer passes the pointer value it observed under the lock as
    # `parent`, so the flip can CAS on "pointer still == parent"
    _flip_pointer(path, ver, fs, expected_parent=parent)
    _gc(path, keep_versions, fs)
    return ver


@contextmanager
def _live_table(path: str, fs, op: str):
    """Hold the table lock and yield (live version, its manifest) — the
    parent every child publish derives from. A table without the manifest
    layout raises FileNotFoundError naming the operation `op`."""
    with table_lock(path, fs):
        ver = _read_pointer(path, fs)
        if ver is None:
            raise FileNotFoundError(
                f"no versioned table at {path}: {op} needs the manifest "
                "layout (commit() the table first)"
            )
        yield ver, _load_manifest(path, ver, fs)


def _write_delete_file(
    keys_df: DataFrame, path: str, fs, key_cols: list[str] | None = None,
    tag: str | None = None,
) -> list[dict]:
    """Run the Spark job writing `keys_df`'s distinct delete tuples as ONE
    file under `_data/<tag>` and return its delete entries: equality
    deletes tagged with `key_cols`, or — `key_cols=None` — position
    deletes of (target_file, pos) tagged `kind: "pos"`."""
    cols = key_cols or ["target_file", "pos"]
    tag = tag or f"{'d' if key_cols else 'pd'}-{uuid.uuid4().hex[:8]}"
    ddir = _join(path, DATA, tag)
    keys_df.select(*cols).distinct().coalesce(1).write.mode(
        "overwrite"
    ).parquet(ddir)
    kind = {"key_cols": key_cols} if key_cols else {"kind": "pos"}
    return [
        {"path": _rel_of(fp), "bytes": n, **kind}
        for fp, n, _t in fs.list_files(ddir, ".parquet")
    ]


def _gc(path: str, keep_versions: int, fs=None) -> None:
    """Reference-based GC: retain the newest `keep_versions` manifests
    (always including the live one); delete manifests beyond that and any
    data file referenced by NO retained manifest — which sweeps both
    superseded snapshots and orphans from crashed commits (the
    `remove_orphan_files` analog, utlis/clean_data.py:52). keep_versions
    >= 2 so a reader that pinned the previous manifest mid-commit still
    finds its files. Versions pinned by a warehouse catalog (`_pins`,
    see read_pins) are kept beyond keep_versions so no catalog branch
    ever dangles. Runs under the table lock."""
    fs = fs or _fs_for(path)
    keep_versions = max(2, keep_versions)
    live = _read_pointer(path, fs)
    vs = _list_versions(path, fs)
    keep = set(vs[-keep_versions:])
    if live:
        keep.add(live)
    keep |= read_pins(path, fs) & set(vs)
    # staged-but-unpublished data dirs (two-phase writes in flight) are
    # protected until published or stale; stale entries sweep with their
    # dirs (crashed stager)
    staged_reg = _read_staged(path, fs)
    now = time.time()
    staged_live = {t for t, ts in staged_reg.items() if now - ts < STAGED_TTL_S}
    if staged_live != set(staged_reg):
        fs.write_text_atomic(
            _staged_path(path),
            json.dumps({t: staged_reg[t] for t in staged_live}),
        )
    referenced: set[str] = set()
    for v in keep:
        try:
            mv = _load_manifest(path, v, fs)
        except FileNotFoundError:  # pragma: no cover - racing manual delete
            continue
        referenced |= {e["path"] for e in mv["files"]}
        referenced |= {d["path"] for d in mv.get("deletes") or []}
    for v in vs:
        if v not in keep:
            fs.delete(_manifest_path(path, v))
    # data files referenced by no retained manifest
    droot = _join(path, DATA)
    for sub in fs.list_dir(droot):
        if sub in staged_live:
            continue  # staged two-phase dir: publish or TTL decides
        subp = _join(droot, sub)
        if not fs.is_dir(subp):
            fs.delete(subp)  # stray file directly under _data
            continue
        listed = fs.list_files(subp)
        live_here = [fp for fp, _n, _t in listed if _rel_of(fp) in referenced]
        if not live_here:
            fs.delete(subp, recursive=True)
            continue
        for fp, _n, _t in listed:
            name = fp.rsplit("/", 1)[1]
            if (
                fp.endswith(".parquet")
                and not name.startswith(".")
                and _rel_of(fp) not in referenced
            ):
                fs.delete(fp)
    # stray pointer tmps and, post-migration, superseded legacy files
    for entry in fs.list_dir(path):
        full = _join(path, entry)
        if entry.startswith(CURRENT + ".tmp-") or entry.startswith("_append_tmp-"):
            fs.delete(full, recursive=fs.is_dir(full))
        elif live and (
            entry.endswith(".parquet")
            or entry == "_SUCCESS"
            or ("=" in entry and fs.is_dir(full))
        ):
            fs.delete(full, recursive=fs.is_dir(full))


def commit(
    df: DataFrame, path: str, keep_versions: int = 2, fs=None,
    cluster_by: str | list[str] | None = None,
    cluster_partitions: int | None = None,
    bloom_cols: list[str] | None = None,
    zorder_by: list[str] | None = None,
) -> str:
    """Atomically replace the table at `path` with `df`'s result.

    Safe for read-modify-write: `df` may read the table's current version —
    the plan executes against the old (still-pinned) file list while the
    new snapshot is written, and only then does the pointer flip. Returns
    the new version name.

    `cluster_by` range-partitions and sorts the snapshot on the given
    column(s) before writing, which makes the manifest's per-file min/max
    stats disjoint — `read_range` on a clustered column then prunes to
    O(matching files). The Z-ORDER-lite data-layout lever.
    `cluster_partitions` pins the file count (default: AQE sizes it).
    `bloom_cols` additionally computes per-file bloom filters on the named
    string/integer key columns for point-lookup file skipping
    (`read_point`) — one extra Spark pass over the new files.
    `zorder_by` clusters on the Morton-interleaved key of 2-3 NUMERIC
    columns instead, so `read_range` prunes on ANY of them (cluster_by
    only prunes the leading column); costs one extra min/max aggregate."""
    fs = fs or _fs_for(path)
    with table_lock(path, fs):
        return _commit_locked(
            df, path, keep_versions, fs, cluster_by, cluster_partitions,
            bloom_cols, zorder_by,
        )


def _commit_locked(
    df: DataFrame, path: str, keep_versions: int = 2, fs=None,
    cluster_by: str | list[str] | None = None,
    cluster_partitions: int | None = None,
    bloom_cols: list[str] | None = None,
    zorder_by: list[str] | None = None,
) -> str:
    """commit() body for callers already holding the table lock."""
    fs = fs or _fs_for(path)
    parent = _read_pointer(path, fs)
    if zorder_by:
        if cluster_by:
            raise ValueError("cluster_by and zorder_by are exclusive")
        if not 2 <= len(zorder_by) <= 3:
            raise ValueError("zorder_by takes 2-3 columns")
        # column domains: ONE metadata-scale aggregate (a min/max scan,
        # cheap next to the snapshot write it precedes)
        bounds = df.agg(
            *[F.min(c).alias(f"lo_{i}") for i, c in enumerate(zorder_by)],
            *[F.max(c).alias(f"hi_{i}") for i, c in enumerate(zorder_by)],
        ).collect()[0]
        mins = [bounds[f"lo_{i}"] for i in range(len(zorder_by))]
        maxs = [bounds[f"hi_{i}"] for i in range(len(zorder_by))]
        schema_cols = df.columns
        zdf = df.withColumn("__z", zorder_key(zorder_by, mins, maxs))
        if cluster_partitions:
            zdf = zdf.repartitionByRange(cluster_partitions, "__z")
        else:
            zdf = zdf.repartitionByRange("__z")
        # projection AFTER the sort: the exchange/sort keep their __z
        # reference, the written files carry only the data columns
        df = zdf.sortWithinPartitions("__z").select(*schema_cols)
    elif cluster_by:
        cols = [cluster_by] if isinstance(cluster_by, str) else list(cluster_by)
        if cluster_partitions:
            df = df.repartitionByRange(cluster_partitions, *cols)
        else:
            df = df.repartitionByRange(*cols)
        df = df.sortWithinPartitions(*cols)
    # record the declared layout so maintenance can RESTORE it: appends
    # degrade clustering, compact() re-applies the recorded order
    sort_order = None
    if zorder_by:
        sort_order = {"kind": "zorder", "cols": list(zorder_by)}
    elif cluster_by:
        cols = [cluster_by] if isinstance(cluster_by, str) else list(cluster_by)
        sort_order = {"kind": "range", "cols": cols}
    entries = _write_snapshot(df, path, fs)
    if bloom_cols:
        _attach_blooms(df.sparkSession, path, entries, bloom_cols, fs)
    return _publish(
        path, entries, df.schema.jsonValue(), None, fs, keep_versions, parent,
        sort_order=sort_order,
    )


def _merged_schema_json(
    parent_json: dict | None, new_schema: StructType, merge_schema: bool
) -> dict:
    """Schema for a manifest appending `new_schema` files to a table whose
    live schema is `parent_json`. Extra/missing columns require
    merge_schema=True (drift absorption): extras join as nullable fields
    (old files read them as NULL via the explicit read schema), missing
    ones stay (new files read them as NULL). Type conflicts on a shared
    name are always an error — absorption is for drift, not corruption."""
    if parent_json is None:
        return new_schema.jsonValue()
    parent = StructType.fromJson(parent_json)
    pnames = {f.name for f in parent.fields}
    for f in new_schema.fields:
        if f.name in pnames and parent[f.name].dataType != f.dataType:
            raise ValueError(
                f"type conflict on column {f.name}: table has "
                f"{parent[f.name].dataType}, incoming {f.dataType}"
            )
    extra = [f for f in new_schema.fields if f.name not in pnames]
    missing = pnames - {f.name for f in new_schema.fields}
    if (extra or missing) and not merge_schema:
        raise ValueError(
            f"schema drift (new: {[f.name for f in extra]}, "
            f"missing: {sorted(missing)}); pass merge_schema=True to absorb"
        )
    if extra:
        parent = StructType(
            parent.fields + [StructField(f.name, f.dataType, True) for f in extra]
        )
    return parent.jsonValue()


def append_files(
    df: DataFrame, path: str, keep_versions: int = 2, fs=None,
    merge_schema: bool = False, bloom_cols: list[str] | None = None,
) -> str:
    """Data-plane atomic append: publish a new manifest referencing every
    current data file plus `df`'s freshly-written part files — O(delta)
    data written plus one small manifest, never a table rewrite. The
    portable analog of an Iceberg append snapshot; it is what makes
    insert-only tables (Data Vault hubs/links) O(new keys) per load at
    100 TB instead of O(table). The delta may be any size — it is written
    by the cluster as normal multi-file parquet.

    `merge_schema=True` absorbs column drift in the incoming frame (new
    columns join the table schema as NULL-backed nullable fields; columns
    the frame lacks read as NULL from its files) — a pure metadata
    operation, no data rewrite.

    A delta with no rows publishes nothing: the live version is returned
    (a hub or link load on a day without new keys adds no version)."""
    fs = fs or _fs_for(path)
    with table_lock(path, fs):
        ver = _read_pointer(path, fs)
        if ver is None:
            if _has_plain_files(path, fs):
                # Legacy plain dir (possibly hive-partitioned): migrate via
                # full read+union — a file-move migration would silently
                # drop partition-subdirectory files (ADVICE r2).
                spark = df.sparkSession
                merged = spark.read.parquet(path).unionByName(
                    df, allowMissingColumns=merge_schema
                )
                return _commit_locked(merged, path, keep_versions, fs)
            return _commit_locked(df, path, keep_versions, fs)
        m = _load_manifest(path, ver, fs)
        schema_json = _merged_schema_json(m.get("schema"), df.schema, merge_schema)
        entries = _write_delta(df, path, fs)
        if not entries:
            return ver
        if bloom_cols:
            # delta files only — earlier entries keep their own blooms
            _attach_blooms(df.sparkSession, path, entries, bloom_cols, fs)
        return _publish_child(
            path, ver, m, fs, keep_versions, add=entries, schema=schema_json
        )


def delete_keys(
    keys_df: DataFrame, path: str, key_cols: list[str] | None = None,
    keep_versions: int = 2, fs=None,
) -> str:
    """Merge-on-read equality DELETE: publish a small delete file of key
    tuples instead of rewriting any data file — Iceberg v2's equality
    deletes. The write is O(deleted keys); readers anti-join the delete
    keys against OLDER data files only (sequence rule, `_read_with_deletes`),
    so a key appended after its deletion correctly reappears. Routine
    compaction (`compact`, `rewrite_small_files`) folds deletes into the
    data and drops them.

    This is the DELETE a 100 TB table wants for small/targeted deletes
    (GDPR erasure, late-arriving retractions): the copy-on-write
    `merge.delete_into` rewrites the table; this writes kilobytes. Prefer
    COW when deleting a large fraction — every read pays the anti-join
    until compaction."""
    fs = fs or _fs_for(path)
    key_cols = list(key_cols or keys_df.columns)
    with _live_table(path, fs, "delete_keys") as (ver, m):
        deletes = _write_delete_file(keys_df, path, fs, key_cols)
        return _publish_child(path, ver, m, fs, keep_versions, deletes=deletes)


def delete_positions(
    pos_df: DataFrame, path: str, keep_versions: int = 2, fs=None
) -> str:
    """Merge-on-read POSITIONAL delete (Iceberg v2 position delete
    files): publish a small file of (data-file basename, row ordinal)
    addresses instead of rewriting any data file. The positional
    complement to `delete_keys`: it needs no key columns and can kill
    ONE copy of a bit-identical duplicate row — the double-load repair
    equality deletes cannot express. Addresses come from the reader's
    own (`_metadata.file_path` basename, `_metadata.row_index`) lane
    (see `_read_with_deletes(keep_pos=True)`), are immutable because
    data files are, and go stale harmlessly when compaction rewrites
    the file under a fresh name (compaction folds + drops deletes
    anyway). O(deleted rows) written; readers pay one broadcast
    anti-join until compaction."""
    fs = fs or _fs_for(path)
    with _live_table(path, fs, "delete_positions") as (ver, m):
        deletes = _write_delete_file(pos_df, path, fs)
        return _publish_child(path, ver, m, fs, keep_versions, deletes=deletes)


def delete_where_positional(
    spark: SparkSession, path: str, condition, keep_versions: int = 2, fs=None,
) -> str:
    """Positional DELETE WHERE: resolve `condition` (Column or SQL
    string) against the live snapshot's visible rows, record the
    matching row ADDRESSES, publish. Equivalent to delete_keys on a
    full-row key but with none of its hazards: no key columns to pick,
    and rows bit-identical to a surviving row still die."""
    fs = fs or _fs_for(path)
    cond = F.expr(condition) if isinstance(condition, str) else condition
    with _live_table(path, fs, "delete_where_positional") as (ver, m):
        pos = (
            _read_with_deletes(spark, path, m, keep_pos=True)
            .filter(cond)
            .select(
                F.col("__pd_file").alias("target_file"),
                F.col("__pd_pos").alias("pos"),
            )
        )
        deletes = _write_delete_file(pos, path, fs)
        return _publish_child(path, ver, m, fs, keep_versions, deletes=deletes)


def delete_duplicate_positions(
    spark: SparkSession, path: str, key_cols: list[str],
    keep_versions: int = 2, fs=None,
) -> str:
    """Positional DEDUP maintenance: among visible rows sharing
    `key_cols`, keep the first copy in (file, position) order and
    positionally delete the rest — the repair for an accidental
    double-load, costing O(duplicate rows) written instead of a table
    rewrite, and impossible to express as an equality delete (every
    copy matches the same keys). Duplicate detection is one window over
    the key-partitioned visible relation; surviving copies are chosen
    deterministically, so replays are idempotent. Rows with a NULL in
    ANY key column are never treated as duplicates of each other (SQL
    semantics: NULL = NULL is unknown, so two NULL-keyed rows are
    distinct) — they are excluded from the window entirely, which also
    keeps the all-NULLs skew key out of the exchange."""
    fs = fs or _fs_for(path)
    with _live_table(path, fs, "delete_duplicate_positions") as (ver, m):
        vis = _read_with_deletes(spark, path, m, keep_pos=True)
        non_null = functools.reduce(
            lambda a, c: a & F.col(c).isNotNull(),
            key_cols,
            F.lit(True),
        )
        w = Window.partitionBy(*key_cols).orderBy("__pd_file", "__pd_pos")
        pos = (
            vis.filter(non_null)
            .withColumn("__pd_rk", F.row_number().over(w))
            .filter(F.col("__pd_rk") > 1)
            .select(
                F.col("__pd_file").alias("target_file"),
                F.col("__pd_pos").alias("pos"),
            )
        )
        deletes = _write_delete_file(pos, path, fs)
        return _publish_child(path, ver, m, fs, keep_versions, deletes=deletes)


def upsert_mor(
    df: DataFrame, path: str, key_cols: list[str], keep_versions: int = 2,
    fs=None, merge_schema: bool = False,
) -> str:
    """Merge-on-read MERGE (whole-row upsert): ONE atomic publish that
    appends `df`'s rows AND an equality-delete file of `df`'s keys.
    Sequence arithmetic makes it correct with no special cases: the new
    data files and the delete share this commit's sequence, and a delete
    governs only strictly-older files — so prior versions of the keys
    disappear while the incoming rows survive. Cost is O(source): no
    target file is read or rewritten, ever.

    This is the MERGE shape for continuous upserts into a 100 TB table
    (CDC apply, late-arriving corrections): the copy-on-write
    `merge.merge_into` rewrites the table per batch; this writes the
    batch. The trade is read-side anti-joins until compaction folds the
    deletes (`compact` / `rewrite_small_files`).

    Row semantics are replace-whole-row (Iceberg's delete+insert MERGE):
    a matched key's row becomes exactly the source row. For column-subset
    updates (keep unlisted target columns), use the COW merge.

    An empty `df` changes nothing: its files are removed and the live
    version is returned without a publish."""
    fs = fs or _fs_for(path)
    with table_lock(path, fs):
        ver = _read_pointer(path, fs)
        if ver is None:
            return _commit_locked(df, path, keep_versions, fs)
        m = _load_manifest(path, ver, fs)
        schema_json = _merged_schema_json(m.get("schema"), df.schema, merge_schema)
        entries = _write_delta(df, path, fs)
        if not entries:
            return ver
        # keys come from the files just WRITTEN, not by re-running df —
        # consistent even for nondeterministic sources, and a key-column
        # projection over the delta is the cheapest possible job (the
        # frame's schema is passed, so no schema-inference job runs)
        written = df.sparkSession.read.schema(df.schema).parquet(
            *[_join(path, e["path"]) for e in entries]
        )
        deletes = _write_delete_file(written, path, fs, list(key_cols))
        return _publish_child(
            path, ver, m, fs, keep_versions, add=entries, deletes=deletes,
            schema=schema_json,
        )


def append(df: DataFrame, path: str, fs=None) -> None:
    """Atomic small append: `df` lands as ONE part file plus a manifest
    publish. Control-table scale (the ledger's small batches) — the
    all-or-nothing visibility of a manifest flip, one file of delta."""
    append_files(df.coalesce(1), path, fs=fs)


def replace_partitions(
    df: DataFrame, path: str, partition_by: str, keep_versions: int = 2,
    fs=None, merge_schema: bool = False, keep_column: bool = False,
) -> str:
    """Copy-on-write partition replacement — Iceberg/Delta's dynamic
    partition overwrite as a manifest operation. `df` must carry
    `partition_by`; exactly the partition values PRESENT in `df` are
    replaced (their old files leave the manifest), all other partitions'
    files are carried over untouched. First call creates the table.

    The partition column lives in the manifest (file → value); by default
    it is metadata only (reads return data columns — right for derived
    keys like hash buckets), while `keep_column=True` also
    keeps it as an ordinary data column (right for natural keys like
    etl_date that readers filter on). `read_partitions` prunes at file
    level off the manifest either way, with zero listing.

    Unlike a directory-based dynamic overwrite, the swap is atomic and
    old files stay pinned for in-flight readers — which also removes the
    need for the writer to checkpoint when its plan reads the partitions
    being replaced. `merge_schema=True` absorbs column drift exactly as
    in `append_files` (the staged-source drift-absorption path)."""
    fs = fs or _fs_for(path)
    with table_lock(path, fs):
        ver = _read_pointer(path, fs)
        m: dict = {}
        if ver is not None:
            m = _load_manifest(path, ver, fs)
            if m.get("partition_by") not in (None, partition_by):
                raise ValueError(
                    f"table at {path} is partitioned by {m['partition_by']}, "
                    f"not {partition_by}"
                )
            keep_column = m.get("partition_in_data", keep_column)
        elif _has_plain_files(path, fs):
            raise ValueError(
                f"legacy plain table at {path}: commit() it to the manifest "
                "layout before partitioned loads"
            )
        entries = _write_snapshot(
            df, path, fs, partition_by=partition_by, keep_column=keep_column
        )
        replaced = {e["partition"] for e in entries}
        kept = [
            e for e in m.get("files", []) if e.get("partition") not in replaced
        ]
        file_schema = df.schema if keep_column else df.drop(partition_by).schema
        schema_json = _merged_schema_json(
            m.get("schema"), file_schema, merge_schema=merge_schema
        )
        # the first replace declares the spec; later ones match it
        m.update(partition_by=partition_by, partition_in_data=keep_column)
        return _publish_child(
            path, ver, m, fs, keep_versions, add=entries, files=kept,
            schema=schema_json,
        )


def repartition_table(
    spark: SparkSession, path: str, partition_by: str | None,
    keep_column: bool = True, keep_versions: int = 2, fs=None,
) -> str:
    """Partition evolution: rewrite the live snapshot under a NEW
    partition spec (Iceberg's `ALTER TABLE … SET PARTITION SPEC` plus the
    rewrite that realizes it). `partition_by=None` flattens to an
    unpartitioned snapshot. One table-scale Spark job; the swap is one
    atomic manifest publish, pending deletes fold into the rewrite, and
    time travel across the spec change keeps working (each manifest
    carries its own spec — readers never consult the directory layout).

    `partition_by` must be a DATA column of the current snapshot;
    `keep_column` keeps it in the data files too (readers can still
    filter on it) vs manifest-metadata-only (derived bucket keys)."""
    fs = fs or _fs_for(path)
    with _live_table(path, fs, "repartition_table") as (ver, m):
        df = _read_with_deletes(spark, path, m)
        if partition_by is None:
            return _commit_locked(df, path, keep_versions, fs)
        if partition_by not in df.columns:
            raise ValueError(
                f"partition column {partition_by} is not a data column of "
                f"{path} (have: {df.columns})"
            )
        entries = _write_snapshot(
            df.repartition(partition_by), path, fs,
            partition_by=partition_by, keep_column=keep_column,
        )
        file_schema = df.schema if keep_column else df.drop(partition_by).schema
        return _publish(
            path, entries, file_schema.jsonValue(), partition_by, fs,
            keep_versions, ver, partition_in_data=keep_column,
        )


def append_rows(path: str, arrow_table, fs=None) -> None:
    """Driver-side atomic append of a small pyarrow Table — ZERO Spark
    jobs. The control-plane fast path: a 1-row ledger append through a
    Spark write job costs ~2s of job-scheduling latency; serializing the
    part file with pyarrow and publishing a manifest costs milliseconds,
    with identical all-or-nothing visibility. Timestamps must be tz-aware
    (UTC) so Spark reads them as TIMESTAMP (LTZ), matching its own
    written files.

    Control tables only — data-plane appends stay on the cluster."""
    fs = fs or _fs_for(path)
    with table_lock(path, fs):
        ver = _read_pointer(path, fs)
        if ver is None and _has_plain_files(path, fs):
            # legacy plain dir: complete-file publish straight into it (the
            # dir stays legacy until a commit migrates it)
            _write_arrow_file(path, None, arrow_table, fs)
            return
        if ver is None:
            commit_rows(path, arrow_table, fs=fs)
            return
        entry = _write_arrow_file(path, f"a-{uuid.uuid4().hex[:8]}", arrow_table, fs)
        _publish_child(path, ver, _load_manifest(path, ver, fs), fs, add=[entry])


def commit_rows(path: str, arrow_table, keep_versions: int = 2, fs=None) -> str:
    """Driver-side full-snapshot replace of a small table — `_commit_locked`
    minus the Spark job: `arrow_table` lands as ONE file and one publish
    makes it the live snapshot (the old files and pending deletes leave
    the manifest; readers pinned to a retained version still find them).
    For callers that already hold the table lock, so `read_arrow` → edit
    → `commit_rows` is an atomic read-modify-write. Control tables only.
    Returns the new version name."""
    fs = fs or _fs_for(path)
    entry = _write_arrow_file(path, f"a-{uuid.uuid4().hex[:8]}", arrow_table, fs)
    return _publish(
        path, [entry], _arrow_schema_json(arrow_table), None, fs,
        keep_versions, _read_pointer(path, fs),
    )


def _write_arrow_file(path: str, rel_dir_tag: str | None, arrow_table, fs) -> dict:
    """Serialize a small pyarrow table into `_data/<tag>/` (the table root
    when `rel_dir_tag` is None) atomically and return its manifest entry —
    the shared building block of the driver-side control-plane writers
    (no Spark job)."""
    import pyarrow.parquet as pq

    buf = io.BytesIO()
    pq.write_table(arrow_table, buf)
    data = buf.getvalue()
    name = f"part-driver-{uuid.uuid4().hex}.parquet"
    rel = f"{DATA}/{rel_dir_tag}/{name}" if rel_dir_tag else name
    fs.mkdirs(_join(path, rel).rsplit("/", 1)[0])
    fs.write_bytes_atomic(_join(path, rel), data)
    return {"path": rel, "bytes": len(data)}


def _write_arrow_deletes(path: str, arrow_table, key_cols: list[str], fs) -> dict:
    """Driver-side equality-delete file: `arrow_table`'s distinct
    `key_cols` tuples serialized into a fresh `_data/d-*` dir."""
    import pyarrow as pa

    keys = arrow_table.select(key_cols).to_pandas().drop_duplicates()
    entry = _write_arrow_file(
        path, f"d-{uuid.uuid4().hex[:8]}",
        pa.Table.from_pandas(keys, preserve_index=False), fs,
    )
    entry["key_cols"] = key_cols
    return entry


def delete_keys_rows(
    path: str, arrow_table, key_cols: list[str] | None = None,
    keep_versions: int = 2, fs=None,
) -> str:
    """Driver-side merge-on-read DELETE of a SMALL key set — `delete_keys`
    minus the Spark job (same manifest shape, same sequence semantics):
    the delete file serializes via pyarrow and one manifest publishes.
    The control-plane fast path for targeted erasure (a GDPR single-key
    delete through a Spark job costs ~2s of scheduling latency; this
    costs milliseconds) — large key sets belong on the cluster via
    `delete_keys`."""
    fs = fs or _fs_for(path)
    key_cols = list(key_cols or arrow_table.column_names)
    with _live_table(path, fs, "delete_keys_rows") as (ver, m):
        entry = _write_arrow_deletes(path, arrow_table, key_cols, fs)
        return _publish_child(path, ver, m, fs, keep_versions, deletes=[entry])


def upsert_rows(
    path: str, arrow_table, key_cols: list[str],
    keep_versions: int = 2, fs=None,
) -> str:
    """Driver-side merge-on-read MERGE of a SMALL batch — `upsert_mor`
    minus the Spark jobs: ONE atomic publish appends the rows and an
    equality delete of their keys (shared sequence, so prior versions of
    the keys vanish while the incoming rows survive). The control-plane
    fast path for ledger/status upserts; data-plane batches belong on
    the cluster via `upsert_mor`. Creates the table when absent."""
    fs = fs or _fs_for(path)
    with table_lock(path, fs):
        ver = _read_pointer(path, fs)
        if ver is None:
            if _has_plain_files(path, fs):
                raise ValueError(
                    f"legacy plain table at {path}: commit() it to the "
                    "manifest layout before MoR upserts"
                )
            return commit_rows(path, arrow_table, keep_versions, fs)
        entry = _write_arrow_file(path, f"a-{uuid.uuid4().hex[:8]}", arrow_table, fs)
        del_entry = _write_arrow_deletes(path, arrow_table, list(key_cols), fs)
        return _publish_child(
            path, ver, _load_manifest(path, ver, fs), fs, keep_versions,
            add=[entry], deletes=[del_entry],
        )


def _arrow_schema_json(arrow_table) -> dict | None:
    """Spark schema for a first-write arrow append (pyspark's own arrow
    type mapping); None falls back to read-time inference."""
    try:
        from pyspark.sql.pandas.types import from_arrow_schema

        return from_arrow_schema(arrow_table.schema).jsonValue()
    except Exception:  # pragma: no cover - exotic arrow types
        return None


# ------------------------------------------- concurrent multi-table ops ---
def run_concurrent(ops, max_workers: int = 8) -> list:
    """Run INDEPENDENT table operations concurrently on driver threads —
    Spark schedules their jobs in parallel, so N tiny control/fixture
    writes cost ~one job latency instead of N (the scheduling constant
    dominates sub-second writes: the ivm extended lanes spent more time
    queueing sequential fixture commits than refreshing views). Each op
    is a zero-arg callable returning the underlying call's result;
    results come back in submission order, and the first failure
    re-raises after all ops settle (no half-cancelled fixture state).

    SAFETY: ops may share a table only if each holds its lock briefly,
    as the `stage_*` registration does; a one-phase writer holds the lock
    across its whole Spark job, so one-phase writers need DISTINCT tables.
    The per-table lock discipline (table_lock) is unchanged; this only
    overlaps the Spark job wait."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=max_workers) as ex:
        futs = [ex.submit(op) for op in ops]
        results, first_err = [], None
        for f in futs:
            try:
                results.append(f.result())
            except BaseException as e:  # noqa: BLE001 - re-raised below
                if first_err is None:
                    first_err = e
                results.append(None)
    if first_err is not None:
        raise first_err
    return results


# ------------------------------------------------ staged two-phase ops ----
def stage_write(df: DataFrame, path: str, fs=None) -> dict:
    """Phase 1 of a two-phase write: run the Spark job that lands `df`'s
    part files in a fresh immutable `_data/c-*` dir and return a staged
    handle — NO manifest change. Publish later (O(ms), driver-side) with
    `commit_staged` / `append_staged`.

    Why this exists (guide §2.6): a pipeline performing several
    independent writes into one table's HISTORY (initial snapshot, later
    delta, delete keys) is forced sequential by the version chain — but
    only the manifest flips are ordered. The data-plane Spark jobs read
    the SOURCE, not the table, so they can all run concurrently
    (run_concurrent / a thread pool) and pay one job latency instead of
    N; the publishes then replay in order. The ivm fixture lanes are the
    shape this serves.

    Staged dirs are registered in the table's `_staged` file (under the
    table lock) BEFORE the write starts, so an interleaved publish's GC
    sweep skips them; publishing releases the registration, and entries
    older than STAGED_TTL_S (a crashed stager) sweep with their dirs. A
    failed write releases its tag and deletes its partial dir at once."""
    fs = fs or _fs_for(path)
    tag = f"c-{uuid.uuid4().hex[:8]}"
    entries = _staged_write(
        path, tag, fs, lambda: _write_snapshot(df, path, fs, tag=tag)
    )
    return {"tag": tag, "entries": entries, "schema": df.schema.jsonValue()}


def _staged_write(path: str, tag: str, fs, write):
    """Register `tag` as staged, then run `write()` (the Spark job landing
    `_data/<tag>`). If the write raises, the tag is released and the
    partial dir deleted before re-raising — otherwise the registry would
    GC-protect the debris for STAGED_TTL_S."""
    _register_staged(path, tag, fs)
    try:
        return write()
    except BaseException:
        with table_lock(path, fs):
            _release_staged(path, [tag], fs)
            fs.delete(_join(path, DATA, tag), recursive=True)
        raise


def commit_staged(
    staged: dict, path: str, keep_versions: int = 2, fs=None
) -> str:
    """Phase 2 of `stage_write` as a full-snapshot commit: publish a
    manifest referencing exactly the staged files (replaces the table's
    contents — commit() minus the Spark job it already ran)."""
    fs = fs or _fs_for(path)
    with table_lock(path, fs):
        parent = _read_pointer(path, fs)
        ver = _publish(
            path, list(staged["entries"]), staged["schema"], None, fs,
            keep_versions, parent,
        )
        _release_staged(path, [staged["tag"]], fs)
        return ver


def append_staged(
    staged: dict, path: str, keep_versions: int = 2, fs=None,
    merge_schema: bool = False,
) -> str:
    """Phase 2 of `stage_write` as an append: publish current files plus
    the staged files (append_files() minus the Spark job)."""
    fs = fs or _fs_for(path)
    with _live_table(path, fs, "append_staged") as (ver, m):
        schema_json = _merged_schema_json(
            m.get("schema"), StructType.fromJson(staged["schema"]),
            merge_schema,
        )
        new_ver = _publish_child(
            path, ver, m, fs, keep_versions, add=staged["entries"],
            schema=schema_json,
        )
        _release_staged(path, [staged["tag"]], fs)
        return new_ver


def stage_delete_keys(
    keys_df: DataFrame, path: str, key_cols: list[str] | None = None,
    fs=None,
) -> dict:
    """Phase 1 of a two-phase MoR equality delete: run the Spark job
    writing the distinct key file into `_data/d-*`, return the staged
    delete entries. Publish with `delete_keys_staged`. Same `_staged`
    registry protection as `stage_write`."""
    fs = fs or _fs_for(path)
    key_cols = list(key_cols or keys_df.columns)
    tag = f"d-{uuid.uuid4().hex[:8]}"
    entries = _staged_write(
        path, tag, fs, lambda: _write_delete_file(keys_df, path, fs, key_cols, tag)
    )
    return {"tag": tag, "delete_entries": entries}


def delete_keys_staged(
    staged: dict, path: str, keep_versions: int = 2, fs=None
) -> str:
    """Phase 2 of `stage_delete_keys`: publish the staged delete file
    against the CURRENT manifest (delete_keys() minus the Spark job —
    the delete's sequence number is assigned here, at publish time, so
    ordering semantics are identical to the one-phase call)."""
    fs = fs or _fs_for(path)
    with _live_table(path, fs, "delete_keys_staged") as (ver, m):
        new_ver = _publish_child(
            path, ver, m, fs, keep_versions, deletes=staged["delete_entries"]
        )
        _release_staged(path, [staged["tag"]], fs)
        return new_ver
