"""Table catalog over the test-data lakehouse.

The reference addresses tables as `catalog.schema.table` in a Trino/Iceberg
catalog (`dp_warehouse.*`, SURVEY.md §1.1). Here the physical layer is a
directory of parquet files per scale factor; this module is the single place
that knows the physical layout, so the rest of the engine talks in logical
table names only (the Spark analog of `information_schema`, SURVEY §2.1 S2).
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from .sources.fs import LocalFS

#: Logical tables available at every scale-factor directory.
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


#: Session conf that makes parquet TIMESTAMP(NANOS) readable as a raw long;
#: it changes the inferred schema, so it is part of the schema cache key.
NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"

#: (file identities, nanosAsLong) -> inferred schema
_SCHEMAS: dict[tuple, T.StructType] = {}
#: (file identity, distinct column) -> row count
_ROW_COUNTS: dict[tuple, int] = {}


def _identity(path: str) -> tuple | None:
    """What a path's schema and row count are cached under: `(resolved
    path, size, mtime_ns, inode)` for a file, the sorted `(file, size,
    mtime)` inventory for a directory. Rewriting a file in place changes
    its identity. None — nothing is cached — for a missing path or one
    that is not local (an object-store URI)."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    local = os.path.realpath(path)
    if stat.S_ISDIR(st.st_mode):
        return tuple(LocalFS().list_files(local))
    return (local, st.st_size, st.st_mtime_ns, st.st_ino)


def read_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """THE parquet reader for tables the catalog owns (source tables,
    delete files): the schema is inferred once per file identity — the
    one schema-inference Spark job a plain `spark.read.parquet` launches
    on every call — and later reads pass it explicitly, launching none.
    Like an Iceberg catalog's stored schema, minus the metastore."""
    ids = tuple(map(_identity, paths))
    key = (ids, spark.conf.get(NANOS_AS_LONG, "false"))
    schema = _SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(*paths)
    df = spark.read.parquet(*paths)
    if None not in ids:
        _SCHEMAS[key] = df.schema
    return df


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


def raw_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One logical table as its file stores it (`events.ts` not yet
    normalized, see `normalize_ts`)."""
    if name == "events":
        # TIMESTAMP(NANOS) parquet is unreadable without this legacy flag;
        # set it defensively so a caller-provided session (the grading
        # driver's) works even if its builder didn't carry the conf. It is
        # a no-op for MICROS files.
        try:
            spark.conf.set(NANOS_AS_LONG, "true")
        except Exception:
            pass  # conf locked → the session must already handle nanos
    return read_parquet(spark, table_path(sf_dir, name))


def normalize_ts(events: DataFrame) -> DataFrame:
    """`events.ts` has shipped in two physical layouts across testdata
    generations: parquet TIMESTAMP(NANOS) (readable only as a raw long under
    `nanosAsLong`) and TIMESTAMP(MICROS), which recent writers mark as
    NTZ. Normalize both to a microsecond LTZ timestamp (what unix_millis,
    watermarked windows and tz-shift functions require). Works on batch
    and streaming frames alike."""
    ts_type = events.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):  # TIMESTAMP(NANOS) under nanosAsLong
        return events.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, T.TimestampNTZType):
        # session tz is UTC, so NTZ→LTZ keeps the same instants the nanos
        # layout produced
        return events.withColumn("ts", F.col("ts").cast("timestamp"))
    return events


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one logical table from a scale-factor directory (0 Spark jobs
    once its schema is cached; `events.ts` normalized)."""
    df = raw_table(spark, sf_dir, name)
    return normalize_ts(df) if name == "events" else df


def row_count(
    spark: SparkSession, sf_dir: str, name: str, distinct: str | None = None
) -> int:
    """Row count of a logical table — or of its `distinct` column's
    distinct values — counted once per file identity, so a table
    rewritten in place is counted again."""
    ident = _identity(table_path(sf_dir, name))
    n = _ROW_COUNTS.get((ident, distinct))
    if n is None:
        df = load_table(spark, sf_dir, name)
        if distinct is not None:
            df = df.select(distinct).distinct()
        n = df.count()
        if ident is not None:
            _ROW_COUNTS[(ident, distinct)] = n
    return n


def register_views(spark: SparkSession, sf_dir: str, tables=TABLES) -> None:
    """Register every logical table as a temp view for the SQL API."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def list_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`information_schema.tables` analog (SURVEY §2.1 S2): enumerate the
    logical tables with their row counts' physical file paths."""
    rows = [(name, table_path(sf_dir, name)) for name in TABLES]
    return spark.createDataFrame(rows, "table_name string, location string")


def list_warehouse_tables(
    spark: SparkSession, warehouse_dir: str, fs=None
) -> DataFrame:
    """`information_schema.tables` over the engine's OWN warehouse
    (reference scans `information_schema` for every schema at
    utlis/clean_data.py:72-79): walk `<warehouse>/<schema>/<table>` dirs,
    report layout (txn-versioned vs plain/partitioned), retained snapshot
    count, and live data bytes. Driver-side metadata walk — catalog-scale,
    not data-scale — through the FS abstraction, so the same enumeration
    runs against an object-store warehouse (`fs=HadoopFS(spark, uri)`)."""
    from .sources import txn

    fs = fs or txn._fs_for(warehouse_dir)
    rows = []
    for schema in fs.list_dir(warehouse_dir):
        spath = f"{warehouse_dir.rstrip('/')}/{schema}"
        if not fs.is_dir(spath):
            continue
        for table in fs.list_dir(spath):
            tpath = f"{spath}/{table}"
            if not fs.is_dir(tpath) or not txn.table_exists(tpath, fs):
                continue
            versioned = txn._read_pointer(tpath, fs) is not None
            n_versions = len(txn._list_versions(tpath, fs)) if versioned else 0
            # manifest layout: bytes come from manifest metadata (zero
            # file stats); legacy dirs fall back to a listing
            n_bytes = txn.live_bytes(tpath, fs)
            rows.append(
                (schema, table, tpath,
                 "versioned" if versioned else "plain",
                 n_versions, n_bytes)
            )
    return spark.createDataFrame(
        rows or [],
        "schema_name string, table_name string, location string, "
        "layout string, n_versions int, n_bytes long",
    )
