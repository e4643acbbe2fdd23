"""Source readers / sink writers (SURVEY.md §2.1).

The reference reads: warehouse tables (Trino), object-store listings (S4),
JSON metadata files (S5), YAML model descriptors (S6), directory trees (S7).
Sinks: table appends (S9/S10), object deletes (S15). The Spark equivalents:
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession


def read_yaml_models(spark: SparkSession, root: str) -> DataFrame:
    """S6: scan a dbt-style model tree for .yml descriptors → long-form rows
    (folder, model_name, description, column_name). Mirrors the harvest at
    utlis/etl_manager.py:645-682. Driver-side parse (metadata-scale), Spark
    DataFrame out."""
    try:
        import yaml
    except ImportError:  # pragma: no cover - yaml is stdlib-adjacent but gate anyway
        raise RuntimeError("pyyaml not available")
    rows = []
    for ypath in sorted(Path(root).rglob("*.yml")):
        doc = yaml.safe_load(ypath.read_text()) or {}
        if not isinstance(doc, dict):
            continue  # stray non-mapping yaml (a list, a scalar) — skip it
        folder = ypath.parent.name
        for model in doc.get("models", []) or []:
            cols = model.get("columns", []) or []
            if not cols:
                rows.append((folder, model.get("name"), model.get("description"), None))
            for c in cols:
                rows.append(
                    (folder, model.get("name"), model.get("description"), c.get("name"))
                )
    return spark.createDataFrame(
        rows or [],
        "folder string, model_name string, description string, column_name string",
    )


def scan_dirs(spark: SparkSession, root: str) -> DataFrame:
    """S7: immediate subdirectories → (folder, concept) rows; concept strips
    the `NN_` ordinal prefix (folder[3:], utlis/etl_manager.py:608-615)."""
    import re

    rows = []
    for name in sorted(os.listdir(root)):
        if os.path.isdir(os.path.join(root, name)):
            # same rule as metavault.concepts_from_folders ('^[0-9]{2}_'):
            # a looser check here would derive a different concept name for
            # the same folder and the two harvest paths would never join
            concept = re.sub(r"^[0-9]{2}_", "", name)
            rows.append((name, concept))
    return spark.createDataFrame(rows or [], "folder string, concept_name string")


def list_files(
    spark: SparkSession, root: str, suffix: str = "", fs=None
) -> DataFrame:
    """S4: recursive file inventory → (path, n_bytes, mtime). `fs` selects
    the filesystem backend (sources.fs.LocalFS default; HadoopFS for
    object stores — the 100 TB path)."""
    from .fs import LocalFS

    rows = (fs or LocalFS()).list_files(root, suffix)
    return spark.createDataFrame(rows or [], "path string, n_bytes long, mtime double")


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """Read a table written by a txn writer (pointer layout) or a legacy
    plain parquet dir — the one reader for mutable tables."""
    from . import txn

    return txn.read(spark, path)


def recovery_manifest(spark: SparkSession, tables: dict[str, str]) -> DataFrame:
    """S14 disaster-recovery manifest (utlis/backup_nessie_postgres.py:67-115):
    one row per live table with a deterministic md5 surrogate id and the
    re-registration statement to rebuild the catalog from storage — the
    Spark analog of the generated `CALL system.register_table(...)` script.
    """
    from pyspark.sql import functions as F

    rows = sorted(tables.items())
    df = spark.createDataFrame(rows, "table_name string, location string")
    return df.select(
        "table_name",
        "location",
        F.md5(F.col("table_name")).alias("table_id"),
        F.concat(
            F.lit("CREATE TABLE IF NOT EXISTS "),
            F.col("table_name"),
            F.lit(" USING PARQUET LOCATION '"),
            F.col("location"),
            F.lit("'"),
        ).alias("register_stmt"),
    )


def write_bucketed(
    df: DataFrame, table: str, keys: list[str], n_buckets: int = 32,
    sorted_by_keys: bool = True, path: str | None = None,
) -> None:
    """Write a bucketed (and bucket-sorted) table.

    Two tables bucketed identically on their join key co-locate: a
    sort-merge join between them needs NO shuffle at all — the property that
    makes repeated large-×-large joins (fact-to-fact, hub-to-satellite)
    viable at 100 TB. Pick n_buckets ≈ cluster cores × small multiple.

    `path` makes the table EXTERNAL at that location; without it the
    table is managed under spark.sql.warehouse.dir — note a managed
    location survives the (session-scoped) catalog entry, so repeated
    loaders in fresh sessions should pass an explicit per-load path.
    """
    writer = (
        df.write.mode("overwrite").format("parquet")
        .bucketBy(n_buckets, keys[0], *keys[1:])
    )
    if sorted_by_keys:
        writer = writer.sortBy(keys[0], *keys[1:])
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def parquet_table_exists(path: str) -> bool:
    """A table exists at `path` — pointer layout (txn) or legacy plain
    parquet dir (top-level *.parquet files / key=value partitions)."""
    from . import txn

    return txn.table_exists(path)
