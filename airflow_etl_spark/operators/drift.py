"""Schema-drift detection (SURVEY.md §1.3; schemadrift_* semantics).

The reference's dbt staging layer diffs each source's live schema against
the staged schema and writes `schemadrift_tablechangedetail` rows
(columns: run_id, table_name, source_name, column_name, data_type,
status 'I'|'D', change_date, created_date — utlis/send_email.py:26-49) and a
per-table `schemadrift_tablechange` flag. Reproduced here as one Python
set diff over (table_name, column_name):

- 'I' (inserted): column present in the source, absent from the registry.
- 'D' (deleted): column present in the registry, gone from the source.

A type change under the same column name is not drift. Schemas are a few
dozen rows and the live side comes from the catalog's cached schema, so
the diff runs on the driver and launches no Spark job; the pipeline reads
the registry with `txn.read_arrow` and writes the rows below with the
driver-side txn writers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import StructType

REGISTRY_SCHEMA = "table_name string, column_name string, data_type string"
DETAIL_SCHEMA = (
    "run_id string, table_name string, source_name string, column_name string, "
    "data_type string, status string, change_date string, created_date string"
)
FLAG_SCHEMA = "run_id string, table_name string, source_name string, is_updated int"


def schema_rows(schema: StructType, table_name: str) -> list[tuple]:
    """A schema as (table_name, column_name, data_type) rows — the
    engine's `information_schema.columns` analog."""
    return [(table_name, f.name, f.dataType.simpleString()) for f in schema.fields]


def diff(live: list[tuple], registered: list[tuple]) -> list[tuple]:
    """(table_name, column_name, data_type, status) per inserted ('I')
    or deleted ('D') column of `live` against `registered` (both
    `schema_rows`)."""
    live_cols = {r[:2] for r in live}
    reg_cols = {r[:2] for r in registered}
    return [(*r, "I") for r in live if r[:2] not in reg_cols] + [
        (*r, "D") for r in registered if r[:2] not in live_cols
    ]


def change_rows(
    changes: list[tuple], run_id: str, source_name: str, change_date: str
) -> tuple[list[tuple], list[tuple]]:
    """One run's `diff` as (schemadrift_tablechangedetail rows,
    schemadrift_tablechange rows): one detail row per change and one
    is_updated=1 flag per changed table (utlis/send_email.py:43-49)."""
    detail = [
        (run_id, t, source_name, c, dt, st, change_date, change_date)
        for t, c, dt, st in changes
    ]
    flags = [(run_id, t, source_name, 1) for t in sorted({c[0] for c in changes})]
    return detail, flags


def value_psi(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str,
    edges: list[float],
    eps: float = 1e-6,
) -> DataFrame:
    """Population Stability Index between two samples of a numeric column
    — the DISTRIBUTION-drift counterpart to the schema drift above (the
    standard production monitor for "did this feature/score shift between
    snapshots"; PSI > 0.2 is the conventional alarm threshold).

    Rows are bucketed against the fixed `edges` (bin i = number of edges
    <= value, so len(edges)+1 buckets including both open tails); each
    side reduces to per-bin shares; PSI's per-bin term is
    (cur_share - ref_share) * ln(cur_share / ref_share), with a bin
    missing on one side taking share `eps` (the classic smoothing — PSI
    is undefined on zero shares). Returns one row per populated bin:
    (bin, ref_share, cur_share, psi_term); sum(psi_term) is the index.

    Determinism: fixed literal edges, double comparisons, share =
    count/total in double — every step engine-portable, so the rounded
    output value-hashes across engines (ln parity holds like the
    TF-IDF/BM25 oracles'). NULLs are excluded on both sides.

    Plan shape at 100 TB: one map-side-combined groupBy per side over a
    bucket projection (the per-partition partial is at most
    len(edges)+1 rows), totals ride broadcast 1-row cross joins, and the
    final full-outer join is bins x bins — control-plane sized. Two
    corpus passes, zero corpus-sized shuffles.

    Reference provenance: no statistical monitoring in the reference
    (schema diff only, utlis/send_email.py) — extension surface per the
    training-data-pipeline mandate (quality/score drift between corpus
    snapshots), semantics from the public credit-scoring PSI literature.
    """
    r = bin_shares(ref, value_col, edges).withColumnRenamed("p", "pr")
    c = bin_shares(cur, value_col, edges).withColumnRenamed("p", "pc")
    j = r.join(c, "bin", "full_outer").select(
        "bin",
        F.coalesce(F.col("pr"), F.lit(float(eps))).alias("pr"),
        F.coalesce(F.col("pc"), F.lit(float(eps))).alias("pc"),
    )
    return j.select(
        F.col("bin").cast("int").alias("bin"),
        F.round("pr", 4).alias("ref_share"),
        F.round("pc", 4).alias("cur_share"),
        F.round(
            (F.col("pc") - F.col("pr")) * F.log(F.col("pc") / F.col("pr")),
            6,
        ).alias("psi_term"),
    )


def bin_shares(
    df: DataFrame, value_col: str, edges: list[float]
) -> DataFrame:
    """Per-bin share of a numeric column against fixed edges: (bin, p)
    with p = bin_count / total over non-NULL values — the reference-
    distribution half of the PSI monitors. One map-side-combined
    aggregate; the total rides a broadcast 1-row cross join."""
    elit = F.array(*[F.lit(float(e)) for e in edges])
    v = F.col(value_col).cast("double")
    binned = df.filter(v.isNotNull()).select(
        F.size(F.filter(elit, lambda e: v >= e)).alias("bin")
    )
    counts = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    total = binned.select(F.count(F.lit(1)).cast("double").alias("t"))
    return counts.crossJoin(F.broadcast(total)).select(
        "bin", (F.col("n") / F.col("t")).alias("p")
    )


def windowed_psi(
    counts: DataFrame, ref_shares: DataFrame, eps: float = 1e-6
) -> DataFrame:
    """Per-window PSI terms of windowed bin counts against a reference
    share distribution — the alerting pass of the streaming drift
    monitor. `counts` is (window_start, bin, n) (e.g. from
    streaming.windowed_value_bins driven to completion); `ref_shares` is
    (bin, p) from `bin_shares` over the reference sample.

    Every window is scored against the FULL reference bin grid (windows
    x ref-bins cross join of two control-plane relations), so a bin that
    collapses to zero traffic in some window still contributes its eps
    term — silence is drift too. Returns one row per (window, bin):
    (window_start, bin, ref_share, cur_share, psi_term); summing
    psi_term within a window gives that window's index.

    All relations here are (windows x bins)-sized — the corpus-scale
    work happened upstream in the windowed aggregate."""
    # per-window total via a window sum, not a groupBy+self-join — the
    # counts relation often arrives as a memory-sink view whose self-join
    # would carry conflicting attribute ids
    wsum = Window.partitionBy("window_start")
    cur = counts.select(
        "window_start",
        "bin",
        (
            F.col("n").cast("double")
            / F.sum("n").over(wsum).cast("double")
        ).alias("pc"),
    )
    # the grid side renames its keys before the full-outer join: both
    # sides descend from the same `counts` relation, and a same-name
    # equi-join over shared attribute ids trips Spark's conflicting-
    # attribute check when counts is a memory-sink view
    grid = (
        counts.select(F.col("window_start").alias("g_ws"))
        .distinct()
        .crossJoin(
            F.broadcast(
                ref_shares.select(
                    F.col("bin").alias("g_bin"), F.col("p").alias("pr")
                )
            )
        )
    )
    j = grid.join(
        cur,
        (F.col("g_ws") == F.col("window_start"))
        & (F.col("g_bin") == F.col("bin")),
        "full_outer",
    ).select(
        F.coalesce(F.col("g_ws"), F.col("window_start")).alias(
            "window_start"
        ),
        F.coalesce(F.col("g_bin"), F.col("bin")).alias("bin"),
        F.coalesce(F.col("pr"), F.lit(float(eps))).alias("pr"),
        F.coalesce(F.col("pc"), F.lit(float(eps))).alias("pc"),
    )
    return j.select(
        "window_start",
        F.col("bin").cast("int").alias("bin"),
        F.round("pr", 4).alias("ref_share"),
        F.round("pc", 4).alias("cur_share"),
        F.round(
            (F.col("pc") - F.col("pr")) * F.log(F.col("pc") / F.col("pr")),
            6,
        ).alias("psi_term"),
    )
