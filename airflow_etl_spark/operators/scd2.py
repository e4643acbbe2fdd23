"""SCD2 satellite operators (inferred dbt raw_vault layer; SURVEY.md §0,
FIXTURES.md §6).

The reference's satellites carry `load_date` / `load_end_date` (SCD2) and a
per-attribute hash-diff, loaded by absent dbt models. Three operators cover
the lifecycle:

- `scd2_compress`: given a history of observations (key, order_col, attrs),
  keep only rows where the attributes *changed* vs the previous observation
  (hash-diff), and derive validity intervals [load_date, load_end_date).
  This is the "rebuild satellite from history" path — one window shuffle on
  the key, no joins, scales linearly.
- `scd2_delta`: given the current satellite and a new snapshot for one
  load_date, the rows that snapshot changes — closed copies of changed/
  retired open rows and the new open rows. It is THE change rule: the
  pipeline writes it as one merge-on-read upsert keyed on
  (keys, load_date) (what `dbt run` did per etl_date as an Iceberg MERGE).
- `scd2_apply`: the same load as a full result — the delta merged into
  the satellite in place (the parity reference for the upsert).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window, functions as F

from ..functions import dv_hash_key


def scd2_compress(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    attr_cols: Sequence[str],
    load_date_col: str = "load_date",
    load_end_date_col: str = "load_end_date",
) -> DataFrame:
    """Compress an observation history into SCD2 intervals.

    For each key (ordered by `order_col`): keep the first observation and
    every observation whose attribute hash differs from the previous kept
    one; `load_end_date` = next kept row's `order_col` (NULL = current).

    Note the change filter compares against the previous *observation*,
    which equals the previous *kept* row's attributes by induction (runs of
    identical attrs collapse to their first row).
    """
    w = Window.partitionBy(*keys).orderBy(F.col(order_col).asc())
    hashed = df.withColumn("__hd", dv_hash_key(*attr_cols))
    changed = hashed.withColumn("__prev_hd", F.lag("__hd").over(w)).filter(
        F.col("__prev_hd").isNull() | (F.col("__prev_hd") != F.col("__hd"))
    )
    w2 = Window.partitionBy(*keys).orderBy(F.col(order_col).asc())
    out = (
        changed.withColumn(load_date_col, F.col(order_col))
        .withColumn(load_end_date_col, F.lead(F.col(order_col)).over(w2))
        .drop("__hd", "__prev_hd")
    )
    return out


def scd2_delta(
    satellite: DataFrame | None,
    snapshot: DataFrame,
    keys: Sequence[str],
    attr_cols: Sequence[str],
    load_date,
    load_date_col: str = "load_date",
    load_end_date_col: str = "load_end_date",
) -> DataFrame:
    """The rows one snapshot (all current rows for `load_date`) changes in
    a satellite:

    - key in both, attrs changed → the key's open row, closed (end date =
      load_date), and the snapshot's row as a new open version.
    - key only in snapshot → a new open row (new entity).
    - key only in satellite → the open row, closed (entity retired).
    - unchanged → nothing.

    A closed copy keeps every other column of its open row (e.g.
    `record_source` provenance) and its (keys, load_date) identity, so an
    upsert keyed on (keys, load_date) replaces the open row with it; an
    opened row takes the satellite's non-date columns from the snapshot.
    An identical snapshot gives an empty delta. `satellite=None` (first
    load) opens every snapshot row. The join touches the satellite's open
    rows only (load_end_date IS NULL): one full-outer join at key grain,
    and each joined row yields its closed and its opened row through one
    `explode`, so the satellite and the snapshot are scanned once each."""
    keys = list(keys)
    ld = F.lit(load_date)
    snap_h = snapshot.withColumn("__hd", dv_hash_key(*attr_cols))
    if satellite is None:
        rest = [c for c in snapshot.columns if c not in (*keys, *attr_cols)]
        cols = [*keys, *attr_cols, load_date_col, load_end_date_col, *rest]
        open_end = F.when(F.lit(False), ld)  # NULL typed like load_date
    else:
        cols = satellite.columns
        open_end = F.lit(None).cast(satellite.schema[load_end_date_col].dataType)

    opened = [
        ld.alias(c) if c == load_date_col
        else open_end.alias(c) if c == load_end_date_col
        else F.col(f"s.{c}")
        for c in cols
    ]
    if satellite is None:
        return snap_h.alias("s").select(*opened)
    cur_h = satellite.filter(F.col(load_end_date_col).isNull()).withColumn(
        "__hd", dv_hash_key(*attr_cols)
    )
    # null-safe key equality: with plain `on=keys` a NULL-key row never
    # matches its own snapshot counterpart and gets closed + re-opened
    # every run even when unchanged (same bug class fixed in merge.upsert)
    changed = cur_h.alias("c").join(
        snap_h.alias("s"),
        on=[F.col(f"c.{k}").eqNullSafe(F.col(f"s.{k}")) for k in keys],
        how="full_outer",
    ).filter(~F.col("c.__hd").eqNullSafe(F.col("s.__hd")))
    closed = [
        ld.alias(c) if c == load_end_date_col else F.col(f"c.{c}").alias(c)
        for c in cols
    ]
    # __hd is never NULL on a real row, so a NULL side is the outer join's
    return changed.select(F.explode(F.array(
        F.when(F.col("c.__hd").isNotNull(), F.struct(*closed)),
        F.when(F.col("s.__hd").isNotNull(), F.struct(*opened)),
    )).alias("__row")).filter(F.col("__row").isNotNull()).select("__row.*")


def scd2_apply(
    satellite: DataFrame | None,
    snapshot: DataFrame,
    keys: Sequence[str],
    attr_cols: Sequence[str],
    load_date,
    load_date_col: str = "load_date",
    load_end_date_col: str = "load_end_date",
) -> DataFrame:
    """Apply one snapshot to a satellite and return the new satellite:
    `scd2_delta`'s rows replace the satellite rows sharing their
    (keys, load_date) identity — exactly what the merge-on-read upsert of
    that delta reads back — and every other row (history, unchanged open
    rows) passes through untouched. `satellite=None` (first load) gives
    the delta itself."""
    version = [*keys, load_date_col]
    delta = scd2_delta(
        satellite, snapshot, keys, attr_cols, load_date, load_date_col,
        load_end_date_col,
    )
    if satellite is None:
        return delta
    replaced = delta.select(*version)
    untouched = satellite.alias("t").join(
        replaced.alias("d"),
        on=[F.col(f"t.{c}").eqNullSafe(F.col(f"d.{c}")) for c in version],
        how="left_anti",
    )
    return untouched.unionByName(delta)
