"""Data Vault loaders — hubs, links, satellites (the reference's inferred
dbt raw_vault layer; SURVEY.md §0, FIXTURES.md §6).

Table shapes follow the reference's conventions exactly
(`*_hash_key`, `load_date`, `record_source`, `load_end_date` —
utlis/etl_manager.py:894,1231):

- hub_<entity>(entity_hash_key, <business keys…>, load_date, record_source)
- link_<a>_<b>(link_hash_key, a_hash_key, b_hash_key, load_date, record_source)
- satellite_<entity>(entity_hash_key, <attrs…>, load_date, load_end_date,
  record_source)  [SCD2]

Loads are incremental and idempotent: hubs/links are insert-only — their
loaders return just the rows to append (the *new* hash keys, anti-join J3);
satellites return just the SCD2 rows to upsert on (hash key, load_date)
(operators.scd2.scd2_delta; `load_satellite` is the same rule as a full
result). At scale each
loader is one shuffle on the hash key — the key is uniformly distributed by
construction (sha2), so no skew.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F

from .functions import dv_hash_key
from .operators.core import anti_new
from .operators.scd2 import scd2_apply, scd2_delta


def hub_snapshot(
    source: DataFrame,
    business_keys: Sequence[str],
    entity: str,
    load_date,
    record_source: str,
) -> DataFrame:
    """Distinct business keys → hub rows for one load."""
    return (
        source.select(*business_keys)
        .distinct()
        .select(
            dv_hash_key(*business_keys).alias(f"{entity}_hash_key"),
            *business_keys,
            F.lit(load_date).alias("load_date"),
            F.lit(record_source).alias("record_source"),
        )
    )


def load_hub(
    hub: DataFrame | None,
    source: DataFrame,
    business_keys: Sequence[str],
    entity: str,
    load_date,
    record_source: str,
) -> DataFrame:
    """Insert-only hub load: the rows to APPEND to `hub` — the whole
    snapshot on the initial load (`hub=None`), else only the keys `hub`
    lacks."""
    snap = hub_snapshot(source, business_keys, entity, load_date, record_source)
    if hub is None:
        return snap
    return anti_new(snap, hub, [f"{entity}_hash_key"], broadcast_right=False)


def link_snapshot(
    source: DataFrame,
    left_keys: Sequence[str],
    right_keys: Sequence[str],
    link_name: str,
    left_entity: str,
    right_entity: str,
    load_date,
    record_source: str,
) -> DataFrame:
    """Distinct (left, right) key pairs → link rows."""
    all_keys = list(left_keys) + list(right_keys)
    return (
        source.select(*all_keys)
        .distinct()
        .select(
            dv_hash_key(*all_keys).alias(f"{link_name}_hash_key"),
            dv_hash_key(*left_keys).alias(f"{left_entity}_hash_key"),
            dv_hash_key(*right_keys).alias(f"{right_entity}_hash_key"),
            F.lit(load_date).alias("load_date"),
            F.lit(record_source).alias("record_source"),
        )
    )


def load_link(
    link: DataFrame | None,
    source: DataFrame,
    left_keys: Sequence[str],
    right_keys: Sequence[str],
    link_name: str,
    left_entity: str,
    right_entity: str,
    load_date,
    record_source: str,
) -> DataFrame:
    """Insert-only link load: the rows to APPEND (see load_hub)."""
    snap = link_snapshot(
        source, left_keys, right_keys, link_name, left_entity, right_entity,
        load_date, record_source,
    )
    if link is None:
        return snap
    return anti_new(snap, link, [f"{link_name}_hash_key"], broadcast_right=False)


def satellite_snapshot(
    source: DataFrame,
    business_keys: Sequence[str],
    attr_cols: Sequence[str],
    entity: str,
) -> DataFrame:
    """Current descriptive attributes per entity hash key."""
    return source.select(
        dv_hash_key(*business_keys).alias(f"{entity}_hash_key"),
        *attr_cols,
    ).distinct()


def _scd2_load(rule, satellite, source, business_keys, attr_cols, entity,
               load_date, record_source):
    snap = satellite_snapshot(source, business_keys, attr_cols, entity)
    return rule(
        satellite, snap.withColumn("record_source", F.lit(record_source)),
        keys=[f"{entity}_hash_key"], attr_cols=list(attr_cols),
        load_date=load_date,
    )


def satellite_delta(
    satellite: DataFrame | None,
    source: DataFrame,
    business_keys: Sequence[str],
    attr_cols: Sequence[str],
    entity: str,
    load_date,
    record_source: str = "engine",
) -> DataFrame:
    """SCD2 satellite load for one `load_date` snapshot, as the rows to
    UPSERT on (`<entity>_hash_key`, load_date) — operators.scd2.scd2_delta:
    closed copies of changed/retired open rows and the new open rows; the
    whole snapshot on the initial load (`satellite=None`), nothing for an
    identical snapshot. record_source is immutable per-row provenance: a
    closed copy keeps its row's, only newly-opened versions get this
    load's."""
    return _scd2_load(
        scd2_delta, satellite, source, business_keys, attr_cols, entity,
        load_date, record_source,
    )


def load_satellite(
    satellite: DataFrame | None,
    source: DataFrame,
    business_keys: Sequence[str],
    attr_cols: Sequence[str],
    entity: str,
    load_date,
    record_source: str = "engine",
) -> DataFrame:
    """The satellite after one load, in full: `satellite_delta`'s rows
    merged into `satellite` (operators.scd2.scd2_apply) — the reference
    result the pipeline's merge-on-read satellite must read back as."""
    return _scd2_load(
        scd2_apply, satellite, source, business_keys, attr_cols, entity,
        load_date, record_source,
    )
