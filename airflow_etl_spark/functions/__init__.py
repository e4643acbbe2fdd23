"""Scalar-function shims (SURVEY.md §2.8).

The reference's SQL is Trino dialect; these helpers encapsulate the dialect
traps so operator code never hand-translates them:

- Trino arrays are 1-based, Spark 0-based (`TRY(split(task_id,'.')[2])`,
  reference `utlis/etl_manager.py:447`) → `element_1b` keeps Trino indexing
  and returns NULL out-of-bounds (Trino TRY semantics, free in Spark).
- Trino `date_format(ts, '%Y-%m')` (`utlis/clean_metadata.py:217`) →
  `month_bucket` with the Spark pattern dialect.
- Trino `to_hex(md5(to_utf8(s)))` (`utlis/backup_nessie_postgres.py:88`) →
  `md5_hex`; Data Vault hash keys → `dv_hash_key` (sha2-256 over
  '||'-joined business keys, the hash-key convention inferred from
  `utlis/etl_manager.py:894`).
- UTC→Asia/Bangkok `+ timedelta(hours=7)` (`utlis/send_email.py:778`) →
  `tz_shift`.
- ms-epoch → timestamp (`utlis/clean_metadata.py:424-434`) → `epoch_ms_of` /
  `F.timestamp_millis`.

All of these are thin wrappers over JVM-side `pyspark.sql.functions` — they
stay inside whole-stage codegen; none are Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def element_1b(arr: Column, index_1b: int) -> Column:
    """Trino-style 1-based array element with TRY semantics (NULL when out of
    bounds). Spark 4 runs ANSI mode by default, where `element_at` throws on
    out-of-bounds — `try_element_at` restores the Trino TRY(...) behavior."""
    return F.try_element_at(arr, F.lit(index_1b))


def try_split_part(col: Column | str, sep: str, index_1b: int) -> Column:
    """`TRY(split(x, sep)[i])` with Trino 1-based indexing."""
    c = F.col(col) if isinstance(col, str) else col
    # split() takes a Java regex — escape the separator literally.
    import re

    return element_1b(F.split(c, re.escape(sep)), index_1b)


def month_bucket(ts: Column | str) -> Column:
    """Trino `date_format(ts, '%Y-%m')` → 'yyyy-MM' string."""
    c = F.col(ts) if isinstance(ts, str) else ts
    return F.date_format(c, "yyyy-MM")


def md5_hex(col: Column | str) -> Column:
    """Trino `to_hex(md5(to_utf8(s)))` — Spark's md5() already returns hex."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(c)


def dv_hash_key(*cols: Column | str, sep: str = "||") -> Column:
    """Data Vault hash key: sha2-256 over separator-joined business keys.

    Each component is explicitly coalesced to '' BEFORE the join: bare
    concat_ws drops NULL elements and their separators, so distinct tuples
    like ('a', NULL, 'b'), ('a', 'b', NULL) and (NULL, 'a', 'b') would all
    collide on 'a||b'. With the coalesce, NULL hashes like '' in the same
    position (documented, deterministic) but positions never shift.
    """
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    return F.sha2(
        F.concat_ws(
            sep, *[F.coalesce(c.cast("string"), F.lit("")) for c in cs]
        ),
        256,
    )


def tz_shift(ts: Column | str, hours: int = 7) -> Column:
    """The reference's fixed UTC→Asia/Bangkok shift (+7h)."""
    c = F.col(ts) if isinstance(ts, str) else ts
    return c + F.expr(f"INTERVAL {hours} HOURS")


def epoch_ms_of(ts: Column | str) -> Column:
    """Timestamp → epoch milliseconds (inverse of F.timestamp_millis)."""
    c = F.col(ts) if isinstance(ts, str) else ts
    return F.unix_millis(c)


def normalize_text(col: Column | str) -> Column:
    """Canonical text normalization used by fingerprint/dedup operators:
    lowercase + collapse whitespace runs + trim."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))
