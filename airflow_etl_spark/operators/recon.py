"""Merkle-bucket table reconciliation — find the exact row-level
difference between two versions of a table (replica audit, backup
verification, snapshot drift) WITHOUT shuffling row data for the parts
that agree.

Anti-entropy discipline (the rsync / Dynamo hash-tree pattern, and what
an Iceberg table-diff service does between snapshots): each side first
collapses to at most ``n_buckets`` summary rows — bucket = key-hash mod
n_buckets, summary = (row_count, SUM of 60-bit row fingerprints). Equal
summaries prove the buckets equal (up to an adversarial multi-row hash
collision — the standard anti-entropy trade, same tier rsync's rolling
checksum accepts); only differing buckets are re-read at row grain.

Scale shape: reconciling two 100 TB replicas costs two scans, each
map-side combined down to n_buckets partials before its exchange (SUM
and COUNT are associative/commutative), one join of two n_buckets-row
summaries, and a row-level full-outer compare restricted — via a
BROADCAST semi-join on the differing-bucket set — to the buckets that
actually changed. A healthy replica therefore reconciles with zero
row-grain exchange; the row-level cost is proportional to the DAMAGE,
not the table. Plan-gated in tests/test_plans.py.

Fingerprints are md5-based 60-bit integers over a caller-supplied
canonical row string (caller stringifies doubles as exact cents etc. —
the registry's portability conventions), so Spark, DuckDB, and plain
Python agree bit-for-bit and the whole operator is oracle-checkable.

Reference parity: the reference has no reconciliation surface — this is
north-star scale tooling (its nightly backup scripts,
utlis/backup_nessie_postgres.py, restore blind; verification is left to
the operator).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

#: Default bucket count. At 100 TB raise to ~1M so each bucket covers
#: O(100 MB) — the summary relation stays driver-trivial either way.
RECON_BUCKETS = 256

#: Diff statuses emitted by reconcile().
ONLY_LEFT = "only_left"      # row present in left, missing in right
ONLY_RIGHT = "only_right"    # row present in right, missing in left
CHANGED = "changed"          # key in both, fingerprint differs


def h60(col: Column) -> Column:
    """Portable 60-bit integer hash (first 15 hex chars of md5) — wide
    enough that bucket-sum cancellation needs engineered collisions,
    still exact in a BIGINT in every engine."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def fingerprint_rows(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    n_buckets: int = RECON_BUCKETS,
) -> DataFrame:
    """(key..., bucket, fp): 60-bit fingerprint of the canonical row
    string in ``value_col`` plus the key's Merkle bucket. Narrow
    projection — everything downstream reads only these columns, so the
    scan prunes to key + value columns."""
    key_str = F.concat_ws("", *[F.col(k).cast("string") for k in key_cols])
    return df.select(
        *key_cols,
        F.pmod(h60(key_str), F.lit(n_buckets)).cast("long").alias("bucket"),
        h60(F.col(value_col)).alias("fp"),
    )


def bucket_summary(fps: DataFrame) -> DataFrame:
    """Per-bucket (n_rows, fp_sum) — the Merkle level. Map-side
    combinable: the exchange carries at most n_buckets partials per
    task, never rows. The sum accumulates in DECIMAL(38,0): 60-bit
    terms would overflow BIGINT after ~256 rows (ANSI mode faults), and
    the summary is internal — it never crosses to the oracle, so exact
    decimal is free."""
    return fps.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.col("fp").cast("decimal(38,0)")).alias("fp_sum"),
    )


def differing_buckets(left_sum: DataFrame, right_sum: DataFrame) -> DataFrame:
    """Buckets whose (count, fingerprint-sum) disagree — the only
    buckets worth reading at row grain. Tiny relation (≤ n_buckets)."""
    ls = left_sum.select(
        "bucket", F.col("n_rows").alias("ln"), F.col("fp_sum").alias("lf")
    )
    rs = right_sum.select(
        "bucket", F.col("n_rows").alias("rn"), F.col("fp_sum").alias("rf")
    )
    return (
        ls.join(rs, "bucket", "full_outer")
        .filter(
            F.col("ln").isNull()
            | F.col("rn").isNull()
            | (F.col("ln") != F.col("rn"))
            | (F.col("lf") != F.col("rf"))
        )
        .select("bucket")
    )


def reconcile(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    value_col: str = "v",
    n_buckets: int = RECON_BUCKETS,
) -> DataFrame:
    """Row-level diff of two table versions via Merkle-bucket pruning.

    ``left``/``right`` carry ``key_cols`` plus ``value_col``, the
    canonical row string (caller's portability conventions). Returns
    (key..., status) with status in {only_left, only_right, changed} —
    empty for identical tables. Row-grain work is restricted to
    differing buckets by a broadcast semi-join on both sides before the
    full-outer key compare.
    """
    lf = fingerprint_rows(left, key_cols, value_col, n_buckets)
    rf = fingerprint_rows(right, key_cols, value_col, n_buckets)
    dirty = differing_buckets(bucket_summary(lf), bucket_summary(rf))

    lr = lf.join(F.broadcast(dirty), "bucket", "left_semi")
    rr = rf.join(F.broadcast(dirty), "bucket", "left_semi")
    rr = rr.select(
        *[F.col(k).alias(f"_r_{k}") for k in key_cols],
        F.col("fp").alias("_r_fp"),
    )
    cond = None
    for k in key_cols:
        c = lr[k].eqNullSafe(rr[f"_r_{k}"])
        cond = c if cond is None else (cond & c)
    joined = lr.join(rr, cond, "full_outer")
    status = (
        F.when(F.col("_r_fp").isNull(), F.lit(ONLY_LEFT))
        .when(F.col("fp").isNull(), F.lit(ONLY_RIGHT))
        .when(F.col("fp") != F.col("_r_fp"), F.lit(CHANGED))
    )
    return (
        joined.select(
            *[
                F.coalesce(F.col(k), F.col(f"_r_{k}")).alias(k)
                for k in key_cols
            ],
            status.alias("status"),
        )
        .filter(F.col("status").isNotNull())
    )
