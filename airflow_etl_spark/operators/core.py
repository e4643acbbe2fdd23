"""Core relational operators (SURVEY.md §2.2, §2.3, §2.5, §2.6, §2.7).

These are the building blocks of the reference's control-plane SQL, expressed
as reusable DataFrame transforms. All joins here are expected to be
broadcast-sized on one side in real deployments (control tables are tiny);
`auto_broadcast` marks the smaller side explicitly so plans stay
shuffle-free even when statistics are missing. Data-plane usages (e.g. the
vault loaders) pass `broadcast_right=False` to let Catalyst/AQE decide.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F


def _maybe_broadcast(df: DataFrame, do_broadcast: bool) -> DataFrame:
    return F.broadcast(df) if do_broadcast else df


#: Broadcast budgets for `broadcast_if_bounded`. 500k rows matches
#: dedup.verify_candidates' r11 gate (~256 MB at 512 B/row); 64 MB is the
#: byte budget used when the caller knows the relation's on-disk size
#: (e.g. a manifest-recorded delete file) rather than its row count.
BROADCAST_MAX_ROWS = 500_000
BROADCAST_MAX_BYTES = 64 << 20


def broadcast_if_bounded(
    rel: DataFrame,
    *,
    bound_rows: int | None = None,
    bound_bytes: int | None = None,
    max_rows: int | None = None,
    max_bytes: int | None = None,
    probe_on_unbounded: bool = False,
) -> DataFrame:
    """Adaptive broadcast hint — the r11 `verify_candidates` count-gate
    generalized (r12, VERDICT r11 #1). The sf100 probe proved the
    failure class: a FORCED broadcast of any relation that grows with
    the corpus is optimal at every tested scale and a
    `spark.driver.maxResultSize` crash one decade up. This helper makes
    the safe pattern one call:

    - `bound_rows` / `bound_bytes`: a caller-supplied PROVEN bound
      (manifest-recorded file bytes, a dimension table's metadata row
      count, Σ C(bucket, 2) arithmetic, an explicit cap). Fits the
      budget → broadcast, no job spent deciding.
    - bound given but over budget → NO hint (shuffle joins): a proven
      bound that is too big is evidence the relation may be too big,
      and shuffle is always correct. Pass `probe_on_unbounded=True`
      when the bound is loose enough that measuring is worth one
      early-terminating `limit(max_rows+1).count()` probe (which costs
      one extra computation of the relation's lineage — callers on hot
      paths should persist `rel` themselves first, as
      `verify_candidates` documents).
    - no bound at all → the limit-probe decides.

    Results are identical either way — only the physical join strategy
    moves, which the plan gates in tests/test_plans.py assert in both
    directions for the converted sites.
    """
    if broadcast_bound_fits(
        rel, bound_rows=bound_rows, bound_bytes=bound_bytes,
        max_rows=max_rows, max_bytes=max_bytes,
        probe_on_unbounded=probe_on_unbounded,
    ):
        return F.broadcast(rel)
    return rel


def broadcast_bound_fits(
    rel: DataFrame,
    *,
    bound_rows: int | None = None,
    bound_bytes: int | None = None,
    max_rows: int | None = None,
    max_bytes: int | None = None,
    probe_on_unbounded: bool = False,
) -> bool:
    """Decision half of `broadcast_if_bounded`, for callers that hint
    SEVERAL derived relations of the same bounded parent (e.g. the two
    renamed sides of a degree self-attach) — one decision, N hints.

    `max_rows`/`max_bytes` default (None) to the MODULE constants read
    at call time, so tests can monkeypatch the budgets to force either
    side of the decision without constructing giant fixtures."""
    if max_rows is None:
        max_rows = BROADCAST_MAX_ROWS
    if max_bytes is None:
        max_bytes = BROADCAST_MAX_BYTES
    if bound_bytes is not None:
        if bound_bytes <= max_bytes:
            return True
        if not probe_on_unbounded:
            return False
    elif bound_rows is not None:
        if bound_rows <= max_rows:
            return True
        if not probe_on_unbounded:
            return False
    return rel.limit(max_rows + 1).count() <= max_rows


def spread(
    df: DataFrame, parts: int | None = None, already_parallel: bool = False
) -> DataFrame:
    """Repartition to cluster parallelism before compute-heavy per-row work.

    A small parquet table arrives as one partition (one file <
    maxPartitionBytes), which serializes any expensive expression (minhash,
    simhash, Pandas UDFs) onto a single core. The round-robin shuffle of the
    raw rows is cheap relative to that compute; results are partitioning-
    independent.

    `already_parallel=True` is the production opt-out: pre-partitioned
    input skips the probe AND the shuffle entirely. Otherwise the decision
    uses `df.inputFiles()` — a metadata-only listing (never an RDD
    conversion, which rebuilds the plan as RDD lineage and is the kind of
    probe that costs real time on a wide plan): a scan backed by >= `parts`
    files already fans out across the cluster, so the extra shuffle of raw
    rows would be pure waste. Apply spread() at the scan stage — a
    post-shuffle plan reports its source files, not its current
    partitioning, and doesn't need spreading anyway."""
    if already_parallel:
        return df
    n = parts or df.sparkSession.sparkContext.defaultParallelism
    try:
        if len(df.inputFiles()) >= n:
            return df
    except Exception:
        pass  # un-probeable plan (e.g. streaming) → repartition as before
    return df.repartition(n)


def latest_per_key(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    tie_breakers: Sequence[str] = (),
    desc: bool = True,
) -> DataFrame:
    """Latest-record-per-group dedup — the signature query of the reference
    (`ROW_NUMBER() OVER (PARTITION BY source_name ORDER BY created_at DESC)
    … WHERE rn = 1`, reference utlis/etl_manager.py:228-237; also replaces
    the correlated `MAX(created_at)` subqueries at :77-88).

    One shuffle on `keys`; at scale this is the right plan (no join back).
    `tie_breakers` make the pick deterministic when `order_col` ties.
    """
    ordering = [F.col(order_col).desc() if desc else F.col(order_col).asc()]
    ordering += [F.col(t).desc() if desc else F.col(t).asc() for t in tie_breakers]
    w = Window.partitionBy(*keys).orderBy(*ordering)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def anti_new(
    source: DataFrame,
    target: DataFrame,
    keys: Sequence[str],
    broadcast_right: bool = True,
) -> DataFrame:
    """Rows in `source` whose key is absent from `target` — the reference's
    `LEFT JOIN … WHERE t.k IS NULL` new-row detection
    (utlis/etl_manager.py:783-786 et al.), as a left-anti join (no NULL
    post-filter, no wide join output). Duplicate keys on the right change
    nothing, so the right side is deduped only to shrink a broadcast:
    without one, a `distinct` would be an extra aggregation over the whole
    target (a hub or link) on every load."""
    right = target.select(*keys)
    if broadcast_right:
        right = right.distinct()
    return source.join(
        _maybe_broadcast(right, broadcast_right), on=list(keys), how="left_anti"
    )


def anti_retired(
    source: DataFrame,
    target: DataFrame,
    keys: Sequence[str],
    broadcast_right: bool = True,
) -> DataFrame:
    """Rows in `target` whose key no longer appears in `source` — the
    reference's `RIGHT JOIN … WHERE s.k IS NULL` retirement detection
    (utlis/etl_manager.py:1020-1022): just the anti-join with sides
    swapped."""
    return anti_new(target, source, keys, broadcast_right)


def semi_restrict(
    df: DataFrame,
    keys_df: DataFrame,
    keys: Sequence[str],
    broadcast_right: bool = True,
) -> DataFrame:
    """`WHERE (k1, k2) IN (SELECT …)` composite-tuple semi-join
    (utlis/etl_manager.py:986-1023)."""
    return df.join(
        _maybe_broadcast(keys_df.select(*keys).distinct(), broadcast_right),
        on=list(keys),
        how="left_semi",
    )


def first_by(
    df: DataFrame,
    order_cols: Sequence[str],
    desc: bool = False,
) -> DataFrame:
    """`ORDER BY … LIMIT 1` top-1 pick (next-etl-date query,
    utlis/etl_manager.py:48-53). `order_cols` should be a total order for
    determinism. Spark implements this as a TakeOrderedAndProject —
    no global sort materialization."""
    ordering = [F.col(c).desc() if desc else F.col(c).asc() for c in order_cols]
    return df.orderBy(*ordering).limit(1)


def topk_per_group(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    k: int,
    tie_breakers: Sequence[str] = (),
    desc: bool = True,
    tie_desc: bool = False,
) -> DataFrame:
    """Top-K per group via row_number ≤ K (the classic per-segment
    leaderboard pattern). Adds a `rank` column.

    NOTE: tie_breakers default ASCENDING (leaderboard convention: ties break
    to the smaller id) — latest_per_key applies `desc` to its tie-breakers
    instead (ledger convention: ties break to the later run). Pass
    `tie_desc=True` for latest_per_key-compatible picking."""
    ordering = [F.col(order_col).desc() if desc else F.col(order_col).asc()]
    ordering += [F.col(t).desc() if tie_desc else F.col(t).asc() for t in tie_breakers]
    w = Window.partitionBy(*keys).orderBy(*ordering)
    return df.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def literal_table(spark, values: Sequence, schema: str) -> DataFrame:
    """`UNNEST(ARRAY[...]) AS t(c)` — a literal list as a relation
    (utlis/etl_manager.py:620-625). `values` is a list of tuples (or
    scalars for a 1-column schema)."""
    rows = [v if isinstance(v, tuple) else (v,) for v in values]
    return spark.createDataFrame(rows, schema)


def zip_literal_table(
    spark, columns: dict[str, Sequence], schema: str | None = None
) -> DataFrame:
    """`UNNEST(zip(ARRAY a, ARRAY b)) AS t(a, b)` — parallel literal lists as
    a relation (utlis/etl_manager.py:693-701). Columns default to string
    (the reference's literal lists are varchar); pass `schema` for typed
    lists."""
    names = list(columns)
    rows = list(zip(*[columns[n] for n in names]))
    return spark.createDataFrame(
        rows, schema or ", ".join(f"{n} string" for n in names)
    )


def bool_rollup(
    df: DataFrame,
    keys: Sequence[str],
    all_conds: dict[str, Column] | None = None,
    any_conds: dict[str, Column] | None = None,
) -> DataFrame:
    """Grouped ALL(cond) / ANY(cond) reductions — the reference computes
    these driver-side over fetched rows (`all(status in (…))`,
    utlis/etl_manager.py:189,245); distributed here as min/max over 0/1.
    Output columns are int 0/1 for portability."""
    aggs = []
    for name, cond in (all_conds or {}).items():
        aggs.append(F.min(cond.cast("int")).alias(name))
    for name, cond in (any_conds or {}).items():
        aggs.append(F.max(cond.cast("int")).alias(name))
    return df.groupBy(*keys).agg(*aggs)


def funnel_steps(
    events: DataFrame,
    steps: Sequence[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    max_gap_s: float | None = None,
) -> DataFrame:
    """Ordered-funnel analysis: how many users performed step 1, then
    step 2 strictly AFTER their first step-1 event, then step 3 after
    that, ... (the product-analytics funnel; each user's progress is
    timed from their EARLIEST qualifying event per step, the standard
    "first conversion" rule).

    Returns (step_idx, step, n_users), one row per step.

    `max_gap_s` bounds each step-to-step hop: step k+1 must land within
    that many seconds of the user's step-k conversion (the "click within
    an hour of the view" windowed funnel; comparisons run on epoch
    seconds, dialect-portable). None = unbounded.

    Scale shape: per step, one grouped min-ts aggregate plus one
    equi-join on the user key — shuffles only on the natural user key,
    |steps| passes over the (pre-filtered) event subsets, no windows
    over the full stream and no driver-side state. At 100 TB the event
    scan prunes to the step's type partition first."""
    prev: DataFrame | None = None
    per_step: list[DataFrame] = []
    for i, step in enumerate(steps):
        ev = events.where(F.col(type_col) == step).select(
            F.col(user_col).alias("u"), F.col(ts_col).alias("t")
        )
        if prev is None:
            cur = ev.groupBy("u").agg(F.min("t").alias("t_reach"))
        else:
            cond = F.col("t") > F.col("t_prev")
            if max_gap_s is not None:
                cond = cond & (
                    F.unix_timestamp("t") - F.unix_timestamp("t_prev")
                    <= F.lit(max_gap_s)
                )
            cur = (
                ev.join(prev.select("u", "t_reach").withColumnRenamed(
                    "t_reach", "t_prev"), "u")
                .where(cond)
                .groupBy("u")
                .agg(F.min("t").alias("t_reach"))
            )
        per_step.append(
            cur.agg(F.count(F.lit(1)).cast("long").alias("n_users")).select(
                F.lit(i).cast("int").alias("step_idx"),
                F.lit(step).alias("step"),
                "n_users",
            )
        )
        prev = cur
    out = per_step[0]
    for d in per_step[1:]:
        out = out.unionByName(d)
    return out
