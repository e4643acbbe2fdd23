"""Structured Streaming surface (extension; the reference is batch-only,
SURVEY.md §2.9 — its "stream" is the business-date queue).

Provides the streaming forms of the engine's aggregation patterns over the
`events` table: watermarked tumbling-window counts and a foreachBatch sink
hook. Local tests drive them with the parquet file source + a memory sink +
`processAllAvailable()` so a finite batch exercises the streaming plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..catalog import normalize_ts, raw_table


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (ts normalized to a
    microsecond timestamp whichever physical layout the file has)."""
    return read_table_stream(spark, sf_dir, "events")


def read_table_stream(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """File-source stream over any testdata table: the schema comes from
    the catalog's cache (driver-side metadata only) and events.ts gets
    the batch reader's normalization."""
    schema = raw_table(spark, sf_dir, name).schema
    # `[t]` makes the path a glob: the file-stream source then derives
    # basePath = the parent directory (a non-glob single-file path would
    # become its own basePath, which the source rejects)
    df = spark.readStream.schema(schema).parquet(f"{sf_dir}/{name}.parque[t]")
    return normalize_ts(df) if name == "events" else df


def windowed_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling-window count+sum per event_type. Late rows beyond
    the watermark drop — state stays bounded at scale."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sessionize_stream(
    events: DataFrame, gap: str = "4 hours", watermark: str = "1 day"
) -> DataFrame:
    """Stateful streaming sessionization via the built-in session window
    (gap-based, watermarked state eviction): per (user, session) event count
    and bounds. The batch twin is the lag+cumsum form in
    queries.w2_sessionization."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def enrich_with_dimension(
    stream: DataFrame, dim: DataFrame, on: str, how: str = "left"
) -> DataFrame:
    """Stream-static dimension enrichment: each micro-batch joins against
    the (broadcastable) static dimension — the canonical streaming lookup
    shape. Spark re-plans the static side per micro-batch, so a dimension
    re-read picks up slowly-changing updates; state stays empty (no
    stream-stream buffering)."""
    return stream.join(F.broadcast(dim), on, how)


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream interval join: each left event pairs with
    the right events sharing its key whose timestamp lands in
    [left_ts, left_ts + within] — the attribution join (view→click,
    impression→purchase) that stream-STATIC enrichment cannot express.

    Both sides carry watermarks AND the join condition bounds the time
    range, which is what lets Spark evict buffered state: a left row can
    stop waiting once the watermark passes its ts + within, a right row
    once it can no longer fall in any live window. Without the time bound
    the state store grows with the whole stream — the canonical
    stream-stream join mistake at scale. Columns are prefixed l_/r_ to
    keep the self-join case unambiguous."""
    l_cols = [F.col(c).alias(f"l_{c}") for c in left.columns]
    r_cols = [F.col(c).alias(f"r_{c}") for c in right.columns]
    lw = left.select(*l_cols).withWatermark(f"l_{left_ts}", watermark)
    rw = right.select(*r_cols).withWatermark(f"r_{right_ts}", watermark)
    cond = (
        (F.col(f"l_{key}") == F.col(f"r_{key}"))
        & (F.col(f"r_{right_ts}") >= F.col(f"l_{left_ts}"))
        & (
            F.col(f"r_{right_ts}")
            <= F.col(f"l_{left_ts}") + F.expr(f"INTERVAL {within}")
        )
    )
    return lw.join(rw, cond)


def running_user_totals(events: DataFrame, timeout: str = "NoTimeout") -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: running per-user
    event count + value sum carried in explicit state across micro-batches —
    the shape used when session_window/agg can't express the semantics.

    Default timeout is NoTimeout: with ProcessingTimeTimeout the trigger
    loop keeps scheduling state-expiry micro-batches, so a finite
    `processAllAvailable()` drive never drains."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    out_schema = "user_id long, n_events long, total_value double"
    state_schema = "n long, total double"

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 2)]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", timeout
    )


def run_to_completion(
    stream_df: DataFrame, query_name: str = "stream_out",
    output_mode: str = "complete",
) -> DataFrame:
    """Drive a finite streaming query to completion via a memory sink and
    return the materialized result as a batch DataFrame.

    The 'complete' default suits the aggregation queries in this module;
    stateful applyInPandasWithState queries (running_user_totals) only
    support 'update' — pass output_mode='update' for those."""
    spark = stream_df.sparkSession
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(query_name)


def write_stream_to_parquet(
    stream_df: DataFrame, path: str, checkpoint: str,
    query_name: str = "stream_sink",
) -> None:
    """Drive a stream into a parquet table via foreachBatch, with source
    progress tracked in the checkpoint: a completed drive re-processes
    nothing on re-run (the file source's committed offsets — tested).

    Delivery is AT-LEAST-ONCE across crashes: a failure after the append
    but before the offset commit replays the batch on restart. For strict
    exactly-once, make _write idempotent by batch_id (overwrite a
    batch-keyed partition, or skip batch ids recorded in a commit table) —
    plain append cannot give it. foreachBatch hands each micro-batch to the
    BATCH writer — the pattern that lets every batch operator in this
    engine double as a streaming sink step."""

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(path)

    q = (
        stream_df.writeStream.foreachBatch(_write)
        .option("checkpointLocation", checkpoint)
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def write_stream_exactly_once(
    stream_df: DataFrame, path: str, checkpoint: str,
    query_name: str = "stream_sink_eo",
) -> None:
    """Exactly-once parquet sink: each micro-batch lands in its own
    `batch_id=N` partition directory via OVERWRITE — a replayed batch
    (crash after write, before the source offset commit) rewrites the
    same partition with the same rows instead of appending duplicates.
    This is the standard idempotent-foreachBatch recipe; readers see the
    directory as an ordinary partitioned table (prune or drop `batch_id`
    as needed)."""

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{path}/batch_id={batch_id}")

    q = (
        stream_df.writeStream.foreachBatch(_write)
        .option("checkpointLocation", checkpoint)
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def write_stream_upsert_mor(
    stream_df: DataFrame, path: str, key_cols: list[str], checkpoint: str,
    query_name: str = "stream_sink_mor",
    auto_compact_deletes: int | None = None,
) -> None:
    """Streaming CDC-apply sink: each micro-batch merge-on-read upserts
    into the txn table (`txn.upsert_mor` — one atomic publish of the
    batch's rows + an equality delete of its keys, O(batch) written, no
    table rewrite). The batch operator doubles as the streaming sink via
    foreachBatch, and delivery is EFFECTIVELY EXACTLY-ONCE without a
    batch-id ledger: upserting the same rows again is a semantic no-op
    (the replay's delete removes the first attempt's rows and re-inserts
    identical ones), so a crash between the table commit and the source
    offset commit cannot duplicate or lose keys.

    This is the shape that keeps a continuously-updated 100 TB dimension
    current from a change stream: per-batch cost tracks the change rate,
    and routine compaction folds the accumulated delete files.
    `auto_compact_deletes=N` makes the sink self-healing: after a batch
    commits, if the table's delete-file count reached N, a compaction
    folds them inline (the Delta-style auto-compaction valve) — the
    steady state then never exceeds N read-side anti-joins even without
    the housekeeping DAG (`housekeeping.mor_maintenance_dag`, the
    scheduled alternative)."""
    from ..operators import maintenance
    from ..sources import txn

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if txn.table_exists(path):
            txn.upsert_mor(batch_df, path, key_cols)
        else:
            txn.commit(batch_df, path)
        if auto_compact_deletes is not None:
            maintenance.compact_if_delete_pressure(
                batch_df.sparkSession, path,
                max_delete_files=auto_compact_deletes,
                max_read_groups=auto_compact_deletes,
            )

    q = (
        stream_df.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def write_stream_catalog_txn(
    stream_df: DataFrame,
    catalog,
    routes: list[tuple[str, object, list[str]]],
    checkpoint: str,
    query_name: str = "stream_sink_catalog",
    ref: str = "main",
) -> None:
    """MULTI-TABLE streaming CDC apply with catalog atomicity: each
    micro-batch fans out to several tables (`routes`: (table_name,
    transform_fn, key_cols) — transform_fn(batch_df) -> the rows for
    that table), every table applies via merge-on-read upsert
    (txn.upsert_mor / commit on first write), and ALL of the batch's new
    table versions publish under ONE catalog pointer flip
    (sources/catalog_txn). Catalog readers therefore never see a
    micro-batch half-applied across tables — the multi-table
    exactly-once a per-table sink cannot give.

    Crash windows compose the two layers' guarantees: dying after some
    tables upserted but before the catalog flip leaves catalog readers
    on the parent pins for EVERY table; the restarted stream replays the
    batch from the checkpoint, each upsert_mor re-applies as a semantic
    no-op, and the catalog publishes once. Per-batch cost is O(batch)
    per route plus one catalog flip."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch_df = batch_df.persist()
        try:
            with catalog.transaction(ref=ref) as tx:
                for name, fn, key_cols in routes:
                    rows = fn(batch_df)
                    path = f"{catalog.warehouse}/{name}"
                    from ..sources import txn as _txn

                    if _txn.table_exists(path):
                        ver = _txn.upsert_mor(rows, path, key_cols)
                    else:
                        ver = _txn.commit(rows, path)
                    tx.stage(name, path, ver)
        finally:
            batch_df.unpersist()

    q = (
        stream_df.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def windowed_value_bins(
    events: DataFrame,
    edges: list[float],
    window: str = "1 day",
    watermark: str = "2 days",
) -> DataFrame:
    """Watermarked tumbling-window histogram of `value` against fixed bin
    edges — the streaming half of the PSI drift monitor (bin i = number
    of edges <= value, matching operators/drift.value_psi). One
    watermarked aggregate; state is (windows x bins)-bounded, and late
    rows beyond the watermark drop. Returns (window_start, bin, n)."""
    elit = F.array(*[F.lit(float(e)) for e in edges])
    v = F.col("value").cast("double")
    return (
        events.filter(v.isNotNull())
        .withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", window).alias("w"),
            F.size(F.filter(elit, lambda e: v >= e)).alias("bin"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(F.col("w.start").alias("window_start"), "bin", "n")
    )


def windowed_hll_registers(
    events: DataFrame,
    key_col: str = "user_id",
    window: str = "1 day",
    watermark: str = "2 days",
    salt: str = "hll-v1:",
) -> DataFrame:
    """Watermarked tumbling-window HLL register relation:
    (window_start, idx, r) with r = max leading-zero rank per register.
    This is the streaming reason-for-being of the sketch: an exact
    streaming count(distinct) would hold KEYS-sized state per window,
    while the register aggregate's state is bounded at windows x 64 rows
    no matter how many distinct keys arrive. Completed windows emit
    register rows that operators/sketch.hll_estimate_from_registers
    folds batch-side; register relations also merge across restarts and
    backfills (union + max — sketch.hll_merge)."""
    from ..operators.sketch import hll_register_cols

    idx, rho = hll_register_cols(key_col, salt)
    return (
        events.filter(F.col(key_col).isNotNull())
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), idx.alias("idx"))
        .agg(F.max(rho).alias("r"))
        .select(F.col("w.start").alias("window_start"), "idx", "r")
    )


def windowed_key_counts(
    events: DataFrame,
    key_col: str = "user_id",
    window: str = "1 day",
    watermark: str = "2 days",
) -> DataFrame:
    """Watermarked tumbling-window per-key event counts — the input
    relation for windowed top-k ranking (rank AFTER window close,
    batch-side: a rank inside the streaming agg would need complete
    mode's unbounded state). State is (windows x active keys)-bounded;
    late rows beyond the watermark drop."""
    return (
        events.filter(F.col(key_col).isNotNull())
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col(key_col))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(F.col("w.start").alias("window_start"), key_col, "n")
    )


def ivm_apply_batch(
    batch_df: DataFrame, batch_id: int, base_path: str, mv_path: str,
    keys: list[str], sums: dict[str, str],
    mins: dict[str, str] | None = None,
    maxs: dict[str, str] | None = None,
) -> None:
    """One micro-batch of the continuous-aggregate sink. The batch lands
    as its OWN partition of the base txn table via copy-on-write
    partition replacement — a replayed batch (crash between write and
    offset commit) overwrites its own partition instead of appending
    duplicates, the same idempotency recipe as write_stream_exactly_once
    but on a versioned table. The materialized view then advances with
    matview.refresh, which records the base version it reflects: a fresh
    batch is an append-only manifest change (delta-files-only fast
    path); a replayed batch swaps files and takes the differential path,
    retracting the old partition's rows and re-adding the new — correct
    either way, and a refresh that finds itself current is a noop. Split
    out module-level so crash/replay tests can drive batches directly."""
    from ..operators import matview
    from ..sources import txn

    spark = batch_df.sparkSession
    staged = batch_df.withColumn(
        "__batch", F.lit(str(int(batch_id)))
    )
    txn.replace_partitions(staged, base_path, "__batch")
    fs = txn._fs_for(mv_path)
    if fs.read_text(matview._state_path(mv_path)):
        matview.refresh(spark, mv_path)
    else:
        matview.create(
            spark, base_path, mv_path, keys, sums, mins=mins, maxs=maxs
        )


def write_stream_ivm(
    stream_df: DataFrame, base_path: str, mv_path: str,
    keys: list[str], sums: dict[str, str], checkpoint: str,
    query_name: str = "stream_ivm",
    mins: dict[str, str] | None = None,
    maxs: dict[str, str] | None = None,
) -> None:
    """Continuous aggregate: stream -> versioned base table ->
    incrementally-maintained roll-up, advanced once per micro-batch.
    Streaming state is ZERO (the aggregation lives in the view's
    persisted partials, not in streaming state), and each refresh costs
    O(batch), not O(history) — the TimescaleDB continuous-aggregate /
    Delta Live Tables shape on this repo's txn layer. ``mins``/``maxs``
    ride matview's two-speed rule (r8): fresh batches merge extremes
    via least/greatest on the append fast path; a REPLAYED batch swaps
    its partition's files, takes the differential path, and
    re-aggregates only the groups whose extremes the retraction
    touched."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        ivm_apply_batch(
            batch_df, batch_id, base_path, mv_path, keys, sums,
            mins=mins, maxs=maxs,
        )

    q = (
        stream_df.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def windowed_ohlc(
    events: DataFrame, window: str = "1 day", watermark: str = "2 days"
) -> DataFrame:
    """Watermarked tumbling-window OHLC bars per event_type — the
    streaming face of operators/timeseries.resample_ohlc, same
    semantics: open/close by min_by/max_by over the portable
    (micros, event_id) total-order key, values in exact cents. Because
    every component (min_by/max_by/min/max/count/sum) is a combinable
    aggregate, streaming state is ONE partial bar per live window per
    key — bounded by the watermark horizon, independent of event rate;
    a row_number-based open/close would need the whole window buffered.
    Driven to completion the bars equal the batch rollup bit-for-bit
    (the oracle runs the batch SQL)."""
    from ..operators.timeseries import order_key

    k = order_key(F.unix_micros(F.col("ts")), F.col("event_id"))
    v = F.floor(F.col("value") * 100 + 0.5).cast("long")
    return (
        events.withWatermark("ts", watermark)
        .select("ts", "event_type", v.alias("__v"), k.alias("__k"))
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.min_by("__v", "__k").alias("open_v"),
            F.max("__v").alias("high_v"),
            F.min("__v").alias("low_v"),
            F.max_by("__v", "__k").alias("close_v"),
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("__v").cast("long").alias("sum_v"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss")
            .alias("bucket_start"),
            "event_type", "open_v", "high_v", "low_v", "close_v", "n",
            "sum_v",
        )
    )
