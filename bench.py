"""Benchmark harness: runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query executes through Spark's `noop` sink: every output column is
fully evaluated but nothing serializes to the driver or disk. (A count()
action would let Catalyst PRUNE the output projections — projection-heavy
queries then time only their scan; learned from the r3 scaling sweep.)
"""

from __future__ import annotations

import json
import os
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from airflow_etl_spark import get_spark  # noqa: E402
from airflow_etl_spark import queries as Q  # noqa: E402

#: Headline set: the flagship agg, the heavy joins/windows, and the
#: scale-critical extension operators.
HEADLINE = [
    "q1_pricing_summary",
    "j1_join_inner",
    "j2_join_composite",
    "w1_latest_per_key",
    "o3_topk_per_group",
    "a2_count_distinct",
    "s13_merge_upsert",
    "scd2_compress",
    "dedup_exact",
    "dedup_minhash_sigs",
    "dedup_lsh_pairs",
    "sim_cosine_topk",
    "sim_lsh_topk",
    "sim_ivf_topk",
    "asof_prev_click",
    "range_join_bands",
    "text_quality",
    "text_lang_id",
]

#: Extended set (r3 corpus-assembly family): timed and reported separately
#: so the headline total stays comparable across rounds.
EXTENDED = [
    "corpus_split",
    "corpus_pack",
    "corpus_ngram_contamination",
    "drift_absorb",
    # r3 retrieval / incremental-dedup / MoR / tokenizer additions
    "text_tfidf_topk",
    "text_bm25",
    "text_lm_score",
    "text_repetition",
    "dedup_incremental",
    "s12_mor_delete",
    "bpe_token_stats",
    "w4_moving_avg",
    # r4: PQ ANN + corpus end-to-end (the sf1-sweep watchlist)
    "sim_pq_topk",
    "corpus_quality_gate",
    "corpus_training_set",
    # r4 data-curation additions: classifier serving, DSIR selection,
    # repeated-span profiling. (dedup_semantic is excluded like
    # dedup_clusters: its connected-components step is an eager
    # multi-job iteration, so wall-clock measures driver job latency,
    # not data-path throughput.)
    "text_quality_classifier",
    "corpus_dsir_weights",
    "corpus_span_dedup",
    # r4 training-stream assembly: shard shuffle + epoch upsampling
    "corpus_global_shuffle",
    "corpus_epoch_plan",
    "corpus_epoch_stream",
    "corpus_token_budget",
    # r5: batched BPE (64 merges in 4 waves — the production-vocab path),
    # IVF-PQ composed ANN, content-defined chunking
    "bpe_batched_stats",
    "sim_ivf_pq_topk",
    "text_chunk_cdc",
    # r7: hybrid retrieval fusion, exact k-medoids clustering, LSH
    # candidate verification, capped co-purchase projection, sampled BPE
    "retrieval_hybrid_rrf",
    "sim_kmedoids_clusters",
    "dedup_lsh_verified",
    "graph_copurchase_capped",
    "bpe_sampled_stats",
    "drift_value_psi",
    "diag_heavy_hitters",
    "corpus_weighted_sample",
    # r7 session 3: sketch family (HLL distinct, CMS frequency, bloom
    # pre-filter) + time-range window frame. (graph_components is
    # excluded like dedup_clusters: iterative multi-job driver latency.)
    "sketch_hll_users",
    "sketch_cms_user_freq",
    "j9_bloom_prefilter",
    "w7_range_frame",
    "sketch_kmv_overlap",
    "dedup_containment_pairs",
    "sim_ivf_range",
    "f12_zorder_key",
    "diag_column_profile",
    "sketch_hist_quantiles",
    "j10_interval_overlap",
    "ivm_orders_rollup",
    "mm_phash_dedup",
    "diag_event_pattern",
    "w9_gap_fill",
    "diag_cohort_retention",
    "sketch_join_size",
    "stream_ivm_sink",
    "dedup_set_sim_exact",
    "ivm_join_rollup",
    "t5_pivot_wide",
    "w10_ntile_deciles",
    "cat_result_cache",
    "ivm_two_table_join",
    "text_trigram_search",
    "corpus_export_jsonl",
    "text_html_extract",
    "s1_zorder_scan",
    "a8_rollup",
    "graph_neighbor_jaccard",
    "recon_bucket_diff",
    "s12_cascade_erasure",
    "text_phrase_search",
    "diag_trend_slope",
    "diag_corr_matrix",
    "feat_target_encode",
    "er_blocked_match",
    "ts_resample_ohlc",
    "w11_ewma",
    "cat_schema_evolution",
    "w12_attribution",
    "stream_ohlc_bars",
    "corpus_kfold_split",
    "j12_asof_tolerance",
    "feat_woe_bins",
    "w13_rolling_hll_distinct",
    "sim_ann_recall_eval",
    "s13_merge_full",
    "s1_bloom_point_scan",
    "mm_phash_hamming_pairs",
    "text_keyword_rake",
    "diag_seasonal_anomaly",
    "emb_truncated_recall",
    "graph_resource_allocation",
    "diag_gini_concentration",
    "feat_rfm_scores",
    "corpus_length_buckets",
    "a10_hash_sampled_agg",
    "dq_benford_digits",
    "cat_wap_publish",
    "dq_near_duplicate_facts",
    "w14_longest_streak",
    "emb_centroid_drift",
    "o4_keyset_pagination",
    "dv_bridge_customer_order",
    "a11_group_mode",
    "mm_channel_stats",
    "text_zipf_octaves",
    "t6_unpivot_long",
    "j16_null_aware_anti",
    "w15_accumulating_snapshot",
    "corpus_recency_weights",
    # r8: IVM with non-invertible MIN/MAX (touch-rule re-aggregate).
    # (mm_decode_jpeg_progressive is excluded like mm_decode_jpeg/png:
    # wall-clock there measures the pure-Python codec, not the engine.)
    "ivm_minmax_rollup",
    # r8: TPC-H Q3/Q5 shapes, grouping sets, ties top-k, exact ppm
    # distribution windows, blocklist decontamination, hard negatives,
    # Holt trend fold, KMV set difference
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "a12_grouping_sets",
    "o5_topk_with_ties",
    "w16_cume_dist",
    "corpus_domain_blocklist",
    "emb_hard_negatives",
    "ts_holt_trend",
    "sketch_kmv_difference",
    # r8: TPC-H Q7/Q10 shapes, FK-integrity audit. (graph_bfs_distances
    # is excluded like graph_components: iterative localCheckpoint
    # hops measure driver job latency, not data-path throughput.)
    "q7_nation_volume",
    "q10_returned_items",
    "dq_referential_integrity",
    # r8: exact group median, gaps-and-islands, CUSUM change point.
    # (cat_branch_merge / stream_ivm_minmax excluded like the ivm
    # harness queries: wall-clock is txn-harness driver latency.)
    "a13_group_median2x",
    "w17_interval_islands",
    "diag_change_point",
    "dq_freshness_sla",
    "feat_hash_cross",
    "dedup_url_canonical",
    "text_readability",
    "corpus_rlhf_pairs",
    "bpe_roundtrip_check",
    "emb_dim_variance",
    "graph_degree_octaves",
    "o6_skyline_pareto",
    "eval_annotator_kappa",
    "emb_centroid_classifier",
    # (dedup_lsh_recall_eval excluded: its ground truth is the honest
    # all-pairs intersect — an eval you run once, not a benchmark lane;
    # j22_dpp / s1_layout_quality / stream_dlq_split excluded as
    # tmp-table harness queries.)
    # r9: ACF, calibration audit, fact-grain deciles + exact global
    # percentiles (both via rank.zone_rank), PK-uniqueness audit, exact
    # third-moment skewness. (ivm_join_minmax excluded like the other
    # ivm/txn harness queries — wall-clock is txn-harness driver
    # latency.)
    # r10: (ivm_chain3_minmax excluded like ivm_join_minmax — the 3-table
    # chain harness is txn-driver latency, not data wall-clock.)
    "ts_autocorr",
    "eval_calibration_bins",
    "feat_global_deciles",
    "a14_percentile_disc_global",
    "dq_uniqueness_audit",
    "diag_group_skewness",
    "ts_downsample_m4",
    "ts_downsample_lttb",
    # (cat_time_travel_asof excluded as a txn-harness query.)
    # r9: the TPC-H classics that need no partsupp — scan-agg pushdown
    # (q6), EXISTS (q4), conditional counts (q12), promo share (q14),
    # aggregate-then-join (q18), disjunctive predicates (q19), the
    # EXISTS/NOT-EXISTS double correlation (q21)
    "q4_priority_exists",
    "q6_forecast_revenue",
    "q12_late_priority_class",
    "q14_promo_effect",
    "q18_large_volume_customer",
    "q19_disjunctive_revenue",
    "q21_waiting_supplier",
    # r9 session-2 additions: the TPC-H completion (incl. the synthesized-
    # partsupp five), eval/assoc/SAX/KN/GIF operators, positional dedup
    "q8_market_share",
    "q13_order_distribution",
    "q15_top_supplier",
    "q17_small_quantity_revenue",
    "q22_dormant_customers",
    "q2_min_cost_supplier",
    "q9_product_profit",
    "q11_important_stock",
    "q16_supplier_relationship",
    "q20_excess_stock_suppliers",
    "eval_rank_metrics",
    "assoc_basket_rules",
    "ts_sax_symbols",
    "mm_decode_gif",
    "text_kneser_ney_bigram",
    "graph_harmonic_2hop",
    "s12_positional_dedup",
    "eval_langid_confusion",
    "diag_runs_test",
    "mm_resize_bilinear",
    "stream_positional_dedup",
    "mm_audio_resample",
    "w19_rolling_median",
    "corpus_rule_ablation",
    "emb_top_pc_power",
    "emb_margin_uncertainty",
    "scd2_type6",
    "a16_weighted_median_global",
    "retrieval_prf_expansion",
    "w21_yoy_growth",
    "graph_degree_assortativity",
]

#: Executions per query. 3 since r5: min-of-2 let 10-20% host noise
#: through (the r4 j2/ngram "regressions" sat inside it); min-of-3 with
#: a reported spread makes round-over-round deltas legible.
N_RUNS = 3

#: Round-1-equivalent reference for the pure-JVM canary (VERDICT r9 #6:
#: the q1 canary — a real parquet scan+agg — swung 1.9→2.9 within one
#: day and is the largest cross-round noise source). Anchored
#: TRANSITIVELY to the round-1 host scale from one idle r10 joint
#: measurement: q1 canary_ratio 1.975 and jvm median 0.1493 s on the
#: same session ⇒ ref = 0.1493 / 1.975. Both normalizations are
#: reported side by side for ≥1 round before any switch.
JVM_CANARY_REF_S = 0.0756


def _jvm_canary(spark) -> float:
    """Plan-free host-speed probe: a fixed xxhash64 fold over
    spark.range — no parquet scan, no shuffle, no Python, one
    whole-stage-codegen stage. Runs 6×, drops the first (JIT), returns
    the median of the remaining 5."""
    runs = []
    for _ in range(6):
        t0 = time.perf_counter()
        spark.range(0, 20_000_000, 1, 8).selectExpr(
            "bit_xor(xxhash64(id, id * 7 + 3)) AS h"
        ).collect()
        runs.append(time.perf_counter() - t0)
    return sorted(runs[1:])[2]


def measure_lane(spark, fn, sf_dir: str, runs: int = N_RUNS) -> list[dict]:
    """THE lane timer: run registry lane `fn` `runs` times, each from a
    cleared cache and a freshly built plan written to the noop sink, and
    return one record per run: `wall_s` (build + execution), `build_s`
    (the `fn(spark, sf_dir)` call alone) and the Spark `jobs`, `stages`
    and `tasks` of that run, of which `build_jobs` ran during the build.
    The build runs under its own job group, so eager build-time jobs
    (schema inference, persist + count, collected constants) count too;
    stages are those that ran (shuffle reuse skips the rest)."""
    sc = spark.sparkContext
    out = []
    for _ in range(runs):
        # drop cached intermediates (the dedup family persists its
        # signature matrix): a later run must re-execute the FULL query
        # with only JIT warmth carried over, or `min` would measure
        # cache reads instead of the query
        spark.catalog.clearCache()
        group = f"lane-{uuid.uuid4().hex[:12]}"
        sc.setJobGroup(f"{group}-build", fn.__name__)
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        sc.setJobGroup(group, fn.__name__)
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        sc.setJobGroup(None, None)
        out.append({
            "wall_s": round(t2 - t0, 3), "build_s": round(t1 - t0, 3),
            **_group_counters(sc, f"{group}-build", group),
        })
    return out


def _group_counters(sc, build_group: str, group: str) -> dict[str, int]:
    # the status store is fed by the asynchronous listener bus: drain it
    # so the group's last stage completions are recorded before reading
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    build_jobs = tracker.getJobIdsForGroup(build_group)
    jobs = build_jobs + tracker.getJobIdsForGroup(group)
    # a stage reused by a later job is listed by both jobs: count it once
    stage_ids = {sid for jid in jobs for sid in tracker.getJobInfo(jid).stageIds}
    # a skipped stage ran no task; the status store evicts skipped stages
    # first, so its info may already be gone (None)
    ran = [
        si for si in map(tracker.getStageInfo, stage_ids)
        if si is not None and si.numCompletedTasks > 0
    ]
    return {
        "jobs": len(jobs), "build_jobs": len(build_jobs), "stages": len(ran),
        "tasks": sum(si.numTasks for si in ran),
    }


def _cpu_steal_snapshot() -> tuple[int, int] | None:
    """(steal_jiffies, total_jiffies) from /proc/stat, or None where
    unavailable. Hypervisor STEAL is the noise source neither canary
    sees directly (r12: on a stolen-CPU VM, single lanes showed one-off
    10-15 s readings — min-of-N absorbs short steal bursts but a burst
    spanning all N runs survives into the 'steady' number); the
    run-averaged steal share tells a reader how much to trust per-lane
    outliers in THIS run."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(x) for x in parts[1:11]]
        return vals[7], sum(vals)
    except (OSError, ValueError, IndexError):
        return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    steal0 = _cpu_steal_snapshot()
    spark = get_spark("airflow_etl_spark_bench", cpus=int(cpus),
                      shuffle_partitions=int(cpus))

    registry = Q.queries()
    timings: dict[str, float] = {}

    # warm the JVM + parquet footers once with a trivial action
    registry["q1_pricing_summary"](spark, sf_dir).count()

    # Two timed executions per query, each a freshly-built plan. The
    # headline number is the per-query MIN (steady state): the first
    # execution carries JVM JIT compilation of the generated stage code,
    # which on this host fluctuates by seconds run-to-run and is
    # irrelevant at production scale where stages run for minutes. The
    # cold pass is reported alongside for transparency.
    cold: dict[str, float] = {}
    spread: dict[str, float] = {}
    for name in HEADLINE:
        per_run = [
            r["wall_s"] for r in measure_lane(spark, registry[name], sf_dir)
        ]
        cold[name] = per_run[0]
        timings[name] = min(per_run)
        spread[name] = round(
            (max(per_run[1:]) - min(per_run[1:])) / max(min(per_run[1:]), 1e-9),
            3,
        )
        print(
            f"# {name}: {timings[name]}s steady / {per_run[0]}s cold "
            f"/ warm spread {spread[name]:.0%}",
            file=sys.stderr,
        )

    extended: dict[str, float] = {}
    for name in EXTENDED:
        extended[name] = min(
            r["wall_s"] for r in measure_lane(spark, registry[name], sf_dir)
        )
        print(f"# [ext] {name}: {extended[name]}s steady", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # Host-speed normalization: q1 is a pure built-in scan+agg that never
    # changes between rounds, so its steady time divided by a stored
    # reference (0.334s, the round-1 measurement) estimates how fast THIS
    # host is relative to the round-1 box. Cross-round comparisons should
    # divide totals by canary_ratio first — round 2's raw numbers swung
    # ±90% purely on host CPU (BASELINE/VERDICT r2).
    canary_ref_s = 0.334
    canary_ratio = round(timings["q1_pricing_summary"] / canary_ref_s, 3)
    jvm_canary_s = round(_jvm_canary(spark), 4)
    jvm_canary_ratio = round(jvm_canary_s / JVM_CANARY_REF_S, 3)
    # Field ORDER matters (VERDICT r5 #7): the driver's capture truncates
    # the JSON line's tail, so the headline summary fields go FIRST —
    # value / normalized_total / canary_ratio / spread survive truncation;
    # the bulky per-query dicts trail. Full detail is also written to
    # BENCH_detail.json alongside, immune to line truncation.
    # r11 canary decision (VERDICT r10 #1, from two rounds of paired
    # data): normalized_total_jvm LEADS — the JVM canary's spread across
    # clean idle runs is 1.12-1.27 where q1's is 1.7-3.4. But the r11
    # pairing also showed the JVM canary's blind spot: on a host still
    # draining I/O/scheduler load it read 1.007 while every real lane
    # ran 1.38x slow (q1 read 3.41). Neither canary alone is sufficient:
    # canary_divergence (= q1 ratio / jvm ratio) measures exactly the
    # non-CPU contention the JVM canary can't see — ~1.5-2.0 on healthy
    # runs, 3.4 on the contaminated one. Divergence >= 2.5 means the
    # host state is bad: re-run on an idle box instead of normalizing.
    divergence = round(canary_ratio / max(jvm_canary_ratio, 1e-9), 3)
    steal1 = _cpu_steal_snapshot()
    steal_pct = None
    if steal0 is not None and steal1 is not None:
        d_total = steal1[1] - steal0[1]
        if d_total > 0:
            steal_pct = round(100.0 * (steal1[0] - steal0[0]) / d_total, 2)
    payload = {
        "metric": "headline_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "normalized_total_jvm": round(total / max(jvm_canary_ratio, 1e-9), 3),
        "jvm_canary_ratio": jvm_canary_ratio,
        "jvm_canary_s": jvm_canary_s,
        "jvm_canary_ref_s": JVM_CANARY_REF_S,
        "canary_divergence": divergence,
        "host_state": "ok" if divergence < 2.5 else "contaminated",
        # hypervisor steal share over the whole bench window (r12,
        # ADDITIVE field): >5-10% marks a VM whose per-lane outliers
        # are suspect even when both canaries read clean
        "cpu_steal_pct": steal_pct,
        "normalized_total": round(total / max(canary_ratio, 1e-9), 3),
        "canary_ratio": canary_ratio,
        "canary_ref_s": canary_ref_s,
        "cold_total": round(sum(cold.values()), 3),
        "extended_total": round(sum(extended.values()), 3),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "queries": timings,
        "spread_pct": spread,
        "cold_queries": cold,
        "extended_queries": extended,
        "methodology": "min of 3 fresh-plan executions per query through the noop sink (full column evaluation, no driver serialization; r3 change - count() pruned projections); cold pass reported alongside; spread_pct = warm-run (max-min)/min per query; HEADLINE normalizer since r11 = normalized_total_jvm (jvm_canary_ratio = plan-free xxhash64 fold median-of-5 / 0.0756s round-1-equivalent reference; spread 1.12-1.27 across clean runs vs q1's 1.7-3.4); q1 canary_ratio (q1 steady / 0.334s round-1 reference) stays as the I/O+scheduler sentinel: canary_divergence = canary_ratio/jvm_canary_ratio >= 2.5 marks host_state=contaminated (r11 paired runs: a draining host ran every lane 1.38x slow while the CPU-only jvm canary read 1.007 - such runs need a re-run, not normalization); summary fields lead the JSON line so driver tail-truncation keeps them (r5 change)",
    }
    here = os.path.dirname(os.path.abspath(__file__))
    try:
        with open(os.path.join(here, "BENCH_detail.json"), "w") as f:
            json.dump(payload, f, indent=1)
    except OSError:
        pass  # read-only checkout: the stdout line is still complete
    # Also snapshot per ROUND (VERDICT r6 #8) so round-over-round
    # per-query comparison never depends on the driver's truncated
    # capture: round number read from PROGRESS.jsonl's last line.
    try:
        with open(os.path.join(here, "PROGRESS.jsonl")) as f:
            lines = [ln for ln in f.read().splitlines() if ln.strip()]
        rnd = json.loads(lines[-1]).get("round")
        if rnd is not None:
            with open(
                os.path.join(here, f"BENCH_detail_r{int(rnd):02d}.json"),
                "w",
            ) as f:
                json.dump(payload, f, indent=1)
            # r13 (VERDICT r12 #6): ALSO snapshot per (round, cpus) so a
            # 32-core run's per-lane record survives the driver's 8-core
            # re-run (r12 lost its 32-core extended detail that way).
            # Additive: the legacy per-round file above is unchanged.
            with open(
                os.path.join(
                    here,
                    f"BENCH_detail_r{int(rnd):02d}_c{int(cpus):02d}.json",
                ),
                "w",
            ) as f:
                json.dump(payload, f, indent=1)
    except (OSError, ValueError, IndexError, KeyError):
        pass  # no progress log (standalone checkout): skip the snapshot
    # The driver's capture keeps the TAIL of long output (VERDICT r7 #2:
    # front-loading summary fields saved nothing once the detail line
    # grew past the cap — BENCH_r06/r07 both recorded "parsed": null).
    # So: full detail line first, then a compact summary-only line LAST —
    # whatever truncation happens, the final line survives intact and the
    # driver's JSON parse gets the headline numbers. Full per-extended-
    # query detail lives in BENCH_detail(_rNN).json either way.
    print(json.dumps(payload))
    summary = {
        "metric": payload["metric"],
        "value": payload["value"],
        "unit": "sec",
        "normalized_total_jvm": payload["normalized_total_jvm"],
        "jvm_canary_ratio": jvm_canary_ratio,
        "jvm_canary_s": jvm_canary_s,
        "canary_divergence": divergence,
        "host_state": payload["host_state"],
        "cpu_steal_pct": steal_pct,
        "normalized_total": payload["normalized_total"],
        "canary_ratio": canary_ratio,
        "canary_ref_s": canary_ref_s,
        "cold_total": payload["cold_total"],
        "extended_total": payload["extended_total"],
        "sf": payload["sf"],
        "queries": timings,
        "detail": "BENCH_detail.json",
    }
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
