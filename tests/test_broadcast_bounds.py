"""Broadcast-bound lint (r12, VERDICT r11 #1 — the sf100 lesson as a gate).

The r11 sf100 probe proved the failure class: a FORCED `F.broadcast` of a
relation that grows with the corpus is optimal at every tested scale and a
`spark.driver.maxResultSize` crash one decade up (`verify_candidates`).
The corpus-growing sites have been converted to the adaptive
`core.broadcast_if_bounded` pattern (proven bound or limit-probe); this
lint pins the survivors: EVERY remaining forced-broadcast site must carry
a stated bound in the allowlist below, keyed by (file, enclosing
function). A new `F.broadcast` call anywhere in the package fails this
test until its bound is classified here — which is exactly the review
moment the r11 crash never got.

Classes:
- SCALAR   1-row (or few-row) aggregate / threshold — size free of scale
- CONST    literal tables, fixed grids, salt ranges — compile-time size
- DIM      catalog-bounded domain (nation/region/brands/languages/bins)
- CAP      explicitly capped (``_hash_capped``, top-k, sketch registers,
           Misra-Gries candidates, per-query probes)
- VOCAB    vocabulary-sized (Heaps-sublinear in the corpus): correct to
           very large corpora, but web-scale deployments should cap —
           each entry states the term domain
- USER     user-dimension-sized: grows with the USER base, not data
           volume; the watch-list for the next adaptive conversion
- GATE     caller-gated (an explicit ``broadcast=`` style flag or a
           documented API contract that the side is control-plane sized)
- ADAPTIVE the adaptive helpers themselves (bound-or-probe)

The single-reducer-window allowlist in test_plans.py is the template.
"""

from __future__ import annotations

import ast
import pathlib

import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "airflow_etl_spark"

#: key -> (class, stated bound). Keep alphabetical per file for diffability.
ALLOWLIST: dict[str, tuple[str, str]] = {
    "metavault.py::hash_key_relationships":
        ("DIM", "yaml model-registry column metadata (models x columns)"),
    "metavault.py::satellite_attribute_changes":
        ("DIM", "satellite attribute-name metadata (registry-sized)"),
    "metavault.py::sync_relationship_link":
        ("DIM", "yaml-declared relationship pairs (registry-sized)"),
    "operators/bpe.py::bpe_encode":
        ("CONST", "BPE vocab = alphabet + n_merges entries"),
    "operators/checks.py::heavy_hitters":
        ("CAP", "Misra-Gries candidates <= k x partitions; 1-row total"),
    "operators/core.py::_maybe_broadcast":
        ("GATE", "caller flag; API contract: control-plane sized side"),
    "operators/core.py::broadcast_if_bounded":
        ("ADAPTIVE", "proven bound or limit-probe <= BROADCAST_MAX_ROWS"),
    "operators/corpus.py::assign_global_ids":
        ("CONST", "per-shard offsets (n_shards rows)"),
    "operators/corpus.py::curriculum_order":
        ("CONST", "band thresholds (n_bands - 1 rows)"),
    "operators/corpus.py::dsir_weights":
        ("CONST", "1-row totals/threshold; hashed-feature grid (2^b)"),
    "operators/corpus.py::token_budget_by_domain":
        ("CAP", "score buckets gated by max_score_buckets (runtime "
                "ValueError past it); per-domain budgets (domain dim)"),
    "operators/corpus.py::token_budget_select":
        ("CAP", "score buckets gated by max_score_buckets (runtime "
                "ValueError past it)"),
    "operators/drift.py::bin_shares":
        ("SCALAR", "1-row total"),
    "operators/drift.py::windowed_psi":
        ("CONST", "reference shares: |edges| + 1 bins"),
    "operators/graph.py::triangle_count":
        ("SCALAR", "two 1-row count aggregates"),
    "operators/joins.py::asof_join":
        ("CONST", "range(salt) literal (salt rows)"),
    "operators/joins.py::range_join_bucketed":
        ("GATE", "ranges side; documented contract: interval dimension "
                 "(calendar/SLA windows), never fact-grain"),
    "operators/joins.py::salted_join":
        ("CONST", "range(salt) literal (salt rows)"),
    "operators/matview.py::_ns_join":
        ("GATE", "bcast flag; IVM callers pass delta-sized sides"),
    "operators/merge.py::merge_full":
        ("GATE", "broadcast_source flag (delta-sized upsert batches)"),
    "operators/merge.py::upsert":
        ("GATE", "broadcast_source flag (delta-sized upsert batches)"),
    "operators/rank.py::zone_cumsum":
        ("CONST", "per-zone offsets (n_zones rows)"),
    "operators/rank.py::zone_rank":
        ("CONST", "per-zone offsets (n_zones rows)"),
    "operators/recon.py::reconcile":
        ("CONST", "differing buckets <= RECON_BUCKETS"),
    "operators/retrieval.py::bigram_lm_score":
        ("VOCAB", "observed corpus bigrams/unigrams (Heaps-sublinear; "
                  "1-row vocab size); ngram_bound= makes it adaptive"),
    "operators/retrieval.py::bm25_search":
        ("CAP", "df relation is POST-query-filter: <= |query_terms| "
                "rows; + 1-row stats"),
    "operators/retrieval.py::phrase_search":
        ("CAP", "per-query-token offsets (|query| rows)"),
    "operators/retrieval.py::tfidf_topk":
        ("VOCAB", "per-term document frequencies + 1-row n_docs; "
                  "vocab_bound= makes it adaptive"),
    "operators/similarity.py::cosine_topk":
        ("GATE", "query side; documented contract: queries << corpus"),
    "operators/similarity.py::ivf_pq_topk":
        ("GATE", "query probes (queries x nprobe; queries << corpus)"),
    "operators/similarity.py::ivf_probe":
        ("GATE", "query probes (queries x nprobe)"),
    "operators/similarity.py::ivf_range":
        ("GATE", "query probes (queries x nprobe)"),
    "operators/similarity.py::kmedoids_assign":
        ("CAP", "k medoid rows"),
    "operators/similarity.py::lsh_bucket_topk":
        ("GATE", "query-side bucket keys (queries << corpus)"),
    "operators/similarity.py::pq_topk":
        ("GATE", "query side with LUTs (queries << corpus)"),
    "operators/sketch.py::bloom_probe":
        ("CONST", "1-row bitset (BLOOM_M bits)"),
    "operators/sketch.py::cms_estimate":
        ("CONST", "CMS grid (depth x width)"),
    "operators/sketch.py::cms_join_size":
        ("CONST", "CMS grid (depth x width)"),
    "operators/sketch.py::kmv_difference":
        ("CAP", "1-row theta; KMV sketches <= k rows"),
    "operators/sketch.py::kmv_overlap":
        ("SCALAR", "1-row theta"),
    "operators/stats.py::woe_bins":
        ("SCALAR", "1-row min/max; 1-row totals"),
    "operators/text.py::drop_boilerplate_lines":
        ("CAP", "frequent lines <= avg_lines_per_doc / frac by "
                "pigeonhole (corpus-size-free)"),
    "operators/text.py::rake_keywords":
        ("VOCAB", "candidate-word degree/freq stats (Heaps-sublinear); "
                  "vocab_bound= makes it adaptive"),
    "queries.py::_hash_capped":
        ("SCALAR", "1-row ppm threshold"),
    "queries.py::_partsupp":
        ("SCALAR", "1-row supplier count"),
    "queries.py::a14_percentile_disc_global":
        ("SCALAR", "1-row total + 3-row percentile literal"),
    "queries.py::a16_weighted_median_global":
        ("SCALAR", "1-row total"),
    "queries.py::assoc_basket_rules":
        ("DIM", "1-row basket total; per-brand supports (brand domain)"),
    "queries.py::corpus_domain_blocklist":
        ("CONST", "literal blocklist"),
    "queries.py::corpus_kfold_split":
        ("SCALAR", "1-row straddle count"),
    "queries.py::corpus_lm_contamination":
        ("SCALAR", "1-row threshold"),
    "queries.py::corpus_lm_percentile_filter":
        ("SCALAR", "1-row percentile threshold"),
    "queries.py::corpus_recency_weights":
        ("SCALAR", "1-row total"),
    "queries.py::dedup_embedding_neardup":
        ("CAP", "_hash_capped query side"),
    "queries.py::dedup_lsh_recall_eval":
        ("CONST", "2-row threshold literal (pair sides are adaptive)"),
    "queries.py::diag_group_skewness":
        ("DIM", "per-priority anchors (priority domain)"),
    "queries.py::diag_key_skew":
        ("SCALAR", "1-row total"),
    "queries.py::diag_runs_test":
        ("SCALAR", "1-row total"),
    "queries.py::diag_seasonal_anomaly":
        ("DIM", "training grid (event_type x dow)"),
    "queries.py::dq_benford_digits":
        ("CONST", "9-row digit expectation + 1-row total"),
    "queries.py::dq_freshness_sla":
        ("SCALAR", "1-row global max"),
    "queries.py::dq_referential_integrity.edge":
        ("GATE", "bcast flag per edge; enabled only for catalog dims"),
    "queries.py::emb_centroid_drift":
        ("SCALAR", "1-row centroid pair"),
    "queries.py::emb_hard_negatives":
        ("CAP", "_hash_capped anchor set (~40 rows)"),
    "queries.py::eval_annotator_kappa":
        ("SCALAR", "1-row marginals"),
    "queries.py::eval_calibration_bins":
        ("SCALAR", "1-row total"),
    "queries.py::eval_langid_confusion":
        ("DIM", "language-class relation"),
    "queries.py::eval_rank_metrics":
        ("CAP", "_hash_capped query set"),
    "queries.py::feat_global_deciles":
        ("SCALAR", "1-row total"),
    "queries.py::feat_rfm_scores":
        ("SCALAR", "1-row total"),
    "queries.py::j9_bloom_prefilter":
        ("SCALAR", "1-row bitset cardinality"),
    "queries.py::q10_returned_items":
        ("DIM", "nation (25 rows)"),
    "queries.py::q11_important_stock":
        ("DIM", "nation x region slice; 1-row (total, n_parts)"),
    "queries.py::q15_top_supplier":
        ("SCALAR", "1-row max revenue"),
    "queries.py::q20_excess_stock_suppliers":
        ("DIM", "nation x region slice (<= 25 rows)"),
    "queries.py::q22_dormant_customers":
        ("SCALAR", "1-row positive-balance average"),
    "queries.py::q2_min_cost_supplier":
        ("DIM", "nation x region slice (<= 25 rows)"),
    "queries.py::q5_local_supplier_volume":
        ("DIM", "region filter (5 rows) + nation join (25 rows)"),
    "queries.py::q7_nation_volume":
        ("DIM", "nation slice (2 rows)"),
    "queries.py::q8_market_share":
        ("DIM", "region/nation slices (<= 25 rows)"),
    "queries.py::q9_product_profit":
        ("DIM", "nation (25 rows)"),
    "queries.py::retrieval_prf_expansion":
        ("CAP", "top-k feedback docs (k rows); their terms' df stats"),
    "queries.py::sketch_hist_quantiles":
        ("SCALAR", "two 1-row scalars"),
    "queries.py::sketch_join_size":
        ("SCALAR", "1-row exact count"),
    "queries.py::text_kneser_ney_bigram":
        ("SCALAR", "1-row continuation total"),
    "queries.py::text_zipf_octaves":
        ("SCALAR", "1-row frequency total"),
    "queries.py::ts_sax_symbols":
        ("CONST", "SAX breakpoint literal per event type"),
    "queries.py::w13_rolling_hll_distinct":
        ("CONST", "trailing-day window relation (constant days)"),
    "queries.py::w21_yoy_growth":
        ("DIM", "per-month relation (calendar-bounded)"),
    "streaming/__init__.py::enrich_with_dimension":
        ("GATE", "caller-supplied dimension; documented contract"),
}

_CLASSES = {"SCALAR", "CONST", "DIM", "CAP", "VOCAB", "USER", "GATE",
            "ADAPTIVE"}


def _scan_sites() -> set[str]:
    sites: set[str] = set()
    for p in sorted(PKG.rglob("*.py")):
        if "__pycache__" in str(p):
            continue
        tree = ast.parse(p.read_text())
        spans: list[tuple[int, int, str]] = []

        class V(ast.NodeVisitor):
            def __init__(self) -> None:
                self.stack: list[str] = []

            def visit_FunctionDef(self, node):  # noqa: N802
                self.stack.append(node.name)
                spans.append(
                    (node.lineno, node.end_lineno, ".".join(self.stack))
                )
                self.generic_visit(node)
                self.stack.pop()

            visit_AsyncFunctionDef = visit_FunctionDef

        V().visit(tree)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "broadcast"
                and isinstance(node.func.value, ast.Name)
                and node.func.value.id == "F"
            ):
                best = None
                for s, e, name in spans:
                    if s <= node.lineno <= e and (best is None or s > best[0]):
                        best = (s, name)
                rel = p.relative_to(PKG).as_posix()
                sites.add(f"{rel}::{best[1] if best else '<module>'}")
    return sites


def test_every_forced_broadcast_states_its_bound():
    sites = _scan_sites()
    missing = sorted(sites - set(ALLOWLIST))
    assert not missing, (
        "forced F.broadcast sites without a stated bound (add an "
        "ALLOWLIST entry with the size class and the bound, or convert "
        f"to core.broadcast_if_bounded): {missing}"
    )


def test_allowlist_has_no_stale_entries_and_valid_classes():
    sites = _scan_sites()
    stale = sorted(set(ALLOWLIST) - sites)
    assert not stale, f"ALLOWLIST entries with no matching site: {stale}"
    for k, (cls, bound) in ALLOWLIST.items():
        assert cls in _CLASSES, f"{k}: unknown class {cls!r}"
        assert bound.strip(), f"{k}: empty bound statement"


def test_corpus_growing_classes_are_bounded_in_count():
    """USER/VOCAB entries are the acknowledged watch-list — keep it
    shrinking, not growing: new corpus-coupled broadcasts should be
    born adaptive, not allowlisted."""
    watch = [k for k, (c, _) in ALLOWLIST.items() if c in ("USER", "VOCAB")]
    assert len(watch) <= 7, (
        f"watch-list grew to {len(watch)} — convert instead of adding: "
        f"{watch}"
    )


@pytest.mark.parametrize("helper", ["broadcast_if_bounded",
                                    "broadcast_bound_fits"])
def test_adaptive_helpers_exist(helper):
    from airflow_etl_spark.operators import core

    assert callable(getattr(core, helper))


def test_broadcast_if_bounded_decision_table(spark):
    """The full decision table of the shared gate: proven bounds beat
    probes, byte bounds take precedence over row bounds, over-budget
    bounds shuffle unless probe_on_unbounded measures small."""
    from airflow_etl_spark.operators.core import (
        broadcast_bound_fits,
        broadcast_if_bounded,
    )
    from airflow_etl_spark.plans import formatted_plan

    small = spark.range(10).selectExpr("id AS k")
    other = spark.range(100).selectExpr("id AS k", "id * 2 AS v")

    # proven row bound within budget: broadcast, no job
    assert broadcast_bound_fits(small, bound_rows=10)
    # proven byte bound within budget
    assert broadcast_bound_fits(small, bound_bytes=1024)
    # over-budget bounds: no hint, no probe by default
    assert not broadcast_bound_fits(small, bound_rows=10, max_rows=5)
    assert not broadcast_bound_fits(small, bound_bytes=10, max_bytes=5)
    # loose over-budget bound + probe_on_unbounded: the measurement wins
    assert broadcast_bound_fits(
        small, bound_rows=10_000_000, probe_on_unbounded=True
    )
    # no bound at all: limit-probe decides each way
    assert broadcast_bound_fits(small)
    assert not broadcast_bound_fits(small, max_rows=5)

    # the hint actually lands in (and stays out of) the plan
    hinted = other.join(broadcast_if_bounded(small, bound_rows=10), "k")
    assert "BroadcastExchange" in formatted_plan(hinted)
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        unhinted = other.join(
            broadcast_if_bounded(small, bound_rows=10, max_rows=5), "k"
        )
        assert "BroadcastHashJoin" not in formatted_plan(unhinted)
        assert unhinted.count() == 10
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    assert hinted.count() == 10


def test_vocab_bound_hooks_flip_the_hint(spark):
    """The r12 deployment hooks: with a small bound the term-stats
    relations still broadcast; with an over-budget bound the hint
    dissolves — results identical both ways."""
    from airflow_etl_spark.operators.retrieval import (
        bigram_lm_score,
        tfidf_topk,
    )
    from airflow_etl_spark.operators.text import rake_keywords
    from airflow_etl_spark.plans import formatted_plan

    docs = spark.createDataFrame(
        [(1, "alpha beta and gamma alpha the beta words here"),
         (2, "beta gamma of delta epsilon the more words appear"),
         (3, "alpha delta and zeta eta the theta words words")],
        "doc_id long, text string",
    )
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    for fn, kw in ((tfidf_topk, "vocab_bound"),
                   (bigram_lm_score, "ngram_bound"),
                   (rake_keywords, "vocab_bound")):
        small = fn(docs, **{kw: 100})
        assert "BroadcastExchange" in formatted_plan(small), fn.__name__
        want = {tuple(r) for r in small.collect()}
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            big = fn(docs, **{kw: 10_000_000})
            got = {tuple(r) for r in big.collect()}
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
        assert got == want and want, fn.__name__
