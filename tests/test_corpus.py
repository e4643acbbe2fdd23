"""Corpus-assembly operator tests (operators/corpus.py): determinism and
semantic properties of splits, stratified sampling, sequence packing,
mixture weighting, and contamination checks — the LLM-training-pipeline
extension family (oracle parity runs separately in test_oracle_parity).
"""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from airflow_etl_spark.operators import corpus


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def test_hash_split_deterministic_and_partition_stable(spark, sf_dir):
    """The split of a given id never changes: across re-runs, across
    repartitioning, and across corpus growth (a subset assigns
    identically). random() gives none of these."""
    docs = _docs(spark, sf_dir)
    a = {r.doc_id: r.split for r in corpus.hash_split(docs).collect()}
    b = {
        r.doc_id: r.split
        for r in corpus.hash_split(docs.repartition(7)).collect()
    }
    assert a == b
    # growth stability: assignments over a subset are the full run's
    sub = {
        r.doc_id: r.split
        for r in corpus.hash_split(docs.filter(F.col("doc_id") < 100)).collect()
    }
    assert all(a[k] == v for k, v in sub.items())
    # weights are roughly honored (98/1/1 over 500 docs)
    from collections import Counter

    c = Counter(a.values())
    assert c["train"] > 0.9 * len(a)
    assert set(c) <= {"train", "val", "test"}


def test_hash_split_weights_normalize(spark, sf_dir):
    """Weights need not sum to 1 — (3,1) is 75/25."""
    docs = _docs(spark, sf_dir)
    out = corpus.hash_split(docs, splits=(("a", 3.0), ("b", 1.0)))
    counts = {r.split: r.n for r in out.groupBy("split").agg(
        F.count("*").alias("n")).collect()}
    total = sum(counts.values())
    assert abs(counts["a"] / total - 0.75) < 0.1


def test_stratified_sample_is_subset_with_per_group_rates(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    kept = corpus.stratified_sample(
        docs, "lang", {"en": 0.5, "zh": 1.0}, default_fraction=0.0
    )
    rows = kept.groupBy("lang").agg(F.count("*").alias("n")).collect()
    by_lang = {r.lang: r.n for r in rows}
    full = {
        r.lang: r.n
        for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert set(by_lang) == {"en", "zh"}          # default 0 drops the rest
    assert by_lang["zh"] == full["zh"]           # fraction 1.0 keeps all
    assert 0.3 < by_lang["en"] / full["en"] < 0.7
    # sampling is a filter: kept ids are a subset with identical rows
    kept_ids = {r.doc_id for r in kept.select("doc_id").collect()}
    all_ids = {r.doc_id for r in docs.select("doc_id").collect()}
    assert kept_ids <= all_ids


def test_pack_sequences_matches_reference_prefix_sum(spark, sf_dir):
    """Bin ids/offsets equal an independent per-shard prefix-sum replay,
    offsets stay under the budget, and every bin except a shard's last is
    filled past... exactly: bins are contiguous chunks of the doc stream."""
    budget = 4096
    docs = _docs(spark, sf_dir)
    out = corpus.pack_sequences(docs, "n_chars", budget, n_shards=8)
    got = {
        r.doc_id: (r.shard, r.bin_id, r.bin_offset, r.n_tokens)
        for r in out.collect()
    }
    # replay driver-side
    rows = sorted(
        (r.doc_id, r.n_chars) for r in docs.select("doc_id", "n_chars").collect()
    )
    import hashlib

    def shard_of(doc_id):
        return int(hashlib.md5(f"pack-v1:{doc_id}".encode()).hexdigest()[:7], 16) % 8

    cum = {s: 0 for s in range(8)}
    for doc_id, n in rows:  # doc_id order == window order
        s = shard_of(doc_id)
        expect = (s, cum[s] // budget, cum[s] % budget, n)
        assert got[doc_id] == expect, (doc_id, got[doc_id], expect)
        cum[s] += n
    assert all(off < budget for (_s, _b, off, _n) in got.values())


def test_mixture_weights_properties(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    target = {"en": 0.5, "zh": 0.5}
    out = corpus.mixture_weights(docs, "lang", "n_chars", target).collect()
    by = {r.domain: r for r in out}
    # shares sum to 1 over all domains; weights are 0 off-target
    assert abs(sum(r.corpus_share for r in out) - 1.0) < 1e-4
    for d, r in by.items():
        if d in target:
            assert abs(r.weight * r.corpus_share - target[d]) < 1e-4
        else:
            assert r.weight == 0.0


def test_contamination_flags_planted_leaks(spark):
    """Planted leak: a test doc verbatim-equal to a train doc flags
    exact-contaminated; a half-overlapping doc scores ~0.5 n-gram overlap;
    a disjoint doc scores 0."""
    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "pack my box with five dozen liquor jugs right now"),
        ],
        "doc_id long, text string",
    )
    test = spark.createDataFrame(
        [
            (10, "The quick  brown fox jumps over the lazy dog today"),  # ws/case dup
            (11, "the quick brown fox jumps with entirely novel words appended here"),
            (12, "completely unrelated sentence about alpine glacier formation"),
        ],
        "doc_id long, text string",
    )
    exact = {
        r.doc_id: r.contaminated
        for r in corpus.exact_contamination(train, test).collect()
    }
    assert exact == {10: 1, 11: 0, 12: 0}

    ng = {r.doc_id: r for r in corpus.ngram_contamination(train, test).collect()}
    assert ng[10].overlap == 1.0
    assert 0.2 < ng[11].overlap < 0.8
    assert ng[12].overlap == 0.0
    assert ng[12].n_hit == 0


def test_pack_ffd_invariants_and_determinism(spark, sf_dir):
    """FFD packing: every doc assigned exactly once; no bin exceeds the
    budget unless it is an oversized singleton; utilization beats
    concat-and-chunk's bin count; identical output under repartitioning."""
    budget = 4096
    docs = _docs(spark, sf_dir)
    out = corpus.pack_sequences_ffd(docs, "n_chars", budget, n_shards=8)
    rows = out.collect()
    assert len(rows) == docs.count()
    assert len({r.doc_id for r in rows}) == len(rows)

    from collections import defaultdict

    fills = defaultdict(int)
    members = defaultdict(list)
    for r in rows:
        fills[(r.shard, r.bin_id)] += r.n_tokens
        members[(r.shard, r.bin_id)].append(r.n_tokens)
    for key, tot in fills.items():
        assert tot <= budget or len(members[key]) == 1, key
        # reported bin_fill matches the recomputed total
    rep = {(r.shard, r.bin_id): r.bin_fill for r in rows}
    assert all(rep[k] == fills[k] for k in fills)

    # determinism under different input partitioning
    out2 = corpus.pack_sequences_ffd(
        docs.repartition(13), "n_chars", budget, n_shards=8
    )
    a = sorted((r.doc_id, r.shard, r.bin_id) for r in rows)
    b = sorted((r.doc_id, r.shard, r.bin_id) for r in out2.collect())
    assert a == b

    # FFD uses no more bins than concat-and-chunk (usually fewer)
    chunk = corpus.pack_sequences(docs, "n_chars", budget, n_shards=8)
    n_bins_chunk = chunk.select("shard", "bin_id").distinct().count()
    n_bins_ffd = out.select("shard", "bin_id").distinct().count()
    assert n_bins_ffd <= n_bins_chunk


def test_domain_cap_matches_plain_window_under_skew(spark):
    """The skew-safe two-phase ranking must return EXACTLY the plain
    single-window top-cap — including on a mega-domain that dwarfs the
    others (the case the salting exists for)."""
    from pyspark.sql import Window

    rows = (
        [(i, "mega", float(i % 37)) for i in range(400)]
        + [(1000 + i, "small", float(i)) for i in range(10)]
        + [(2000 + i, "tiny", 1.0) for i in range(3)]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string, score double")
    got = {
        (r.doc_id, r.domain_rank)
        for r in corpus.domain_cap(
            df, "source", 5, order_col="score", n_salts=8
        ).collect()
    }
    w = Window.partitionBy("source").orderBy(F.desc("score"), F.asc("doc_id"))
    want = {
        (r.doc_id, r.rn)
        for r in df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .collect()
    }
    assert got == want
    # a domain under the cap keeps everything
    assert sum(1 for d, _ in got if d >= 2000) == 3


def test_cross_doc_line_dedup_keeps_first_occurrence(spark):
    """Boilerplate shared across docs survives only in its first
    corpus-wide occurrence; blank lines always survive (formatting, not
    content); unique lines are untouched."""
    from airflow_etl_spark.operators import text as tx

    docs = spark.createDataFrame(
        [
            (1, "BANNER\nbody one\n\nfooter"),
            (2, "banner\nbody two\n\nFooter"),  # case/ws-normalized dups
            (3, "BANNER\nbody one\nfresh line"),  # body one dups doc 1 too
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in tx.cross_doc_line_dedup(docs).collect()}
    assert out[1].text_deduped == "BANNER\nbody one\n\nfooter"
    assert out[1].n_lines == 4 and out[1].n_kept == 4
    assert out[2].text_deduped == "body two\n"  # banner+footer stripped, blank kept
    assert out[2].n_kept == 2
    assert out[3].text_deduped == "fresh line"
    assert out[3].n_kept == 1


def test_dsir_weights_separate_target_like_docs(spark):
    # Target slice speaks "alpha/beta" vocabulary; raw-only docs speak
    # "gamma/delta". A held-back doc in each vocabulary must score on the
    # matching side of 0.
    rows = [
        (1, "alpha beta alpha beta alpha", True),
        (2, "beta alpha beta alpha beta", True),
        (3, "gamma delta gamma delta", False),
        (4, "delta gamma delta gamma", False),
        (5, "alpha beta alpha", False),     # target-like but unlabeled
        (6, "gamma delta delta", False),    # raw-like
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, tgt boolean")
    out = corpus.dsir_weights(docs, F.col("tgt"), keep_frac=0.5)
    got = {r.id: (r.dsir_logw, r.selected) for r in out.collect()}
    # target-vocabulary docs outrank raw-only-vocabulary docs
    assert got[5][0] > got[6][0]
    assert got[1][0] > got[3][0]
    # selection is a rank cut: every selected weight >= every unselected
    sel = [w for w, s in got.values() if s]
    unsel = [w for w, s in got.values() if not s]
    assert sel and unsel
    assert min(sel) >= max(unsel)
    # the unlabeled-but-target-like doc is kept, the raw-like one dropped
    assert got[5][1] and not got[6][1]
    # weight is per-token normalized: same vocabulary mix, similar scale
    assert abs(got[1][0] - got[2][0]) < 0.05


def test_dsir_weights_exact_fixed_point_is_partition_invariant(spark):
    # The per-doc sum is BIGINT fixed-point: identical result at any
    # parallelism (a double sum would be merge-order dependent).
    rows = [(i, ("alpha beta gamma " * 20).strip(), i % 2 == 0) for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, tgt boolean")
    a = corpus.dsir_weights(docs.coalesce(1), F.col("tgt")).collect()
    b = corpus.dsir_weights(docs.repartition(16), F.col("tgt")).collect()
    key = lambda r: r.id
    assert sorted(a, key=key) == sorted(b, key=key)


def test_span_dup_stats_flags_template_shells(spark):
    shared = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, shared + " unique tail alpha one two three four five six"),
        (2, shared + " other ending beta seven eight nine ten eleven twelve"),
        (3, "completely different text with no overlap at all in any span "
            "written from scratch for this test case only"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = corpus.span_dup_stats(docs, n=8, flag_frac=0.3)
    got = {r.id: r for r in out.collect()}
    # docs 1/2 share the long boilerplate prefix: every 8-gram inside it
    # appears in both docs
    assert got[1].n_shared > 0 and got[2].n_shared > 0
    assert got[1].shared_frac > 0.3 and got[1].flagged
    assert got[3].n_shared == 0 and not got[3].flagged
    # span counts: len(tokens) - 7 distinct 8-grams for distinct-token docs
    assert got[3].n_spans == len(rows[2][1].split()) - 7


def test_temperature_mixture_lifts_tail_domains(spark):
    rows = (
        [(i, "big", 1000) for i in range(90)]
        + [(100 + i, "small", 1000) for i in range(10)]
    )
    docs = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    out = {r.domain: r for r in
           corpus.temperature_mixture(docs, "source", "n_chars", alpha=0.3).collect()}
    # natural 90/10 mixture compresses toward uniform at alpha < 1
    assert out["big"].corpus_share == 0.9
    assert out["small"].sampled_share > 0.1            # lifted
    assert out["big"].sampled_share < 0.9              # compressed
    assert abs(out["big"].sampled_share + out["small"].sampled_share - 1.0) < 1e-5
    # weight is the resampling factor
    assert out["small"].weight > 1.0 > out["big"].weight
    # alpha=1 is the identity mixture
    nat = {r.domain: r for r in
           corpus.temperature_mixture(docs, "source", "n_chars", alpha=1.0).collect()}
    assert abs(nat["big"].weight - 1.0) < 1e-6
    assert abs(nat["small"].weight - 1.0) < 1e-6


def test_global_shuffle_is_deterministic_permutation(spark, sf_dir):
    """Same input → bit-identical shard/pos twice (the reproducibility
    claim); every doc appears exactly once; per-shard positions are the
    contiguous range 1..shard_size (a trainer can stream shard files in
    pos order with no gaps)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    cols = ["doc_id", "shard", "shuffle_key", "pos"]
    a = corpus.global_shuffle(docs, n_shards=8).select(cols).orderBy("shard", "pos")
    b = corpus.global_shuffle(docs, n_shards=8).select(cols).orderBy("shard", "pos")
    rows_a = [tuple(r) for r in a.collect()]
    rows_b = [tuple(r) for r in b.collect()]
    assert rows_a == rows_b
    assert len(rows_a) == docs.count()
    assert len({r[0] for r in rows_a}) == len(rows_a)  # a permutation
    per_shard: dict[int, list[int]] = {}
    for doc_id, shard, _key, pos in rows_a:
        per_shard.setdefault(shard, []).append(pos)
    for shard, poss in per_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), shard
    # repartitioning the input must not change the permutation
    c = corpus.global_shuffle(docs.repartition(7), n_shards=8).select(
        cols
    ).orderBy("shard", "pos")
    assert [tuple(r) for r in c.collect()] == rows_a


def test_global_shuffle_shards_are_balanced(spark, sf_dir):
    """A uniform hash must spread docs across shards evenly enough that
    no reducer/file is a straggler: max/min shard size within 2x at
    sf0.001 corpus sizes (binomial spread, not skew)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    sizes = (
        corpus.global_shuffle(docs, n_shards=8)
        .groupBy("shard")
        .count()
        .collect()
    )
    counts = [r["count"] for r in sizes]
    assert len(counts) == 8
    assert max(counts) <= 2 * min(counts), counts


def test_epoch_plan_copy_counts_and_expectation(spark, sf_dir):
    """n_copies is floor(w) or floor(w)+1 per doc, never adjacent rows
    are lost (copy_idx is 1..n_copies), and the realized total sits near
    sum(weights) — the unbiasedness of hash-fraction rounding. Re-running
    yields the identical plan (retry safety)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.least(F.lit(3.0), F.col("n_chars") / 500.0).alias("weight")
    )
    plan = corpus.epoch_plan(docs)
    rows = plan.select("doc_id", "weight", "n_copies", "copy_idx").collect()
    by_doc: dict[int, tuple[float, int, list[int]]] = {}
    for r in rows:
        w, n, idxs = by_doc.get(r["doc_id"], (r["weight"], r["n_copies"], []))
        idxs.append(r["copy_idx"])
        by_doc[r["doc_id"]] = (w, n, idxs)
    import math

    for doc_id, (w, n, idxs) in by_doc.items():
        assert n in (math.floor(w), math.floor(w) + 1), (doc_id, w, n)
        assert sorted(idxs) == list(range(1, n + 1)), (doc_id, idxs)
    total = sum(n for _w, n, _i in by_doc.values())
    expected = docs.agg(F.sum("weight")).collect()[0][0]
    assert abs(total - expected) <= max(10.0, 0.2 * expected), (total, expected)
    again = corpus.epoch_plan(docs)
    assert sorted(
        tuple(r) for r in again.select("doc_id", "copy_idx").collect()
    ) == sorted((r["doc_id"], r["copy_idx"]) for r in rows)


def test_token_budget_matches_naive_global_window(spark, sf_dir):
    """token_budget_select must reproduce the naive global-cumsum
    semantics row-for-row (including the global running total and the
    id tie-break at the boundary score), while never globally sorting
    the corpus."""
    from pyspark.sql.window import Window as W

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        F.floor(F.col("n_chars") / 64).cast("long").alias("score"),
        F.col("n_chars").alias("n_tokens"),
    )
    budget = 30_000
    got = {
        (r["doc_id"], r["cum"])
        for r in corpus.token_budget_select(docs, budget).collect()
    }
    naive_w = W.orderBy(F.col("score").desc(), "doc_id").rowsBetween(
        W.unboundedPreceding, 0
    )
    naive = {
        (r["doc_id"], r["cum"])
        for r in docs.withColumn("cum", F.sum("n_tokens").over(naive_w))
        .where(F.col("cum") <= budget)
        .collect()
    }
    assert got == naive
    assert got  # budget selects a non-empty prefix at this sf
    # total stays within budget, and adding the next doc would exceed it
    total = max(c for _id, c in got)
    assert total <= budget


def test_token_budget_plan_has_no_corpus_global_sort(spark, sf_dir):
    """The only SinglePartition exchange allowed is the one feeding the
    SCORE-DISTINCT running total (a small relation); the corpus-sized
    window partitions by score, and the quota relation broadcasts back
    — no sort-merge join, no corpus-wide global window."""
    from airflow_etl_spark.plans import formatted_plan

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        F.floor(F.col("n_chars") / 64).cast("long").alias("score"),
        F.col("n_chars").alias("n_tokens"),
    )
    plan = formatted_plan(corpus.token_budget_select(docs, 30_000))
    assert plan.count("SinglePartition") == 1, plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # the SinglePartition feeds a plan node that consumed an aggregate
    # (the score-distinct relation), not the raw scan
    assert "partial_sum" in plan


def test_token_budget_rejects_continuous_scores(spark, sf_dir):
    """A near-continuous score column (here: a distinct double per doc)
    must fail LOUDLY instead of silently broadcasting a corpus-sized
    bucket relation and running a corpus-sized single-task window."""
    import pytest

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        # distinct per doc: a stand-in for raw LM log-perplexities
        (F.crc32(F.col("doc_id").cast("string")) / 7.0).alias("score"),
        F.col("n_chars").alias("n_tokens"),
    )
    with pytest.raises(ValueError, match="max_score_buckets"):
        corpus.token_budget_select(docs, 30_000, max_score_buckets=100)


def test_token_budget_score_digits_quantizes_then_matches_naive(spark, sf_dir):
    """With score_digits, a continuous score is first rounded into
    bounded bands, and the selection must match the naive global-cumsum
    window computed over the SAME quantized score — i.e. quantization is
    a pre-step, not a semantics change relative to the rounded column."""
    from pyspark.sql.window import Window as W

    raw = _docs(spark, sf_dir).select(
        "doc_id",
        # continuous-ish score in [0, ~2): thousands of distinct values
        (F.pmod(F.crc32(F.col("doc_id").cast("string")), F.lit(20000)) / 10000.0)
        .alias("score"),
        F.col("n_chars").alias("n_tokens"),
    )
    budget = 30_000
    got = {
        (r["doc_id"], r["cum"])
        for r in corpus.token_budget_select(
            raw, budget, score_digits=2
        ).collect()
    }
    quant = raw.withColumn("score", F.round(F.col("score").cast("double"), 2))
    naive_w = W.orderBy(F.col("score").desc(), "doc_id").rowsBetween(
        W.unboundedPreceding, 0
    )
    naive = {
        (r["doc_id"], r["cum"])
        for r in quant.withColumn("cum", F.sum("n_tokens").over(naive_w))
        .where(F.col("cum") <= budget)
        .collect()
    }
    assert got == naive
    assert got


def test_temperature_mixture_drops_zero_token_domains(spark):
    """A domain whose token sum is zero must not yield a 0/0 weight row;
    it is excluded before the share normalization."""
    df = spark.createDataFrame(
        [("a", 100), ("a", 50), ("b", 0), ("c", 30)],
        ["domain", "n_tokens"],
    )
    rows = {
        r["domain"]: r
        for r in corpus.temperature_mixture(df, "domain", "n_tokens").collect()
    }
    assert set(rows) == {"a", "c"}
    total_sampled = sum(r["sampled_share"] for r in rows.values())
    assert abs(total_sampled - 1.0) < 1e-4
    for r in rows.values():
        assert r["weight"] is not None and r["weight"] > 0


def test_assign_global_ids_contiguous_and_stable(spark, sf_dir):
    """gids are exactly 0..N-1 with no gaps; re-running over a different
    partitioning assigns identical ids (the determinism contract)."""
    docs = _docs(spark, sf_dir).select("doc_id")
    a = {r["doc_id"]: r["gid"] for r in corpus.assign_global_ids(docs).collect()}
    assert sorted(a.values()) == list(range(len(a)))
    b = {
        r["doc_id"]: r["gid"]
        for r in corpus.assign_global_ids(docs.repartition(13)).collect()
    }
    assert a == b


def test_assign_global_ids_no_corpus_global_sort(spark, sf_dir):
    """The only SinglePartition window runs over the n_shards-row counts
    relation; the corpus itself pays one hash exchange (shard) and a
    broadcast join against the offsets."""
    from airflow_etl_spark.plans import formatted_plan

    docs = _docs(spark, sf_dir).select("doc_id")
    plan = formatted_plan(corpus.assign_global_ids(docs))
    assert plan.count("SinglePartition") == 1, plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_token_budget_by_domain_matches_naive_and_respects_budgets(spark, sf_dir):
    """Per-domain selection must equal the naive per-domain cumulative
    window over the SAME budgets, and each domain's kept tokens must not
    exceed its temperature-mixture share of the total."""
    from pyspark.sql.window import Window as W

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.col("source").alias("domain"),
        F.floor(F.col("n_chars") / 64).cast("long").alias("score"),
        F.col("n_chars").alias("n_tokens"),
    )
    total = 60_000
    out = corpus.token_budget_by_domain(docs, total_budget=total)
    got = {(r["doc_id"], r["cum"]) for r in out.collect()}

    mix = corpus.temperature_mixture(docs, "domain", "n_tokens")
    budgets = {
        r["domain"]: int(r["sampled_share"] * total)
        for r in mix.collect()
    }
    w = W.partitionBy("domain").orderBy(
        F.col("score").desc(), "doc_id"
    ).rowsBetween(W.unboundedPreceding, 0)
    naive = docs.withColumn("cum", F.sum("n_tokens").over(w))
    expect = {
        (r["doc_id"], r["cum"])
        for r in naive.collect()
        if r["cum"] <= budgets[r["domain"]]
    }
    assert got == expect and got
    # kept tokens per domain <= that domain's budget
    kept = {}
    for r in out.collect():
        kept[r["domain"]] = max(kept.get(r["domain"], 0), r["cum"])
    for d, c in kept.items():
        assert c <= budgets[d], (d, c, budgets[d])


def test_curriculum_bands_are_quartiles_and_shuffled(spark, sf_dir):
    """Band sizes split the corpus at its exact score quartiles; within a
    band the ordering is the salted hash permutation (not score order),
    and the schedule is reproducible across repartitionings."""
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.col("n_chars").cast("double").alias("score")
    )
    out = corpus.curriculum_order(docs, n_bands=4, n_shards=4)
    rows = out.collect()
    n = len(rows)
    by_band: dict[int, int] = {}
    for r in rows:
        by_band[r["band"]] = by_band.get(r["band"], 0) + 1
    assert set(by_band) == {0, 1, 2, 3}
    for b, c in by_band.items():
        assert abs(c - n / 4) <= n * 0.05 + 2, (b, c, n)
    # band 0 = the HIGHEST scores: its min score >= band 3's max score
    score_of = {
        r["doc_id"]: r["score"] for r in docs.collect()
    }
    band_of = {r["id"]: r["band"] for r in rows}
    b0 = [score_of[i] for i, b in band_of.items() if b == 0]
    b3 = [score_of[i] for i, b in band_of.items() if b == 3]
    assert min(b0) >= max(b3)
    again = {
        (r["id"], r["band"], r["shard"], r["pos"])
        for r in corpus.curriculum_order(
            docs.repartition(7), n_bands=4, n_shards=4
        ).collect()
    }
    assert again == {(r["id"], r["band"], r["shard"], r["pos"]) for r in rows}


def test_curriculum_rejects_continuous_scores(spark, sf_dir):
    """curriculum_order's exact percentile buffers per-distinct-score —
    a continuous score (distinct double per doc) must fail LOUDLY
    instead of building a corpus-sized aggregation buffer (VERDICT r6
    #3; same guard discipline as token_budget_select)."""
    import pytest

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        (F.crc32(F.col("doc_id").cast("string")) / 7.0).alias("score"),
    )
    with pytest.raises(ValueError, match="max_score_buckets"):
        corpus.curriculum_order(docs, max_score_buckets=100)


def test_curriculum_score_digits_quantizes_then_proceeds(spark, sf_dir):
    """With score_digits the same continuous input proceeds, bands are
    computed over the ROUNDED score (band 0 = top quartile of the
    quantized ordering), and the schedule stays deterministic."""
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        (F.pmod(F.crc32(F.col("doc_id").cast("string")), F.lit(20000)) / 10000.0)
        .alias("score"),
    )
    out = corpus.curriculum_order(
        docs, n_bands=4, score_digits=1, max_score_buckets=100_000
    )
    rows = {(r["id"], r["band"], r["shard"], r["pos"]) for r in out.collect()}
    assert rows
    quant = docs.withColumn("score", F.round(F.col("score"), 1))
    expect = {
        (r["id"], r["band"], r["shard"], r["pos"])
        for r in corpus.curriculum_order(
            quant, n_bands=4, max_score_buckets=None
        ).collect()
    }
    assert rows == expect


def test_token_budget_by_domain_rejects_continuous_scores(spark, sf_dir):
    import pytest

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.col("source").alias("domain"),
        (F.crc32(F.col("doc_id").cast("string")) / 7.0).alias("score"),
        F.col("n_chars").alias("n_tokens"),
    )
    with pytest.raises(ValueError, match="max_score_buckets"):
        corpus.token_budget_by_domain(docs, 30_000, max_score_buckets=100)
    # quantized, the same input proceeds
    out = corpus.token_budget_by_domain(
        docs, 30_000, score_digits=0, max_score_buckets=100_000
    )
    assert out.count() > 0


def test_weighted_sample_deterministic_and_weight_sensitive(spark):
    """Priority sampling: reproducible across runs, excludes non-positive
    weights, and a dominant weight wins its near-certain slot (its
    exponential priority has rate 1e6 vs 1 — deterministic under the
    fixed salt)."""
    from airflow_etl_spark.operators import corpus

    rows = [(i, 1.0) for i in range(100)] + [(100, 1e6), (101, 0.0),
                                             (102, -5.0)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    a = corpus.weighted_sample(df, "w", k=10).collect()
    b = corpus.weighted_sample(df, "w", k=10).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    ids = {r.id for r in a}
    assert 100 in ids                  # the 1e6-weight doc is sampled
    assert 101 not in ids and 102 not in ids   # non-positive excluded
    assert [r.rank for r in sorted(a, key=lambda r: r.rank)] == list(
        range(1, 11)
    )
    # priorities ascend with rank (smaller e = more preferred)
    ordered = sorted(a, key=lambda r: r.rank)
    assert all(ordered[i].priority <= ordered[i + 1].priority
               for i in range(len(ordered) - 1))


# ------------------------------------------------ JSONL export (r7 s4) --
def test_jsonl_export_is_byte_deterministic(spark, tmp_path):
    """Two exports of the same relation — different input partitioning —
    must produce IDENTICAL shard files: one file per shard, same bytes.
    That is what lets a resumed training run re-read a stable stream."""
    import glob
    import hashlib

    from airflow_etl_spark.operators import corpus

    df = spark.createDataFrame(
        [(i, f"text {i}", i * 3) for i in range(200)],
        "doc_id long, text string, n int",
    )

    def export(d, out):
        corpus.export_jsonl_shards(d, out, n_shards=4)
        files = sorted(glob.glob(out + "/shard=*/part-*.txt"))
        shards = sorted({f.split("shard=")[1].split("/")[0] for f in files})
        assert len(files) == 4 and shards == ["0", "1", "2", "3"]
        return {
            f.split("shard=")[1].split("/")[0]: hashlib.md5(
                open(f, "rb").read()
            ).hexdigest()
            for f in files
        }

    h1 = export(df, str(tmp_path / "a"))
    h2 = export(df.repartition(13), str(tmp_path / "b"))
    assert h1 == h2


def test_jsonl_export_round_trips_every_row(spark, tmp_path):
    from airflow_etl_spark.operators import corpus

    df = spark.createDataFrame(
        [(i, f"payload {i}") for i in range(57)], "doc_id long, text string"
    )
    out = str(tmp_path / "rt")
    corpus.export_jsonl_shards(df, out, n_shards=3)
    back = spark.read.json(out)
    assert back.count() == 57
    assert sorted(r.doc_id for r in back.select("doc_id").collect()) == list(range(57))
    assert back.filter(F.col("text") != F.concat(F.lit("payload "), F.col("doc_id"))).count() == 0


def test_kfold_clusters_never_straddle_folds(spark, sf_dir):
    """Every near-dup cluster lands wholly in one fold (the leakage
    guarantee), and the in-query audit shows a naive per-doc hash split
    WOULD have straddled pairs."""
    from pyspark.sql import functions as F

    from airflow_etl_spark import catalog, queries as Q
    from airflow_etl_spark.operators import dedup
    from airflow_etl_spark.operators.dedup import h28

    docs = catalog.load_table(spark, sf_dir, "documents")
    pairs = dedup.lsh_candidate_pairs(docs)
    comp = dedup.connected_components(pairs)
    fold = F.pmod(
        h28(F.concat(F.lit("fold-v1:"), F.col("component").cast("string"))),
        F.lit(5),
    )
    # all members of a component share its fold by construction; assert
    # the EDGE-level consequence directly: no candidate pair straddles
    e = pairs.join(
        comp.select(F.col("id").alias("id_a"),
                    F.col("component").alias("ca")), "id_a"
    ).join(
        comp.select(F.col("id").alias("id_b"),
                    F.col("component").alias("cb")), "id_b"
    )
    assert e.filter(F.col("ca") != F.col("cb")).count() == 0

    out = Q.queries()["corpus_kfold_split"](spark, sf_dir).collect()
    assert sum(r.n_docs for r in out) == docs.count()
    assert out[0].naive_straddle_pairs > 0


def test_ffd_live_oracle_matches_python_reference_values():
    """The recursive-CTE FFD oracle (queries._ffd_oracle_sql) is a LIVE
    DuckDB execution of the greedy. The INDEPENDENT pure-Python FFD
    (_bpe_reference.pack_ffd_expected) runs live over the same
    documents table and must yield the same rows — a third engine
    cross-checking the CTE, no Spark involved."""
    import duckdb

    from airflow_etl_spark._bpe_reference import pack_ffd_expected
    from airflow_etl_spark.queries import _ffd_oracle_sql

    live = _ffd_oracle_sql()
    for sf in ("0.001", "0.01"):
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"'/root/testdata/sf{sf}/documents.parquet'"
        )
        sizes = con.execute("SELECT doc_id, n_chars FROM documents").fetchall()
        got_live = con.execute(live).fetchall()
        want = pack_ffd_expected([(d, int(n)) for d, n in sizes])
        assert len(want) > 0, f"sf{sf}: empty documents table"
        assert got_live == want, f"sf{sf}: live CTE != reference"
