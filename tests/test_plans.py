"""Optimizer-behavior assertions: the plans we ship must show predicate
pushdown, column pruning, broadcast joins for dim-sized sides, and
partition pruning on etl_date — the properties that keep these operators
viable at 100 TB (`.explain` is the feedback loop, not a guess)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from airflow_etl_spark import catalog, queries as Q
from airflow_etl_spark.plans import (
    formatted_plan,
    physical_plan,
    single_partition_window_feeds,
)


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = formatted_plan(Q.queries()["p2_filter_project"](spark, sf_dir))
    assert "PushedFilters: [" in plan
    assert "o_orderstatus" in plan.split("PushedFilters")[1].split("]")[0]


def test_column_pruning(spark, sf_dir):
    plan = formatted_plan(Q.queries()["p2_filter_project"](spark, sf_dir))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    # only the three projected + filtered columns are read, not all six
    assert "o_orderdate" not in read_schema
    assert "o_orderpriority" not in read_schema


def test_dim_join_is_broadcast(spark, sf_dir):
    plan = formatted_plan(Q.queries()["j1_join_inner"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_anti_join_strategy(spark, sf_dir):
    plan = formatted_plan(Q.queries()["j3_anti_new"](spark, sf_dir))
    assert "LeftAnti" in plan


def test_flagship_agg_is_map_side_combined(spark, sf_dir):
    """The flagship aggregate must do a partial (map-side) pass before the
    shuffle — at 100 TB this is the difference between shuffling 6 rows per
    partition and shuffling the whole table."""
    plan = formatted_plan(Q.queries()["q1_pricing_summary"](spark, sf_dir))
    assert "partial_sum" in plan and "partial_count" in plan


def test_partition_pruning_on_etl_date(spark, tmp_path, sf_dir):
    """Staged tables are partitioned by etl_date; a date predicate must
    prune to one partition directory."""
    src = spark.read.parquet(f"{sf_dir}/customer.parquet")
    staged = str(tmp_path / "staged")
    for d in ("2024-01-01", "2024-01-02"):
        src.withColumn("etl_date", F.lit(d)).write.mode("append").partitionBy(
            "etl_date"
        ).parquet(staged)
    df = spark.read.parquet(staged).filter(F.col("etl_date") == "2024-01-01")
    plan = formatted_plan(df)
    assert "PartitionFilters: [" in plan
    pf = plan.split("PartitionFilters")[1].split("]")[0]
    assert "etl_date" in pf
    # and the scan actually touches a single partition's rows
    assert df.count() == src.count()


def test_latest_per_key_single_shuffle(spark, sf_dir):
    """The window dedup should shuffle once on the partition key — no join
    back, no extra exchange."""
    plan = formatted_plan(Q.queries()["w1_latest_per_key"](spark, sf_dir))
    assert plan.count("Exchange") <= 2  # one hashpartitioning (+AQE read)
    assert "Window" in plan


def test_topk_uses_take_ordered(spark, sf_dir):
    """ORDER BY + LIMIT must plan as TakeOrderedAndProject — per-partition
    top-k then a k-row combine, never a global sort."""
    plan = formatted_plan(Q.queries()["o2_topk"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_no_rdd_scan_in_headline_plans(spark, sf_dir):
    """No headline query's plan may contain an RDD conversion node — the
    spread() probe is metadata-only (inputFiles), and an `ExistingRDD` /
    `Scan ExistingRDD` in a plan would mean some operator silently dropped
    out of the optimized DataFrame path (VERDICT r1 #6 done-criterion)."""
    reg = Q.queries()
    for name in (
        "q1_pricing_summary", "j2_join_composite", "w1_latest_per_key",
        "dedup_exact", "dedup_minhash_sigs", "sim_cosine_topk",
        "sim_lsh_topk", "sim_ivf_topk", "asof_prev_click", "text_quality",
    ):
        plan = formatted_plan(reg[name](spark, sf_dir))
        assert "ExistingRDD" not in plan, name
        assert "Scan ExistingRDD" not in plan, name


def test_spread_skips_manyfile_input(spark, tmp_path):
    """spread() must NOT add a repartition exchange when the scan already
    fans out across >= parallelism files (pre-partitioned production
    input), and must honor the explicit already_parallel opt-out."""
    from airflow_etl_spark.operators.core import spread

    many = str(tmp_path / "many")
    spark.range(10_000).repartition(64).write.parquet(many)
    df = spark.read.parquet(many)
    assert spread(df) is df  # >= default parallelism files → untouched
    one = str(tmp_path / "one")
    spark.range(100).coalesce(1).write.parquet(one)
    df1 = spark.read.parquet(one)
    assert spread(df1) is not df1          # single file → repartitioned
    assert spread(df1, already_parallel=True) is df1  # explicit opt-out


def test_corpus_split_is_pure_projection(spark, sf_dir):
    """hash_split / stratified_sample must compile to scan+project/filter —
    zero exchanges, zero joins: the property that makes deterministic
    splits free at 100 TB."""
    from airflow_etl_spark.operators import corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for df in (
        corpus.hash_split(docs),
        corpus.stratified_sample(docs, "lang", {"en": 0.5}, default_fraction=0.1),
    ):
        plan = formatted_plan(df)
        assert "Exchange" not in plan
        assert "Join" not in plan


def test_corpus_pack_single_sharded_shuffle(spark, sf_dir):
    """Sequence packing must shuffle exactly once (hash-partition by
    shard for the window) — a global-order cumsum would show a
    SinglePartition exchange."""
    from airflow_etl_spark.operators import corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = formatted_plan(corpus.pack_sequences(docs, "n_chars", 4096, n_shards=8))
    tree = plan.split("\n\n")[0]  # formatted mode: tree, then node details
    assert tree.count("Exchange") == 1
    assert "hashpartitioning(shard" in plan
    assert "SinglePartition" not in plan


def test_contamination_joins_on_hashes_not_text(spark, sf_dir):
    """Contamination checks must equi-join on md5/h28 hash keys — no
    cartesian/broadcast-nested-loop, and no text column surviving into
    the join keys."""
    from airflow_etl_spark.operators import corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    split = corpus.hash_split(docs, splits=(("train", 0.9), ("test", 0.1)))
    train = split.filter(F.col("split") == "train")
    test = split.filter(F.col("split") == "test")
    for df in (
        corpus.exact_contamination(train, test),
        corpus.ngram_contamination(train, test),
    ):
        plan = formatted_plan(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_retrieval_stats_broadcast_and_no_global_window(spark, sf_dir):
    """TF-IDF/BM25: vocabulary-sized statistics relations broadcast onto
    the doc-term stream (no sort-merge join against a vocab table), and
    BM25's top-k is TakeOrderedAndProject, never a single-partition
    global window over every scored doc."""
    plan = formatted_plan(Q.queries()["text_tfidf_topk"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    plan = formatted_plan(Q.queries()["text_bm25"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_incremental_dedup_is_bucket_equi_join(spark, sf_dir):
    """Batch-vs-corpus dedup must candidate-match via the band equi-join —
    no all-pairs comparison anywhere in the plan."""
    plan = formatted_plan(Q.queries()["dedup_incremental"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "band_hash" in plan


def test_mor_delete_read_is_broadcast_anti_join(spark, tmp_path):
    """Merge-on-read reads apply delete files as BROADCAST anti-joins
    (delete files are O(deleted keys) small by design) — a sort-merge
    anti would shuffle the whole table per delete."""
    from airflow_etl_spark.sources import txn

    path = str(tmp_path / "t")
    txn.commit(
        spark.range(0, 1000).select(F.col("id").alias("k")).repartition(4, "k"),
        path,
    )
    txn.delete_keys(spark.range(0, 10).select(F.col("id").alias("k")), path)
    plan = formatted_plan(txn.read(spark, path))
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bpe_encode_is_broadcast_join(spark, sf_dir):
    """Encoding joins the word stream against the broadcast vocabulary —
    the corpus side never shuffles for the lookup."""
    from airflow_etl_spark.operators import bpe

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    _m, vocab = bpe.bpe_train(docs, n_merges=2)
    plan = formatted_plan(bpe.bpe_encode(docs, vocab))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pq_scoring_is_broadcast_no_sort_merge(spark, sf_dir):
    """PQ candidate scoring must ride the broadcast-queries plan (corpus
    never shuffles for the join) with no sort-merge join anywhere."""
    plan = formatted_plan(Q.queries()["sim_pq_topk"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_hash_embedding_is_pure_projection(spark, sf_dir):
    """Feature-hashing embeddings must be a pure projection: the only
    Exchange permitted is `core.spread()`'s single RoundRobinPartitioning
    directly above the scan — the deliberate fan-out of a single-file
    input before per-row hashing. Any hash/range Exchange would mean the
    featurizer itself shuffles, which it must not."""
    plan = formatted_plan(Q.queries()["text_hash_embedding"](spark, sf_dir))
    tree = plan.split("\n\n")[0]
    exchanges = [ln for ln in tree.splitlines() if "Exchange" in ln]
    assert len(exchanges) <= 1
    for ln in exchanges:
        assert "roundrobin" in ln.lower() or "RoundRobin" in plan


def test_hash_embedding_prepartitioned_is_exchange_free(spark, sf_dir, tmp_path):
    """On a multi-file (pre-partitioned) input, `core.spread()`'s
    inputFiles() probe must opt out and leave the plan with ZERO
    Exchanges — this guards the zero-shuffle claim for production
    inputs, where parquet tables always arrive as many files."""
    parallelism = spark.sparkContext.defaultParallelism
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    multi = str(tmp_path / "documents_multi.parquet")
    docs.repartition(parallelism).write.parquet(multi)

    from airflow_etl_spark.operators import core, retrieval
    from airflow_etl_spark.queries import HASH_EMB_DIM

    spread_docs = core.spread(spark.read.parquet(multi))
    emb = retrieval.hash_embedding("text", HASH_EMB_DIM)
    out = spread_docs.select(
        "doc_id",
        *[F.element_at(emb, i + 1).alias(f"e_{i}") for i in range(HASH_EMB_DIM)],
    )
    tree = formatted_plan(out).split("\n\n")[0]
    assert "Exchange" not in tree


def test_quality_classifier_is_pure_projection(spark, sf_dir):
    """The hashed linear classifier's serving path must be a pure
    projection: the only Exchange permitted is `core.spread()`'s single
    RoundRobinPartitioning fan-out of a single-file input. A hash/range
    Exchange would mean scoring shuffles the corpus — it must not."""
    plan = formatted_plan(Q.queries()["text_quality_classifier"](spark, sf_dir))
    tree = plan.split("\n\n")[0]
    exchanges = [ln for ln in tree.splitlines() if "Exchange" in ln]
    assert len(exchanges) <= 1
    for ln in exchanges:
        assert "roundrobin" in ln.lower() or "RoundRobin" in plan


def test_span_dedup_joins_on_hashes_not_text(spark, sf_dir):
    """Repeated-span profiling must equi-join on h28 long hashes — no
    cartesian/nested-loop, and no text column in the join keys (text
    never shuffles)."""
    from airflow_etl_spark.operators import corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = formatted_plan(corpus.span_dup_stats(docs, n=8))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the equi-join key is the span hash, not a string column
    joins = [ln for ln in plan.splitlines() if "Join" in ln and "Keys" not in ln]
    assert joins, plan
    key_lines = [ln for ln in plan.splitlines() if "Keys [1]: [h#" in ln]
    assert key_lines, plan


def test_dsir_stats_relation_broadcasts(spark, sf_dir):
    """DSIR's distribution relation (dim rows) must BROADCAST back onto
    the corpus token stream — a shuffle join there would re-shuffle the
    whole exploded corpus on the feature id. The only non-broadcast
    joins allowed are the percentile crossJoin over the 1-row threshold
    and the per-doc aggregate shuffles."""
    from airflow_etl_spark.operators import corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = formatted_plan(corpus.dsir_weights(docs, F.col("lang") == "en"))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_global_shuffle_single_shard_exchange(spark, sf_dir):
    """global_shuffle's only data movement must be ONE hash exchange on
    the shard column (plus spread()'s possible round-robin over a
    single-file input). A range exchange would mean it degenerated into
    the global-sort orderBy(rand()) shape it exists to avoid."""
    from airflow_etl_spark.operators import corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    plan = formatted_plan(corpus.global_shuffle(docs, n_shards=8))
    tree = plan.split("\n\n")[0]
    exchanges = [ln for ln in tree.splitlines() if "Exchange" in ln]
    assert len(exchanges) == 1, plan
    # the one exchange hashes on the shard column (reduce parallelism ==
    # n_shards), and nothing range-partitions (no global sort)
    assert "hashpartitioning(shard#" in plan, plan
    assert "rangepartitioning" not in plan.lower()


def test_epoch_plan_is_shuffle_free(spark, sf_dir):
    """epoch_plan is a projection + explode: no Exchange at all beyond
    spread()'s optional round-robin — the plan's output rows ARE the
    training plan, and no key ever needs co-location."""
    from airflow_etl_spark.operators import corpus
    from pyspark.sql import functions as FF

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", FF.least(FF.lit(3.0), FF.col("n_chars") / 500.0).alias("weight")
    )
    plan = formatted_plan(corpus.epoch_plan(docs))
    tree = plan.split("\n\n")[0]
    exchanges = [ln for ln in tree.splitlines() if "Exchange" in ln]
    for ln in exchanges:
        assert "roundrobin" in ln.lower(), plan


def test_epoch_stream_composition_is_single_exchange(spark, sf_dir):
    """epoch_plan -> global_shuffle composed must STILL have exactly one
    hash exchange (epoch_plan contributes none) — the composition claim
    in both operators' docstrings, end-to-end."""
    from airflow_etl_spark.operators import corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.least(F.lit(3.0), F.col("n_chars") / 500.0).alias("weight")
    )
    plan_df = corpus.epoch_plan(docs).withColumn(
        "copy_id",
        F.concat_ws("#", F.col("doc_id").cast("string"),
                    F.col("copy_idx").cast("string")),
    )
    stream = corpus.global_shuffle(plan_df, id_col="copy_id", n_shards=8)
    plan = formatted_plan(stream)
    tree = plan.split("\n\n")[0]
    assert len([ln for ln in tree.splitlines() if "Exchange" in ln]) == 1, plan
    assert "hashpartitioning(shard#" in plan, plan
    assert "rangepartitioning" not in plan.lower()


def test_chunk_windows_is_shuffle_free(spark, sf_dir):
    """RAG chunking is a projection + explode: ZERO Exchange anywhere in
    the plan (the orderBy in the registry query is presentation; the
    operator itself must not shuffle)."""
    from airflow_etl_spark.operators.text import chunk_windows

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = formatted_plan(chunk_windows(docs, chunk_tokens=32, overlap=4))
    assert "Exchange" not in plan, plan
    assert "Generate explode" in plan or "Generate" in plan


def test_funnel_shuffles_only_on_user_key(spark, sf_dir):
    """Every Exchange in the funnel plan is a hash partitioning on the
    user key (grouped min-ts aggregates + user equi-joins) — no global
    window, no SinglePartition stage before the final 3-row union."""
    from airflow_etl_spark.operators.core import funnel_steps

    ev = (
        spark.read.option("mergeSchema", "false")
        .parquet(f"{sf_dir}/events.parquet")
        .select("user_id", F.col("ts").alias("ts"), "event_type")
    )
    plan = formatted_plan(funnel_steps(ev, ["view", "click", "purchase"]))
    assert "SinglePartition" not in plan.split("Union")[0], plan
    # user key is the only hash-partitioning key of any exchange
    for frag in plan.split("Exchange hashpartitioning(")[1:]:
        assert frag.split(",")[0].startswith(("u#", "user_id#")), frag[:60]


def test_ivf_pq_corpus_never_shuffles(spark, sf_dir):
    """IVF-PQ: cell + codes are pure projections over literals and the
    probe side broadcasts — the corpus-sided join must be a
    BroadcastHashJoin with no SortMergeJoin, and the only Exchanges are
    the broadcast + the per-query candidate windows (hash on query_id)."""
    from airflow_etl_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = similarity.ivf_pq_topk(
        emb.filter(F.col("vec_id") < 10), emb, k=5
    )
    plan = formatted_plan(out)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    for frag in plan.split("Exchange hashpartitioning(")[1:]:
        assert frag.split(",")[0].startswith("query_id#"), frag[:60]


def test_kmedoids_assignment_is_projection_single_exchange(spark, sf_dir):
    """k-medoids final pass: reassignment against the k x dim medoid
    literal is a pure projection (zero corpus shuffle — the cosine_topk
    argument); the ONLY hash exchange in the returned plan is the final
    groupBy(medoid_id), whose input is already k x dim-bounded per
    partition after partial aggregation."""
    from airflow_etl_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = similarity.kmedoids_assign(emb, k=4)
    plan = formatted_plan(out)
    assert "Join" not in plan  # assignment is a literal, not a join
    assert plan.count("hashpartitioning(") == 1
    assert "hashpartitioning(medoid_id#" in plan
    assert "partial_count" in plan and "partial_sum" in plan


def test_rrf_fusion_joins_are_bounded_not_sort_merge(spark, sf_dir):
    """RRF fuses top-k'-bounded rankings: the fusion join itself must not
    sort-merge the corpus — every SortMergeJoin in the plan would imply a
    corpus-sized shuffle on the fusion key. (The upstream retrievers own
    their exchanges; the fusion adds only bounded-relation joins.)"""
    import re

    q = Q.queries()["retrieval_hybrid_rrf"]
    plan = formatted_plan(q(spark, sf_dir))
    assert "CartesianProduct" not in plan
    # the corpus-sided scans appear under the retrievers, whose joins are
    # broadcast; the full-outer fusion of two <=20-row relations may
    # shuffle those 20 rows but must never sort-merge a corpus scan input
    blocks = re.findall(
        r"\(\d+\) SortMergeJoin[^\n]*\n(?:[^\n(]*\n){0,4}", plan
    )
    assert blocks, "expected the FullOuter fusion join in the plan"
    for b in blocks:
        assert "Join type: FullOuter" in b, b


def test_verify_candidates_broadcasts_pairs_no_corpus_shuffle(spark, sf_dir):
    """The verification pass must broadcast the bounded candidate relation
    on BOTH text-attach joins — no sort-merge join, no hash exchange of
    the corpus on the id keys — and run levenshtein JVM-side in a
    Project (no Python evaluation node)."""
    from airflow_etl_spark.operators import dedup as D

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (3, 4, 0.6)], "id_a long, id_b long, est_jaccard double"
    )
    plan = formatted_plan(D.verify_candidates(pairs, docs))
    assert "SortMergeJoin" not in plan
    assert plan.count("(") and plan.count("BroadcastHashJoin") >= 2
    assert "levenshtein" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "hashpartitioning(__vid" not in plan


def test_value_psi_aggregates_are_map_side_combined(spark, sf_dir):
    """PSI: both sides reduce via partial aggregation on the bin
    projection; every hash exchange is on the (bounded) bin key and the
    totals ride broadcast — no corpus-sized shuffle, no sort-merge."""
    import re

    plan = formatted_plan(Q.queries()["drift_value_psi"](spark, sf_dir))
    assert "partial_count" in plan
    # every hash exchange keys on the bounded bin, never a corpus column
    for frag in plan.split("hashpartitioning(")[1:]:
        assert frag.split(",")[0].startswith("bin#"), frag[:40]
    # the only sort-merge join allowed is the FullOuter over the two
    # bins-sized share relations (Spark cannot broadcast full-outer)
    for b in re.findall(
        r"\(\d+\) SortMergeJoin[^\n]*\n(?:[^\n(]*\n){0,4}", plan
    ):
        assert "Join type: FullOuter" in b, b


def test_heavy_hitters_verify_is_broadcast_semi_join(spark, sf_dir):
    """Phase 2 must semi-join the corpus against the BROADCAST candidate
    set (the corpus never shuffles on the raw key for candidate
    filtering) and the exact count must be map-side combined; phase 1 is
    the Arrow MapInPandas summary pass."""
    plan = formatted_plan(Q.queries()["diag_heavy_hitters"](spark, sf_dir))
    assert "MapInPandas" in plan
    assert "LeftSemi" in plan and "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "partial_count" in plan


def test_weighted_sample_is_shuffle_free_take_ordered(spark, sf_dir):
    """Priority sampling must plan as projection + TakeOrderedAndProject
    — per-partition k-heaps, zero exchanges, never a global sort."""
    plan = formatted_plan(
        Q.queries()["corpus_weighted_sample"](spark, sf_dir)
    )
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_hll_registers_are_map_side_combined(spark, sf_dir):
    """Both HLL aggregations (register max, estimate fold) must run a
    partial pass before their exchange — the partial per partition is at
    most groups x 64 register rows, which is the whole point of the
    sketch vs an exact count(distinct)'s keys-sized shuffle."""
    from airflow_etl_spark.operators import sketch

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").filter(
        F.col("user_id").isNotNull()
    )
    plan = formatted_plan(sketch.hll_distinct(ev, "user_id", ["event_type"]))
    assert "partial_max" in plan
    tree = plan.split("\n\n")[0]
    hash_exchanges = [
        ln for ln in tree.splitlines() if "Exchange hashpartitioning" in ln
    ]
    assert len(hash_exchanges) <= 2  # register groupBy + estimate groupBy


def test_cms_probe_broadcasts_the_sketch(spark, sf_dir):
    """The d x w counter grid is bounded, so the probe join must be a
    BroadcastHashJoin — never a sort-merge shuffle of the probe side
    against a 1024-row relation."""
    plan = formatted_plan(Q.queries()["sketch_cms_user_freq"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bloom_probe_never_shuffles_the_probe_side(spark):
    """bloom_probe on a materialized bitset must be scan + broadcast
    cross join + projection: ZERO hash exchanges — the probe relation
    keeps its partitioning, which is what makes the bloom pre-filter
    cheaper than the semi-join it elides."""
    from airflow_etl_spark.operators import sketch

    bits = spark.createDataFrame([([1, 5, 9, 2047],)], "bits array<bigint>")
    probe = spark.range(0, 1000).select(F.col("id").alias("k"))
    plan = formatted_plan(sketch.bloom_probe(probe, bits, "k"))
    tree = plan.split("\n\n")[0]
    assert "Exchange hashpartitioning" not in tree
    assert "BroadcastExchange" in tree or "BroadcastNestedLoopJoin" in tree


def test_kmv_sketch_is_take_ordered(spark, sf_dir):
    """The k-minimum-values cut must plan as TakeOrderedAndProject over
    the distinct hashes — per-partition k-heaps, never a global Sort:
    the property that keeps sketching a 100 TB set one pass + k rows."""
    from airflow_etl_spark.operators import sketch
    from airflow_etl_spark.operators.dedup import h28

    df = spark.range(0, 10_000).select(
        h28(F.concat(F.lit("plan:"), F.col("id").cast("string"))).alias("h")
    )
    plan = formatted_plan(sketch.kmv_sketch(df, "h"))
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan.split("\n\n")[0]


def test_ivf_range_has_no_rank_window(spark, sf_dir):
    """Range search must be a pure filter over cell-bounded candidates:
    no Window operator (top-k's per-query rank is gone) and no hash
    exchange — the only moves are spread()'s round-robin fan-out of the
    single-file corpus and the probe-pairs broadcast."""
    plan = formatted_plan(Q.queries()["sim_ivf_range"](spark, sf_dir))
    tree = plan.split("\n\n")[0]
    assert "Window" not in tree
    assert "Exchange hashpartitioning" not in tree
    assert "BroadcastExchange" in tree


def test_hist_quantile_pass_is_map_side_combined(spark, sf_dir):
    """The histogram pass must partial-aggregate before its exchange —
    per-partition state is <= 21 bins, which is why this replaces the
    full sort of an exact percentile at 100 TB."""
    plan = formatted_plan(Q.queries()["sketch_hist_quantiles"](spark, sf_dir))
    assert "partial_count" in plan


def test_pivot_wide_is_one_aggregate_no_schema_scan(spark, sf_dir):
    """t5_pivot_wide lowers the pivot to conditional aggregation — ONE
    map-side-combined aggregate over ONE exchange (DataFrame .pivot()
    would plan two of each), and no distinct pass to discover values."""
    plan = formatted_plan(Q.queries()["t5_pivot_wide"](spark, sf_dir))
    assert plan.split("\n\n")[0].count("Exchange") == 1
    assert "partial_count" in plan


def test_event_pattern_is_single_shuffle(spark, sf_dir):
    """diag_event_pattern: one hash exchange (the per-user collect);
    regex counting is a projection, never a join."""
    tree = formatted_plan(
        Q.queries()["diag_event_pattern"](spark, sf_dir)
    ).split("\n\n")[0]
    assert tree.count("Exchange") == 1
    assert "Join" not in tree


def test_phash_dedup_clusters_without_pair_join(spark, sf_dir):
    """mm_phash_dedup: hash in mapInPandas, cluster via ONE partial-
    aggregated exchange on the 56-bit key — no pair enumeration."""
    plan = formatted_plan(Q.queries()["mm_phash_dedup"](spark, sf_dir))
    tree = plan.split("\n\n")[0]
    assert "Join" not in tree and "CartesianProduct" not in tree
    assert tree.count("Exchange") <= 2  # spread() repartition + groupBy
    assert "partial_count" in plan


def test_trigram_search_is_semi_join_bounded(spark, sf_dir):
    """text_trigram_search: candidates reach the corpus through a
    (left-)semi join — never a cartesian, and the contains() verify
    runs post-join, not as a full-corpus scan filter."""
    tree = formatted_plan(
        Q.queries()["text_trigram_search"](spark, sf_dir)
    ).split("\n\n")[0]
    assert "CartesianProduct" not in tree
    assert "BroadcastNestedLoopJoin" not in tree
    assert "LeftSemi" in tree


def test_dynamic_partition_pruning_on_dim_filter(spark, tmp_path, sf_dir):
    """A dim-side filter must prune fact PARTITIONS at runtime (DPP):
    the fact scan's partition filter carries a dynamicpruning
    subquery — at 100 TB this is reading one date's files instead of
    all of them when the filter only names a dim attribute."""
    from pyspark.sql import functions as F

    fact = spark.read.parquet(f"{sf_dir}/orders.parquet").withColumn(
        "etl_date",
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd"),
    )
    fpath = str(tmp_path / "fact")
    fact.write.partitionBy("etl_date").parquet(fpath)
    dim = spark.createDataFrame(
        [("1995-01-01", "jan95")], "etl_date string, label string"
    )
    f = spark.read.parquet(fpath)
    joined = f.join(dim, "etl_date").filter(F.col("label") == "jan95")
    plan = formatted_plan(joined)
    assert "dynamicpruning" in plan.lower()


def test_er_blocking_oversized_guard_is_window_not_broadcast(spark, sf_dir):
    """Record linkage (r12, VERDICT r11 #1): the oversized-block guard
    is now a WINDOW count over the block key — the old broadcast
    anti-join's oversized-key relation was ≤ n/max_block rows, which
    GROWS with the corpus (the sf100 forced-broadcast class). The
    window hash-partitions on exactly the keys the candidate join
    shuffles on, so no anti-join (and no broadcast of a corpus-derived
    relation) remains, and candidates still come from an equi-join —
    never a nested-loop cartesian."""
    from airflow_etl_spark import queries as Q

    plan = formatted_plan(Q.queries()["er_blocked_match"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "LeftAnti" not in plan  # the guard no longer anti-joins
    assert "Window" in plan


def test_q3_pushdown_broadcast_and_topk_heap(spark, sf_dir):
    """TPC-H Q3 shape: both date filters reach the scans, the filtered
    customer set broadcasts, and the top-10 plans as
    TakeOrderedAndProject (per-partition heaps), never a global Sort."""
    plan = formatted_plan(Q.queries()["q3_shipping_priority"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    pushed = [seg.split("]")[0] for seg in plan.split("PushedFilters: [")[1:]]
    assert any("l_shipdate" in p for p in pushed)
    assert any("o_orderdate" in p for p in pushed)
    assert any("c_mktsegment" in p for p in pushed)


def test_q5_single_shuffle_join_broadcast_dims(spark, sf_dir):
    """TPC-H Q5 shape: region/nation/supplier collapse to broadcasts;
    the o_orderdate range filter is pushed; at most the
    orders⋈lineitem and customer joins shuffle."""
    plan = formatted_plan(Q.queries()["q5_local_supplier_volume"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    pushed = [seg.split("]")[0] for seg in plan.split("PushedFilters: [")[1:]]
    assert any("o_orderdate" in p for p in pushed)
    assert any("r_name" in p for p in pushed)


def test_grouping_sets_single_expand_single_aggregate_exchange(spark, sf_dir):
    """GROUPING SETS must plan as ONE Expand feeding one partial + one
    final hash aggregate — one exchange, not one scan per set."""
    plan = formatted_plan(Q.queries()["a12_grouping_sets"](spark, sf_dir))
    assert plan.count("Expand") >= 1
    # one data scan only (formatted plans list each node twice — tree
    # line + detail header): the three grouping sets share a single read
    assert plan.count("Scan parquet") == 2
    # and ONE exchange between partial and final aggregate
    assert plan.count("Exchange") == 2


def test_domain_blocklist_is_equi_join_no_regex_scan(spark, sf_dir):
    """The blocklist must attach via a broadcast equi-join on exploded
    suffixes — never an RLIKE/LIKE scan per (doc x rule) pair."""
    plan = formatted_plan(Q.queries()["corpus_domain_blocklist"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "RLIKE" not in plan and "Like" not in plan


def test_hard_negatives_anchor_side_broadcasts(spark, sf_dir):
    """Hard-negative mining: the sampled anchor relation broadcasts; the
    corpus side never shuffles for the scoring join."""
    plan = formatted_plan(Q.queries()["emb_hard_negatives"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # corpus-side exchange only for the final per-anchor rank window
    assert plan.count("SortMergeJoin") == 0


def test_skyline_is_window_sweep_not_quadratic(spark, sf_dir):
    """o6_skyline_pareto must plan as window sorts — never the O(n^2)
    NOT EXISTS self-join its oracle deliberately runs."""
    plan = formatted_plan(Q.queries()["o6_skyline_pareto"](spark, sf_dir))
    assert "Window" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_centroid_classifier_scores_without_corpus_join(spark, sf_dir):
    """emb_centroid_classifier's scoring is a pure projection against
    the driver-pulled label x dim literal: the classification itself
    must introduce NO join of the corpus against anything — only the
    confusion-matrix aggregate exchanges."""
    plan = formatted_plan(
        Q.queries()["emb_centroid_classifier"](spark, sf_dir)
    )
    for join in ("SortMergeJoin", "BroadcastHashJoin",
                 "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert join not in plan, join


def test_rfm_scores_no_single_reducer_window(spark, sf_dir):
    """feat_rfm_scores (VERDICT r8 #2): the three quintiles must come from
    distributed zone ranks, never an unpartitioned ntile — no Exchange
    SinglePartition may feed a Window anywhere in the plan."""
    df = Q.queries()["feat_rfm_scores"](spark, sf_dir)
    assert single_partition_window_feeds(df) == []
    assert "rangepartitioning" in physical_plan(df)


def test_zipf_octaves_no_single_reducer_window(spark, sf_dir):
    """text_zipf_octaves (VERDICT r8 #2): octave mass comes from the
    frequency-of-frequencies closed form — no vocabulary-wide
    single-partition row_number survives in the plan."""
    df = Q.queries()["text_zipf_octaves"](spark, sf_dir)
    assert single_partition_window_feeds(df) == []
    assert "rangepartitioning" in physical_plan(df)


def test_skyline_two_phase_single_partition_only_on_survivors(spark, sf_dir):
    """o6_skyline_pareto (VERDICT r8 #2): phase 1's sweep must be
    zone-partitioned (range exchange below it); the ONLY single-partition
    window allowed is the phase-2 global sweep over local survivors."""
    df = Q.queries()["o6_skyline_pareto"](spark, sf_dir)
    hits = single_partition_window_feeds(df)
    assert len(hits) == 1, hits  # the survivors-only global sweep
    plan = physical_plan(df)
    assert "rangepartitioning" in plan  # phase-1 zones


# ---------------------------------------------------------------------------
# Registry-wide single-reducer-window lint (VERDICT r8 #7): every entry's
# physical plan is swept for Exchange SinglePartition feeding a Window.
# The allowlist names the queries where that shape is PROVABLY over a
# constant-bounded relation — each with the bound that justifies it.
# Anything new that trips the lint must either be rewritten (zone_rank /
# zone_cumsum in operators/rank.py) or argued onto this list.
_SINGLE_REDUCER_WINDOW_ALLOWLIST = {
    # sum(n_tokens) OVER () — grand total over the per-DOMAIN/SOURCE
    # roll-up: the relation is domain-count-bounded (a config-sized set)
    "corpus_mixture": "per-domain totals (domain-count-bounded)",
    "corpus_mixture_temperature": "per-domain totals (domain-count-bounded)",
    "corpus_domain_budget": "per-domain totals (domain-count-bounded)",
    "corpus_training_mix": "per-domain totals (domain-count-bounded)",
    # running sum over quality-score BUCKETS (fixed bucket grid)
    "corpus_token_budget": "score-bucket grid (bucket-count-bounded)",
    # prefix sum over per-SHARD counts (shard-count-bounded)
    "corpus_assign_ids": "per-shard counts (shard-count-bounded)",
    # cumulative counts over HISTOGRAM BINS (fixed bin grid — the
    # allowlist case the r8 verdict pre-approved)
    "sketch_hist_quantiles": "histogram bins (bin-count-bounded)",
    # phase-2 of the two-phase skyline: the global sweep runs over the
    # union of zone-local skylines only (survivor-sized); phase 1 is
    # range-partitioned — gated separately to exactly ONE such window
    "o6_skyline_pareto": "two-phase skyline survivors (skyline-sized)",
    # lag over the CALENDAR-DAY roll-up: the relation is bounded by the
    # calendar (a century is ~36,525 rows) regardless of fact volume
    "diag_runs_test": "daily roll-up (calendar-bounded)",
    # grand total over the per-OCTAVE roll-up: octave = bit length of a
    # long degree, so the fed relation is ≤64 rows by construction
    # (r12: replaced the broadcast-total crossJoin that re-derived the
    # whole co-purchase subtree)
    "graph_degree_octaves": "octave grid (bit-length-bounded, <=64 rows)",
}


@pytest.mark.fullparity
def test_no_unapproved_single_reducer_windows(spark, sf_dir):
    """Sweep EVERY registry entry's physical plan: an Exchange
    SinglePartition feeding a Window is the single-task global-sort
    anti-pattern unless the fed relation is constant-bounded — the
    allowlist above carries the per-query bound."""
    offenders = {}
    for name, fn in Q.queries().items():
        df = fn(spark, sf_dir)
        hits = single_partition_window_feeds(df)
        if hits and name not in _SINGLE_REDUCER_WINDOW_ALLOWLIST:
            offenders[name] = hits[:1]
    assert not offenders, (
        "single-reducer window over a data-grain relation — rewrite with "
        f"operators/rank.py or justify on the allowlist: {offenders}"
    )


def test_global_deciles_no_single_reducer_window(spark, sf_dir):
    """feat_global_deciles: fact-grain global ntile must ride zone_rank —
    no Exchange SinglePartition under any Window."""
    df = Q.queries()["feat_global_deciles"](spark, sf_dir)
    assert single_partition_window_feeds(df) == []
    assert "rangepartitioning" in physical_plan(df)


def test_percentile_disc_no_single_reducer_window(spark, sf_dir):
    """a14_percentile_disc_global: exact order statistics must ride
    zone_rank — no Exchange SinglePartition under any Window."""
    df = Q.queries()["a14_percentile_disc_global"](spark, sf_dir)
    assert single_partition_window_feeds(df) == []
    assert "rangepartitioning" in physical_plan(df)


def test_q6_predicates_reach_scan(spark, sf_dir):
    """Q6 is THE pushdown benchmark: quantity filter must be in
    PushedFilters and the plan must have no join/exchange beyond the
    1-row aggregate combine."""
    plan = formatted_plan(Q.queries()["q6_forecast_revenue"](spark, sf_dir))
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters")[1].split("]")[0]
    assert "l_quantity" in pushed
    for join in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert join not in plan


def test_q21_plans_semi_and_anti(spark, sf_dir):
    """The EXISTS / NOT-EXISTS double correlation must plan as one
    LeftSemi and one LeftAnti membership join — never per-row
    subqueries or a cartesian."""
    plan = formatted_plan(Q.queries()["q21_waiting_supplier"](spark, sf_dir))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_q19_factored_conjuncts_push_to_both_scans(spark, sf_dir):
    """Q19's OR-of-conjunctions: the factored-out brand IN-list and
    quantity envelope must reach their scans as pushed filters."""
    plan = formatted_plan(
        Q.queries()["q19_disjunctive_revenue"](spark, sf_dir)
    )
    assert "BroadcastHashJoin" in plan
    assert plan.count("PushedFilters: [") >= 2
    assert "p_brand" in plan and "l_quantity" in plan


def test_q8_only_fact_joins_shuffle(spark, sf_dir):
    """TPC-H Q8's eight-relation tree: every dimension side (filtered
    part, the ASIA nation-key set, supplier⋈nation) must broadcast; the
    only sort-merge/shuffle joins are the two fact-grain ones
    (lineitem⋈orders, orders⋈customer)."""
    plan = formatted_plan(Q.queries()["q8_market_share"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "CartesianProduct" not in plan
    assert plan.count("SortMergeJoin") <= 2, plan


def test_q17_threshold_relation_broadcasts(spark, sf_dir):
    """Q17's decorrelated per-part threshold must broadcast back against
    the probe side (it is bounded by the brand+size part filter) — a
    SortMergeJoin here would shuffle lineitem twice."""
    plan = formatted_plan(
        Q.queries()["q17_small_quantity_revenue"](spark, sf_dir)
    )
    assert "SortMergeJoin" not in plan, plan


def test_partsupp_synthesis_is_broadcast_grade(spark, sf_dir):
    """The synthesized partsupp (Q9's probe side) must join lineitem as
    a broadcast — it is dimension-grade by construction (4·|part|)."""
    plan = formatted_plan(Q.queries()["q9_product_profit"](spark, sf_dir))
    assert plan.count("SortMergeJoin") <= 1, plan  # only lineitem⋈orders
    assert "CartesianProduct" not in plan


def test_rank_metrics_window_is_partitioned(spark, sf_dir):
    """eval_rank_metrics' per-query top-10 must be a query-id-partitioned
    window, never a global sort."""
    df = Q.queries()["eval_rank_metrics"](spark, sf_dir)
    assert single_partition_window_feeds(df) == []


def test_harmonic_2hop_no_cartesian(spark, sf_dir):
    """The 2-hop expansion must stay an equi-join of the degree-capped
    edge relation."""
    plan = formatted_plan(Q.queries()["graph_harmonic_2hop"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_verify_candidates_oversized_pairs_take_shuffle_joins(spark, sf_dir):
    """r11 sf100 lesson: on a high-dup-rate corpus the candidate relation
    grows WITH the corpus, and a planned broadcast of it blew past
    spark.driver.maxResultSize at 5M docs. broadcast_pairs=False (what
    the adaptive count picks past max_broadcast_pairs) must plan plain
    hash joins — no broadcast of the pair side anywhere — and return
    the same rows."""
    from airflow_etl_spark.operators import dedup as D

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (3, 4, 0.6)], "id_a long, id_b long, est_jaccard double"
    )
    # broadcast_pairs=False only drops the HINT — Catalyst's size
    # estimate still broadcasts a 2-row side (correct!). Model the
    # oversized case by disabling auto-broadcast: the plan must then be
    # pure shuffle joins, proving no forced hint remains anywhere.
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = formatted_plan(
            D.verify_candidates(pairs, docs, broadcast_pairs=False)
        )
        assert "BroadcastHashJoin" not in plan
        a = {(r.id_a, r.id_b, r.verified) for r in
             D.verify_candidates(
                 pairs, docs, broadcast_pairs=False
             ).collect()}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    b = {(r.id_a, r.id_b, r.verified) for r in
         D.verify_candidates(pairs, docs, broadcast_pairs=True).collect()}
    assert a == b


def test_neighbor_jaccard_degree_broadcast_adaptive_both_ways(spark, sf_dir):
    """r12 (VERDICT r11 #1): the per-node degree relation is O(V) —
    corpus-growing — so its broadcast must be gated. A proven node
    bound within budget plans broadcast joins; an over-budget bound
    plans shuffle joins; rows identical."""
    from airflow_etl_spark.operators.graph import neighbor_jaccard

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_suppkey"
    )
    pairs = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("cust"),
                F.col("l_suppkey").alias("supp"))
        .distinct()
    )
    small = neighbor_jaccard(pairs, min_shared=1, node_bound=100)
    assert "BroadcastExchange" in formatted_plan(small)
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        big = neighbor_jaccard(
            pairs, min_shared=1, node_bound=10_000_000
        )
        plan = formatted_plan(big)
        assert "BroadcastHashJoin" not in plan
        rows_big = {tuple(r) for r in big.collect()}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    rows_small = {tuple(r) for r in small.collect()}
    assert rows_small == rows_big and rows_small


def test_mor_delete_keys_broadcast_adaptive_both_ways(spark, tmp_path,
                                                      monkeypatch):
    """r12 (VERDICT r11 #1): MoR delete-key files broadcast only while
    their manifest-recorded bytes fit the budget — a mass-delete window
    is table-sized and must take shuffle anti-joins instead of a driver
    collect. Both directions, identical surviving rows."""
    from airflow_etl_spark.operators import core as C
    from airflow_etl_spark.sources import txn

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(40)], "k long, v string"
    )
    txn.commit(base, path)
    txn.delete_keys(
        spark.createDataFrame([(i,) for i in range(0, 40, 2)], "k long"),
        path, ["k"],
    )
    normal = txn.read(spark, path)
    assert "BroadcastExchange" in formatted_plan(normal)
    survivors = {r.k for r in normal.collect()}
    assert survivors == set(range(1, 40, 2))

    monkeypatch.setattr(C, "BROADCAST_MAX_BYTES", 0)
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        mass = txn.read(spark, path)
        assert "BroadcastHashJoin" not in formatted_plan(mass)
        assert {r.k for r in mass.collect()} == survivors
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)


def test_matview_mor_refresh_adaptive_delete_broadcast(spark, tmp_path,
                                                       monkeypatch):
    """The matview MoR CDC window applies the same byte gate: refresh
    correctness must not depend on which side the gate picks."""
    from airflow_etl_spark.operators import core as C, matview
    from airflow_etl_spark.sources import txn

    base = str(tmp_path / "b")
    mv = str(tmp_path / "mv")
    df = spark.createDataFrame(
        [(i % 4, i) for i in range(40)], "g long, x long"
    )
    txn.commit(df, base)
    matview.create(spark, base, mv, ["g"], {"sum_x": "x"})
    txn.delete_keys(
        spark.createDataFrame([(7,), (11,)], "x long"), base, ["x"]
    )
    monkeypatch.setattr(C, "BROADCAST_MAX_BYTES", 0)
    res = matview.refresh(spark, mv)
    assert res["mode"] == "mor"
    got = {(r.g, r.sum_x) for r in txn.read(spark, mv).collect()}
    want = {(r.g, r.sum_x) for r in
            txn.read(spark, base).groupBy("g")
            .agg(F.sum("x").cast("long").alias("sum_x")).collect()}
    assert got == want


def test_bcast_dim_respects_budget(spark, sf_dir, monkeypatch):
    """_bcast_dim: within budget the dim join plans a broadcast; with
    the budget forced to zero the hint disappears (AQE/stats decide) —
    rows identical."""
    from airflow_etl_spark.operators import core as C

    df = Q.queries()["j1_join_inner"](spark, sf_dir)
    assert "BroadcastExchange" in formatted_plan(df)
    rows = {tuple(r) for r in df.collect()}

    monkeypatch.setattr(C, "BROADCAST_MAX_ROWS", 0)
    catalog._ROW_COUNTS.clear()
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df2 = Q.queries()["j1_join_inner"](spark, sf_dir)
        assert "BroadcastHashJoin" not in formatted_plan(df2)
        assert {tuple(r) for r in df2.collect()} == rows
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
        catalog._ROW_COUNTS.clear()


def test_scd2_delta_plans_one_join(spark):
    """The SCD2 delta is one full-outer join of the open rows and the
    snapshot: the closed and the opened rows come out of the same joined
    row, not from a second join."""
    import re

    from airflow_etl_spark.operators.scd2 import scd2_delta

    sat = spark.createDataFrame(
        [("e1", "A", "d1", None), ("e2", "X", "d1", None)],
        "k string, attr string, load_date string, load_end_date string",
    )
    snap = spark.createDataFrame([("e1", "B"), ("e3", "N")], "k string, attr string")
    out = scd2_delta(sat, snap, ["k"], ["attr"], "d2")
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert len(re.findall(r"\bJoin \w+", plan)) == 1, plan
    assert "Join FullOuter" in plan
