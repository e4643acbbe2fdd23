"""Unit tests for the operator library against small fixed inputs
(SURVEY.md §5's implied test strategy: anti-join detection, latest-per-key
dedup, MERGE upsert, SCD2 loads, schema drift, status roll-ups)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from airflow_etl_spark.operators import checks, core, drift
from airflow_etl_spark.operators.merge import delete_where, update_where, upsert
from airflow_etl_spark.operators.scd2 import scd2_apply, scd2_compress


def rows(df, *cols):
    out = df.select(*cols) if cols else df
    return sorted(tuple(r) for r in out.collect())


def test_latest_per_key(spark):
    df = spark.createDataFrame(
        [
            ("s1", "2024-01-01", "failed"),
            ("s1", "2024-01-02", "success"),
            ("s2", "2024-01-01", "running"),
        ],
        "source string, created_at string, status string",
    )
    out = core.latest_per_key(df, ["source"], "created_at")
    assert rows(out, "source", "status") == [("s1", "success"), ("s2", "running")]


def test_latest_per_key_tie_break(spark):
    df = spark.createDataFrame(
        [("s1", "2024-01-01", "a"), ("s1", "2024-01-01", "b")],
        "source string, created_at string, v string",
    )
    out = core.latest_per_key(df, ["source"], "created_at", tie_breakers=["v"])
    assert rows(out, "v") == [("b",)]


def test_anti_new_and_retired(spark):
    src = spark.createDataFrame([("a",), ("b",), ("c",)], "k string")
    tgt = spark.createDataFrame([("b",), ("c",), ("d",)], "k string")
    assert rows(core.anti_new(src, tgt, ["k"])) == [("a",)]
    assert rows(core.anti_retired(src, tgt, ["k"])) == [("d",)]


def test_upsert_matrix(spark):
    target = spark.createDataFrame(
        [(1, "t1", 10.0), (2, "t2", 20.0)], "k int, name string, v double"
    )
    source = spark.createDataFrame(
        [(2, "s2", 99.0), (3, "s3", 30.0)], "k int, name string, v double"
    )
    out = upsert(target, source, ["k"])
    assert rows(out) == [
        (1, "t1", 10.0),   # target-only: unchanged
        (2, "s2", 99.0),   # matched: updated
        (3, "s3", 30.0),   # source-only: inserted
    ]


def test_update_delete_where(spark):
    df = spark.createDataFrame([(1, "x"), (2, "y")], "k int, v string")
    upd = update_where(df, F.col("k") == 1, {"v": "z"})
    assert rows(upd) == [(1, "z"), (2, "y")]
    dele = delete_where(df, F.col("k") == 1)
    assert rows(dele) == [(2, "y")]


def test_scd2_compress_basic(spark):
    df = spark.createDataFrame(
        [
            ("e1", 1, "A"), ("e1", 2, "A"), ("e1", 3, "B"), ("e1", 4, "B"),
            ("e1", 5, "A"), ("e2", 1, "X"),
        ],
        "k string, seq int, attr string",
    )
    out = scd2_compress(df, ["k"], "seq", ["attr"])
    assert rows(out, "k", "attr", "load_date", "load_end_date") == [
        ("e1", "A", 1, 3),
        ("e1", "A", 5, None),
        ("e1", "B", 3, 5),
        ("e2", "X", 1, None),
    ]


def test_scd2_apply_lifecycle(spark):
    sat = spark.createDataFrame(
        [
            ("e1", "A", "d1", None),
            ("e2", "X", "d1", None),
            ("e3", "old", "d0", "d1"),  # history row — must pass through
            ("e3", "Y", "d1", None),
        ],
        "k string, attr string, load_date string, load_end_date string",
    )
    snap = spark.createDataFrame(
        [("e1", "B"), ("e2", "X"), ("e4", "New")], "k string, attr string"
    )
    out = scd2_apply(sat, snap, ["k"], ["attr"], "d2")
    assert rows(out, "k", "attr", "load_date", "load_end_date") == [
        ("e1", "A", "d1", "d2"),    # changed: closed
        ("e1", "B", "d2", None),    # changed: new version
        ("e2", "X", "d1", None),    # unchanged: still open
        ("e3", "Y", "d1", "d2"),    # retired: closed
        ("e3", "old", "d0", "d1"),  # history untouched
        ("e4", "New", "d2", None),  # new entity
    ]


def test_drift_detail_and_flags():
    live = [("t", "a", "int"), ("t", "b", "string")]
    registered = [("t", "a", "int"), ("t", "c", "double")]
    detail, flags = drift.change_rows(
        drift.diff(live, registered), "r1", "src", "2024-01-01"
    )
    assert sorted((r[3], r[5]) for r in detail) == [("b", "I"), ("c", "D")]
    assert sorted((r[1], r[3]) for r in flags) == [("t", 1)]


def test_reconcile_and_all_success(spark):
    src = spark.createDataFrame([("t1", 5), ("t2", 3)], "table_name string, n_rows long")
    tgt = spark.createDataFrame([("t1", 5), ("t3", 1)], "table_name string, n_rows long")
    out = checks.reconcile(src, tgt)
    assert rows(out) == [("t1", 5, 5, 1), ("t2", 3, 0, 0), ("t3", 0, 1, 0)]

    ok = spark.createDataFrame([("success",), ("skipped",)], "status string")
    bad = spark.createDataFrame([("success",), ("failed",)], "status string")
    assert checks.all_success(ok)
    assert not checks.all_success(bad)
    checks.assert_all_success(ok)
    with pytest.raises(checks.PipelineStateError):
        checks.assert_all_success(bad)


def test_bool_rollup(spark):
    df = spark.createDataFrame(
        [(1, "R"), (1, "R"), (2, "R"), (2, "N"), (3, "N")], "k int, flag string"
    )
    out = core.bool_rollup(
        df, ["k"],
        all_conds={"all_r": F.col("flag") == "R"},
        any_conds={"any_r": F.col("flag") == "R"},
    )
    assert rows(out) == [(1, 1, 1), (2, 0, 1), (3, 0, 0)]


def test_first_by_and_topk(spark):
    df = spark.createDataFrame(
        [("a", 3), ("a", 1), ("b", 2), ("b", 9)], "g string, v int"
    )
    assert rows(core.first_by(df, ["v"])) == [("a", 1)]
    top = core.topk_per_group(df, ["g"], "v", 1)
    assert rows(top, "g", "v") == [("a", 3), ("b", 9)]


def test_upsert_null_key_updates(spark):
    from airflow_etl_spark.operators.merge import upsert

    target = spark.createDataFrame([(None, 1), ("a", 2)], "k string, v int")
    source = spark.createDataFrame([(None, 9)], "k string, v int")
    got = {r.k: r.v for r in upsert(target, source, ["k"]).collect()}
    assert got == {None: 9, "a": 2}  # NULL key matched via eqNullSafe + updated


def test_all_success_null_status_is_failure(spark):
    from airflow_etl_spark.operators.checks import (
        PipelineStateError,
        all_success,
        assert_all_success,
    )

    df = spark.createDataFrame(
        [("t1", "success"), ("t2", None)], "task string, status string"
    )
    assert all_success(df) is False
    import pytest as _pytest

    with _pytest.raises(PipelineStateError):
        assert_all_success(df)


def test_connected_components_long_chain(spark):
    """A 60-node chain converges (pointer jumping: O(log n) rounds, far
    beyond plain propagation's 50-iteration budget)."""
    from airflow_etl_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "id_a long, id_b long"
    )
    got = {r.id: r.component for r in connected_components(edges, max_iter=10).collect()}
    assert set(got.values()) == {0}
    assert len(got) == 61


def test_load_satellite_preserves_provenance(spark):
    from airflow_etl_spark import vault

    src1 = spark.createDataFrame([(1, "a")], "k long, attr string")
    sat = vault.load_satellite(None, src1, ["k"], ["attr"], "e", "d1", "sysA")
    src2 = spark.createDataFrame([(1, "b")], "k long, attr string")
    sat2 = vault.load_satellite(sat, src2, ["k"], ["attr"], "e", "d2", "sysB")
    rows = {(r.attr, r.load_date): r.record_source for r in sat2.collect()}
    # the closed d1 version keeps its original provenance
    assert rows[("a", "d1")] == "sysA"
    assert rows[("b", "d2")] == "sysB"


def test_approx_cardinality_within_tolerance(spark, sf_dir):
    from airflow_etl_spark.operators import checks

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    exact = orders.select("o_custkey").distinct().count()
    got = checks.approx_cardinality(orders, ["o_custkey"], rsd=0.05).collect()[0]
    assert abs(got["approx_o_custkey"] - exact) / exact < 0.15

    grouped = {
        r.o_orderstatus: r["approx_o_custkey"]
        for r in checks.approx_cardinality(
            orders, ["o_custkey"], group_by=["o_orderstatus"]
        ).collect()
    }
    exact_g = {
        r.o_orderstatus: r["n"]
        for r in orders.groupBy("o_orderstatus")
        .agg(F.countDistinct("o_custkey").alias("n")).collect()
    }
    for k, v in exact_g.items():
        assert abs(grouped[k] - v) / max(v, 1) < 0.15


def test_approx_quantiles_close_to_exact(spark, sf_dir):
    from airflow_etl_spark.operators import checks

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    qs = checks.approx_quantiles(li, "l_extendedprice", [0.5, 0.9])
    exact = li.selectExpr(
        "percentile(l_extendedprice, 0.5) AS p50",
        "percentile(l_extendedprice, 0.9) AS p90",
    ).collect()[0]
    assert abs(qs[0] - exact.p50) / exact.p50 < 0.05
    assert abs(qs[1] - exact.p90) / exact.p90 < 0.05


def test_incremental_agg_refresh_matches_recompute(spark, tmp_path):
    """Incremental mart refresh from a snapshot_diff feed equals a full
    recompute — including a group disappearing when its last row is
    deleted, and a group appearing on first insert."""
    from airflow_etl_spark.operators.merge import incremental_agg_refresh
    from airflow_etl_spark.sources import txn

    p = str(tmp_path / "cdcm")
    v1 = spark.createDataFrame(
        [("a", 10), ("a", 20), ("b", 5), ("c", 7)], "g string, v long"
    )
    txn.commit(v1, p, keep_versions=3)
    v2 = spark.createDataFrame(
        [("a", 10), ("a", 25), ("d", 100)], "g string, v long"  # b,c gone; a updated; d new
    )
    txn.commit(v2, p, keep_versions=3)

    mart1 = v1.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_rows"), F.sum("v").alias("sum_value")
    )
    got = {
        (r.g, r.n_rows, int(r.sum_value))
        for r in incremental_agg_refresh(
            mart1, txn.snapshot_diff(spark, p), ["g"], "v"
        ).collect()
    }
    assert got == {("a", 2, 35), ("d", 1, 100)}

    # bootstrap from None over a pure-insert feed == direct aggregate
    boot = incremental_agg_refresh(
        None,
        v1.withColumn("_change_type", F.lit("insert")),
        ["g"], "v",
    )
    assert {(r.g, r.n_rows, int(r.sum_value)) for r in boot.collect()} == {
        ("a", 2, 30), ("b", 1, 5), ("c", 1, 7)
    }


def test_quantize_int8_roundtrip_bound(spark, sf_dir):
    """Quantized codes stay in int8 range; dequantized reconstruction is
    within scale/2 per element."""
    from airflow_etl_spark.operators.similarity import (
        dequantize_int8, quantize_int8,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(50)
    qd = quantize_int8(emb)
    rng = qd.select(
        F.aggregate("q", F.lit(0), lambda a, x: F.greatest(a, F.abs(x))).alias("m")
    ).agg(F.max("m")).collect()[0][0]
    assert rng <= 127

    joined = qd.join(
        emb.select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        ),
        "vec_id",
    )
    bad = joined.select(
        F.aggregate(
            F.zip_with("v", dequantize_int8(joined), lambda a, b: F.abs(a - b)),
            F.lit(0.0), lambda acc, x: F.greatest(acc, x),
        ).alias("err"),
        (F.col("scale") * 0.5 + 1e-9).alias("bound"),
    ).filter(F.col("err") > F.col("bound")).count()
    assert bad == 0


def test_expectations_counts_seeded_violations(spark):
    """The dq relation must actually count: seed duplicates, nulls, an FK
    orphan, and an off-list value, and each check reports its exact
    violation count (the all-green testdata case alone would prove
    nothing)."""
    from airflow_etl_spark.operators.checks import expectations

    c = spark.createDataFrame(
        [(1, "A"), (1, "A"), (2, "B")], ["k", "seg"]
    )
    o = spark.createDataFrame(
        [(10, 1, "O"), (11, None, "F"), (12, 9, "X"), (13, 2, "O")],
        "oid long, k long, status string",
    )
    dup = c.groupBy("k").agg(F.count(F.lit(1)).alias("n")).where(F.col("n") > 1)
    orphan = o.where(F.col("k").isNotNull()).join(
        c.select("k").distinct(), "k", "left_anti"
    )
    out = {
        r["check_name"]: (r["n_violations"], r["passed"])
        for r in expectations([
            ("unique_k", dup, F.lit(True)),
            ("k_not_null", o, F.col("k").isNull()),
            ("fk", orphan, F.lit(True)),
            ("status_accepted", o, ~F.col("status").isin("O", "F")),
        ]).collect()
    }
    assert out == {
        "unique_k": (1, False),
        "k_not_null": (1, False),
        "fk": (1, False),
        "status_accepted": (1, False),
    }


# ------------------------------------------------- containment (r7 s3) --
def test_ngram_containment_detects_subset(spark):
    """A short doc fully quoted inside a long one: containment ~1.0
    while Jaccard stays low — the asymmetric signal's reason to exist."""
    from pyspark.sql import Row

    from airflow_etl_spark.operators import dedup

    short = "the quick brown fox jumps over the lazy dog"
    long = (
        "intro line one " + short + " and then a very long tail "
        + " ".join(f"word{i}" for i in range(60))
    )
    df = spark.createDataFrame([Row(a=short, b=long)])
    row = df.select(
        dedup.ngram_containment(F.col("a"), F.col("b")).alias("c_ab"),
        dedup.ngram_containment(F.col("b"), F.col("a")).alias("c_ba"),
        dedup.ngram_jaccard(F.col("a"), F.col("b")).alias("j"),
    ).collect()[0]
    assert row["c_ab"] == 1.0  # every shingle of the short doc is in the long
    assert row["c_ba"] < 0.2
    assert row["j"] < 0.2


def test_ngram_containment_identical_and_disjoint(spark):
    from pyspark.sql import Row

    from airflow_etl_spark.operators import dedup

    df = spark.createDataFrame(
        [Row(a="alpha beta gamma delta", b="alpha beta gamma delta",
             c="one two three four")]
    )
    row = df.select(
        dedup.ngram_containment(F.col("a"), F.col("b")).alias("same"),
        dedup.ngram_containment(F.col("a"), F.col("c")).alias("disjoint"),
    ).collect()[0]
    assert row["same"] == 1.0
    assert row["disjoint"] == 0.0


# --------------------------------------------------- IVF range (r7 s3) --
def test_ivf_range_respects_threshold_and_covers_topk(spark, sf_dir):
    """Every range row clears the radius, and every top-k hit above the
    radius (same cells, same nprobe) is present — range search must
    never lose a neighbor top-k would have found."""
    from airflow_etl_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    rng = similarity.ivf_range(q, emb, threshold=0.3)
    rows = rng.collect()
    assert all(r["cos_sim"] >= 0.3 for r in rows)
    got = {(r["query_id"], r["neighbor_id"]) for r in rows}
    topk = similarity.ivf_topk(q, emb, k=5).filter(
        F.col("cos_sim") >= 0.3
    ).collect()
    assert {(r["query_id"], r["neighbor_id"]) for r in topk} <= got


def test_hamming_pairs_complete_vs_bruteforce(spark):
    """The pigeonhole block join finds EXACTLY the pairs within
    max_hamming — no false negatives (completeness) and the popcount
    verify kills false positives. Random 56-bit fingerprints with
    planted near-duplicates."""
    import random

    from airflow_etl_spark.operators.dedup import hamming_pairs

    rng = random.Random(99)
    base = [rng.getrandbits(56) for _ in range(40)]
    planted = []
    for h in base[:10]:  # plant neighbors at distances 1-3
        d = rng.randrange(1, 4)
        h2 = h
        for bit in rng.sample(range(56), d):
            h2 ^= 1 << bit
        planted.append(h2)
    hashes = sorted(set(base + planted))
    df = spark.createDataFrame([(h,) for h in hashes], "h long")
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in hamming_pairs(
            df, "h", "h", bits=56, max_hamming=3, n_blocks=4
        ).collect()
    }
    want = set()
    for i, a in enumerate(hashes):
        for b in hashes[i + 1:]:
            d = bin(a ^ b).count("1")
            if d <= 3:
                want.add((a, b, d))
    assert got == want
    assert len(want) >= 10  # the planted neighbors are actually there


def test_hamming_pairs_rejects_bad_pigeonhole(spark):
    import pytest

    from airflow_etl_spark.operators.dedup import hamming_pairs

    df = spark.createDataFrame([(1,)], "h long")
    with pytest.raises(ValueError, match="pigeonhole"):
        hamming_pairs(df, "h", "h", bits=56, max_hamming=4, n_blocks=4)


def test_rake_keywords_hand_computed(spark):
    """Tiny corpus with known degree/frequency arithmetic: 'deep learning'
    words co-occur (degree boost) while 'cat' appears in singletons."""
    from airflow_etl_spark.operators.text import rake_keywords

    docs = spark.createDataFrame(
        [
            (1, "deep learning in the deep sea"),
            (2, "the cat and a deep learning model"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r.doc_id, r.phrase): (r.n_words, r.score_ppm, r.rank)
        for r in rake_keywords(docs, k=3).collect()
    }
    # candidate phrases: d1: [deep learning], [deep sea];
    #                    d2: [cat], [deep learning model]
    # freq: deep=3 learning=2 sea=1 cat=1 model=1
    # deg:  deep=2+2+3=7 learning=2+3=5 sea=2 cat=1 model=3
    w = {
        "deep": 7 * 1_000_000 // 3,
        "learning": 5 * 1_000_000 // 2,
        "sea": 2 * 1_000_000,
        "cat": 1_000_000,
        "model": 3 * 1_000_000,
    }
    assert got[(1, "deep learning")] == (
        2, w["deep"] + w["learning"], 1
    )
    assert got[(1, "deep sea")] == (2, w["deep"] + w["sea"], 2)
    assert got[(2, "deep learning model")] == (
        3, w["deep"] + w["learning"] + w["model"], 1
    )
    assert got[(2, "cat")] == (1, w["cat"], 2)


def test_keyset_pages_are_disjoint_and_ordered(spark, sf_dir):
    from airflow_etl_spark import queries as Q

    rows = Q.queries()["o4_keyset_pagination"](spark, sf_dir).collect()
    assert len(rows) == 300
    assert len({r.o_orderkey for r in rows}) == 300  # no overlap
    by_page = {}
    for r in rows:
        by_page.setdefault(r.page, []).append((r.d, r.o_orderkey))
    for p in (1, 2, 3):
        by_page[p].sort()
    assert by_page[1][-1] < by_page[2][0] < by_page[2][-1] < by_page[3][0]


SCD2_SAT = (
    "k string, a string, b int, load_date string, load_end_date string, "
    "record_source string"
)


def _scd2_inputs(spark):
    """A satellite and a snapshot covering every SCD2 case: a NULL key
    (unchanged), a key with two attribute tuples in the snapshot, and
    changed, new, retired and unchanged keys, plus a history row."""
    sat = spark.createDataFrame([
        (None, "x", 1, "2024-01-01", None, "s0"),
        ("u", "u", 1, "2024-01-01", None, "s0"),
        ("c", "c", 1, "2024-01-01", None, "s0"),
        ("r", "r", 1, "2024-01-01", None, "s0"),
        ("d", "d", 1, "2024-01-01", None, "s0"),
        ("h", "old", 1, "2023-12-01", "2024-01-01", "s0"),
        ("h", "h", 1, "2024-01-01", None, "s0"),
    ], SCD2_SAT)
    snap = spark.createDataFrame([
        (None, "x", 1, "s1"),
        ("u", "u", 1, "s1"),
        ("c", "c2", 1, "s1"),
        ("d", "d", 1, "s1"),
        ("d", "d2", 2, "s1"),
        ("h", "h", None, "s1"),
        ("n", "n", 3, "s1"),
    ], "k string, a string, b int, record_source string")
    return sat, snap


def test_scd2_delta_rows(spark):
    """The delta's rows and schema for every SCD2 case; an identical
    snapshot gives an empty delta."""
    from airflow_etl_spark.operators.scd2 import scd2_delta

    sat, snap = _scd2_inputs(spark)
    out = scd2_delta(sat, snap, ["k"], ["a", "b"], "2024-01-02")
    assert out.schema.simpleString() == sat.schema.simpleString()
    assert sorted(map(tuple, out.collect()), key=str) == [
        ("c", "c", 1, "2024-01-01", "2024-01-02", "s0"),
        ("c", "c2", 1, "2024-01-02", None, "s1"),
        ("d", "d", 1, "2024-01-01", "2024-01-02", "s0"),
        ("d", "d2", 2, "2024-01-02", None, "s1"),
        ("h", "h", 1, "2024-01-01", "2024-01-02", "s0"),
        ("h", "h", None, "2024-01-02", None, "s1"),
        ("n", "n", 3, "2024-01-02", None, "s1"),
        ("r", "r", 1, "2024-01-01", "2024-01-02", "s0"),
    ]
    same = sat.filter("load_end_date IS NULL").select("k", "a", "b", "record_source")
    assert scd2_delta(sat, same, ["k"], ["a", "b"], "2024-01-02").count() == 0


def test_hub_append_runs_three_jobs(spark, tmp_path, jobs_of):
    """A hub delta append over an existing hub runs 3 Spark jobs: the
    left-anti join takes the hub's keys as they are, with no `distinct`
    aggregation over the whole hub."""
    from airflow_etl_spark import vault
    from airflow_etl_spark.sources import read_table, txn

    path = str(tmp_path / "hub_c")
    src1 = spark.createDataFrame([(k, f"n{k}") for k in range(50)], "k long, n string")
    src2 = spark.createDataFrame([(k, f"n{k}") for k in range(40, 60)], "k long, n string")
    txn.append_files(vault.load_hub(None, src1, ["k"], "c", "d1", "s"), path)
    hub = read_table(spark, path)
    _, n_jobs = jobs_of(lambda: txn.append_files(
        vault.load_hub(hub, src2, ["k"], "c", "d2", "s"), path
    ))
    assert n_jobs == 3
    out = read_table(spark, path)
    assert out.count() == 60
    assert rows(out.filter(F.col("load_date") == "d2"), "k") == [
        (k,) for k in range(50, 60)
    ]
