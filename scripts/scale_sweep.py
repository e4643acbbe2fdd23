"""Scaling sweep for the extension operators — SCALE.md's measured-scaling
table, extended to an sf1-equivalent corpus (VERDICT r3 #5).

The driver ships testdata only up to sf0.1, so the sf1 point is an
AMPLIFIED corpus built in /tmp (never under /root/testdata): 10 copies of
the sf0.1 documents/embeddings tables with shifted ids, per-copy-varied
text (so the near-dup rate stays realistic instead of exploding into
10-way exact duplicates) and slightly perturbed vectors (so similarity
ties break as they would on real data). All other tables symlink to
sf0.1. This probes PLAN scaling (shuffle sizes, partition counts,
super-linear traps), not absolute throughput parity.

Timing is bench.py's lane timer (bench.measure_lane): min of 2 runs per
query, each a fresh plan through the noop sink from a cleared cache.

Run:  python scripts/scale_sweep.py [--queries a,b,c] [--skip-sf1]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SWEEP_QUERIES = [
    "text_lm_score",
    "text_tfidf_topk",
    "text_repetition",
    "dedup_incremental",
    "dedup_lsh_pairs",
    "sim_pq_topk",
    "corpus_quality_gate",
    "corpus_training_set",
    "corpus_ngram_contamination",
]

SF_DIRS = {
    "0.001": "/root/testdata/sf0.001",
    "0.01": "/root/testdata/sf0.01",
    "0.1": "/root/testdata/sf0.1",
}

SF1_DIR = "/tmp/afes_scale/sf1"
SF10_DIR = "/tmp/afes_scale/sf10"
SF100_DIR = "/tmp/afes_scale/sf100"
SF1_FULL_DIR = "/tmp/afes_scale/sf1full"


def build_sf1(spark) -> str:
    return _build_amplified(spark, 10, SF1_DIR)


def build_sf1_full(spark) -> str:
    """sf1-equivalent with the TPC-H tables amplified TOO (VERDICT r9
    #8: the standing full-headline decade check). Each copy is an
    independent key-shifted shard of the sf0.1 distribution — foreign
    keys shift together, so per-copy join cardinalities match sf0.1 and
    the 10x corpus behaves like a 10x warehouse, not 10 disconnected
    ones glued to one dimension set. nation/region stay canonical."""
    return _build_amplified(spark, 10, SF1_FULL_DIR, amplify_tpch=True)


def build_sf10(spark) -> str:
    """One decade above the sf1 point (VERDICT r9 #4: super-linear terms
    show up one decade above wherever you stop looking — the
    graph_harmonic_2hop lesson). 100x the sf0.1 documents/embeddings:
    500k docs / 200k vectors."""
    return _build_amplified(spark, 100, SF10_DIR)


def build_sf100(spark) -> str:
    """One decade above sf10 (VERDICT r10 #3: the 100 TB claim rides on
    one more decade for precisely the lanes whose sf10 ratios are
    largest). 1000x the sf0.1 documents/embeddings: 5M docs / 2M
    vectors, ~1.4 GB on disk — single-lane spot probes only; do not run
    the full sweep here."""
    return _build_amplified(spark, 1000, SF100_DIR)


#: per-table key shift per copy — far above any base key range, distinct
#: per key family so a shifted orderkey can never collide with a custkey
_SHIFT = {
    "orderkey": 1_000_000_000,
    "custkey": 100_000_000,
    "suppkey": 10_000_000,
    "partkey": 50_000_000,
    "event_id": 1_000_000_000,
    "user_id": 100_000_000,
}

#: columns to shift per TPC-H-ish table (everything else copies verbatim)
_TPCH_KEYS = {
    "orders": {"o_orderkey": "orderkey", "o_custkey": "custkey"},
    "lineitem": {
        "l_orderkey": "orderkey",
        "l_suppkey": "suppkey",
        "l_partkey": "partkey",
    },
    "customer": {"c_custkey": "custkey"},
    "supplier": {"s_suppkey": "suppkey"},
    "part": {"p_partkey": "partkey"},
    "events": {"event_id": "event_id", "user_id": "user_id"},
}


def _build_amplified(
    spark, factor: int, out_dir: str, amplify_tpch: bool = False
) -> str:
    """Amplify sf0.1 -> factor x (documents + embeddings) once; cached
    across runs. Written as multiple files so spread()'s inputFiles()
    probe sees a production-shaped (pre-partitioned) scan."""
    from pyspark.sql import functions as F

    marker = os.path.join(out_dir, "_built")
    if os.path.exists(marker):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    src = SF_DIRS["0.1"]
    # enough files for parallel scans, capped so the sf100 build doesn't
    # shatter into a thousand 5k-row fragments
    n_parts = min(256, max(16, factor))

    # the source tables are single files (one scan partition): spread
    # BEFORE the crossJoin or the whole mutation expression runs in one
    # task (the sf100 build's 5M-doc regex pass single-threaded)
    docs = spark.read.parquet(f"{src}/documents.parquet").repartition(32)
    copies = spark.range(factor).select(F.col("id").alias("copy"))
    # Near-dup family size must stay BOUNDED as factor grows (r10): with
    # suffix-only variation every copy of a doc is a mutual near-dup, so
    # family size = factor and near-dup OUTPUT grows quadratically — a
    # sweep at sf10 then measures the amplifier artifact, not the plan.
    # Copies are therefore grouped in tens: within a group only the tiny
    # " v<copy>" suffix differs (Jaccard ≈ 0.98 → near-dups, family=10 at
    # ANY factor — identical semantics to the original sf1 build, whose
    # single group this reduces to); ACROSS groups ~30% of word positions
    # mutate to group-unique tokens (pairwise shared ≈ 0.49 → Jaccard
    # ≈ 0.32, safely below every banding threshold).
    mutated = F.expr(
        "array_join(transform(split(text, ' '), (w, i) -> "
        "CASE WHEN pmod(xxhash64(i, copy DIV 10), 10) < 3 "
        "THEN concat('g', copy DIV 10, '_', i, '_', pmod(doc_id, 997)) "
        "ELSE w END), ' ')"
    )
    txt = F.concat(mutated, F.lit(" v"), F.col("copy"))
    big_docs = (
        docs.crossJoin(copies)
        .select(
            (F.col("doc_id") + F.col("copy") * F.lit(10_000_000)).alias("doc_id"),
            txt.alias("text"),
            "lang",
            "source",
            F.length(txt).cast("int").alias("n_chars"),
        )
        .repartition(n_parts)
    )
    big_docs.write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")

    emb = spark.read.parquet(f"{src}/embeddings.parquet").repartition(32)
    # Near-dup FAMILY size must stay BOUNDED for embeddings too (r11 —
    # the r10 rule that fixed the DOC amplifier): the old dim-0 jitter
    # made ALL `factor` copies of a vector mutual near-dups, so
    # cosine-dedup lanes at sf100 measured the amplifier's C(1000, 2)
    # family pairs, not the plan (and r10's sf10 emb ratios carried a
    # C(100, 2) version of the same artifact). Copies group in TENS:
    # group 0 keeps the ORIGINAL vector (sf0.1 remains a subset), every
    # other group draws an INDEPENDENT hash-uniform vector in [-1, 1]^d
    # — cross-group similarity then matches the base corpus's
    # near-orthogonal background instead of ~1.0 — and within a group
    # the tiny dim-0 jitter keeps the 10 copies near-dups with distinct
    # tie-breaking sims, at ANY factor.
    grp_vec = F.expr(
        "CASE WHEN copy DIV 10 = 0 THEN embedding ELSE "
        "transform(sequence(1, size(embedding)), i -> "
        "CAST(pmod(xxhash64(vec_id, copy DIV 10, i), 2000001) "
        "/ 1000000.0 - 1.0 AS FLOAT)) END"
    )
    big_emb = (
        emb.crossJoin(copies)
        .select(
            (F.col("vec_id") + F.col("copy") * F.lit(10_000_000)).alias("vec_id"),
            grp_vec.alias("__gv"),
            "copy",
            "label",
        )
        .select(
            "vec_id",
            F.concat(
                F.array(
                    (
                        F.element_at("__gv", 1)
                        + F.pmod(F.col("copy"), F.lit(10)) * F.lit(1e-3)
                    ).cast("float")
                ),
                F.slice("__gv", 2, 10_000),
            ).alias("embedding"),
            "label",
        )
        .repartition(n_parts)
    )
    big_emb.write.mode("overwrite").parquet(f"{out_dir}/embeddings.parquet")

    for t in [
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events",
    ]:
        if amplify_tpch and t in _TPCH_KEYS:
            base = spark.read.parquet(f"{src}/{t}.parquet")
            big = base.crossJoin(copies)
            for col, fam in _TPCH_KEYS[t].items():
                big = big.withColumn(
                    col, F.col(col) + F.col("copy") * F.lit(_SHIFT[fam])
                )
            big.drop("copy").repartition(n_parts).write.mode(
                "overwrite"
            ).parquet(f"{out_dir}/{t}.parquet")
            continue
        link = f"{out_dir}/{t}.parquet"
        if not os.path.exists(link):
            os.symlink(f"{src}/{t}.parquet", link)
    with open(marker, "w") as f:
        f.write("ok")
    return out_dir


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", default=",".join(SWEEP_QUERIES))
    ap.add_argument("--skip-sf1", action="store_true")
    ap.add_argument("--sf10", action="store_true",
                    help="include the sf10-equivalent decade (100x sf0.1 "
                         "documents/embeddings)")
    ap.add_argument("--sf1full", action="store_true",
                    help="include the sf1-full decade (TPC-H tables "
                         "amplified too — the graph/events/join lanes' "
                         "real 10x point)")
    ap.add_argument("--sf100", action="store_true",
                    help="include the sf100-equivalent decade (1000x "
                         "sf0.1 documents/embeddings: 5M docs / 2M "
                         "vectors) — single-lane spot probes only")
    ap.add_argument("--sfs", default=None,
                    help="comma-separated subset of scales to run "
                         "(e.g. '0.1,1,10') — default: all built scales")
    ap.add_argument("--runs", type=int, default=2,
                    help="fresh-plan executions per (query, sf); min is "
                         "reported. Use 1 for expensive sf100 probes.")
    args = ap.parse_args()
    names = [n for n in args.queries.split(",") if n]

    from airflow_etl_spark import get_spark
    from airflow_etl_spark import queries as Q
    from bench import measure_lane

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("afes_scale_sweep", cpus=cpus, shuffle_partitions=cpus)
    registry = Q.queries()

    sfs = dict(SF_DIRS)
    if not args.skip_sf1:
        print("# building sf1-equivalent corpus ...", file=sys.stderr)
        sfs["1"] = build_sf1(spark)
    if args.sf10:
        print("# building sf10-equivalent corpus ...", file=sys.stderr)
        sfs["10"] = build_sf10(spark)
    if args.sf1full:
        print("# building sf1-full corpus ...", file=sys.stderr)
        sfs["1full"] = build_sf1_full(spark)
    if args.sf100:
        print("# building sf100-equivalent corpus ...", file=sys.stderr)
        sfs["100"] = build_sf100(spark)
    if args.sfs:
        want = {s.strip() for s in args.sfs.split(",") if s.strip()}
        sfs = {k: v for k, v in sfs.items() if k in want}

    results: dict[str, dict[str, float]] = {n: {} for n in names}
    for sf, sf_dir in sfs.items():
        for name in names:
            runs = measure_lane(
                spark, registry[name], sf_dir, max(1, args.runs)
            )
            results[name][sf] = min(r["wall_s"] for r in runs)
            print(f"# sf{sf} {name}: {results[name][sf]}s", file=sys.stderr)

    # markdown table (paste into SCALE.md) + one JSON line
    cols = list(sfs)
    print("| query | " + " | ".join(f"sf{c}" for c in cols) + " |")
    print("|---" * (len(cols) + 1) + "|")
    for name in names:
        print(
            f"| {name} | "
            + " | ".join(f"{results[name].get(c, float('nan')):.2f}" for c in cols)
            + " |"
        )
    print(json.dumps({"sweep": results, "cpus": cpus}))


if __name__ == "__main__":
    main()
