"""BPE training/encoding verified against an independent pure-Python
reference implementation on real corpus data (the oracle for an
iterative algorithm SQL can't express)."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import Row, functions as F

from airflow_etl_spark import catalog
from airflow_etl_spark.operators import bpe

from tests.conftest import TEST_SF_DIR


# ---------------------------------------------------------------- reference
def _py_merge_pass(syms: list[str], left: str, right: str) -> list[str]:
    out: list[str] = []
    for x in syms:
        if out and out[-1] == left and x == right:
            out[-1] = left + right
        else:
            out.append(x)
    return out


def _py_bpe(word_counts: dict[str, int], n_merges: int):
    vocab = {w: list(w) + [bpe.EOW] for w in word_counts}
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: Counter = Counter()
        for w, syms in vocab.items():
            c = word_counts[w]
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += c
        if not pairs:
            break
        (left, right), n = sorted(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )[0]
        if n <= 1:
            break
        merges.append((left, right))
        vocab = {w: _py_merge_pass(s, left, right) for w, s in vocab.items()}
    return merges, vocab


# ------------------------------------------------------------------- tests
def test_bpe_matches_python_reference_on_corpus(spark):
    docs = catalog.load_table(spark, TEST_SF_DIR, "documents")
    merges, vocab = bpe.bpe_train(docs, n_merges=10)

    wc = {r["word"]: r["cnt"] for r in bpe.word_counts(docs).collect()}
    ref_merges, ref_vocab = _py_bpe(wc, 10)

    assert merges == ref_merges
    got = {r["word"]: list(r["tokens"]) for r in vocab.collect()}
    assert got == ref_vocab


def test_bpe_merge_is_greedy_leftmost(spark):
    df = spark.createDataFrame([Row(doc_id=1, text="aaa aaa aaa")])
    merges, vocab = bpe.bpe_train(df, n_merges=1)
    # best pair is (a, a); greedy pass over a a a </w> -> aa, a, </w>
    assert merges == [("a", "a")]
    toks = vocab.filter(F.col("word") == "aaa").collect()[0]["tokens"]
    assert list(toks) == ["aa", "a", bpe.EOW]


def test_bpe_encode_known_and_oov_words(spark):
    train = spark.createDataFrame(
        [Row(doc_id=i, text="low lower lowest low low") for i in range(3)]
    )
    merges, vocab = bpe.bpe_train(train, n_merges=5)
    assert merges  # something was learned
    test_df = spark.createDataFrame([Row(doc_id=9, text="low zebra")])
    out = {r["word"]: r for r in bpe.bpe_encode(test_df, vocab).collect()}
    # trained word uses merged tokens (fewer than chars+eow)
    assert out["low"]["n_tokens"] < 4
    # OOV word falls back to characters + EOW
    assert list(out["zebra"]["tokens"]) == ["z", "e", "b", "r", "a", bpe.EOW]
    assert [out["low"]["pos"], out["zebra"]["pos"]] == [0, 1]


def test_bpe_stops_when_counts_exhaust(spark):
    df = spark.createDataFrame([Row(doc_id=1, text="ab cd")])
    merges, _ = bpe.bpe_train(df, n_merges=50)
    # every pair has count 1 -> nothing merges, no infinite loop
    assert merges == []


def test_vocab_persists_as_txn_artifact(spark, tmp_path):
    """The learned vocabulary is an ordinary relation: txn-commit it once,
    reload in a later job, and encoding from the stored artifact equals
    encoding from the in-memory one — tokenizer artifacts ride the same
    atomic table layer as data."""
    from airflow_etl_spark.sources import txn

    train = spark.createDataFrame(
        [Row(doc_id=i, text="pack my box with five dozen jugs") for i in range(4)]
    )
    _merges, vocab = bpe.bpe_train(train, n_merges=6)
    path = str(tmp_path / "vocab")
    txn.commit(vocab, path)

    reloaded = txn.read(spark, path)
    test_df = spark.createDataFrame([Row(doc_id=1, text="box jugs unknownword")])
    direct = sorted(
        (r["pos"], tuple(r["tokens"])) for r in bpe.bpe_encode(test_df, vocab).collect()
    )
    stored = sorted(
        (r["pos"], tuple(r["tokens"])) for r in bpe.bpe_encode(test_df, reloaded).collect()
    )
    assert direct == stored and len(direct) == 3


# ------------------------------------------------- batched-merge reference
def _py_bpe_batched(word_counts, n_merges, batch, window_mult=8):
    """Independent reimplementation of the batched rule (mirrors
    airflow_etl_spark/_bpe_reference.py): rank, truncate to the
    candidate window, greedy symbol-disjoint pick, ONE combined merge
    pass per round."""
    vocab = {w: list(w) + [bpe.EOW] for w in word_counts}
    merges: list[tuple[str, str]] = []
    while len(merges) < n_merges:
        take = min(batch, n_merges - len(merges))
        pairs: Counter = Counter()
        for w, syms in vocab.items():
            c = word_counts[w]
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += c
        ranked = sorted(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )[: max(1, window_mult * take)]
        used: set[str] = set()
        picked: list[tuple[str, str]] = []
        for (left, right), n in ranked:
            if n <= 1 or len(picked) >= take:
                break
            if left in used or right in used:
                continue
            picked.append((left, right))
            used.add(left)
            used.add(right)
        if not picked:
            break
        merges.extend(picked)
        pset = set(picked)
        out_vocab = {}
        for w, syms in vocab.items():
            out: list[str] = []
            for x in syms:
                if out and (out[-1], x) in pset:
                    out[-1] = out[-1] + x
                else:
                    out.append(x)
            out_vocab[w] = out
        vocab = out_vocab
    return merges, vocab


def test_bpe_batched_matches_python_reference_on_corpus(spark):
    """bpe_train(batch=16) must reproduce the independent pure-Python
    batched reference exactly — merges AND final segmentation — at a
    production-shaped merge count (64)."""
    docs = catalog.load_table(spark, TEST_SF_DIR, "documents")
    merges, vocab = bpe.bpe_train(docs, n_merges=64, batch=16)

    wc = {r["word"]: r["cnt"] for r in bpe.word_counts(docs).collect()}
    ref_merges, ref_vocab = _py_bpe_batched(wc, 64, 16)

    assert merges == ref_merges
    assert len(merges) == 64  # the corpus supports a full 64-merge vocab
    got = {r["word"]: list(r["tokens"]) for r in vocab.collect()}
    assert got == ref_vocab


def test_bpe_batch1_is_the_sequential_algorithm(spark):
    """batch=1 must stay bit-identical to the classic sequential rule
    (the candidate window only widens the collect, never the choice)."""
    docs = catalog.load_table(spark, TEST_SF_DIR, "documents")
    seq_merges, seq_vocab = bpe.bpe_train(docs, n_merges=6)
    b1_merges, b1_vocab = bpe.bpe_train(docs, n_merges=6, batch=1)
    assert b1_merges == seq_merges
    assert sorted(
        (r["word"], tuple(r["tokens"])) for r in b1_vocab.collect()
    ) == sorted((r["word"], tuple(r["tokens"])) for r in seq_vocab.collect())


def test_bpe_batched_collapses_job_waves(spark):
    """The point of batching: learning 64 merges at batch=16 must run
    FAR fewer Spark jobs than one-merge-per-wave (64 rank jobs + 64
    materialization jobs + the word-count job ~ 129). Counted via a job
    group around the training call."""
    sc = spark.sparkContext
    docs = catalog.load_table(spark, TEST_SF_DIR, "documents")
    sc.setJobGroup("bpe-batched-waves", "count training jobs")
    try:
        merges, vocab = bpe.bpe_train(docs, n_merges=64, batch=16)
        vocab.count()
    finally:
        sc.setJobGroup(None, None)
    tracker = sc.statusTracker()
    n_jobs = len(tracker.getJobIdsForGroup("bpe-batched-waves"))
    assert len(merges) == 64
    # 4 rounds, each a rank-collect + persist-count (AQE materializes
    # each shuffle stage as its own job, so a round costs ~7 jobs, ~29
    # total). Sequential would be 64 rounds — >= 128 jobs at 2/round,
    # ~450 under AQE. Under half the 2-jobs-per-merge floor proves the
    # wave collapse without over-fitting the AQE job accounting.
    assert n_jobs < 64, n_jobs


def _py_bpe_sampled(word_counts, n_merges, batch, sample_fraction,
                    salt="bpe-sample-v1", window_mult=8):
    """Independent sampled reference: train per-round disjoint batches
    on the deterministic hash-sample, apply rounds in order to the full
    vocabulary (operators/bpe.bpe_train(sample_fraction=f) semantics)."""
    import hashlib

    keep = int(round(sample_fraction * 1000))
    smp = {
        w: c for w, c in word_counts.items()
        if int(hashlib.md5(f"{salt}:{w}".encode()).hexdigest()[:7], 16)
        % 1000 < keep
    }
    vocab_s = {w: list(w) + [bpe.EOW] for w in smp}
    merges, rounds = [], []
    while len(merges) < n_merges:
        take = min(batch, n_merges - len(merges))
        pairs = Counter()
        for w, syms in vocab_s.items():
            c = smp[w]
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += c
        ranked = sorted(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )[: max(1, window_mult * take)]
        picked = bpe.select_disjoint_pairs(
            [(l, r, n) for (l, r), n in ranked], take
        )
        if not picked:
            break
        merges.extend(picked)
        rounds.append(picked)
        pset = set(picked)

        def _pass(syms, ps=pset):
            out = []
            for x in syms:
                if out and (out[-1], x) in ps:
                    out[-1] = out[-1] + x
                else:
                    out.append(x)
            return out

        vocab_s = {w: _pass(s) for w, s in vocab_s.items()}
    vocab = {w: list(w) + [bpe.EOW] for w in word_counts}
    for picked in rounds:
        pset = set(picked)
        vocab = {w: _apply(s, pset) for w, s in vocab.items()}
    return merges, vocab


def _apply(syms, pset):
    out = []
    for x in syms:
        if out and (out[-1], x) in pset:
            out[-1] = out[-1] + x
        else:
            out.append(x)
    return out


def test_bpe_sampled_matches_python_reference_on_corpus(spark):
    """bpe_train(sample_fraction=0.5) must reproduce the independent
    sampled reference exactly: merges learned from the half-vocabulary
    hash-sample, FULL vocabulary segmented under those merges."""
    docs = catalog.load_table(spark, TEST_SF_DIR, "documents")
    merges, vocab = bpe.bpe_train(
        docs, n_merges=64, batch=16, sample_fraction=0.5
    )
    wc = {r["word"]: r["cnt"] for r in bpe.word_counts(docs).collect()}
    ref_merges, ref_vocab = _py_bpe_sampled(wc, 64, 16, 0.5)
    assert merges == ref_merges
    got = {r["word"]: list(r["tokens"]) for r in vocab.collect()}
    assert got == ref_vocab
    # the vocabulary covers the FULL corpus (encode is exact), not the
    # training sample
    assert set(got) == set(wc)


def test_bpe_sampled_keeps_wave_count_and_halves_per_wave_rows(spark):
    """Sampled training must not ADD job waves (same ~4 rounds as
    batched; the full-vocab re-apply adds ~1 boundary job per 4
    rounds), and each round's pair aggregation runs over roughly half
    the word relation — the per-wave cost cut that makes a 30k-merge
    production vocabulary tractable."""
    sc = spark.sparkContext
    docs = catalog.load_table(spark, TEST_SF_DIR, "documents")
    sc.setJobGroup("bpe-sampled-waves", "count sampled training jobs")
    try:
        merges, vocab = bpe.bpe_train(
            docs, n_merges=64, batch=16, sample_fraction=0.5
        )
        vocab.count()
    finally:
        sc.setJobGroup(None, None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("bpe-sampled-waves"))
    assert len(merges) == 64
    # same wave-collapse bound as the batched test: far under the
    # 2-jobs-per-merge sequential floor
    assert n_jobs < 64, n_jobs
    # the deterministic hash-sample really is ~half the vocabulary (on
    # a relation big enough for the binomial spread to be tight; the
    # test corpus itself has only ~31 distinct words)
    from airflow_etl_spark.operators.dedup import h28

    words = spark.range(2000).select(
        F.concat(F.lit("w"), F.col("id").cast("string")).alias("word")
    )
    n_smp = words.where(
        F.pmod(
            h28(F.concat(F.lit("bpe-sample-v1:"), F.col("word"))),
            F.lit(1000),
        ) < 500
    ).count()
    assert 0.45 * 2000 < n_smp < 0.55 * 2000, n_smp


def test_bpe_reference_is_independent_of_spark_operators():
    """The live-oracle reference (r12) must stay a genuine second
    engine: no import of operators.bpe (or pyspark at module level) —
    otherwise the oracle silently becomes Spark checked against
    itself."""
    import ast
    import pathlib

    src = (
        pathlib.Path(__file__).resolve().parent.parent
        / "airflow_etl_spark" / "_bpe_reference.py"
    ).read_text()
    tree = ast.parse(src)
    mods = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            mods |= {a.name for a in node.names}
        elif isinstance(node, ast.ImportFrom):
            mods.add(node.module or "")
    banned = [m for m in mods
              if "bpe" in m.replace("_bpe_reference", "")
              or m.startswith("pyspark")
              or "operators" in m]
    assert not banned, banned


def test_live_oracle_matches_reference_recomputation():
    """oracle_sql()'s BPE entries must carry exactly the rows the
    pure-Python reference computes right now for the shipped corpora —
    the liveness contract (no frozen fixture can drift)."""
    import duckdb

    from airflow_etl_spark import _bpe_reference as R
    from airflow_etl_spark import queries as Q

    sql = Q.oracle_sql()["bpe_token_stats"]
    for sf in ("0.001", "0.01"):
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"'/root/testdata/sf{sf}/documents.parquet'"
        )
        got = con.execute(sql).fetchall()
        docs = con.execute(
            "SELECT doc_id, text FROM documents ORDER BY doc_id"
        ).fetchall()
        con.close()
        want = R.bpe_token_stats_expected(docs)
        assert [tuple(r) for r in got] == [tuple(r) for r in want], sf
