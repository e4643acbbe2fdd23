"""Similarity search over embedding columns (extension surface).

- `cosine_topk`: brute-force exact top-k — broadcast the (small) query set
  against the corpus, JVM-side dot products via `F.zip_with`/`F.aggregate`
  (no Python UDF), window top-k per query. Linear scan of the corpus: the
  right baseline, and at 100 TB it is embarrassingly parallel with zero
  corpus shuffle (only the tiny per-query top-k combine).
- `lsh_bucket_topk`: sign-random-projection (SRP) LSH variant — corpus and
  queries hash to sign-bit buckets over deterministic pseudo-random
  hyperplanes (derived from md5, so engine-portable); candidates = same
  bucket; exact re-rank inside buckets. `multiprobe` flips query bucket
  bits (Hamming-1 probes) to recover near-miss neighbors without touching
  the corpus layout. Scale path: bucket count grows with corpus size,
  probing cost stays ~(1+multiprobe) × corpus/2^bits.
- `ivf_topk`: inverted-file coarse quantization; centroid policies from
  deterministic-head through hash-sampled to k-means(Lloyd)-trained.

All similarity math is done in double precision after an explicit cast from
the stored float32 — keeps results deterministic and comparable across
engines (float arithmetic order would not be).

CODEGEN NOTE: plane/centroid constants enter the plan as ONE nested-array
`F.lit` each (a single Literal node) and are walked with higher-order
functions (`transform`/`aggregate`). Expanding them into per-component
`F.lit`s (the round-1 shape) builds dim × planes expression nodes that
whole-stage codegen inlines into a megamethod — compile + JIT time then
dominates the query (the same failure class as MinHash's 16 permutations,
operators/dedup.py) and grows linearly with dim. The literal-array form is
O(1) plan nodes regardless of dim — verified compiling at dim=1024 in
tests/test_extensions.py.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window, functions as F

SRP_BITS = 8  # 256 buckets


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    """L2 norm with zero clamped to 1.0 (advisor r11). Norms in this
    module exist only as cosine divisors, never as output columns, and a
    zero vector has dot 0 against everything — so the clamp makes every
    similarity involving a zero vector exactly 0.0 instead of raising
    DIVIDE_BY_ZERO under Spark 4's ANSI default. The numpy assignment
    paths (`_assign_cells_np` / `_assign_cells_hier`) emit the identically
    clamped `vn_c` so pair scoring downstream never sees a raw zero."""
    n = F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    return F.when(n == 0, F.lit(1.0)).otherwise(n)


def _clamp0(c: Column) -> Column:
    """Zero→1.0 clamp for similarity divisors that are NOT plain norms
    (e.g. the PQ-reconstructed `sqrt(est_n2)` — zero exactly when the
    reconstruction is the zero vector, in which case the estimated dot
    is 0 too, so the clamped estimate is exactly 0.0)."""
    return F.when(c == 0, F.lit(1.0)).otherwise(c)


def cosine(a: Column, b: Column, digits: int = 4) -> Column:
    """Cosine similarity in double precision, rounded for stability."""
    return F.round(_dot(a, b) / (_norm(a) * _norm(b)), digits)


def _ranked_topk(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force cosine top-k.

    Output: (query_id, neighbor_id, cos_sim, rank), self-matches excluded.
    Ranking uses the *rounded* similarity with neighbor-id tie-break so the
    result is totally ordered and engine-reproducible.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        _norm_c(vec_col).alias("q_norm"),
    )
    from .core import spread

    # Norms are computed once per row BEFORE the broadcast join — inlined
    # after it they'd be re-evaluated per (query, corpus) pair, tripling the
    # arithmetic. Same expressions on the same rows → bit-identical scores.
    # spread() first so the norm pass runs on all cores, not the single
    # partition a small parquet file arrives as.
    c = spread(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        _norm_c(vec_col).alias("c_norm"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot_c("q_vec", "c_vec")
                / (F.col("q_norm") * F.col("c_norm")),
                4,
            ).alias("cos_sim"),
        )
    )
    return _ranked_topk(scored, k)


def _plane_component(b: int, j: int) -> float:
    """Deterministic pseudo-random hyperplane component in [-1, 1): derived
    from md5(f"{b}:{j}") — stable across runs/engines/partitions."""
    h = int(hashlib.md5(f"{b}:{j}".encode()).hexdigest()[:7], 16)
    return (h / float(2 ** 28)) * 2.0 - 1.0


def planes(dim: int, bits: int = SRP_BITS) -> list[list[float]]:
    """The SRP hyperplane matrix (bits × dim), as plain Python data."""
    return [[_plane_component(b, j) for j in range(dim)] for b in range(bits)]


def _array_lit_2d_sql(matrix: list[list[float]]) -> str:
    """SQL text of an array<array<double>> literal (see _array_lit_2d)."""
    body = ",".join(
        "array(" + ",".join(f"{x!r}D" for x in row) + ")" for row in matrix
    )
    return f"array({body})"


def _array_lit_2d(matrix: list[list[float]]) -> Column:
    """array<array<double>> literal via ONE parsed SQL expression.

    `F.lit(nested_list)` builds the literal element-by-element over py4j —
    ~2.5s of driver round trips for 4096 elements (measured), paid per
    call. One `F.expr` string is a single round trip; `repr(float)` is an
    exact IEEE round-trip and the 'D' suffix pins the SQL literal to
    double, so values are bit-identical to the F.lit form."""
    return F.expr(_array_lit_2d_sql(matrix))


def _dot_sql(a: str, b: str) -> str:
    """SQL text mirroring `_dot` — same ops, same left-fold order, so the
    parsed expression is value-identical to the Column-built one."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * "
        f"CAST(y AS DOUBLE)), 0.0D, (acc, v) -> acc + v)"
    )


def _norm_sql(a: str) -> str:
    """SQL text mirroring `_norm` (L2 norm, zero clamped to 1.0)."""
    n = (
        f"sqrt(aggregate(transform({a}, x -> CAST(x AS DOUBLE) * "
        f"CAST(x AS DOUBLE)), 0.0D, (acc, v) -> acc + v))"
    )
    return f"(CASE WHEN {n} = 0 THEN 1.0D ELSE {n} END)"


def _norm_c(name: str) -> Column:
    """`_norm` over a NAMED column as one parsed `F.expr` (r12): a py4j
    round trip costs ~6 ms on this driver, so the ~30-call Column build
    of the norm aggregate costs ~0.2 s PER PLAN — pure driver latency,
    paid on every fresh-plan bench run. Same ops, same order,
    bit-identical values."""
    return F.expr(_norm_sql(f"`{name}`"))


def _dot_c(a: str, b: str) -> Column:
    """`_dot` over two NAMED columns as one parsed `F.expr` (see
    _norm_c)."""
    return F.expr(_dot_sql(f"`{a}`", f"`{b}`"))


def _array_lit_1d_double(values: list[float]) -> Column:
    body = ",".join(f"{x!r}D" for x in values)
    return F.expr(f"array({body})")


_PLANE_SQL_CACHE: dict[tuple[int, int], str] = {}


def _planes_sql(dim: int, bits: int) -> str:
    """Cached plane-matrix literal SQL text — the matrix is a pure
    function of (dim, bits)."""
    key = (dim, bits)
    if key not in _PLANE_SQL_CACHE:
        _PLANE_SQL_CACHE[key] = _array_lit_2d_sql(planes(dim, bits))
    return _PLANE_SQL_CACHE[key]


def srp_bucket(vec_sql: str, dim: int, bits: int = SRP_BITS) -> Column:
    """Sign-random-projection bucket id (0 .. 2^bits-1) for the vector
    whose SQL text is `vec_sql`.

    The plane matrix is ONE array<array<double>> literal walked with
    transform/aggregate — O(1) plan nodes at any dim (see module codegen
    note). Bit b set ⇔ projection onto hyperplane b is >= 0; identical
    arithmetic (zip_with + left-fold) to the expanded round-1 form, so
    bucket ids are unchanged. Emitted as ONE parsed `F.expr` (r12
    py4j-latency note on `_norm_c`), same ops in the same order."""
    proj = (
        f"aggregate(zip_with({vec_sql}, plane, (x, w) -> "
        f"CAST(x AS DOUBLE) * w), 0.0D, (a, v) -> a + v)"
    )
    weighted = (
        f"transform({_planes_sql(dim, bits)}, (plane, b) -> "
        f"CASE WHEN {proj} >= 0 THEN CAST(pow(2.0D, b) AS BIGINT) "
        f"ELSE CAST(0 AS BIGINT) END)"
    )
    return F.expr(
        f"aggregate({weighted}, CAST(0 AS BIGINT), (a, v) -> a + v)"
    )


def lsh_bucket_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = SRP_BITS,
    multiprobe: int = 0,
) -> DataFrame:
    """Approximate top-k: exact re-rank within the query's SRP bucket(s).

    `multiprobe=m` additionally probes the m buckets at Hamming distance 1
    (flipping bits 0..m-1 of the query bucket) — the standard multi-probe
    LSH recall lever: the corpus stays hash-partitioned by its single
    bucket; only the tiny query side fans out (1+m rows per query), so
    recall rises with zero corpus cost. Output schema matches cosine_topk.
    """
    from .core import spread

    c = spread(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        _norm_c(vec_col).alias("c_norm"),
        srp_bucket(f"`{vec_col}`", dim, bits).alias("bucket"),
    )
    base_bucket = srp_bucket(f"`{vec_col}`", dim, bits)
    probe_buckets = F.array(
        base_bucket, *[
            base_bucket.bitwiseXOR(F.lit(2 ** b).cast("long"))
            for b in range(min(multiprobe, bits))
        ]
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        _norm_c(vec_col).alias("q_norm"),
        F.explode(probe_buckets).alias("bucket"),
    )
    scored = (
        c.join(F.broadcast(q), on="bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot_c("q_vec", "c_vec")
                / (F.col("q_norm") * F.col("c_norm")),
                4,
            ).alias("cos_sim"),
        )
    )
    # multiprobe can reach the same neighbor through two buckets — dedup
    # before ranking (same (query, neighbor) ⇒ same cos_sim)
    if multiprobe > 0:
        scored = scored.dropDuplicates(["query_id", "neighbor_id"])
    return _ranked_topk(scored, k)


IVF_K = 16       # coarse cells
IVF_NPROBE = 2   # cells probed per query


def head_centroids(
    corpus: DataFrame, n_cells: int, id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Deterministic default: corpus vectors with id < n_cells. Collected
    driver-side (control-plane scale: n_cells × dim doubles)."""
    return sorted(
        (r[0], [float(x) for x in r[1]])
        for r in corpus.filter(F.col(id_col) < n_cells)
        .select(id_col, vec_col)
        .collect()
    )


def sampled_centroids(
    corpus: DataFrame, n_cells: int, id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Hash-ranked deterministic sample: the n_cells corpus vectors with the
    smallest md5-derived rank of their id — spread across the id space
    (unlike head_centroids) yet exactly reproducible in any engine with md5
    (the DuckDB oracle replays the same ranking). One corpus pass + a
    control-plane top-k collect; no RNG, no training."""
    h = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 7), 16, 10)
    picked = (
        corpus.select(
            F.col(id_col), F.col(vec_col), h.cast("long").alias("__h")
        )
        .orderBy(F.col("__h").asc(), F.col(id_col).asc())
        .limit(n_cells)
        .collect()
    )
    return sorted((r[0], [float(x) for x in r[1]]) for r in picked)


def train_centroids(
    corpus: DataFrame,
    n_cells: int,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_fraction: float | None = None,
) -> list[tuple[int, list[float]]]:
    """Lloyd-iteration (k-means) centroid training, Spark-distributed.

    Seeds with `sampled_centroids` (deterministic), then `iters` rounds of:
    assign every vector to its nearest centroid (pure projection over a
    centroid literal — zero shuffle), recompute each centroid as the
    element-wise mean (posexplode → groupBy(cell, pos) avg → control-plane
    collect of n_cells × dim rows). Only centroids ever reach the driver.

    At 100 TB: pass `sample_fraction` to train on a deterministic hash
    sample of the corpus (the standard practice — centroid quality needs
    ~1000 points per cell, not the full corpus); assignment of the full
    corpus still happens in `ivf_topk` as a projection.

    Float caveat: the avg's accumulation order is partition-dependent, so
    trained centroids are deterministic only to float round-off — fine for
    ANN quality, not for exact cross-engine hash parity (use
    head/sampled_centroids for oracle-checked queries; tests check recall,
    not hashes).
    """
    base = corpus.select(id_col, vec_col)
    if sample_fraction is not None:
        # deterministic hash sample (no RNG): keep ids whose md5 rank falls
        # below the fraction cutoff
        h = F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 7), 16, 10
        ).cast("long")
        base = base.filter(h < int(sample_fraction * float(2 ** 28)))
    cents = sampled_centroids(base, n_cells, id_col, vec_col)
    cvecs = [v for _, v in cents]
    for _ in range(iters):
        assigned = base.select(
            F.col(vec_col).alias("v"),
            _nearest_cell(
                f"`{vec_col}`", _norm_sql(f"`{vec_col}`"), cvecs,
                list(range(len(cvecs))), 1,
            )[0]["cid"].alias("cell"),
        )
        rows = (
            assigned.select("cell", F.posexplode("v").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.avg(F.col("x").cast("double")).alias("m"))
            .collect()
        )
        by_cell: dict[int, dict[int, float]] = {}
        for r in rows:
            by_cell.setdefault(r["cell"], {})[r["pos"]] = r["m"]
        # a cell that captured no points keeps its previous centroid
        cvecs = [
            [by_cell[c][p] for p in sorted(by_cell[c])] if c in by_cell
            else cvecs[c]
            for c in range(len(cvecs))
        ]
    return list(enumerate(cvecs))


def _norm_py(v: list[float]) -> float:
    """Driver-side vector norm with the SAME left-fold accumulation order
    as the Spark `_norm` aggregate — bit-identical IEEE result, so a
    centroid norm precomputed here can replace a per-row `_norm(literal)`
    without perturbing any rounded similarity."""
    import math

    acc = 0.0
    for x in v:
        acc += float(x) * float(x)
    return math.sqrt(acc)


def _nearest_cell_sql(
    vec_sql: str, nrm_sql: str, cvecs: list[list[float]], cids: list[int],
    n_top: int,
) -> str:
    """Top-`n_top` nearest centroids as an array of structs, via ONE
    centroid literal (see module codegen note). Centroid norms are
    constants — precomputed driver-side (`_norm_py`) instead of re-derived
    per corpus row. Lexicographic struct sort on (sim, negk) reversed =
    sim desc, centroid id asc on ties — deterministic in any engine.

    Takes the vector/norm operands as SQL TEXT and emits the whole
    assignment as ONE parsed `F.expr` (r12): the Column-by-Column build
    cost ~400 py4j round trips PER PLAN (measured ~0.7 s warm on the
    `local[32]` driver) — pure driver latency paid on every fresh-plan
    bench run. The generated text spells out the exact operation tree the
    Column form built (same zip_with/left-fold dot, same literal texts,
    `0.0D`/`1.0D` pin double literals), so results are bit-identical.

    Zero-norm guard (advisor r10): a zero vector or zero centroid makes
    the divisor 0, which raises DIVIDE_BY_ZERO under Spark 4's ANSI
    default. Both zero norms are clamped to 1.0 — the numerator dot is
    0 whenever either side is the zero vector, so the clamped sim is
    exactly 0.0 to every centroid (deterministic id-asc tie-break), and
    `_assign_cells_np` clamps identically."""
    # F.lit([ints]) made array<bigint> (Python int -> LongType); the 'L'
    # suffix pins the same element type so downstream schemas are unchanged
    cid_sql = "array(" + ",".join(f"{int(c)}L" for c in cids) + ")"
    cnorm_sql = (
        "array("
        + ",".join(f"{(_norm_py(cv) or 1.0)!r}D" for cv in cvecs)
        + ")"
    )
    nrm_c = f"(CASE WHEN {nrm_sql} = 0 THEN 1.0D ELSE {nrm_sql} END)"
    dot = _dot_sql(vec_sql, "cv")
    structs = (
        f"transform({_array_lit_2d_sql(cvecs)}, (cv, i) -> struct("
        f"round({dot} / ({nrm_c} * element_at({cnorm_sql}, i + 1)), 4) "
        f"AS sim, "
        f"-element_at({cid_sql}, i + 1) AS negk, "
        f"element_at({cid_sql}, i + 1) AS cid))"
    )
    return f"slice(reverse(array_sort({structs})), 1, {int(n_top)})"


def _nearest_cell(
    vec_sql: str, nrm_sql: str, cvecs: list[list[float]], cids: list[int],
    n_top: int,
) -> Column:
    """Column form of :func:`_nearest_cell_sql` (one parsed F.expr)."""
    return F.expr(_nearest_cell_sql(vec_sql, nrm_sql, cvecs, cids, n_top))


#: Expression-literal cell assignment (`_nearest_cell`) stays the physical
#: path up to this many centroids. Beyond it, the per-row k-way HOF dot +
#: k-struct sort is the wrong plan (interpreted lambda cost × k per row —
#: the r10 sf10 sweep measured the 1600-cell assignment dominating
#: dedup_semantic), and the Arrow/numpy GEMM path below wins. All
#: oracle-checked scales resolve ≤ 16 cells, so parity always exercises
#: the expression path.
_NP_ASSIGN_MIN_CELLS = 64


def _assign_cells_np(
    corpus: DataFrame,
    cents: list[tuple[int, list[float]]],
    n_top: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Large-k cell assignment as one numpy GEMM per Arrow batch against
    the broadcast centroid matrix — SemDeDup's production regime
    (n_cells grows with the corpus; the paper runs ~100k clusters, which
    no codegen literal should unroll). Output matches the expression
    path's `assigned` relation: (id, v, nrm, cell, probe_cells).

    Semantics match `_nearest_cell`: sim rounded to 4 decimals
    HALF-AWAY-FROM-ZERO (Spark ROUND), ties broken centroid-id
    ascending. The only representable divergence is IEEE summation
    order at the exact 4th-decimal rounding boundary (measure-zero;
    oracle-checked scales stay on the expression path)."""
    import numpy as np
    import pandas as pd

    cids_l = [cid for cid, _ in cents]
    cids = np.asarray(cids_l, dtype=np.int64)
    C = np.asarray([v for _, v in cents], dtype=np.float64)
    cn = np.sqrt((C * C).sum(axis=1))
    cn_c = np.where(cn == 0.0, 1.0, cn)
    k = len(cids_l)
    ranks = np.empty(k, dtype=np.int64)
    ranks[np.argsort(cids, kind="stable")] = np.arange(k)

    out_schema = (
        "id long, v array<float>, nrm double, cell long, "
        "probe_cells array<long>"
    )

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(
                [np.asarray(x, dtype=np.float64) for x in pdf[vec_col]]
            )
            vn = np.sqrt((V * V).sum(axis=1))
            # zero-norm clamp, mirroring _nearest_cell (advisor r10): a
            # zero vector/centroid has dot 0 with everything, so the
            # clamped sim is exactly 0.0 — no NaN ever reaches the
            # int64 cast (np.floor(NaN).astype(int64) is undefined)
            vn_c = np.where(vn == 0.0, 1.0, vn)
            sims = (V @ C.T) / (vn_c[:, None] * cn_c[None, :])
            # F.round(x, 4): half away from zero
            sims4 = (
                np.sign(sims) * np.floor(np.abs(sims) * 10000.0 + 0.5)
            ).astype(np.int64)
            # desc by rounded sim, asc by centroid id: one integer key —
            # UNIQUE per row (ranks are distinct), so top-n selection
            # needs no stability guarantee
            key = sims4 * np.int64(k + 1) - ranks[None, :]
            if n_top < k:
                # argpartition is O(k) per row vs argsort's O(k log k);
                # with the adaptive cell count k grows as n/125, so the
                # full sort was the dominant term of the whole operator
                # at the sf10 sweep point (k=1600: 34s -> ~8s assign)
                part = np.argpartition(-key, n_top - 1, axis=1)[:, :n_top]
                pk = np.take_along_axis(key, part, axis=1)
                order = np.take_along_axis(
                    part, np.argsort(-pk, axis=1), axis=1
                )
            else:
                order = np.argsort(-key, axis=1)
            top = cids[order]
            yield pd.DataFrame(
                {
                    "id": pdf[id_col].astype("int64"),
                    "v": pdf[vec_col],
                    # emit the CLAMPED norm: downstream pair scoring
                    # divides by na*nb, and a raw zero here would raise
                    # DIVIDE_BY_ZERO one stage later (advisor r11)
                    "nrm": vn_c,
                    "cell": top[:, 0],
                    "probe_cells": [row.tolist() for row in top],
                }
            )

    from .core import spread

    return spread(corpus.select(id_col, vec_col)).mapInPandas(
        gen, out_schema
    )


#: Flat (exact) assignment scores ALL k centroids per row — O(n·k·d),
#: and with the adaptive cell count k = n/125 that is the one remaining
#: quadratic term in semantic dedup (the r11 sf100 probe's 2M vectors
#: resolve to k=16000: ~5e11 multiply-adds flat). At and above this
#: many centroids, assignment goes hierarchical (two-level, IVF-coarse
#: style): O(n·(√k + p·√k)·d). Oracle-checked scales resolve to ≤16
#: cells and never come near either numpy path.
_HIER_ASSIGN_MIN_CELLS = 4096


def _assign_cells_hier(
    corpus: DataFrame,
    cents: list[tuple[int, list[float]]],
    n_top: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_groups: int = 4,
) -> DataFrame:
    """Two-level APPROXIMATE cell assignment for very large k — the
    IVF-coarse-quantizer trick applied to the centroid search itself
    (FAISS's IndexIVF does exactly this for SemDeDup-scale cluster
    counts): group the k centroids under g = ceil(sqrt(k))
    super-centroids (the first g centroids in their deterministic
    md5-sample order), score each row against the g super-centroids
    exactly, then run the EXACT rounded-sim/id-asc top-`n_top` only
    over the centroids of the row's `probe_groups` nearest groups —
    O(n·(g + p·k/g)·d) vs flat's O(n·k·d), a ~k/(2√k·p)× cut (≈16× at
    k=16000, p=4).

    Approximation contract: within the probed candidate set the result
    is EXACTLY the flat path's ordering (same integer key: rounded sim
    desc, centroid id asc — verified by the probe_groups=g equivalence
    test, where the candidate set is all of k and the output must match
    `_assign_cells_np` row-for-row). A row whose true nearest centroid
    lives outside its probed groups gets its best PROBED cell instead —
    the same recall trade `n_assign` soft assignment already makes at
    the pair level, measured in tests on clustered vectors (the regime
    where SemDeDup runs; recall there is ≥0.95). Deterministic: every
    selection uses unique integer keys, never rand().
    """
    import math

    import numpy as np
    import pandas as pd

    cids_l = [cid for cid, _ in cents]
    cids = np.asarray(cids_l, dtype=np.int64)
    C = np.asarray([v for _, v in cents], dtype=np.float64)
    cn = np.sqrt((C * C).sum(axis=1))
    cn_c = np.where(cn == 0.0, 1.0, cn)
    k = len(cids_l)
    ranks = np.empty(k, dtype=np.int64)
    ranks[np.argsort(cids, kind="stable")] = np.arange(k)

    g = min(k, max(1, math.isqrt(k - 1) + 1))  # ceil(sqrt(k)), <= k
    p = min(probe_groups, g)
    S = C[:g]  # super-centroids: deterministic head of the sample order
    sn_c = cn_c[:g]

    # group every centroid under its nearest super-centroid (driver-side
    # k×g GEMM — trivial next to the per-row work), ties super-id asc
    csims = (C @ S.T) / (cn_c[:, None] * sn_c[None, :])
    grp = np.argmax(
        np.floor(csims * 10000.0) * np.int64(g + 1)
        - np.arange(g, dtype=np.int64)[None, :],
        axis=1,
    )
    members = [np.nonzero(grp == j)[0] for j in range(g)]

    out_schema = (
        "id long, v array<float>, nrm double, cell long, "
        "probe_cells array<long>"
    )
    kk = np.int64(k + 1)
    sentinel = np.iinfo(np.int64).min

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(
                [np.asarray(x, dtype=np.float64) for x in pdf[vec_col]]
            )
            nr = len(V)
            vn = np.sqrt((V * V).sum(axis=1))
            vn_c = np.where(vn == 0.0, 1.0, vn)
            # level 1: exact scores vs the g super-centroids; top-p
            # groups per row by the usual unique integer key
            ss = (V @ S.T) / (vn_c[:, None] * sn_c[None, :])
            skey = (
                np.sign(ss) * np.floor(np.abs(ss) * 10000.0 + 0.5)
            ).astype(np.int64) * np.int64(g + 1) - np.arange(
                g, dtype=np.int64
            )[None, :]
            if p < g:
                topg = np.argpartition(-skey, p - 1, axis=1)[:, :p]
            else:
                topg = np.tile(np.arange(g), (nr, 1))
            # level 2: per probed group, exact keys over its members
            # (same (V@C.T)/(vn*cn) association as _assign_cells_np, so
            # rounding boundaries agree bit-for-bit with the flat path),
            # streamed into a per-row running top-n buffer
            best_key = np.full((nr, n_top), sentinel, dtype=np.int64)
            best_idx = np.zeros((nr, n_top), dtype=np.int64)
            probed = np.zeros((nr, g), dtype=bool)
            probed[np.arange(nr)[:, None], topg] = True
            for j in range(g):
                mem = members[j]
                if len(mem) == 0:
                    continue
                rows = np.nonzero(probed[:, j])[0]
                if len(rows) == 0:
                    continue
                sj = (V[rows] @ C[mem].T) / (
                    vn_c[rows, None] * cn_c[mem][None, :]
                )
                keys_j = (
                    np.sign(sj) * np.floor(np.abs(sj) * 10000.0 + 0.5)
                ).astype(np.int64) * kk - ranks[mem][None, :]
                m = len(mem)
                if m > n_top:
                    sel = np.argpartition(-keys_j, n_top - 1, axis=1)[
                        :, :n_top
                    ]
                    cand_key = np.take_along_axis(keys_j, sel, axis=1)
                    cand_idx = mem[sel]
                else:
                    cand_key = keys_j
                    cand_idx = np.tile(mem, (len(rows), 1))
                merged_key = np.concatenate(
                    [best_key[rows], cand_key], axis=1
                )
                merged_idx = np.concatenate(
                    [best_idx[rows], cand_idx], axis=1
                )
                sel = np.argpartition(-merged_key, n_top - 1, axis=1)[
                    :, :n_top
                ]
                best_key[rows] = np.take_along_axis(merged_key, sel, axis=1)
                best_idx[rows] = np.take_along_axis(merged_idx, sel, axis=1)
            ordsel = np.argsort(-best_key, axis=1)
            order = np.take_along_axis(best_idx, ordsel, axis=1)
            okey = np.take_along_axis(best_key, ordsel, axis=1)
            top = cids[order]
            probe_lists = [row.tolist() for row in top]
            # a row can end with < n_top candidates only in degenerate
            # corners (duplicate centroids emptying every probed group,
            # or probed member count < n_top): drop the sentinel slots
            # rather than emit a bogus cell; a row with ZERO candidates
            # falls back to the exact flat scan (rare by construction)
            filled = okey > sentinel
            for i in np.nonzero(~filled.all(axis=1))[0]:
                if not filled[i, 0]:
                    sims_i = (V[i] @ C.T) / (vn_c[i] * cn_c)
                    keys_i = (
                        np.sign(sims_i)
                        * np.floor(np.abs(sims_i) * 10000.0 + 0.5)
                    ).astype(np.int64) * kk - ranks
                    full = np.argsort(-keys_i)[:n_top]
                    top[i, 0] = cids[full[0]]
                    probe_lists[i] = cids[full].tolist()
                else:
                    probe_lists[i] = [
                        c
                        for c, f in zip(probe_lists[i], filled[i])
                        if f
                    ]
            yield pd.DataFrame(
                {
                    "id": pdf[id_col].astype("int64"),
                    "v": pdf[vec_col],
                    # clamped, same rationale as _assign_cells_np
                    "nrm": vn_c,
                    "cell": top[:, 0],
                    "probe_cells": probe_lists,
                }
            )

    from .core import spread

    return spread(corpus.select(id_col, vec_col)).mapInPandas(
        gen, out_schema
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = IVF_K,
    nprobe: int = IVF_NPROBE,
    centroids: str | list[tuple[int, list[float]]] = "head",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: coarse-quantize the corpus
    into `n_cells` cells, probe the query's `nprobe` nearest cells, exact
    re-rank inside.

    `centroids` policies: "head" (id < n_cells — the deterministic oracle
    default), "sampled" (md5-ranked deterministic sample), "trained"
    (k-means via train_centroids), or an explicit [(cid, vector)] list.
    Whatever the policy, centroids are control-plane data (n_cells × dim
    doubles) inlined as ONE array literal, so cell assignment is a PURE
    PROJECTION over the corpus: zero shuffle, embarrassingly parallel. The
    only joins are a broadcast of (query, probed-cell) pairs against the
    cell-assigned corpus and the tiny final top-k window per query.
    """
    from .core import spread

    cents = resolve_centroids(corpus, n_cells, centroids, id_col, vec_col)
    assigned = _with_cells(
        spread(corpus), cents, "neighbor_id", "c_vec", "c_norm", 1,
        id_col, vec_col,
    )
    return ivf_probe(queries, assigned, cents, k, nprobe, id_col, vec_col)


def resolve_centroids(
    corpus: DataFrame,
    n_cells: int,
    centroids: str | list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Resolve a centroid policy name to the concrete [(cid, vector)]
    control-plane list (see ivf_topk for the policies)."""
    if centroids == "head":
        return head_centroids(corpus, n_cells, id_col, vec_col)
    if centroids == "sampled":
        return sampled_centroids(corpus, n_cells, id_col, vec_col)
    if centroids == "trained":
        return train_centroids(corpus, n_cells, id_col=id_col, vec_col=vec_col)
    if isinstance(centroids, str):  # pragma: no cover - guard
        raise ValueError(f"unknown centroid policy {centroids!r}")
    return centroids


def _with_cells(
    df: DataFrame,
    cents: list[tuple[int, list[float]]],
    id_alias: str,
    vec_alias: str,
    n_alias: str,
    n_top: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cell-assignment projection shared by the build and probe sides:
    (id, vec, norm, cell) with one row per assigned cell."""
    cids = [cid for cid, _ in cents]
    cvecs = [v for _, v in cents]
    # materialize the norm as a column FIRST: referenced as a
    # subexpression inside the per-cell structs it would be recomputed
    # per centroid (n_cells passes over the vector instead of one)
    base = df.selectExpr(
        f"`{id_col}` AS `{id_alias}`",
        f"`{vec_col}` AS `{vec_alias}`",
        f"{_norm_sql(f'`{vec_col}`')} AS `{n_alias}`",
    )
    top = _nearest_cell_sql(
        f"`{vec_alias}`", f"`{n_alias}`", cvecs, cids, n_top
    )
    return base.selectExpr(
        f"`{id_alias}`",
        f"`{vec_alias}`",
        f"`{n_alias}`",
        f"explode(transform({top}, s -> s.cid)) AS cell",
    )


def ivf_build_index(
    corpus: DataFrame,
    n_cells: int = IVF_K,
    centroids: str | list[tuple[int, list[float]]] = "sampled",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, list[tuple[int, list[float]]]]:
    """BUILD side of build-once/probe-many IVF: the materializable index
    relation (neighbor_id, c_vec, c_norm, cell) plus the centroid list.

    The relation is exactly what `ivf_topk` derives on the fly — persist
    it (e.g. `txn.commit`, clustered by `cell`) and the per-query cost of
    every later search drops the corpus-wide assignment projection: the
    offline-index/online-probe split every production ANN service runs.
    Norms are stored, so probing never re-reads vector magnitudes; floats
    and doubles round-trip parquet exactly, so a probe against the stored
    index is bit-identical to probing the freshly-built one."""
    from .core import spread

    cents = resolve_centroids(corpus, n_cells, centroids, id_col, vec_col)
    assigned = _with_cells(
        spread(corpus), cents, "neighbor_id", "c_vec", "c_norm", 1,
        id_col, vec_col,
    )
    return assigned, cents


def ivf_probe(
    queries: DataFrame,
    assigned: DataFrame,
    cents: list[tuple[int, list[float]]],
    k: int = 5,
    nprobe: int = IVF_NPROBE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PROBE side: assign each query to its `nprobe` nearest cells,
    broadcast the (query, cell) pairs against the index relation, exact
    cosine re-rank inside the probed cells. The index side only ever
    filters by cell — with the index table clustered by `cell`, file
    pruning turns each probe into a sub-scan."""
    probes = _with_cells(
        queries, cents, "query_id", "q_vec", "q_norm", nprobe,
        id_col, vec_col,
    )
    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot_c("q_vec", "c_vec")
                / (F.col("q_norm") * F.col("c_norm")),
                4,
            ).alias("cos_sim"),
        )
    )
    return _ranked_topk(scored, k)


def ivf_range(
    queries: DataFrame,
    corpus: DataFrame,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = IVF_K,
    nprobe: int = IVF_NPROBE,
    centroids: str | list[tuple[int, list[float]]] = "head",
) -> DataFrame:
    """IVF RANGE search: ALL neighbors with cosine >= threshold inside
    the probed cells — the radius-query companion to ivf_topk (the shape
    behind "find every candidate duplicate above 0.9", where top-k would
    silently truncate dense neighborhoods and over-fetch sparse ones).

    Cheaper than top-k at the plan level: the result is a pure FILTER
    over the cell-bounded candidate scores — no per-query rank window,
    so the only exchange in the whole query is the broadcast of the
    (query, probed-cell) pairs; the corpus is never shuffled and never
    sorted. Each corpus vector lives in exactly one cell, so no
    dedup pass is needed on the output."""
    from .core import spread

    cents = resolve_centroids(corpus, n_cells, centroids, id_col, vec_col)
    assigned = _with_cells(
        spread(corpus), cents, "neighbor_id", "c_vec", "c_norm", 1,
        id_col, vec_col,
    )
    probes = _with_cells(
        queries, cents, "query_id", "q_vec", "q_norm", nprobe,
        id_col, vec_col,
    )
    return (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot_c("q_vec", "c_vec")
                / (F.col("q_norm") * F.col("c_norm")),
                4,
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= F.lit(float(threshold)))
    )


# --------------------------------------------------------------------------
# int8 embedding quantization — 4x storage compression for the vector
# column (float32 -> int8 + one scale), the standard trick for corpus-
# scale embedding storage; retrieval re-ranks on dequantized values
# --------------------------------------------------------------------------

def quantize_int8(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Per-vector symmetric int8 quantization: scale = max|x| / 127,
    q_i = round(x_i / scale). Pure column expressions — zero shuffle,
    codegen'd; the scale is let()-bound so the per-element lambda doesn't
    re-reduce the vector once per element (the r2 CSE-in-lambda trap).
    Output: (id, q array<int>, scale double). Reconstruction error is
    bounded by scale/2 per element (asserted in tests)."""
    from .dedup import let

    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return df.select(
        F.col(id_col),
        let(
            v,
            lambda vv: let(
                F.greatest(
                    F.aggregate(
                        vv, F.lit(0.0), lambda a, x: F.greatest(a, F.abs(x))
                    )
                    / F.lit(127.0),
                    F.lit(1e-12),
                ),
                lambda s: F.struct(
                    F.transform(
                        vv, lambda x: F.round(x / s).cast("int")
                    ).alias("q"),
                    s.alias("scale"),
                ),
            ),
        ).alias("qs"),
    ).select(id_col, F.col("qs.q").alias("q"), F.col("qs.scale").alias("scale"))


def dequantize_int8(
    df: DataFrame, q_col: str = "q", scale_col: str = "scale"
) -> Column:
    """array<double> reconstruction: q_i * scale."""
    return F.transform(
        F.col(q_col), lambda x: x.cast("double") * F.col(scale_col)
    )


# --------------------------------------------------------------------------
# Product quantization (PQ) — the ANN memory/compute answer at 100 TB:
# vectors compress to n_sub small codes (dim 64 → 8 bytes, 32×) and
# query scoring becomes n_sub table lookups instead of O(dim) arithmetic
# (asymmetric distance computation, Jégou et al. 2011).
# --------------------------------------------------------------------------
PQ_SUB = 8
PQ_CODES = 16


def pq_codebooks(
    corpus: DataFrame, n_sub: int = PQ_SUB, n_codes: int = PQ_CODES,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Per-subspace codebooks `cb[s][c][j]` from the deterministic head
    policy (corpus vectors id < n_codes, sliced into n_sub equal
    subvectors) — control-plane data (n_sub × n_codes × sub_d doubles),
    exactly reproducible in any engine (the oracle replays it). Swap in
    per-subspace k-means for production quality; the plan shape below is
    policy-independent."""
    rows = sorted(
        (r[0], [float(x) for x in r[1]])
        for r in corpus.filter(F.col(id_col) < n_codes)
        .select(id_col, vec_col)
        .collect()
    )
    return _codebooks_from_rows(rows, n_sub)


def _codebooks_from_rows(
    rows: list[tuple[int, list[float]]], n_sub: int
) -> list[list[list[float]]]:
    """Slice already-collected head rows into per-subspace codebooks —
    lets ivf_pq_topk serve centroids AND codebooks from ONE collect
    (r12: the two filters select the same head rows; each tiny collect
    is a whole Spark job of scheduler latency)."""
    dim = len(rows[0][1])
    if dim % n_sub:
        raise ValueError(f"dim {dim} not divisible by n_sub {n_sub}")
    sub = dim // n_sub
    return [
        [v[s * sub:(s + 1) * sub] for _id, v in rows] for s in range(n_sub)
    ]


def _cb_lit_3d_sql(cb: list[list[list[float]]]) -> str:
    body = ",".join(
        "array(" + ",".join(
            "array(" + ",".join(f"{x!r}D" for x in code) + ")" for code in sub
        ) + ")"
        for sub in cb
    )
    return f"array({body})"


def _pq_codes_expr(cb: list[list[list[float]]], v_sql: str) -> Column:
    """codes array<int> column for the vector whose SQL text is `v_sql`
    (see pq_encode).

    ONE parsed `F.expr` (r12, the `_nearest_cell` rationale): the Column
    build cost ~400 py4j round trips per plan. The codebook literal is
    let-bound once via a 1-element `transform` (`dedup.let` in SQL text)
    instead of being inlined into both operands of the squared-distance
    product — the analyzed tree carries ONE copy of the n_sub × n_codes
    × sub_d literal instead of two, and every arithmetic op keeps the
    exact order of the Column form, so codes are bit-identical."""
    n_sub, n_codes, sub = len(cb), len(cb[0]), len(cb[0][0])
    diff = (
        f"(CAST(element_at({v_sql}, s * {sub} + j + 1) AS DOUBLE) - "
        f"element_at(element_at(element_at(L, s + 1), c + 1), j + 1))"
    )
    body = (
        f"transform(sequence(0, {n_sub - 1}), s -> "
        f"CAST(array_min(transform(sequence(0, {n_codes - 1}), c -> "
        f"struct(aggregate(sequence(0, {sub - 1}), 0.0D, "
        f"(acc, j) -> acc + {diff} * {diff}) AS d, c AS c)))['c'] AS INT))"
    )
    return F.expr(
        f"element_at(transform(array({_cb_lit_3d_sql(cb)}), L -> {body}), 1)"
    )


def pq_encode(
    df: DataFrame, cb: list[list[list[float]]],
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int>): each subvector's nearest codebook entry by
    squared L2, ties to the smallest code. A PURE PROJECTION over ONE
    codebook literal — zero shuffle, the corpus encodes in a single
    codegen'd pass and at rest stores n_sub small ints per vector."""
    return df.select(
        F.col(id_col).alias("id"),
        _pq_codes_expr(cb, f"`{vec_col}`").alias("codes"),
    )


def _pq_lut_expr(cb: list[list[list[float]]], qv_sql: str) -> Column:
    """Per-query ADC lookup table: lut[s][c] = <q_sub_s, cb[s][c]>, the
    sequential-fold dot products the oracle replays exactly. ONE parsed
    `F.expr` with the codebook literal let-bound once (see
    _pq_codes_expr) — same ops in the same order, bit-identical LUTs."""
    n_sub, n_codes, sub = len(cb), len(cb[0]), len(cb[0][0])
    body = (
        f"transform(sequence(0, {n_sub - 1}), s -> "
        f"transform(sequence(0, {n_codes - 1}), c -> "
        f"aggregate(sequence(0, {sub - 1}), 0.0D, (acc, j) -> acc + "
        f"CAST(element_at({qv_sql}, s * {sub} + j + 1) AS DOUBLE) * "
        f"element_at(element_at(element_at(L, s + 1), c + 1), j + 1))))"
    )
    return F.expr(
        f"element_at(transform(array({_cb_lit_3d_sql(cb)}), L -> {body}), 1)"
    )


def _pq_est_dot(n_sub: int) -> Column:
    """ADC estimated dot product: sum_s lut[s][codes[s]] (sequential)."""
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(n_sub - 1)),
        F.lit(0.0),
        lambda acc, s: acc
        + F.element_at(
            F.element_at(F.col("lut"), s + 1),
            F.element_at(F.col("codes"), s + 1) + 1,
        ),
    )


def _pq_est_n2(cn2_lit: Column, n_sub: int) -> Column:
    """ADC estimated squared norm: sum_s ||cb[s][codes[s]]||^2."""
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(n_sub - 1)),
        F.lit(0.0),
        lambda acc, s: acc
        + F.element_at(
            F.element_at(cn2_lit, s + 1),
            F.element_at(F.col("codes"), s + 1) + 1,
        ),
    )


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    rerank: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_sub: int = PQ_SUB,
    n_codes: int = PQ_CODES,
) -> DataFrame:
    """PQ/ADC approximate top-k with exact re-rank.

    Corpus side: encode once (projection). Query side: each query builds
    its dot-product lookup table against the codebooks (n_sub × n_codes
    doubles, one projection). Scoring a (query, neighbor) pair is then
    n_sub array lookups — O(n_sub) instead of O(dim) — over the same
    broadcast-queries/corpus-never-shuffles plan as cosine_topk. The
    top-`rerank` candidates per query re-rank with exact cosine, so the
    emitted cos_sim values are exact.

    All float accumulations are sequential (aggregate over ordered
    sequences) so scores are bit-reproducible cross-engine — the DuckDB
    oracle replays codebooks, codes, LUTs, and estimates exactly.
    """
    from .core import spread

    cb = pq_codebooks(corpus, n_sub, n_codes, id_col, vec_col)
    # ||cb[s][c]||^2 — python-side constants (sequential sum, same order
    # as the oracle's list_sum)
    cn2 = [
        [sum(x * x for x in code) for code in s_cb] for s_cb in cb
    ]
    cn2_lit = _array_lit_2d(cn2)

    enc = spread(corpus).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    codes = pq_encode(enc.select(F.col("neighbor_id").alias(id_col),
                                 F.col("c_vec").alias(vec_col)),
                      cb, id_col, vec_col)
    enc = enc.join(codes.withColumnRenamed("id", "neighbor_id"), "neighbor_id")

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        _norm_c(vec_col).alias("q_norm"),
        _pq_lut_expr(cb, f"`{vec_col}`").alias("lut"),
    )

    est_dot = _pq_est_dot(n_sub)
    est_n2 = _pq_est_n2(cn2_lit, n_sub)
    scored = (
        F.broadcast(q)
        .join(enc, F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            "q_vec",
            "q_norm",
            "c_vec",
            F.round(
                est_dot / (F.col("q_norm") * _clamp0(F.sqrt(est_n2))), 4
            ).alias("est_sim"),
        )
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.col("est_sim").desc(), F.col("neighbor_id").asc()
    )
    cands = scored.withColumn("crank", F.row_number().over(wc)).filter(
        F.col("crank") <= rerank
    )
    exact = cands.select(
        "query_id",
        "neighbor_id",
        F.round(
            _dot_c("q_vec", "c_vec")
            / (F.col("q_norm") * _norm_c("c_vec")),
            4,
        ).alias("cos_sim"),
    )
    return _ranked_topk(exact, k)


def ivf_pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    rerank: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = IVF_K,
    nprobe: int = IVF_NPROBE,
    n_sub: int = PQ_SUB,
    n_codes: int = PQ_CODES,
    centroids: str | list[tuple[int, list[float]]] = "head",
) -> DataFrame:
    """IVF-PQ approximate top-k — the standard billion-scale ANN
    composition (FAISS's IndexIVFPQ): IVF coarse cells bound WHICH pairs
    are scored (candidate generation never sees the whole corpus), PQ/ADC
    bounds WHAT a pair costs (n_sub table lookups instead of dim
    multiplies), and the top-`rerank` per query re-rank with exact
    cosine so emitted scores are exact.

    Plan shape: both corpus-side columns (cell, codes) are PURE
    PROJECTIONS over control-plane literals (centroids + codebooks) —
    the corpus never shuffles; queries explode to (query, probed-cell)
    pairs and broadcast; the only windows are per-query candidate cuts.
    At rest the index stores one int cell + n_sub byte codes per vector
    — the compressed representation that fits a 100 TB corpus's index
    in cluster memory. Deterministic end-to-end (head/sampled centroid
    policies, argmin ties to smallest code, est ties to smallest id),
    so the DuckDB oracle replays cells, codes, LUT estimates, the
    candidate cut, and the exact re-rank."""
    from .core import spread

    if centroids == "head":
        # head centroids + head codebooks read the SAME head rows: one
        # collect serves both (r12 — each tiny collect is a full Spark
        # job of scheduler latency)
        rows = head_centroids(
            corpus, max(n_cells, n_codes), id_col, vec_col
        )
        cents = [(i, v) for i, v in rows if i < n_cells]
        cb = _codebooks_from_rows(
            [(i, v) for i, v in rows if i < n_codes], n_sub
        )
    else:
        cents = resolve_centroids(corpus, n_cells, centroids, id_col, vec_col)
        cb = pq_codebooks(corpus, n_sub, n_codes, id_col, vec_col)
    cn2 = [[sum(x * x for x in code) for code in s_cb] for s_cb in cb]
    cn2_lit = _array_lit_2d(cn2)

    assigned = _with_cells(
        spread(corpus), cents, "neighbor_id", "c_vec", "c_norm", 1,
        id_col, vec_col,
    ).withColumn("codes", _pq_codes_expr(cb, "`c_vec`"))

    probes = _with_cells(
        queries, cents, "query_id", "q_vec", "q_norm", nprobe,
        id_col, vec_col,
    ).withColumn("lut", _pq_lut_expr(cb, "`q_vec`"))

    est = F.round(
        _pq_est_dot(n_sub)
        / (F.col("q_norm") * _clamp0(F.sqrt(_pq_est_n2(cn2_lit, n_sub)))),
        4,
    )
    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id", "q_vec", "q_norm", "c_vec", "c_norm",
            est.alias("est_sim"),
        )
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.col("est_sim").desc(), F.col("neighbor_id").asc()
    )
    cands = scored.withColumn("crank", F.row_number().over(wc)).filter(
        F.col("crank") <= rerank
    )
    exact = cands.select(
        "query_id",
        "neighbor_id",
        F.round(
            _dot_c("q_vec", "c_vec")
            / (F.col("q_norm") * F.col("c_norm")),
            4,
        ).alias("cos_sim"),
    )
    return _ranked_topk(exact, k)


# --------------------------------------------------------------------------
# Semantic deduplication (SemDeDup-style): cluster the embedding space,
# then near-dup only WITHIN clusters — the published recipe (Abbas et al.
# 2023, "SemDeDup") for pruning semantically-redundant training data
# without an all-pairs pass.
# --------------------------------------------------------------------------

def semantic_neardup(
    corpus: DataFrame,
    threshold: float = 0.40,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: str | list[tuple[int, list[float]]] = "sampled",
    n_assign: int = 1,
    max_cell: int | None = None,
    salt: str = "semcell-v1",
    hier_min_cells: int | None = None,
    probe_groups: int = 4,
) -> DataFrame:
    """SemDeDup-style semantic dedup over an embedding column.

    Recipe: coarse-cluster every vector to its nearest centroid (a pure
    projection over ONE centroid literal — zero shuffle), generate
    candidate pairs only WITHIN a cell (cos_sim >= `threshold`), collapse
    pairs into duplicate groups via connected components, and keep the
    smallest id per group. Returns one row per corpus vector:
    (id, cell, component, is_kept).

    Scale: the within-cell self-join is the SemDeDup trick — pair
    generation is bounded by the largest cell, not the corpus; grow
    `n_cells` with the corpus (the paper uses ~100k clusters for billions
    of points) to hold cell size roughly constant. The component step
    shuffles only the (tiny) edge set. Recall is bounded by clustering
    quality (a near-dup pair split across cells is missed): `n_assign`
    soft-assigns each vector to its top-N cells for PAIR GENERATION
    (the IVF-nprobe analog; the reported `cell` stays the primary) —
    measured on the near-orthogonal synthetic vectors, the adversarial
    case, pair recall at 16 cells goes 0.32 → 0.58 → 0.81 for
    n_assign 1/2/3 at ~n_assign× join-input cost (well-clustered real
    embeddings start far higher). `threshold` is data-dependent:
    real text-embedding deployments sit near 0.95; the synthetic test
    vectors are near-orthogonal so the registry query demonstrates at
    0.40. Semantics parity: the reference has no ANN/dedup surface — this
    extends the dedup family (operators/dedup.py) to the embedding
    modality with the same keep-min-id contract as dedup_clusters.

    `max_cell` is the cell-occupancy cap (r11; the LSH `max_bucket` /
    graph `max_per_key` discipline): REAL embeddings cluster, so one
    dense region can put a large fraction of the corpus in one cell and
    its C(m, 2) verify on one reducer — the adaptive cell count bounds
    the MEAN occupancy, not the tail. With the cap, each probed cell
    contributes at most `max_cell` hash-SAMPLED members to pair
    generation (deterministic row_number over the salted h28 of
    (cell, id), never rand() — reproducible run-to-run and
    engine-to-engine), bounding per-cell verify at C(max_cell, 2).
    Capped-out rows keep their output row (and can still join a
    component through another probed cell); the recall trade is the
    standard one — a giant cell's dropped members dedup only against
    the sample, acceptable because a cell that large means the
    clustering is too coarse for its region anyway (grow n_cells).
    None = no cap.

    `hier_min_cells` / `probe_groups` (advisor r11): the two-level
    APPROXIMATE assignment activates at `hier_min_cells` centroids
    (default: module constant `_HIER_ASSIGN_MIN_CELLS` = 4096). Callers
    whose results are value-checked against an exact replay (the
    oracle-parity registry queries) can pass a large `hier_min_cells`
    to pin the exact path, or rely on the warning the registry wrappers
    emit when the approximate regime would engage.
    """
    from .core import spread
    from .dedup import connected_components, h28

    cents = resolve_centroids(corpus, n_cells, centroids, id_col, vec_col)
    cids = [cid for cid, _ in cents]
    cvecs = [v for _, v in cents]

    hier_cut = (
        _HIER_ASSIGN_MIN_CELLS if hier_min_cells is None else hier_min_cells
    )
    if len(cents) >= hier_cut:
        # very-large-k regime: two-level approximate assignment (see
        # _assign_cells_hier — flat scoring is O(n·k·d) with k = n/125,
        # the last quadratic term; hier cuts it to O(n·√k·d))
        assigned = _assign_cells_hier(
            corpus, cents, max(1, n_assign), id_col, vec_col,
            probe_groups=probe_groups,
        ).persist()
    elif len(cents) > _NP_ASSIGN_MIN_CELLS:
        # large-k regime: GEMM assignment (see _assign_cells_np)
        assigned = _assign_cells_np(
            corpus, cents, max(1, n_assign), id_col, vec_col
        ).persist()
    else:
        base = spread(corpus).selectExpr(
            f"`{id_col}` AS id",
            f"`{vec_col}` AS v",
            f"{_norm_sql(f'`{vec_col}`')} AS nrm",
        )
        top_sql = _nearest_cell_sql(
            "`v`", "`nrm`", cvecs, cids, max(1, n_assign)
        )
        # probe_cells first, then cell = probe_cells[0]: binds the big
        # assignment expression ONCE instead of once per output column
        # (`top[0].cid` == `transform(top, s -> s.cid)[0]` by construction)
        assigned = base.selectExpr(
            "id", "v", "nrm",
            f"transform({top_sql}, s -> s.cid) AS probe_cells",
        ).selectExpr(
            "id", "v", "nrm", "probe_cells[0] AS cell", "probe_cells"
        ).persist()

    probes = assigned.select(
        "id", "v", "nrm", F.explode("probe_cells").alias("pcell")
    )
    if max_cell is not None:
        w = Window.partitionBy("pcell").orderBy(
            h28(
                F.concat(
                    F.lit(salt + ":"),
                    F.col("pcell").cast("string"),
                    F.lit(":"),
                    F.col("id").cast("string"),
                )
            ),
            "id",
        )
        probes = (
            probes.withColumn("__rk", F.row_number().over(w))
            .where(F.col("__rk") <= max_cell)
            .drop("__rk")
        )
    a = probes.select(
        F.col("id").alias("id_a"), F.col("v").alias("va"),
        F.col("nrm").alias("na"), "pcell",
    )
    b = probes.select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"),
        F.col("nrm").alias("nb"), "pcell",
    )
    pairs = (
        a.join(b, "pcell")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                _dot_c("va", "vb") / (F.col("na") * F.col("nb")), 4
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= F.lit(threshold))
        # a pair sharing several probed cells must count once. It scores
        # IDENTICALLY in each (same vectors), so dedup goes AFTER the
        # score + threshold: the distinct exchange then carries only the
        # surviving near-dup pairs as (id, id, double) rows — before r11
        # it shuffled EVERY candidate pair with both vectors attached
        # (at the sf10 sweep point: 64M rows x ~150B vs a few k rows)
        .dropDuplicates(["id_a", "id_b"])
    )
    comp = connected_components(pairs)
    out = (
        assigned.select("id", "cell")
        .join(comp.withColumnRenamed("id", "cid_"), F.col("id") == F.col("cid_"), "left")
        .select(
            "id",
            F.col("cell").cast("long").alias("cell"),
            F.coalesce(F.col("component"), F.col("id")).cast("long")
            .alias("component"),
        )
        .withColumn("is_kept", F.col("component") == F.col("id"))
    )
    return out


# --------------------------------------------------------------------------
# Exact-arithmetic k-medoids (oracle-checkable document clustering)
# --------------------------------------------------------------------------

def quantize_vec(vec: Column, scale: int = 1000) -> Column:
    """Fixed-point quantization of a float vector: round-half-up to
    `scale`-ths, as BIGINTs. Written as floor(x*scale + 0.5) — not
    round() — because floor-on-double has identical semantics in every
    engine, while round()'s half-tie rule varies; the float->double cast
    is exact, so the whole mapping is engine-portable bit-for-bit."""
    s = float(scale)
    return F.transform(
        vec,
        lambda x: F.floor(x.cast("double") * s + F.lit(0.5)).cast("long"),
    )


def _sq_l2(a: Column, b: Column) -> Column:
    """Exact integer squared L2 distance between two BIGINT vectors."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _array_lit_2d_long(matrix: list[list[int]]) -> Column:
    """array<array<bigint>> literal via ONE parsed SQL expression (same
    rationale as _array_lit_2d: a single py4j round trip, one plan node)."""
    body = ",".join(
        "array(" + ",".join(f"{int(x)}L" for x in row) + ")" for row in matrix
    )
    return F.expr(f"array({body})")


def _nearest_by_sq_l2(
    qv: Column, vecs: list[list[int]], ids: list[int]
) -> Column:
    """struct(dist, cid) of the nearest vector in `vecs` by exact integer
    squared L2, ties to the smallest id — ONE literal-array constant and a
    struct array_min (see module CODEGEN NOTE)."""
    ids_lit = F.expr(
        "array(" + ",".join(f"{int(i)}L" for i in ids) + ")"
    )
    structs = F.transform(
        _array_lit_2d_long(vecs),
        lambda cv, i: F.struct(
            _sq_l2(qv, cv).alias("dist"),
            F.element_at(ids_lit, i + 1).alias("cid"),
        ),
    )
    return F.array_min(structs)


def kmedoids_assign(
    corpus: DataFrame,
    k: int = 8,
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One exact k-medoids refinement round over an embedding column,
    entirely in integer arithmetic — the oracle-checkable clustering
    primitive (train_centroids above is the float k-means for ANN cell
    maps; its averaged centroids are deterministic only to round-off, so
    it can never be value-hash-compared across engines — this can).

    Steps (each engine-portable and exactly reproducible):
      1. quantize vectors to BIGINT fixed-point (`quantize_vec`);
      2. seed with the k vectors of smallest id (the head_centroids
         policy) and assign every vector to its nearest seed by integer
         squared L2, ties to the lowest seed id;
      3. per cluster, pick the MEDOID: the member minimizing
         sum_j ||x_i - x_j||^2 = n*||x_i||^2 - 2*x_i.S + const, with S
         the element-wise cluster sum — all BIGINT products of bounded
         magnitude (scale^2 * n * dim), no division ever, so the argmin
         is exact where a float mean would be accumulation-order-
         dependent;
      4. reassign every vector to its nearest medoid and aggregate.

    Returns (medoid_id, n_members, wss) — wss the exact integer
    within-cluster sum of squared quantized distances. Duplicate seed
    vectors can leave a seed cluster empty; it then simply emits no row
    (identically in any engine).

    Plan shape at 100 TB: both assignment passes are pure projections
    against a k x dim literal (zero corpus shuffle, the cosine_topk
    argument); the shuffles are one posexplode groupBy (cluster, pos) for
    S — k*dim rows out — and one window over members keyed by cluster.
    Medoid vectors cross the driver as a k x dim control-plane literal,
    exactly like head_centroids. Two full corpus passes total.

    Reference provenance: no clustering surface in the reference;
    extension per the training-data-pipeline mandate (corpus curation /
    SemDeDup-style cluster passes), semantics from the classic
    k-medoids (PAM) literature.
    """
    from pyspark import StorageLevel

    # persisted across the eager phase (r12, guide §5): the quantized
    # corpus feeds the seed collect, THREE branches of the medoid-score
    # job (sums / counts / score base — no shared exchange, so each
    # branch re-ran quantize against parquet), and the medoid-vector
    # pull; released after the last collect — the returned relation is
    # a single fresh scan either way
    qdf = corpus.select(
        F.col(id_col).alias("id"),
        quantize_vec(F.col(vec_col), scale).alias("qv"),
    ).withColumn(
        "normsq",
        F.aggregate(
            F.transform(F.col("qv"), lambda x: x * x),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # the k vectors of smallest id, regardless of id density (advisor r7:
    # `id < k` under-seeds a sparse/offset id space — possibly to zero,
    # where _array_lit_2d_long([]) fails at analysis with no hint why)
    seeds = sorted(
        (int(r["id"]), [int(x) for x in r["qv"]])
        for r in qdf.select("id", "qv").orderBy("id").limit(k).collect()
    )
    if not seeds:
        raise ValueError("kmedoids_assign: corpus is empty — no seeds")
    seed_ids = [i for i, _ in seeds]
    seed_vecs = [v for _, v in seeds]

    near = _nearest_by_sq_l2(F.col("qv"), seed_vecs, seed_ids)
    assigned = qdf.withColumn("cluster", near["cid"])

    sums = (
        assigned.select("cluster", F.posexplode("qv").alias("pos", "x"))
        .groupBy("cluster", "pos")
        .agg(F.sum("x").alias("s"))
        .groupBy("cluster")
        .agg(
            F.array_sort(F.collect_list(F.struct("pos", "s"))).alias("ps")
        )
        .select(
            "cluster",
            F.transform(F.col("ps"), lambda p: p["s"]).alias("sv"),
        )
    )
    counts = assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    scored = (
        assigned.join(F.broadcast(sums), "cluster")
        .join(F.broadcast(counts), "cluster")
        .select(
            "cluster",
            "id",
            (
                F.col("n") * F.col("normsq")
                - F.lit(2)
                * F.aggregate(
                    F.zip_with(
                        F.col("qv"), F.col("sv"), lambda x, s: x * s
                    ),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                )
            ).alias("score"),
        )
    )
    w = Window.partitionBy("cluster").orderBy(
        F.col("score").asc(), F.col("id").asc()
    )
    medoid_ids = [
        int(r["id"])
        for r in scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("id")
        .collect()
    ]
    med = sorted(
        (int(r["id"]), [int(x) for x in r["qv"]])
        for r in qdf.filter(F.col("id").isin(medoid_ids))
        .select("id", "qv")
        .collect()
    )
    qdf.unpersist()
    m_near = _nearest_by_sq_l2(
        F.col("qv"), [v for _, v in med], [i for i, _ in med]
    )
    final = qdf.select(
        m_near["cid"].alias("medoid_id"), m_near["dist"].alias("dist")
    )
    return final.groupBy("medoid_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.sum("dist").cast("long").alias("wss"),
    )
