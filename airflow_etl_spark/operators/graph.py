"""Graph analytics over relational edge sets — PageRank (fixed-point)
and degree statistics. Complements the label-propagation connected
components in operators/dedup.py.

Why FIXED-POINT integer arithmetic: distributed float summation is
order-dependent (Spark's partial aggregates sum in partition order, an
oracle engine in another), so float PageRank is not bit-reproducible
across engines or even across retries at the ULP level. Scaling ranks
to integers (1e12 fixed-point) makes every operation — integer division
by degree, damped sum — EXACT and associative: Spark, DuckDB, and a
pure-Python loop produce identical longs, so the registry oracle can
unroll the same iterations in plain SQL. The truncation introduced by
integer division is part of the (deterministic) algorithm definition,
bounded by n_nodes/SCALE per step — immaterial at SCALE = 1e12.

Scale shape: each iteration is one groupBy-sum over the edge relation
(map-side combinable, shuffling on the destination node key) plus a
broadcast of nothing — no driver loops over nodes, no global windows.
n_iter is a fixed small constant (PageRank converges geometrically;
production runs 10-50 iterations of exactly this plan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .dedup import h28

#: Fixed-point scale: ranks are longs in units of 1e-12.
PR_SCALE = 10**12


def symmetrize(edges: DataFrame) -> DataFrame:
    """Distinct undirected edge set as both directions: (src, dst) rows
    with each pair appearing exactly once per direction."""
    e = edges.select("src", "dst").distinct()
    return e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()


def pagerank_fixed(
    edges: DataFrame,
    n_iter: int = 3,
    damping_pct: int = 85,
) -> DataFrame:
    """PageRank over the UNDIRECTED graph of `edges` (src, dst) in
    fixed-point integer arithmetic (see module docstring).

    Returns (node, rank) with rank a long in PR_SCALE units after
    `n_iter` iterations from the uniform start. Update rule (integers
    throughout, `div` = truncating division):

        contrib(v)  = rank(v) div deg(v)            per neighbor
        rank'(u)    = ((100 - d) * (SCALE div n)) div 100
                      + (d * sum_{v~u} contrib(v)) div 100

    Symmetrization removes dangling nodes (every node has deg >= 1), so
    no leaked-mass correction is needed.
    """
    sym = symmetrize(edges).persist()
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    nodes = deg.select(F.col("src").alias("node"), "deg").persist()
    n_nodes = nodes.count()
    if n_nodes == 0:
        empty = nodes.select("node", F.lit(0).cast("long").alias("rank"))
        sym.unpersist()
        nodes.unpersist()
        return empty
    base = ((100 - damping_pct) * (PR_SCALE // n_nodes)) // 100

    ranks = nodes.select(
        "node", F.lit(PR_SCALE // n_nodes).cast("long").alias("rank")
    )
    prev = None
    for _ in range(n_iter):
        contribs = (
            sym.join(
                ranks.join(nodes, "node").select(
                    F.col("node").alias("src"),
                    F.expr("rank div deg").cast("long").alias("c"),
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("c").cast("long").alias("s"))
        )
        nxt = nodes.select("node").join(contribs, "node", "left").select(
            "node",
            (
                F.lit(base)
                + F.expr(
                    f"({damping_pct} * coalesce(s, 0L)) div 100"
                ).cast("long")
            ).alias("rank"),
        )
        # persist + materialize per iteration: lineage stays one step
        # deep (n_iter chained joins would otherwise re-plan from the
        # scan each round)
        nxt = nxt.persist()
        nxt.count()
        if prev is not None:
            prev.unpersist()
        prev = nxt
        ranks = nxt
    # the FINAL ranks frame stays persisted (it is materialized and the
    # caller consumes it next); the iteration scaffolding does not
    sym.unpersist()
    nodes.unpersist()
    return ranks


def copurchase_edges(
    pairs: DataFrame,
    min_shared: int = 2,
    max_per_key: int | None = None,
    salt: str = "copurchase-v1",
) -> DataFrame:
    """Project a bipartite (customer, supplier) relation onto the
    supplier–supplier CO-PURCHASE graph: an (a, b) edge (a < b) exists
    iff at least `min_shared` customers bought from both. The self-join
    fans out per customer as C(k, 2) over their k suppliers.

    `max_per_key` is the heavy-hitter cap — the same discipline as
    LSH's `max_bucket` (operators/dedup.py): a customer with k items
    emits C(k, 2) pair rows, so ONE mega-customer (a corporate account
    with 10⁶ purchases) explodes the join quadratically on a single
    reducer. With the cap, each customer contributes at most its
    `max_per_key` hash-SAMPLED items (deterministic: row_number over
    the salted item hash — reproducible run-to-run and engine-to-
    engine, never `rand()`), bounding per-key fan-out at C(cap, 2).
    Recall trade: edges supported ONLY by a capped customer's dropped
    items can fall below `min_shared` — acceptable for the analytics
    use (co-purchase affinity), because a mega-customer's basket says
    little about item-item affinity anyway (the same reasoning that
    drops corpus-frequent shingles from LSH buckets). None = no cap
    (exact, safe only when per-key cardinality is known-bounded)."""
    pairs = _capped_bipartite(pairs, max_per_key, salt)
    left = pairs.select(F.col("cust").alias("c"), F.col("supp").alias("a"))
    right = pairs.select(F.col("cust").alias("c"), F.col("supp").alias("b"))
    return (
        left.join(right, "c")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def oriented_wedges(edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Degree-ordered edge orientation + the wedge relation it induces.

    Returns (oriented, wedges): `oriented` is the edge set directed from
    the LOWER (degree, id) endpoint to the higher — node-degree join,
    then a struct comparison picks the direction; `wedges` pairs each
    node's out-neighbors (y, z) with y before z in (degree, id) order.

    Why degree order (compact-forward / Latapy): under id order one
    high-degree middle node y contributes deg(y)² wedge rows — the
    classic quadratic skew blowup. Orienting by degree bounds every
    node's OUT-degree by O(sqrt(m)) (a node of degree d only points at
    neighbors of degree >= d, and there are at most 2m/d of those), so
    wedge cardinality is O(m^1.5) worst-case and per-task fan-out stays
    bounded on power-law graphs — a 1000-follower hub emits ZERO wedges
    (leaves point AT it; it points at nobody lower). Same triangle set:
    each triangle is counted exactly once, at its minimum-(deg, id)
    corner.
    """
    e = edges.select("a", "b").distinct()
    deg = (
        e.select(F.col("a").alias("n"))
        .unionByName(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    ed = e.join(
        deg.select(F.col("n").alias("a"), F.col("deg").alias("da")), "a"
    ).join(deg.select(F.col("n").alias("b"), F.col("deg").alias("db")), "b")
    # (deg, id) is unique per node, so the struct comparison totally
    # orders endpoints; ties in degree break on id
    a_lo = F.struct(F.col("da").alias("d"), F.col("a").alias("v")) < F.struct(
        F.col("db").alias("d"), F.col("b").alias("v")
    )
    hi = F.struct(F.col("db").alias("d"), F.col("b").alias("v"))
    lo = F.struct(F.col("da").alias("d"), F.col("a").alias("v"))
    oriented = ed.select(
        F.when(a_lo, F.col("a")).otherwise(F.col("b")).alias("src"),
        # carry the dst's (deg, id) key so wedge pairs order WITHOUT a
        # second degree join
        F.when(a_lo, hi).otherwise(lo).alias("dk"),
    )
    o1 = oriented.select("src", F.col("dk").alias("k1"))
    o2 = oriented.select("src", F.col("dk").alias("k2"))
    wedges = (
        o1.join(o2, "src")
        .where(F.col("k1") < F.col("k2"))
        .select(F.col("k1.v").alias("y"), F.col("k2.v").alias("z"))
    )
    return oriented, wedges


def triangle_count(edges: DataFrame) -> DataFrame:
    """Triangle count over an undirected edge set given as (a, b) with
    a < b per edge — DEGREE-ORDERED compact-forward (see
    `oriented_wedges`): orient edges low-(deg, id) → high, enumerate
    wedges at each node's out-neighbors, close them against the oriented
    edge set. Two equi-joins shuffling on edge endpoints; wedge fan-out
    is bounded by out-degree ≤ O(sqrt(m)) even on power-law graphs (the
    id-ordered variant blows up deg(hub)² on one reducer). The count is
    orientation-invariant, so the SQL oracle's id-ordered form matches.
    Returns one row (n_nodes, n_edges, n_triangles) — exact integers.
    """
    e = edges.select("a", "b").distinct().persist()
    oriented, wedges = oriented_wedges(e)
    # the closing edge of wedge (y, z) is oriented y → z because y is
    # lower in (deg, id) order by construction
    closing = oriented.select(
        F.col("src").alias("y"), F.col("dk.v").alias("z")
    )
    tri = wedges.join(closing, ["y", "z"])
    nodes = e.select(F.col("a").alias("n")).unionByName(
        e.select(F.col("b").alias("n"))
    ).distinct()
    return (
        tri.agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
        .crossJoin(
            F.broadcast(
                nodes.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
            )
        )
        .crossJoin(
            F.broadcast(e.agg(F.count(F.lit(1)).cast("long").alias("n_edges")))
        )
        .select("n_nodes", "n_edges", "n_triangles")
    )


def neighbor_jaccard(
    pairs: DataFrame, min_shared: int = 2, max_per_key: int | None = None,
    node_bound: int | None = None,
) -> DataFrame:
    """Node-pair similarity by neighbor-set Jaccard — the standard
    link-prediction feature: for suppliers a, b with customer sets
    N(a), N(b), jacc = |N(a) ∩ N(b)| / |N(a) ∪ N(b)|. The intersection
    IS the co-purchase edge weight (copurchase_edges' n_shared over the
    distinct bipartite relation), union sizes come from the per-node
    degree relation; no pair ever carries a customer set. `max_per_key`
    reuses the heavy-hitter cap, which turns the exact Jaccard into the
    hash-sampled estimate — at 100 TB pass a cap, exactly as with
    copurchase_edges (the recall trade documented there applies to the
    intersection counts).

    The degree relation is NODE-COUNT-SIZED — it grows with the corpus,
    which made its r11 forced broadcast exactly the latent-OOM class
    the sf100 probe caught in `verify_candidates` (VERDICT r11 #1).
    r12: the hint is adaptive (core.broadcast_if_bounded). Pass
    `node_bound` when a proven bound is free — e.g. the supplier
    dimension's metadata-only parquet row count upper-bounds distinct
    `supp` values — so small graphs broadcast with zero decision jobs
    and large ones take the shuffle joins that cannot OOM the driver;
    with no bound, an early-terminating limit-probe decides.

    Output: (a, b, n_shared, deg_a, deg_b, jacc_bp) with a < b;
    `jacc_bp` is the Jaccard in integer BASIS POINTS (floor of
    10000 * inter / union) — exact integer arithmetic end to end, no
    float rounding to disagree across engines."""
    from .core import broadcast_bound_fits

    edges = copurchase_edges(pairs, min_shared, max_per_key)
    deg = pairs.groupBy("supp").agg(
        F.countDistinct("cust").cast("long").alias("deg")
    )
    da = deg.select(F.col("supp").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("supp").alias("b"), F.col("deg").alias("deg_b"))
    # ONE decision for both sides (same relation, renamed): proven
    # node_bound when supplied, else an early-terminating limit-probe
    hint = (
        F.broadcast
        if broadcast_bound_fits(deg, bound_rows=node_bound)
        else (lambda x: x)  # bound: adaptive — O(V) degrees take shuffle
    )
    union = F.col("deg_a") + F.col("deg_b") - F.col("n_shared")
    return (
        edges.join(hint(da), "a")
        .join(hint(db), "b")
        .select(
            "a", "b", "n_shared", "deg_a", "deg_b",
            F.floor(F.col("n_shared") * 10000 / union)
            .cast("long")
            .alias("jacc_bp"),
        )
    )


def _capped_bipartite(
    pairs: DataFrame, max_per_key: int | None, salt: str
) -> DataFrame:
    """The heavy-hitter cap shared by every bipartite projection here
    (see copurchase_edges' docstring for the recall trade): per
    customer, keep at most `max_per_key` hash-SAMPLED distinct items —
    deterministic row_number over the salted item hash, never rand()."""
    if max_per_key is None:
        return pairs
    w = Window.partitionBy("cust").orderBy(
        h28(
            F.concat(
                F.lit(salt + ":"),
                F.col("cust").cast("string"),
                F.lit(":"),
                F.col("supp").cast("string"),
            )
        ),
        "supp",
    )
    return (
        pairs.select("cust", "supp")
        .distinct()
        .withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= max_per_key)
        .drop("__rk")
    )


def resource_allocation(
    pairs: DataFrame,
    min_shared: int = 2,
    max_per_key: int | None = None,
    salt: str = "copurchase-v1",
) -> DataFrame:
    """Resource-allocation link-prediction index (Zhou/Lü/Zhang's
    public measure): score(a, b) = Σ over shared neighbors z of
    1/deg(z) — shared RARE customers say more than shared mega-
    customers, the weighting neighbor_jaccard's raw intersection
    lacks. Exact integer arithmetic: each z contributes
    floor(1e6/deg(z)) ppm, so the pair sum is an exact long.

    Shape: the per-customer degree relation joins the bipartite
    relation ON THE SAME KEY the self-join shuffles on (cust), so the
    weight attach rides the existing exchange; the pair aggregation is
    the copurchase groupBy with one extra SUM. `max_per_key` caps
    heavy hitters exactly as in copurchase_edges (and caps the weights'
    denominators with the same sampled-degree semantics).

    Output: (a, b, n_shared, ra_ppm), a < b, n_shared >= min_shared."""
    p = _capped_bipartite(
        pairs.select("cust", "supp").distinct(), max_per_key, salt
    )
    cdeg = p.groupBy("cust").agg(
        F.count(F.lit(1)).cast("long").alias("__k")
    )
    pw = p.join(cdeg, "cust").select(
        "cust", "supp",
        F.expr("CAST(1000000 DIV __k AS BIGINT)").alias("__w"),
    )
    a = pw.select(F.col("cust").alias("c"), F.col("supp").alias("a"),
                  F.col("__w").alias("w"))
    # the b side never reads the weight, and pw's rows ≡ p's rows (cdeg
    # is built FROM p, so the inner join on cust drops nothing): feed p
    # directly instead of re-deriving the degree join (r12, guide §2.4)
    b = p.select(F.col("cust").alias("c"), F.col("supp").alias("b"))
    return (
        a.join(b, (F.col("a") < F.col("b")) & (a.c == b.c))
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shared"),
            F.sum("w").cast("long").alias("ra_ppm"),
        )
        .filter(F.col("n_shared") >= min_shared)
    )


def bfs_distances(
    edges: DataFrame, seeds: DataFrame, max_hops: int = 3
) -> DataFrame:
    """Bounded-hop BFS: minimum hop distance (<= max_hops) from a SEED
    SET to every reachable node, over a directed edge relation
    (symmetrize() upstream for undirected semantics). Returns (id,
    dist) with dist 0 for the seeds themselves.

    Level-synchronous frontier expansion, the textbook distributed BFS:
    each hop is ONE equi-join of the current frontier against the edge
    relation plus one anti-join against the visited set — the frontier
    is the only thing that grows, and a node enters `dist` exactly once
    at its first (= minimum) hop, so no min-aggregate is ever needed.
    The hop count is a STATIC bound (loop unrolled into the plan, no
    driver-side convergence check, no count() actions), which is the
    honest contract for production neighborhood queries — unbounded
    reachability belongs to connected_components' pointer-jumping.
    At 100 TB: hash-partition edges by src once; every hop reuses that
    partitioning, and the visited set stays id-shaped (2 columns).
    """
    if max_hops < 1:
        raise ValueError("max_hops must be >= 1")
    dist = seeds.select("id").distinct().withColumn(
        "dist", F.lit(0).cast("long")
    )
    frontier = dist.select("id")
    e = edges.select("src", "dst")
    for h in range(1, max_hops + 1):
        nxt = (
            frontier.join(e, frontier["id"] == e["src"])
            .select(F.col("dst").alias("id"))
            .distinct()
            .join(dist.select("id"), "id", "left_anti")
            .withColumn("dist", F.lit(h).cast("long"))
        )
        # checkpoint truncates the per-hop lineage doubling; the next
        # frontier re-derives from the CHECKPOINTED relation so the
        # join above is never recomputed
        dist = dist.unionByName(nxt).localCheckpoint(eager=True)
        frontier = dist.filter(F.col("dist") == h).select("id")
    return dist
