"""Graph algorithms on DataFrames: iterative PageRank and triangle
counting over the nation-level trade graph (customer nation →
supplier nation, edge weight = lineitem count on that lane).

Iterative algorithms are where naive engines fall back to the driver;
here each PageRank iteration is one broadcast join + one aggregation
on a 25-node / ≤625-edge graph derived from the fact table, and the
derivation — the expensive part at 100 TB — is a single multiway join
+ groupBy that AQE plans like any star query. The iteration count is
fixed (plan-time unrolled), so the whole algorithm is ONE Catalyst
plan, no driver-side convergence loop with actions in between.

Float discipline: PageRank is computed in **fixed-point integer
arithmetic** (scale 1e8, integer DIV) — BIGINT sums are
order-independent, so an inherently iterative algorithm becomes
exactly hash-verifiable across engines, where a double formulation
would accumulate order-dependent 1-ulp drift per iteration. At true
100 TB edge weights, pre-normalize w to ≤1e6 per source (proportional
integer scaling) so pr*w stays < 2^63.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import register, reuse
from ..utils import checkpoint_round, q4, sql_q4
from .prefix import global_ordered

SCALE = 100_000_000  # 1e8 fixed-point
DAMP_NUM, DAMP_DEN = 85, 100  # damping 0.85
N_ITER = 3

_EDGES_SQL = """
    SELECT c.c_nationkey AS u, s.s_nationkey AS v,
           CAST(count(*) AS BIGINT) AS w
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY c.c_nationkey, s.s_nationkey
"""


def _pagerank_oracle() -> str:
    base = f"(15 * {SCALE}) // (100 * 25)"
    sql = f"""
    WITH edges AS MATERIALIZED ({_EDGES_SQL}),
    deg AS MATERIALIZED (SELECT u, SUM(w) AS outw FROM edges GROUP BY u),
    nodes AS (SELECT n_nationkey AS v FROM nation),
    pr0 AS (SELECT v, CAST({SCALE} // 25 AS BIGINT) AS pr FROM nodes)
    """
    prev = "pr0"
    for i in range(1, N_ITER + 1):
        sql += f""",
    it{i} AS (
        SELECT n.v,
               CAST({base} + ({DAMP_NUM} * COALESCE(SUM(
                   (p.pr * e.w) // d.outw), 0)) // {DAMP_DEN} AS BIGINT) AS pr
        FROM nodes n
        LEFT JOIN edges e ON e.v = n.v
        LEFT JOIN deg d ON d.u = e.u
        LEFT JOIN {prev} p ON p.v = e.u
        GROUP BY n.v
    )"""
        prev = f"it{i}"
    sql += f"""
    SELECT v AS nationkey, pr AS pr_fixed,
           CAST(row_number() OVER (ORDER BY pr DESC, v) AS BIGINT) AS rank
    FROM {prev}
    """
    return sql


def trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted nation→nation trade edges from the star schema.

    The aggregated edge frame is BOUNDED (≤ |nations|² rows) and every
    graph key fans it into several consumers (degrees, symmetrized
    copies, per-iteration joins), so it is lazily localCheckpoint'd AT
    THE SOURCE (SCALE.md r13 checkpoint rule): the 4-table star join +
    aggregate runs once per query — before r13, keys without a
    caller-side checkpoint replayed it per consumer
    (graph_bfs_distance: 15 lineitem scans; graph_harmonic_centrality:
    16)."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy(
            F.col("c_nationkey").alias("u"), F.col("s_nationkey").alias("v")
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .localCheckpoint(eager=False)
    )


@register(
    "graph_pagerank",
    oracle=_pagerank_oracle(),
    notes="fixed-point integer PageRank: iterative algorithm made "
    "exactly hash-verifiable (BIGINT sums are order-free).",
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration damped PageRank over the nation trade graph, in
    1e8 fixed-point integer arithmetic (see module docstring).

    Each iteration: contrib = (pr_u * w) DIV outdeg_u per edge, one
    groupBy(v) BIGINT sum, then pr' = base + 85·Σ DIV 100. The edge
    list and degrees are computed once and reused; with 25 nodes the
    per-iteration join is broadcast-sized, and at web scale the same
    plan shuffles on the vertex id — the standard Pregel-as-joins
    formulation."""
    # trade_edges checkpoints at the source since r13 — no caller-side
    # checkpoint needed (see its docstring; lazy, released with plan).
    edges = trade_edges(spark, sf_dir)
    deg = edges.groupBy("u").agg(F.sum("w").alias("outw"))
    # 25-row dim, replayed per iteration through the growing state
    # lineage — bounded, so one lazy checkpoint collapses the replays
    # (graph_eigenvector_centrality re-scanned nation 92x before r13)
    nodes = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("v")
    ).localCheckpoint(eager=False)
    base = (15 * SCALE) // (100 * 25)
    pr = nodes.select("v", F.lit(SCALE // 25).cast("long").alias("pr"))
    for _ in range(N_ITER):
        contrib = (
            edges.join(deg, "u")
            .join(pr.select(F.col("v").alias("u"), "pr"), "u")
            .select("v", F.expr("(pr * w) DIV outw").alias("contrib"))
        )
        pr = (
            nodes.join(contrib, "v", "left")
            .groupBy("v")
            .agg(
                (
                    F.lit(base)
                    + F.expr(
                        f"({DAMP_NUM} * COALESCE(SUM(contrib), 0)) "
                        f"DIV {DAMP_DEN}"
                    )
                )
                .cast("long")
                .alias("pr")
            )
        )
    # rank via range-partitioned parallel prefix rank — no
    # single-partition window even for the final ordering
    ranked = global_ordered(
        pr,
        [F.col("pr").desc(), F.col("v")],
        bucket_key="pr",
        bucket_desc=True,
        rank_col="rank",
    )
    return ranked.select(
        F.col("v").alias("nationkey"),
        F.col("pr").alias("pr_fixed"),
        F.col("rank"),
    )


TRI_MIN_W = 1  # edge exists when any trade flows on the lane


@register(
    "graph_triangles",
    oracle=f"""
    WITH edges AS MATERIALIZED ({_EDGES_SQL}),
    und AS MATERIALIZED (
        SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
        FROM edges WHERE u <> v AND w >= {TRI_MIN_W}
    )
    SELECT CAST(count(*) AS BIGINT) AS triangles
    FROM und e1
    JOIN und e2 ON e2.a = e1.b
    JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    """,
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count on the undirected nation trade graph via the
    canonical ordered two-path + closing-edge join (each triangle
    counted exactly once because a < b < c).

    The orientation trick (only a<b edges) is what keeps this viable
    at scale: it bounds the two-path fan-out by forward-degree, the
    same idea as the classic MapReduce/MPC triangle algorithms."""
    edges = trade_edges(spark, sf_dir)
    und = (
        edges.where((F.col("u") != F.col("v")) & (F.col("w") >= TRI_MIN_W))
        .select(
            F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
        )
        .distinct()
    )
    e1 = und.alias("e1")
    e2 = und.alias("e2")
    e3 = und.alias("e3")
    return (
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .agg(F.count(F.lit(1)).alias("triangles"))
    )


def _part_parents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(p, cents, par)`` of the deterministic part hierarchy shared by
    the hierarchy keys: part 1 is the root, parent(p) = 1 +
    (int(md5(p)[:6 hex]) mod (p-1)) < p, so the tree is acyclic."""
    p = table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("p"),
        F.floor(F.col("p_retailprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    hexval = F.conv(
        F.substring(F.md5(F.col("p").cast("string")), 1, 6), 16, 10
    ).cast("long")
    return p.select(
        "p",
        "cents",
        F.when(F.col("p") == 1, F.lit(None).cast("long"))
        .otherwise(1 + hexval % (F.col("p") - 1))
        .alias("par"),
    )


@register(
    "graph_hierarchy_walk",
    oracle="""
    WITH RECURSIVE pm AS (
        SELECT p_partkey AS p,
               CASE WHEN p_partkey = 1 THEN NULL
                    ELSE 1 + CAST(concat('0x',
                        substr(md5(CAST(p_partkey AS VARCHAR)), 1, 6))
                        AS BIGINT) % (p_partkey - 1) END AS par
        FROM part
    ), walk(p, par, depth) AS (
        SELECT p, par, 0 FROM pm WHERE par IS NULL
        UNION ALL
        SELECT c.p, c.par, w.depth + 1
        FROM pm c JOIN walk w ON c.par = w.p
    )
    SELECT p AS p_partkey, par AS parent_key,
           CAST(depth AS BIGINT) AS depth
    FROM walk
    """,
)
def graph_hierarchy_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive hierarchy traversal (BOM / org-chart walk): every
    part's depth in a data-driven parent tree — the capability class
    recursive CTEs serve in a warehouse, which Spark SQL lacks
    natively. The tree is deterministic and engine-neutral: part 1 is
    the root; parent(p) = 1 + (int(md5(p)[:6 hex]) mod (p-1)) < p, so
    the structure is acyclic by construction and identical in DuckDB
    (whose RECURSIVE walk is the oracle).

    Execution is POINTER JUMPING over (node, ancestor, steps) state:
    each round joins the state with itself to double the hop count
    (anc ← anc's ancestor, steps add), so a depth-D tree finishes in
    ceil(log2 D) rounds — ~5 rounds for the ~e·ln(N) expected max
    depth of this random tree, not D level-wise passes. The driver
    sees only each round's remaining count, observed in the round's
    ``checkpoint_round`` job; non-convergence raises.
    Same O(log) shape as min_label_components — transitive closure
    machinery, reused for directed ancestry with exact depths."""
    pm = _part_parents(spark, sf_dir)
    # state: ancestor reached from each non-root node and the exact
    # step count to it; roots carry depth 0 directly
    state = pm.where(F.col("par").isNotNull()).select(
        "p", F.col("par").alias("anc"), F.lit(1).cast("long").alias("d")
    )
    for rnd in range(12):
        jump = state.select(
            F.col("p").alias("j_p"), F.col("anc").alias("j_anc"),
            F.col("d").alias("j_d"),
        )
        state, m = checkpoint_round(
            state.join(jump, state["anc"] == jump["j_p"], "left").select(
                "p",
                F.coalesce("j_anc", "anc").alias("anc"),
                (F.col("d") + F.coalesce("j_d", F.lit(0))).alias("d"),
            ),
            rnd,
            left=F.count(F.when(F.col("anc") != 1, 1)),
        )
        # convergence measured AFTER the jump, so finishing exactly on
        # the final round cannot false-raise
        if m["left"] == 0:
            break
    else:
        raise RuntimeError(
            "hierarchy walk did not reach the root in 12 doubling rounds "
            "(depth > 4096): raise max rounds"
        )
    roots = pm.where(F.col("par").isNull()).select(
        "p",
        F.lit(None).cast("long").alias("parent_key"),
        F.lit(0).cast("long").alias("depth"),
    )
    walked = state.join(pm, "p").select(
        "p", F.col("par").alias("parent_key"), F.col("d").alias("depth")
    )
    return roots.unionByName(walked).select(
        F.col("p").alias("p_partkey"), "parent_key", "depth"
    )


@register(
    "graph_hierarchy_rollup",
    oracle="""
    WITH RECURSIVE pm AS (
        SELECT p_partkey AS p,
               CASE WHEN p_partkey = 1 THEN NULL
                    ELSE 1 + CAST(concat('0x',
                        substr(md5(CAST(p_partkey AS VARCHAR)), 1, 6))
                        AS BIGINT) % (p_partkey - 1) END AS par,
               CAST(floor(p_retailprice*100 + 0.5) AS BIGINT) AS cents
        FROM part
    ), anc(p, a) AS (
        SELECT p, par FROM pm WHERE par IS NOT NULL
        UNION
        SELECT anc.p, pm.par FROM anc JOIN pm ON anc.a = pm.p
        WHERE pm.par IS NOT NULL
    )
    SELECT pm.p AS p_partkey,
           CAST(COALESCE(d.n, 0) AS BIGINT) AS n_descendants,
           CAST(pm.cents + COALESCE(d.c, 0) AS BIGINT) AS subtree_cents
    FROM pm LEFT JOIN (
        SELECT a, count(*) AS n, sum(pm2.cents) AS c
        FROM anc JOIN pm pm2 ON anc.p = pm2.p GROUP BY a
    ) d ON d.a = pm.p
    """,
)
def graph_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subtree rollup over the same deterministic part hierarchy as
    graph_hierarchy_walk — the BOM costing query: every node's
    descendant count and total subtree value (exact cents, node
    included). Needs ALL (node, ancestor) pairs, built by DOUBLING
    transitive closure: P ← P ∪ (P∘P) per round with a distinct, so
    a depth-D tree closes in ceil(log2 D) rounds and the pair count
    is Σdepths (~N·ln N for this random tree) — never N². One
    aggregate over the pairs + a left join back finishes the rollup;
    the oracle is DuckDB's recursive ancestry CTE. Each round's pair
    count is observed in its ``checkpoint_round`` job: an unchanged
    count is the fixed point."""
    pm = _part_parents(spark, sf_dir)
    pairs = pm.where(F.col("par").isNotNull()).select(
        "p", F.col("par").alias("a")
    )
    n_before = None
    for rnd in range(12):
        left = pairs.select(F.col("p").alias("l_p"), F.col("a").alias("l_a"))
        right = pairs.select(F.col("p").alias("r_p"), F.col("a").alias("r_a"))
        composed = left.join(
            right, F.col("l_a") == F.col("r_p")
        ).select(F.col("l_p").alias("p"), F.col("r_a").alias("a"))
        pairs, m = checkpoint_round(
            pairs.unionByName(composed).distinct(), rnd,
            n=F.count(F.lit(1)),
        )
        if m["n"] == n_before:
            break
        n_before = m["n"]
    else:
        raise RuntimeError(
            "transitive closure did not stabilize in 12 doubling rounds"
        )
    desc = (
        pairs.join(pm.select(F.col("p").alias("dp"), "cents"),
                   F.col("p") == F.col("dp"))
        .groupBy("a")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").cast("long").alias("c"),
        )
    )
    return pm.join(desc, pm["p"] == desc["a"], "left").select(
        F.col("p").alias("p_partkey"),
        F.coalesce("n", F.lit(0)).cast("long").alias("n_descendants"),
        (F.col("cents") + F.coalesce("c", F.lit(0)))
        .cast("long")
        .alias("subtree_cents"),
    )


BFS_SRC = 0  # source nation
BFS_ROUNDS = 4  # unrolled frontier expansions (graph diameter ≤ 25)
BFS_TOPK = 3  # keep each source's 3 heaviest lanes (sparsify)


def _bfs_oracle() -> str:
    sql = f"""
    WITH all_edges AS MATERIALIZED ({_EDGES_SQL}),
    edges AS MATERIALIZED (
        SELECT u, v FROM (
            SELECT u, v,
                   row_number() OVER (PARTITION BY u
                                      ORDER BY w DESC, v) AS rk
            FROM all_edges
        ) WHERE rk <= {BFS_TOPK}
    ),
    d0 AS (SELECT CAST({BFS_SRC} AS BIGINT) AS v, CAST(0 AS BIGINT) AS dist)
    """
    prev = "d0"
    for i in range(1, BFS_ROUNDS + 1):
        sql += f""",
    d{i} AS (
        SELECT v, CAST(min(dist) AS BIGINT) AS dist FROM (
            SELECT v, dist FROM {prev}
            UNION ALL
            SELECT e.v, p.dist + 1 AS dist
            FROM {prev} p JOIN edges e ON e.u = p.v
        ) GROUP BY v
    )"""
        prev = f"d{i}"
    return sql + f"\n    SELECT v, dist FROM {prev}"


@register("graph_bfs_distance", oracle=_bfs_oracle())
def graph_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first hop distance from a source node — the iterative
    frontier-traversal class (reachability, shortest unweighted
    paths) the graph family lacked next to pagerank (value
    iteration), triangles (closed walks), and components (pointer
    jumping).

    The trade graph is sparsified deterministically to each source's
    BFS_TOPK=3 heaviest lanes (the dense graph has diameter ~1 —
    nothing to traverse), then BFS_ROUNDS=4 frontier expansions are
    unrolled INTO ONE PLAN: each round is (previous distances) UNION
    ALL (previous ⋈ edges, +1 hop) → min per node. All-integer
    distances hash exactly.

    Scale shape: the standard distributed BFS — per round one
    equi-join on the frontier key + one min-aggregate; rounds =
    graph diameter, each a fixed plan stage (no driver loop with
    actions, no recursion state). At billion-edge scale the same
    plan runs with the frontier partitioned on u; a diameter-bound
    unroll (or iterate-with-checkpoint every ~8 rounds, as
    dedup_cluster does) keeps lineage bounded."""
    all_edges = trade_edges(spark, sf_dir)
    wk = Window.partitionBy("u").orderBy(F.col("w").desc(), "v")
    edges = (
        all_edges.withColumn("rk", F.row_number().over(wk))
        .where(F.col("rk") <= BFS_TOPK)
        .select("u", "v")
    )
    dist = spark.range(1).select(
        F.lit(BFS_SRC).cast("long").alias("v"), F.lit(0).cast("long").alias("dist")
    )
    # r15: persist the sparsified edge list once — each round's
    # broadcast otherwise replays the top-k window pass (4x); the
    # frame is nation-bounded (≤ 25·BFS_TOPK rows at any fact scale),
    # so one metadata partition is the right layout at every scale.
    e2 = reuse(
        edges.select(F.col("u").alias("eu"), F.col("v").alias("ev"))
        .coalesce(1)
    )
    for _ in range(BFS_ROUNDS):
        expanded = dist.join(
            F.broadcast(e2), F.col("v") == F.col("eu")
        ).select(
            F.col("ev").cast("long").alias("v"),
            (F.col("dist") + 1).alias("dist"),
        )
        dist = reuse(
            dist.unionByName(expanded)
            .groupBy("v")
            .agg(F.min("dist").cast("long").alias("dist"))
            # r15: dist has TWO consumers per round (the union branch
            # and the frontier expansion), so the unrolled plan
            # replayed the innermost round 2^BFS_ROUNDS times — the
            # eigenvector-centrality bug class.  One bounded persist
            # per round makes the unroll linear; coalesce(1) because
            # a cached 16-partition layout of ≤25 rows is frozen past
            # AQE coalescing and floods every wave with empty tasks.
            .coalesce(1)
        )
    return dist


# --------------------------------------------- link-prediction features


@register(
    "graph_link_features",
    oracle=f"""
    WITH edges AS MATERIALIZED ({_EDGES_SQL}),
    und AS (
        SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
        FROM edges WHERE u <> v
    ), nbr AS (
        SELECT a AS x, b AS z FROM und
        UNION ALL
        SELECT b AS x, a AS z FROM und
    ), deg AS (
        SELECT x, CAST(count(*) AS BIGINT) AS deg FROM nbr GROUP BY x
    ), pairs AS (
        SELECT p.x AS a, q.x AS b, p.z,
               CAST(floor(1e9 / ln(dz.deg) + 0.5) AS BIGINT) AS aa_e9
        FROM nbr p
        JOIN nbr q ON p.z = q.z AND p.x < q.x
        JOIN deg dz ON dz.x = p.z
    ), feats AS (
        SELECT a, b, CAST(count(*) AS BIGINT) AS cn,
               CAST(sum(aa_e9) AS DOUBLE) / 1e9 AS adamic_adar
        FROM pairs GROUP BY a, b
    )
    SELECT f.a, f.b, f.cn, da.deg AS deg_a, db.deg AS deg_b,
           {sql_q4("CAST(f.cn AS DOUBLE) / (da.deg + db.deg - f.cn)")}
               AS jaccard,
           {sql_q4("f.adamic_adar")} AS adamic_adar,
           (e.a IS NOT NULL) AS is_edge
    FROM feats f
    JOIN deg da ON da.x = f.a
    JOIN deg db ON db.x = f.b
    LEFT JOIN und e ON e.a = f.a AND e.b = f.b
    """,
)
def graph_link_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-prediction features over the undirected trade graph:
    common-neighbor count, neighborhood Jaccard, and Adamic–Adar
    (Σ 1/ln deg(z) over common neighbors z) for every node pair
    sharing ≥1 neighbor, flagged by whether the pair is already an
    edge — the classic features a graph-ML pipeline joins onto
    candidate pairs.

    Scale shape: candidate pairs come from the neighbor-list
    self-join on the shared node z (the wedge enumeration triangle
    counting uses), so work is Σ deg(z)² — the hub-bound cost every
    link-prediction system pays; at scale, cap or sample hub
    neighborhoods. Adamic–Adar contributions are e-9 fixed-point
    INTEGERS, so the sum is exact and order-free; doubles appear only
    in the final scaled outputs."""
    from ..utils import q4

    edges = trade_edges(spark, sf_dir)
    und = (
        edges.where(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
        )
        .distinct()
    )
    nbr = und.select(F.col("a").alias("x"), F.col("b").alias("z")).unionAll(
        und.select(F.col("b").alias("x"), F.col("a").alias("z"))
    )
    deg = nbr.groupBy("x").agg(F.count("*").cast("long").alias("deg"))
    p = nbr.alias("p")
    q = nbr.alias("q")
    dz = deg.alias("dz")
    pairs = (
        p.join(q, (F.col("p.z") == F.col("q.z")) & (F.col("p.x") < F.col("q.x")))
        .join(F.broadcast(dz), F.col("dz.x") == F.col("p.z"))
        .select(
            F.col("p.x").alias("a"),
            F.col("q.x").alias("b"),
            F.floor(F.lit(1e9) / F.log(F.col("dz.deg")) + F.lit(0.5))
            .cast("long")
            .alias("aa_e9"),
        )
    )
    feats = (
        pairs.groupBy("a", "b")
        .agg(
            F.count("*").cast("long").alias("cn"),
            (F.sum("aa_e9").cast("double") / F.lit(1e9)).alias("adamic_adar"),
        )
        .withColumnRenamed("a", "fa")
        .withColumnRenamed("b", "fb")
    )
    da = deg.alias("da")
    db = deg.alias("db")
    e = und.alias("e")
    jac = F.col("cn").cast("double") / (
        F.col("da.deg") + F.col("db.deg") - F.col("cn")
    )
    return (
        feats.join(F.broadcast(da), F.col("da.x") == F.col("fa"))
        .join(F.broadcast(db), F.col("db.x") == F.col("fb"))
        .join(
            F.broadcast(e),
            (F.col("e.a") == F.col("fa")) & (F.col("e.b") == F.col("fb")),
            "left",
        )
        .select(
            F.col("fa").alias("a"),
            F.col("fb").alias("b"),
            "cn",
            F.col("da.deg").alias("deg_a"),
            F.col("db.deg").alias("deg_b"),
            q4(jac).alias("jaccard"),
            q4(F.col("adamic_adar")).alias("adamic_adar"),
            F.col("e.a").isNotNull().alias("is_edge"),
        )
    )


# ------------------------------------------------------ k-core peeling

KCORE_K = 4  # core threshold
KCORE_ROUNDS = 3  # unrolled peel rounds (partial peel, documented)
KCORE_TOPK = 3  # per-node heaviest-lane sparsification (as BFS)


def _kcore_oracle() -> str:
    sql = f"""
    WITH all_edges AS MATERIALIZED ({_EDGES_SQL}),
    top AS (
        SELECT u, v FROM (
            SELECT u, v, row_number() OVER (PARTITION BY u
                                            ORDER BY w DESC, v) AS rk
            FROM all_edges WHERE u <> v
        ) WHERE rk <= {KCORE_TOPK}
    ),
    und AS MATERIALIZED (
        SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b FROM top
    ),
    sym AS MATERIALIZED (
        SELECT a AS n, b AS m FROM und UNION ALL SELECT b, a FROM und
    ),
    alive0 AS (SELECT DISTINCT n FROM sym),
    deg0 AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY n)
    """
    prev = "alive0"
    for i in range(1, KCORE_ROUNDS + 1):
        sql += f""",
    deg{i} AS (
        SELECT s.n, CAST(count(*) AS BIGINT) AS d
        FROM sym s
        JOIN {prev} x ON s.n = x.n
        JOIN {prev} y ON s.m = y.n
        GROUP BY s.n
    ),
    alive{i} AS (SELECT n FROM deg{i} WHERE d >= {KCORE_K})"""
        prev = f"alive{i}"
    survived = " + ".join(
        f"(CASE WHEN a{i}.n IS NOT NULL THEN 1 ELSE 0 END)"
        for i in range(1, KCORE_ROUNDS + 1)
    )
    joins = "\n    ".join(
        f"LEFT JOIN alive{i} a{i} ON d0.n = a{i}.n"
        for i in range(1, KCORE_ROUNDS + 1)
    )
    return sql + f"""
    SELECT d0.n AS node, d0.d AS degree0,
           CAST({survived} AS BIGINT) AS rounds_survived,
           (a{KCORE_ROUNDS}.n IS NOT NULL) AS in_core
    FROM deg0 d0
    {joins}
    """


@register(
    "graph_kcore",
    oracle=_kcore_oracle(),
    notes="3-round partial k-core peel: fully deterministic, so "
    "hash-oracled despite being iterative.",
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (k=4) by iterative peeling over the
    sparsified trade graph (same top-3-heaviest-lanes graph as
    graph_bfs_distance): repeatedly drop nodes with fewer than k
    surviving neighbors; what remains after convergence is the
    k-core — the densely-interlocked trading bloc, the graph
    analogue of the Pareto head. Three unrolled rounds (a partial
    peel, like pagerank's fixed 3 iterations): the output reports
    per-node initial degree, rounds survived, and core membership,
    so convergence-in-3 is itself visible in the data.

    Each round is degree-count + semi-join against the shrinking
    alive set — the Pregel-as-joins shape: at web scale every round
    shuffles on the vertex id and the alive set only shrinks, and
    the edge list is computed once and reused (cached here,
    checkpointed at scale, exactly as dedup_cluster does)."""
    edges = trade_edges(spark, sf_dir).where(F.col("u") != F.col("v"))
    wtop = Window.partitionBy("u").orderBy(F.desc("w"), "v")
    top = (
        edges.withColumn("rk", F.row_number().over(wtop))
        .where(F.col("rk") <= KCORE_TOPK)
        .select("u", "v")
    )
    und = top.select(
        F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
    ).distinct()
    # lazy localCheckpoint: the peel rounds re-read one edge list.  The
    # call runs the shuffle-map stages below it at build (AQE), the rows
    # are stored at the first action; why not reuse(): SCALE.md
    # "Bounded-frame lazy localCheckpoint".  At 100 TB swap for a
    # reliable checkpoint via utils.checkpoint_round.
    sym = (
        und.select(F.col("a").alias("n"), F.col("b").alias("m"))
        .unionAll(und.select(F.col("b").alias("n"), F.col("a").alias("m")))
        .localCheckpoint(eager=False)
    )
    deg0 = sym.groupBy("n").agg(F.count(F.lit(1)).cast("long").alias("degree0"))
    alive = sym.select("n").distinct()
    survived_flags = []
    for i in range(1, KCORE_ROUNDS + 1):
        deg_i = (
            sym.join(alive.select(F.col("n")), "n")
            .join(alive.select(F.col("n").alias("m")), "m")
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        alive = deg_i.where(F.col("d") >= KCORE_K).select("n")
        survived_flags.append(
            alive.select("n").withColumn(f"s{i}", F.lit(1))
        )
    out = deg0
    for i, fl in enumerate(survived_flags, start=1):
        out = out.join(fl, "n", "left")
    survived = sum(
        F.coalesce(F.col(f"s{i}"), F.lit(0))
        for i in range(1, KCORE_ROUNDS + 1)
    )
    return out.select(
        F.col("n").alias("node"),
        "degree0",
        survived.cast("long").alias("rounds_survived"),
        F.col(f"s{KCORE_ROUNDS}").isNotNull().alias("in_core"),
    )


# ------------------------------------------- deterministic random walk

WALK_STEPS = 3


def _walk_oracle() -> str:
    sql = f"""
    WITH all_edges AS MATERIALIZED ({_EDGES_SQL}),
    und AS MATERIALIZED (
        SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
        FROM all_edges WHERE u <> v
    ),
    sym AS MATERIALIZED (
        SELECT a AS n, b AS m FROM und UNION ALL SELECT b, a FROM und
    ),
    w0 AS (SELECT DISTINCT n AS start, n AS cur FROM sym)
    """
    prev = "w0"
    for i in range(1, WALK_STEPS + 1):
        sql += f""",
    c{i} AS (
        SELECT w.start, s.m AS nxt,
               row_number() OVER (
                   PARTITION BY w.start
                   ORDER BY CAST(CAST('0x' || substr(md5(
                       CAST(w.start AS VARCHAR) || ':{i}:'
                       || CAST(s.m AS VARCHAR)), 1, 6)
                     AS UBIGINT) AS BIGINT), s.m) AS rk
        FROM {prev} w JOIN sym s ON s.n = w.cur
    ),
    w{i} AS (SELECT start, nxt AS cur FROM c{i} WHERE rk = 1)"""
        prev = f"w{i}"
    hops = ", ".join(
        f"w{i}.cur AS hop{i}" for i in range(1, WALK_STEPS + 1)
    )
    joins = "\n    ".join(
        f"JOIN w{i} ON w{i}.start = w0.start"
        for i in range(1, WALK_STEPS + 1)
    )
    return sql + f"""
    SELECT DISTINCT w0.start AS node, {hops}
    FROM w0
    {joins}
    """


@register(
    "graph_random_walk",
    oracle=_walk_oracle(),
    notes="hash-seeded deterministic walk: the node2vec/GraphSAGE "
    "sampling primitive made exactly reproducible.",
)
def graph_random_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 'random' walks over the undirected trade graph
    — the sampling primitive under node2vec / DeepWalk / GraphSAGE
    neighborhoods: from every node, a 3-step walk whose step choice
    is a keyed hash over (start, step, candidate) instead of an RNG
    draw. Determinism is not a test convenience, it IS the
    production property: re-running the sampler yields the same
    walks (reproducible training corpus), and no RNG state needs
    coordinating across 1000 executors.

    Each step is one join frontier→neighbors + a per-start rank —
    walk length L costs L shuffles on the vertex id regardless of
    graph size, and all walks advance TOGETHER in each round (batch
    frontier, not per-walk loops)."""
    edges = trade_edges(spark, sf_dir).where(F.col("u") != F.col("v"))
    und = edges.select(
        F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
    ).distinct()
    # lazy localCheckpoint, as in graph_kcore: the shuffle-map stages
    # under it run at this call, its rows are stored at the first
    # action, and every walk step re-reads them.
    sym = (
        und.select(F.col("a").alias("n"), F.col("b").alias("m"))
        .unionAll(und.select(F.col("b").alias("n"), F.col("a").alias("m")))
        .localCheckpoint(eager=False)
    )
    walk = sym.select("n").distinct().select(
        F.col("n").alias("start"), F.col("n").alias("cur")
    )
    hops = []
    for i in range(1, WALK_STEPS + 1):
        cand = walk.join(sym, walk["cur"] == sym["n"]).select(
            "start", F.col("m").alias("nxt")
        )
        hkey = F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "",
                        F.col("start").cast("string"),
                        F.lit(f":{i}:"),
                        F.col("nxt").cast("string"),
                    )
                ),
                1,
                6,
            ),
            16,
            10,
        ).cast("long")
        wrk = Window.partitionBy("start").orderBy(hkey, F.col("nxt"))
        walk = (
            cand.withColumn("rk", F.row_number().over(wrk))
            .where(F.col("rk") == 1)
            .select("start", F.col("nxt").alias("cur"))
        )
        hops.append(walk.select("start", F.col("cur").alias(f"hop{i}")))
    out = sym.select(F.col("n").alias("start")).distinct()
    for h in hops:
        out = out.join(h, "start")
    return out.select(
        F.col("start").alias("node"),
        *[f"hop{i}" for i in range(1, WALK_STEPS + 1)],
    ).distinct()


# ------------------------------------------------- partition modularity

MOD_Q = 1_000_000_000  # fixed-point quantum for per-community terms


@register(
    "graph_modularity",
    oracle=f"""
    WITH edges AS MATERIALIZED ({_EDGES_SQL}),
    comm AS (
        SELECT n_nationkey AS node, CAST(n_regionkey AS BIGINT) AS c
        FROM nation
    ), m AS (
        SELECT CAST(sum(w) AS BIGINT) AS tw FROM edges
    ), within AS (
        SELECT cu.c,
               CAST(sum(CASE WHEN cu.c = cv.c THEN e.w ELSE 0 END)
                    AS BIGINT) AS w_in,
               CAST(sum(e.w) AS BIGINT) AS d_out
        FROM edges e
        JOIN comm cu ON cu.node = e.u
        JOIN comm cv ON cv.node = e.v
        GROUP BY cu.c
    ), d_in AS (
        SELECT cv.c, CAST(sum(e.w) AS BIGINT) AS d_in
        FROM edges e JOIN comm cv ON cv.node = e.v
        GROUP BY cv.c
    ), per_comm AS (
        SELECT w.c, w.w_in, w.d_out, i.d_in, t.tw,
               CAST(floor((CAST(w.w_in AS DOUBLE) / t.tw
                    - (CAST(w.d_out AS DOUBLE) / t.tw)
                      * (CAST(i.d_in AS DOUBLE) / t.tw))
                    * {MOD_Q} + 0.5) AS BIGINT) AS q_term
        FROM within w JOIN d_in i ON i.c = w.c CROSS JOIN m t
    )
    SELECT c AS community, w_in AS within_weight,
           d_out AS out_strength, d_in AS in_strength,
           {sql_q4(f"CAST(q_term AS DOUBLE) / {MOD_Q}")} AS q_contrib,
           {sql_q4(f"CAST(sum(q_term) OVER () AS DOUBLE) / {MOD_Q}")}
               AS modularity
    FROM per_comm
    """,
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed weighted modularity of the region partition over the
    nation trade graph (Newman 2004/Leicht-Newman 2008, public):
    Q = Σ_c (w_in(c)/W − (out_strength(c)/W)·(in_strength(c)/W)) —
    'do nations trade within their region more than a random wiring
    with the same strengths would?' Per-community contributions ride
    along so the answer is diagnosable, not just a scalar.

    Scale shape: the community map is a broadcast dim (at web scale:
    the label frame from min_label_components — same formula, label
    column swapped in); edge weights aggregate ONCE per community
    with integer sums, per-community Q terms are fixed-point
    quantized before the metadata-level total. Nothing iterates —
    this is the evaluation half of community detection, mergeable by
    construction."""
    edges = trade_edges(spark, sf_dir)
    # 25-row dim feeding several consumers — bounded, lazy checkpoint
    comm = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("node"),
        F.col("n_regionkey").cast("long").alias("c"),
    ).localCheckpoint(eager=False)
    m = edges.agg(F.sum("w").cast("long").alias("tw"))
    cu = comm.select(F.col("node").alias("u"), F.col("c").alias("cu"))
    cv = comm.select(F.col("node").alias("v"), F.col("c").alias("cv"))
    tagged = edges.join(F.broadcast(cu), "u").join(F.broadcast(cv), "v")
    within = tagged.groupBy(F.col("cu").alias("c")).agg(
        F.sum(F.when(F.col("cu") == F.col("cv"), F.col("w")).otherwise(0))
        .cast("long")
        .alias("w_in"),
        F.sum("w").cast("long").alias("d_out"),
    )
    d_in = tagged.groupBy(F.col("cv").alias("c")).agg(
        F.sum("w").cast("long").alias("d_in")
    )
    per_comm = (
        within.join(d_in, "c")
        .crossJoin(F.broadcast(m))
        .select(
            "c",
            "w_in",
            "d_out",
            "d_in",
            F.floor(
                (
                    F.col("w_in").cast("double") / F.col("tw")
                    - (F.col("d_out").cast("double") / F.col("tw"))
                    * (F.col("d_in").cast("double") / F.col("tw"))
                )
                * MOD_Q
                + 0.5
            )
            .cast("long")
            .alias("q_term"),
        )
    )
    wall = Window.partitionBy()
    return per_comm.select(
        F.col("c").alias("community"),
        F.col("w_in").alias("within_weight"),
        F.col("d_out").alias("out_strength"),
        F.col("d_in").alias("in_strength"),
        q4(F.col("q_term").cast("double") / MOD_Q).alias("q_contrib"),
        q4(
            F.sum("q_term").over(wall).cast("double") / MOD_Q
        ).alias("modularity"),
    )


# ------------------------------------------------- degree assortativity


@register(
    "graph_assortativity",
    oracle=f"""
    WITH all_edges AS MATERIALIZED ({_EDGES_SQL}),
    edges AS (SELECT * FROM all_edges WHERE u <> v),
    deg AS (
        SELECT n, CAST(sum(w) AS BIGINT) AS d FROM (
            SELECT u AS n, w FROM edges
            UNION ALL SELECT v, w FROM edges
        ) GROUP BY n
    ), pairs AS (
        SELECT e.w, du.d AS dx, dv.d AS dy
        FROM edges e
        JOIN deg du ON du.n = e.u
        JOIN deg dv ON dv.n = e.v
    ), m AS (
        SELECT CAST(sum(w) AS BIGINT) AS sw,
               CAST(sum(w * dx) AS BIGINT) AS sx,
               CAST(sum(w * dy) AS BIGINT) AS sy,
               CAST(sum(w * dx * dx) AS HUGEINT) AS sxx,
               CAST(sum(w * dy * dy) AS HUGEINT) AS syy,
               CAST(sum(w * dx * dy) AS HUGEINT) AS sxy
        FROM pairs
    ), recip AS (
        SELECT CAST(sum(least(e.w, r.w)) AS BIGINT) AS w_recip
        FROM edges e JOIN edges r ON r.u = e.v AND r.v = e.u
    )
    SELECT m.sw AS total_weight, r.w_recip,
           CAST(r.w_recip * 10000 // m.sw AS BIGINT) AS reciprocity_bps,
           floor(((CAST(m.sw AS DOUBLE) * CAST(m.sxy AS DOUBLE)
                   - CAST(m.sx AS DOUBLE) * m.sy)
                  / sqrt((CAST(m.sw AS DOUBLE) * CAST(m.sxx AS DOUBLE)
                          - CAST(m.sx AS DOUBLE) * m.sx)
                         * (CAST(m.sw AS DOUBLE) * CAST(m.syy AS DOUBLE)
                            - CAST(m.sy AS DOUBLE) * m.sy)))
                 * 1e4 + 0.5) / 1e4 AS assortativity
    FROM m CROSS JOIN recip r
    """,
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted degree assortativity of the trade graph (Newman
    2002, public): the edge-weighted Pearson correlation between
    endpoint strengths — positive means hubs trade with hubs
    (rich-club), negative means hub-periphery — plus weighted edge
    reciprocity (how much flow is mutual), the two numbers that
    characterize a trade network's topology.

    Scale shape: strengths are one union+rollup over the edge list;
    the correlation moments are integer sums over edges joined to
    the (broadcastable) strength table — decimal accumulators where
    strength² × weight can overflow; reciprocity is an edge-keyed
    self-join. Everything final-double."""
    edges = trade_edges(spark, sf_dir).where(F.col("u") != F.col("v"))
    deg = (
        edges.select(F.col("u").alias("n"), "w")
        .unionAll(edges.select(F.col("v").alias("n"), "w"))
        .groupBy("n")
        .agg(F.sum("w").cast("long").alias("d"))
    )
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("dx"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dy"))
    pairs = edges.join(F.broadcast(du), "u").join(F.broadcast(dv), "v")
    dec = "decimal(38,0)"
    m = pairs.agg(
        F.sum("w").cast("long").alias("sw"),
        F.sum(F.col("w") * F.col("dx")).cast("long").alias("sx"),
        F.sum(F.col("w") * F.col("dy")).cast("long").alias("sy"),
        F.sum(
            F.col("w").cast(dec) * F.col("dx").cast(dec) * F.col("dx").cast(dec)
        ).alias("sxx"),
        F.sum(
            F.col("w").cast(dec) * F.col("dy").cast(dec) * F.col("dy").cast(dec)
        ).alias("syy"),
        F.sum(
            F.col("w").cast(dec) * F.col("dx").cast(dec) * F.col("dy").cast(dec)
        ).alias("sxy"),
    )
    rev = edges.select(
        F.col("u").alias("ru"), F.col("v").alias("rv"), F.col("w").alias("rw")
    )
    recip = edges.join(
        rev, (F.col("ru") == F.col("v")) & (F.col("rv") == F.col("u"))
    ).agg(
        F.sum(F.least(F.col("w"), F.col("rw"))).cast("long").alias("w_recip")
    )
    swd = F.col("sw").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    num = swd * F.col("sxy").cast("double") - sxd * syd
    den = F.sqrt(
        (swd * F.col("sxx").cast("double") - sxd * sxd)
        * (swd * F.col("syy").cast("double") - syd * syd)
    )
    return m.crossJoin(F.broadcast(recip)).select(
        F.col("sw").alias("total_weight"),
        "w_recip",
        F.expr("w_recip * 10000L DIV sw").alias("reciprocity_bps"),
        (F.floor(num / den * 1e4 + 0.5) / 1e4).alias("assortativity"),
    )


# ------------------------------------- co-purchase components

COP_MIN_SUP = 2  # min co-occurrence support for a pair edge


@register(
    "graph_copurchase_components",
    oracle=f"""
    WITH pl AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), pairs AS (
        SELECT a.l_partkey AS p1, b.l_partkey AS p2,
               CAST(count(*) AS BIGINT) AS sup
        FROM pl a JOIN pl b
          ON a.l_orderkey = b.l_orderkey
         AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING count(*) >= {COP_MIN_SUP}
    ), ue AS (
        SELECT p1 AS u, p2 AS v FROM pairs
        UNION ALL
        SELECT p2, p1 FROM pairs
    ), nodes AS (
        SELECT DISTINCT u AS v FROM ue
    ), reach AS (
        WITH RECURSIVE r(a, b) AS (
            SELECT v, v FROM nodes
            UNION
            SELECT r.a, e.v FROM r JOIN ue e ON e.u = r.b
        )
        SELECT * FROM r
    ), comp AS (
        SELECT a AS nid, CAST(min(b) AS BIGINT) AS label
        FROM reach GROUP BY a
    ), sizes AS (
        SELECT label, CAST(count(*) AS BIGINT) AS n_parts
        FROM comp GROUP BY label
    ), es AS (
        SELECT c.label, CAST(count(*) AS BIGINT) AS n_edges,
               CAST(sum(p.sup) AS BIGINT) AS total_support
        FROM pairs p JOIN comp c ON c.nid = p.p1
        GROUP BY c.label
    )
    SELECT s.label AS comp_id, s.n_parts, e.n_edges, e.total_support
    FROM sizes s JOIN es e ON e.label = s.label
    """,
)
def graph_copurchase_components(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Connected components of the part co-purchase graph: parts are
    linked when they appear together in ≥{COP_MIN_SUP} orders, and
    each component (a "bought-together cluster", the structure
    behind substitution groups and bundle recommendations) is
    reported with its size, edge count and total support.  Re-uses
    the pointer-jumping min-label machine (llm/dedup.py) — the
    O(log D) distributed components loop with scoped checkpoints.

    Scale shape: candidate pairs come from a per-order self-join on
    the DISTINCT (order, part) projection — order width is bounded
    (≤7 lines), so the fanout is quadratic in the basket size, never
    in the table; the support HAVING prunes to a sparse edge set
    before any iteration; the components loop shuffles (node, label)
    pairs only.  The oracle walks the same graph with a RECURSIVE
    min-label closure."""
    from ..llm.dedup import min_label_components

    li = table(spark, sf_dir, "lineitem")
    pl = li.select("l_orderkey", "l_partkey").distinct()
    a = pl.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p1")
    )
    b = pl.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p2")
    )
    pairs = (
        a.join(b, "ok")
        .where(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).cast("long").alias("sup"))
        .where(F.col("sup") >= COP_MIN_SUP)
    )
    ue = pairs.select(
        F.col("p1").alias("u"), F.col("p2").alias("v")
    ).unionAll(pairs.select(F.col("p2").alias("u"), F.col("p1").alias("v")))
    comp = min_label_components(ue)
    sizes = comp.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts")
    )
    es = (
        pairs.join(comp, pairs.p1 == comp.nid)
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_edges"),
            F.sum("sup").cast("long").alias("total_support"),
        )
    )
    return sizes.join(es, "label").select(
        F.col("label").alias("comp_id"),
        "n_parts",
        "n_edges",
        "total_support",
    )


# --------------------------------------------- label propagation (LPA)

LPA_ROUNDS = 3


def _lpa_oracle() -> str:
    sql = f"""
    WITH edges AS MATERIALIZED ({_EDGES_SQL}),
    nbr AS MATERIALIZED (
        SELECT u AS v, v AS n, w FROM edges WHERE u <> v
        UNION ALL
        SELECT v AS v, u AS n, w FROM edges WHERE u <> v
    ),
    nodes AS (SELECT n_nationkey AS v FROM nation),
    lab0 AS (SELECT v, v AS l FROM nodes)
    """
    prev = "lab0"
    for i in range(1, LPA_ROUNDS + 1):
        sql += f""",
    votes{i} AS (
        SELECT nb.v, p.l, CAST(sum(nb.w) AS BIGINT) AS wt
        FROM nbr nb JOIN {prev} p ON p.v = nb.n
        GROUP BY nb.v, p.l
    ),
    best{i} AS (
        SELECT v, l FROM (
            SELECT v, l, row_number() OVER (PARTITION BY v
                ORDER BY wt DESC, l) AS rn
            FROM votes{i}
        ) WHERE rn = 1
    ),
    lab{i} AS (
        SELECT n.v, coalesce(b.l, p.l) AS l
        FROM nodes n
        LEFT JOIN best{i} b ON b.v = n.v
        JOIN {prev} p ON p.v = n.v
    )
    """
        prev = f"lab{i}"
    sql += f"""
    SELECT l AS community, CAST(count(*) AS BIGINT) AS n_nations,
           CAST(min(v) AS BIGINT) AS rep_nation
    FROM {prev} GROUP BY l
    """
    return sql


@register("graph_label_propagation", oracle=_lpa_oracle())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous weighted label propagation (Raghavan et al. 2007)
    over the undirected nation trade graph, {LPA_ROUNDS} fixed
    plan-time-unrolled rounds: every node adopts the label carrying
    the maximum total incident edge weight among its neighbors
    (ties break on the smaller label — fully deterministic, which
    is what makes an inherently heuristic community algorithm
    hash-verifiable across engines); isolated nodes keep their own
    label. Communities report size and smallest member.

    Scale shape mirrors graph_pagerank: per round one shuffle-join
    of the label table with the symmetrized edge list and one
    (v, label) weight aggregate + per-node argmax window — the
    Pregel-as-joins formulation; the edge derivation is the only
    fact-table-sized pass and is checkpoint-scoped once."""
    edges = trade_edges(spark, sf_dir)  # source-checkpointed (r13)
    e = edges.where(F.col("u") != F.col("v"))
    nbr = e.select(
        F.col("u").alias("v"), F.col("v").alias("n"), "w"
    ).unionAll(e.select(F.col("v").alias("v"), F.col("u").alias("n"), "w"))
    # 25-row dim, replayed per iteration through the growing state
    # lineage — bounded, so one lazy checkpoint collapses the replays
    # (graph_eigenvector_centrality re-scanned nation 92x before r13)
    nodes = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("v")
    ).localCheckpoint(eager=False)
    lab = nodes.select("v", F.col("v").alias("l"))
    w_best = Window.partitionBy("v").orderBy(F.col("wt").desc(), "l")
    for _ in range(LPA_ROUNDS):
        votes = (
            nbr.join(
                lab.select(F.col("v").alias("n"), "l"), "n"
            )
            .groupBy("v", "l")
            .agg(F.sum("w").cast("long").alias("wt"))
        )
        best = (
            votes.withColumn("rn", F.row_number().over(w_best))
            .where(F.col("rn") == 1)
            .select("v", F.col("l").alias("bl"))
        )
        lab = (
            nodes.join(best, "v", "left")
            .join(lab, "v")
            .select("v", F.coalesce(F.col("bl"), F.col("l")).alias("l"))
        )
    return lab.groupBy(F.col("l").alias("community")).agg(
        F.count(F.lit(1)).alias("n_nations"),
        F.min("v").cast("long").alias("rep_nation"),
    )


# --------------------------------------------- local structure (r8 wave)

_UND_SQL = f"""
        SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
        FROM ({_EDGES_SQL}) e WHERE u <> v
"""


@register(
    "graph_clustering_coefficient",
    oracle=f"""
    WITH und AS MATERIALIZED ({_UND_SQL}),
    deg AS MATERIALIZED (
        SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
            SELECT a AS node FROM und UNION ALL SELECT b FROM und
        ) GROUP BY node
    ), tri AS (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM und e1
        JOIN und e2 ON e2.a = e1.b
        JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    ), tri_per_node AS (
        SELECT node, CAST(count(*) AS BIGINT) AS tri_count FROM (
            SELECT x AS node FROM tri
            UNION ALL SELECT y FROM tri
            UNION ALL SELECT z FROM tri
        ) GROUP BY node
    )
    SELECT d.node AS nationkey, d.degree,
           coalesce(t.tri_count, 0) AS tri_count,
           {sql_q4("CASE WHEN d.degree < 2 THEN 0.0 "
                   "ELSE 2.0 * coalesce(t.tri_count, 0) "
                   "/ (d.degree * (d.degree - 1)) END")} AS local_cc
    FROM deg d LEFT JOIN tri_per_node t ON t.node = d.node
    """,
)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node of the undirected nation
    trade graph: cc(v) = 2*tri(v) / (deg(v)*(deg(v)-1)) — how close
    each node's neighborhood is to a clique, the per-node refinement
    of graph_triangles' global count (Watts-Strogatz, public).

    Scale shape: triangles come from the same ordered two-path +
    closing-edge join as graph_triangles (fan-out bounded by
    forward-degree); each triangle is melted to its 3 corners and
    hash-counted, so per-node work is proportional to triangle
    count, never to the neighbor-pair cross product."""
    edges = trade_edges(spark, sf_dir)
    und = (
        edges.where(F.col("u") != F.col("v"))
        .select(F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    e1, e2, e3 = und.alias("e1"), und.alias("e2"), und.alias("e3")
    tri = e1.join(e2, F.col("e2.a") == F.col("e1.b")).join(
        e3,
        (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
    ).select(
        F.col("e1.a").alias("x"), F.col("e1.b").alias("y"), F.col("e2.b").alias("z")
    )
    tri_per_node = (
        tri.select(F.col("x").alias("node"))
        .unionAll(tri.select(F.col("y").alias("node")))
        .unionAll(tri.select(F.col("z").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("tri_count"))
    )
    return deg.join(tri_per_node, "node", "left").select(
        F.col("node").alias("nationkey"),
        "degree",
        F.coalesce("tri_count", F.lit(0)).cast("long").alias("tri_count"),
        q4(
            F.when(F.col("degree") < 2, 0.0).otherwise(
                F.lit(2.0)
                * F.coalesce("tri_count", F.lit(0))
                / (F.col("degree") * (F.col("degree") - 1))
            )
        ).alias("local_cc"),
    )


# Truncated (k-hop) harmonic centrality: 1/d summed over nodes within
# BFS_ROUNDS hops; 12 = LCM(1..4) makes the sum an exact integer.
_HC_L = 12


def _harmonic_oracle() -> str:
    sql = f"""
    WITH all_edges AS MATERIALIZED ({_EDGES_SQL}),
    edges AS MATERIALIZED (
        SELECT u, v FROM (
            SELECT u, v,
                   row_number() OVER (PARTITION BY u
                                      ORDER BY w DESC, v) AS rk
            FROM all_edges
        ) WHERE rk <= {BFS_TOPK}
    ),
    d0 AS (SELECT n_nationkey AS src, n_nationkey AS v,
                  CAST(0 AS BIGINT) AS dist
           FROM nation)
    """
    prev = "d0"
    for i in range(1, BFS_ROUNDS + 1):
        sql += f""",
    d{i} AS (
        SELECT src, v, CAST(min(dist) AS BIGINT) AS dist FROM (
            SELECT src, v, dist FROM {prev}
            UNION ALL
            SELECT p.src, e.v, p.dist + 1 AS dist
            FROM {prev} p JOIN edges e ON e.u = p.v
        ) GROUP BY src, v
    )"""
        prev = f"d{i}"
    return sql + f"""
    SELECT src AS nationkey,
           CAST(count_if(dist > 0) AS BIGINT) AS n_reached,
           CAST(sum(CASE WHEN dist > 0 THEN {_HC_L} // dist
                         ELSE 0 END) AS DOUBLE) / {_HC_L} AS harmonic
    FROM {prev} GROUP BY src
    """


@register("graph_harmonic_centrality", oracle=_harmonic_oracle())
def graph_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated harmonic centrality of every node in the sparsified
    (top-3-lanes) directed trade graph: H(u) = sum over nodes v
    within 4 hops of 1/d(u, v) — the centrality that handles
    disconnected graphs gracefully (unreachable nodes contribute 0,
    not infinity), evaluated with the k-bounded BFS every
    billion-node system uses (Boldi-Vigna's truncated form).

    Hash-parity discipline: distances are small integers, so 1/d is
    scaled by LCM(1..4) = 12 and the centrality numerator is an
    exact BIGINT.

    Scale shape: ONE multi-source BFS — the frontier carries (src,
    v) pairs, each round is an equi-join on the frontier key + a
    min-aggregate, rounds unrolled into one plan exactly like
    graph_bfs_distance; 25 sources here, partition-parallel at any
    source count."""
    all_edges = trade_edges(spark, sf_dir)
    wk = Window.partitionBy("u").orderBy(F.col("w").desc(), "v")
    edges = (
        all_edges.withColumn("rk", F.row_number().over(wk))
        .where(F.col("rk") <= BFS_TOPK)
        .select("u", "v")
    )
    # 25-row dim replayed per BFS round — bounded, lazy checkpoint
    nodes = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("src")
    ).localCheckpoint(eager=False)
    dist = nodes.select(
        "src", F.col("src").alias("v"), F.lit(0).cast("long").alias("dist")
    )
    # r15: same two fixes as graph_bfs_distance — persist the
    # sparsified edges once (each round's broadcast replayed the
    # top-k window), and persist each round's frontier, which has TWO
    # consumers (union branch + expansion), so the unroll replayed
    # the innermost round 2^BFS_ROUNDS times.  Frames are
    # nation-bounded (≤ 25·25 rows); one partition is right at any
    # fact scale.
    e2 = reuse(
        edges.select(F.col("u").alias("eu"), F.col("v").alias("ev"))
        .coalesce(1)
    )
    for _ in range(BFS_ROUNDS):
        expanded = dist.join(F.broadcast(e2), F.col("v") == F.col("eu")).select(
            "src",
            F.col("ev").cast("long").alias("v"),
            (F.col("dist") + 1).alias("dist"),
        )
        dist = reuse(
            dist.unionByName(expanded)
            .groupBy("src", "v")
            .agg(F.min("dist").cast("long").alias("dist"))
            .coalesce(1)
        )
    return dist.groupBy("src").agg(
        F.count_if(F.col("dist") > 0).cast("long").alias("n_reached"),
        (
            F.sum(
                F.when(
                    F.col("dist") > 0,
                    (F.lit(_HC_L) / F.col("dist")).cast("long"),
                ).otherwise(0)
            ).cast("double")
            / F.lit(_HC_L)
        ).alias("harmonic"),
    ).select(F.col("src").alias("nationkey"), "n_reached", "harmonic")


@register(
    "graph_rich_club",
    oracle=f"""
    WITH all_edges AS MATERIALIZED ({_EDGES_SQL}),
    sparse AS MATERIALIZED (
        SELECT u, v FROM (
            SELECT u, v,
                   row_number() OVER (PARTITION BY u
                                      ORDER BY w DESC, v) AS rk
            FROM all_edges WHERE u <> v
        ) WHERE rk <= {BFS_TOPK}
    ),
    und AS MATERIALIZED (
        SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b FROM sparse
    ),
    deg AS MATERIALIZED (
        SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
            SELECT a AS node FROM und UNION ALL SELECT b FROM und
        ) GROUP BY node
    ), edge_min AS (
        SELECT least(da.degree, db.degree) AS val,
               CAST(count(*) AS BIGINT) AS e_cnt
        FROM und e
        JOIN deg da ON da.node = e.a
        JOIN deg db ON db.node = e.b
        GROUP BY 1
    ), node_hist AS (
        SELECT degree AS val, CAST(count(*) AS BIGINT) AS n_cnt
        FROM deg GROUP BY degree
    ), grid AS (
        SELECT coalesce(n.val, e.val) AS val,
               coalesce(n.n_cnt, 0) AS n_cnt,
               coalesce(e.e_cnt, 0) AS e_cnt
        FROM node_hist n FULL JOIN edge_min e ON e.val = n.val
    ), suff AS (
        SELECT val,
               sum(n_cnt) OVER w - n_cnt AS n_k,
               sum(e_cnt) OVER w - e_cnt AS e_k
        FROM grid
        WINDOW w AS (ORDER BY val DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT val AS k, CAST(n_k AS BIGINT) AS n_nodes,
           CAST(e_k AS BIGINT) AS n_edges,
           {sql_q4("2.0 * e_k / (n_k * (n_k - 1))")} AS phi
    FROM suff WHERE n_k >= 2
    """,
)
def graph_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient curve of the undirected trade graph:
    phi(k) = 2*E_k / (N_k*(N_k-1)) where N_k nodes have degree > k
    and E_k edges connect two such nodes — phi rising toward 1 at
    high k means the hubs form a tightly-wired club (Colizza et
    al.'s unnormalized form, public), evaluated at every degree
    value present.  Runs on the top-3-lanes sparsified graph (the
    dense trade graph is complete, so every degree ties and the
    curve is empty by definition).

    Scale shape: both curves are SUFFIX sums over the bounded degree
    grid — node-degree and edge-min-degree histograms are hash
    aggregates, full-outer-merged onto one grid, then ONE descending
    bucketed-prefix pass yields N_k and E_k for every k (strict >
    via inclusive-cumsum minus at-value); no per-k rescan, no
    quadratic grid join."""
    all_edges = trade_edges(spark, sf_dir).where(F.col("u") != F.col("v"))
    wk = Window.partitionBy("u").orderBy(F.col("w").desc(), "v")
    sparse = (
        all_edges.withColumn("rk", F.row_number().over(wk))
        .where(F.col("rk") <= BFS_TOPK)
        .select("u", "v")
    )
    und = sparse.select(
        F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
    ).distinct()
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("degree").alias("dega"))
    db = deg.select(F.col("node").alias("b"), F.col("degree").alias("degb"))
    edge_min = (
        und.join(da, "a")
        .join(db, "b")
        .select(F.least("dega", "degb").alias("val"))
        .groupBy("val")
        .agg(F.count(F.lit(1)).cast("long").alias("e_cnt"))
    )
    node_hist = deg.groupBy(F.col("degree").alias("val")).agg(
        F.count(F.lit(1)).cast("long").alias("n_cnt")
    )
    grid = (
        node_hist.join(edge_min, "val", "full")
        .select(
            "val",
            F.coalesce("n_cnt", F.lit(0)).cast("long").alias("n_cnt"),
            F.coalesce("e_cnt", F.lit(0)).cast("long").alias("e_cnt"),
        )
    )
    suff = global_ordered(
        grid,
        [F.col("val").desc()],
        bucket_key="val",
        bucket_desc=True,
        sums={"n_cnt": "cum_n", "e_cnt": "cum_e"},
        rank_col=None,
    )
    return (
        suff.select(
            F.col("val").alias("k"),
            (F.col("cum_n") - F.col("n_cnt")).alias("n_nodes"),
            (F.col("cum_e") - F.col("e_cnt")).alias("n_edges"),
        )
        .where(F.col("n_nodes") >= 2)
        .select(
            "k",
            "n_nodes",
            "n_edges",
            q4(
                F.lit(2.0)
                * F.col("n_edges")
                / (F.col("n_nodes") * (F.col("n_nodes") - 1))
            ).alias("phi"),
        )
    )


@register(
    "graph_reciprocity",
    oracle=f"""
    WITH edges AS MATERIALIZED ({_EDGES_SQL}),
    e AS (SELECT DISTINCT u, v FROM edges WHERE u <> v)
    SELECT CAST(count(*) AS BIGINT) AS n_edges,
           CAST(count(r.u) AS BIGINT) AS n_reciprocated,
           {sql_q4("CAST(count(r.u) AS DOUBLE) / count(*)")} AS reciprocity
    FROM e
    LEFT JOIN e r ON r.u = e.v AND r.v = e.u
    """,
)
def graph_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocity of the directed trade graph: the fraction of
    directed edges whose reverse edge also exists — the first
    question about any directed network (mutual trading lanes vs
    one-way flows); near 1 here because nation-level trade is dense,
    near 0 on e.g. follower graphs.

    Scale shape: one distinct edge aggregate + ONE self equi-join on
    the reversed key — never an all-pairs comparison."""
    edges = (
        trade_edges(spark, sf_dir)
        .where(F.col("u") != F.col("v"))
        .select("u", "v")
        .distinct()
    )
    rev = edges.select(F.col("u").alias("rv"), F.col("v").alias("ru"))
    return (
        edges.join(
            rev, (F.col("ru") == F.col("u")) & (F.col("rv") == F.col("v")), "left"
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_edges"),
            F.count("ru").cast("long").alias("n_reciprocated"),
        )
        .select(
            "n_edges",
            "n_reciprocated",
            q4(
                F.col("n_reciprocated").cast("double") / F.col("n_edges")
            ).alias("reciprocity"),
        )
    )


@register(
    "graph_degree_gini",
    oracle=f"""
    WITH edges AS MATERIALIZED ({_EDGES_SQL}),
    sparse AS (
        SELECT u, v FROM (
            SELECT u, v,
                   row_number() OVER (PARTITION BY u
                                      ORDER BY w DESC, v) AS rk
            FROM edges WHERE u <> v
        ) WHERE rk <= {BFS_TOPK}
    ), und AS (
        SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b FROM sparse
    ), deg AS (
        SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
            SELECT a AS node FROM und UNION ALL SELECT b FROM und
        ) GROUP BY node
    ), ranked AS (
        SELECT d,
               CAST(row_number() OVER (ORDER BY d, node) AS BIGINT) AS rk
        FROM deg
    ), tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(d) AS BIGINT) AS sd
        FROM deg
    )
    SELECT n AS n_nodes, sd AS n_degree_total,
           {sql_q4("CAST(2 * sum(rk * d) - (n + 1) * sd AS DOUBLE)"
                   " / (n * sd)")} AS degree_gini
    FROM ranked CROSS JOIN tot GROUP BY n, sd
    """,
)
def graph_degree_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of the degree distribution on the sparsified
    trade graph (the dense graph is regular — every Gini is 0 by
    construction): G = (2*sum(rank*d) - (n+1)*sum(d)) / (n*sum(d))
    over degrees ranked ascending — the hub-concentration scalar that
    says whether connectivity is spread out or captured by a few
    nations (the graph-side sibling of events_gini).

    Scale shape: degrees hash-aggregate from the edge list; the rank
    runs over the NODE table (one prefix pass — nodes, not edges);
    the Gini numerator is an exact BIGINT."""
    all_edges = trade_edges(spark, sf_dir).where(F.col("u") != F.col("v"))
    wk = Window.partitionBy("u").orderBy(F.col("w").desc(), "v")
    sparse = (
        all_edges.withColumn("rk", F.row_number().over(wk))
        .where(F.col("rk") <= BFS_TOPK)
        .select("u", "v")
    )
    und = sparse.select(
        F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
    ).distinct()
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    ranked = global_ordered(
        deg,
        [F.col("d"), F.col("node")],
        bucket_key="d",
        rank_col="rk",
    )
    tot = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("d").cast("long").alias("sd"),
    )
    return (
        ranked.crossJoin(F.broadcast(tot))
        .groupBy("n", "sd")
        .agg(F.sum(F.col("rk") * F.col("d")).cast("long").alias("srd"))
        .select(
            F.col("n").alias("n_nodes"),
            F.col("sd").alias("n_degree_total"),
            q4(
                (2 * F.col("srd") - (F.col("n") + 1) * F.col("sd")).cast("double")
                / (F.col("n") * F.col("sd"))
            ).alias("degree_gini"),
        )
    )


# ------------------------------ eigenvector centrality (r8 wave W)

_EV_ITER = 4
# own, smaller fixed-point scale: x <= EV_SCALE after each rescale, so
# r = sum(x*w) <= EV_SCALE * total incident weight and r * EV_SCALE stays
# far below 2^63 at the bench scales (pagerank's 1e8 would overflow here
# because eigenvector centrality has no outdegree division damping r)
_EV_SCALE = 1_000_000


def _eigenvector_oracle() -> str:
    sql = f"""
    WITH dir_edges AS MATERIALIZED ({_EDGES_SQL}),
    edges AS MATERIALIZED (
        SELECT u, v, CAST(SUM(w) AS BIGINT) AS w FROM (
            SELECT u, v, w FROM dir_edges
            UNION ALL
            SELECT v AS u, u AS v, w FROM dir_edges
        ) GROUP BY u, v
    ),
    nodes AS (SELECT n_nationkey AS v FROM nation),
    x0 AS (SELECT v, CAST({_EV_SCALE} AS BIGINT) AS x FROM nodes)
    """
    prev = "x0"
    for i in range(1, _EV_ITER + 1):
        sql += f""",
    raw{i} AS (
        SELECT n.v, CAST(COALESCE(SUM(p.x * e.w), 0) AS BIGINT) AS r
        FROM nodes n
        LEFT JOIN edges e ON e.v = n.v
        LEFT JOIN {prev} p ON p.v = e.u
        GROUP BY n.v
    ),
    it{i} AS (
        SELECT v, CAST(r * {_EV_SCALE} // (SELECT MAX(r) FROM raw{i})
             AS BIGINT) AS x
        FROM raw{i}
    )"""
        prev = f"it{i}"
    sql += f"""
    SELECT v AS nationkey, x AS score_fixed,
           {sql_q4(f"CAST(x AS DOUBLE) / (SELECT SUM(x) FROM {prev})")}
               AS score_share
    FROM {prev}
    """
    return sql


@register("graph_eigenvector_centrality", oracle=_eigenvector_oracle())
def graph_eigenvector_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eigenvector centrality of the UNDIRECTED nation trade graph by
    {_EV_ITER}-step power iteration with infinity-norm rescaling —
    the influence measure where a nation is central because its
    PARTNERS are central (PageRank without damping or out-degree
    division; the dominant eigenvector of the symmetrized weight
    matrix).

    Same fixed-point discipline as graph_pagerank: x' = W·x folds as
    BIGINT sums (order-free), each iteration rescales by a window max
    over the bounded nation state (integer DIV), and the iteration count
    is plan-time unrolled so the whole algorithm is ONE Catalyst plan
    with no driver loop actions. At true scale, pre-normalize w per
    node to keep x*w < 2^63 (module docstring).

    Scale shape: edge derivation is the only fact-table pass;
    per-iteration cost is one join + one aggregate on the vertex-id
    key."""
    dir_edges = trade_edges(spark, sf_dir)
    edges = (
        dir_edges.select("u", "v", "w")
        .unionAll(
            dir_edges.select(
                F.col("v").alias("u"), F.col("u").alias("v"), F.col("w")
            )
        )
        .groupBy("u", "v")
        .agg(F.sum("w").cast("long").alias("w"))
        .localCheckpoint(eager=False)
    )
    # 25-row dim, replayed per iteration through the growing state
    # lineage — bounded, so one lazy checkpoint collapses the replays
    # (graph_eigenvector_centrality re-scanned nation 92x before r13)
    nodes = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("v")
    ).localCheckpoint(eager=False)
    x = nodes.select("v", F.lit(_EV_SCALE).cast("long").alias("x"))
    for _ in range(_EV_ITER):
        raw = (
            nodes.join(edges, "v", "left")
            .join(
                x.select(F.col("v").alias("u"), F.col("x").alias("xu")), "u", "left"
            )
            .groupBy("v")
            .agg(
                F.coalesce(F.sum(F.col("xu") * F.col("w")), F.lit(0))
                .cast("long")
                .alias("r")
            )
            # coalesce(1) (r15): the state is nation-keyed (≤25 rows at
            # ANY fact scale) but inherits 16 shuffle partitions — one
            # partition of metadata is the right layout at every scale;
            # no shuffle is added (AQE would coalesce too, but the
            # explicit coalesce makes the single-partition layout a
            # plan-level guarantee the window below relies on).
            .coalesce(1)
        )
        # r16 (VERDICT r15 item 4): the max rescale folds into the SAME
        # single-partition stage as a window aggregate — the r15 shape
        # (separate max aggregate + broadcast crossJoin) made raw a
        # 2-consumer frame, which needed a per-iteration persist and
        # paid one broadcast-exchange stage wave per iteration.  With
        # ``max(r) OVER ()`` evaluated inside raw's one bounded
        # partition, raw has ONE consumer, the unrolled plan is linear
        # WITHOUT any cache, and each iteration is one aggregate wave
        # instead of three (agg → cache-read max → broadcast join).
        # Integer semantics unchanged: (r · SCALE) DIV max, same DIV.
        x = raw.select(
            "v", F.expr(f"r * {_EV_SCALE}L DIV (max(r) OVER ())").alias("x")
        )
    # the share total folds into the same bounded partition the same
    # way (the r15 shape persisted x and broadcast a 1-row total)
    return x.select(
        F.col("v").alias("nationkey"),
        F.col("x").alias("score_fixed"),
        q4(
            F.col("x").cast("double") / F.expr("sum(x) OVER ()")
        ).alias("score_share"),
    )


# ------------------------------------------------------------------
# Adamic-Adar link prediction (r10)


@register(
    "graph_adamic_adar",
    oracle=f"""
    WITH pl AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), pairs AS (
        SELECT a.l_partkey AS p1, b.l_partkey AS p2
        FROM pl a JOIN pl b
          ON a.l_orderkey = b.l_orderkey
         AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING count(*) >= {COP_MIN_SUP}
    ), ue AS (
        SELECT p1 AS u, p2 AS v FROM pairs
        UNION ALL
        SELECT p2, p1 FROM pairs
    ), deg AS (
        SELECT u, CAST(count(*) AS BIGINT) AS d FROM ue GROUP BY u
    ), two_hop AS (
        SELECT e1.u AS pa, e2.v AS pb, e1.v AS z
        FROM ue e1 JOIN ue e2 ON e1.v = e2.u
        WHERE e1.u < e2.v
    ), cand AS (
        SELECT t.pa, t.pb,
               CAST(count(*) AS BIGINT) AS common_neighbors,
               CAST(sum(CAST(round(1e9 / ln(d.d)) AS BIGINT)) AS BIGINT)
                   AS aaq
        FROM two_hop t
        JOIN deg d ON d.u = t.z
        LEFT JOIN pairs p ON p.p1 = t.pa AND p.p2 = t.pb
        WHERE p.p1 IS NULL
        GROUP BY t.pa, t.pb
    )
    SELECT pa AS part_a, pb AS part_b, common_neighbors,
           {sql_q4("aaq / 1e9")} AS adamic_adar
    FROM cand WHERE common_neighbors >= 2
    """,
)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction on the part co-purchase graph:
    for every UNLINKED part pair reachable in two hops, score the
    likelihood of a future co-purchase edge as Σ_z 1/ln(deg(z)) over
    their common neighbors z (Adamic & Adar 2003 — rare shared
    neighbors count more than promiscuous hubs), reported with the
    raw common-neighbor count for pairs sharing ≥ 2 neighbors. This
    is the classic recommender candidate generator: the same pruned
    graph the components key clusters, read as 'parts that SHOULD be
    bundled but are not yet'. The per-neighbor weights are quantized
    to 1e-9 BIGINTs before summing (exact association-free integer
    fold — 1/ln(2) ≈ 1.44e9 per term, so even 10^9 common neighbors
    stay far from BIGINT overflow), then scaled back.

    Scale shape: the two-hop enumeration is an equi-join of the
    support-pruned edge list with itself on the middle node — fan-out
    is Σ_z deg(z)², bounded by the HAVING-pruned degree distribution,
    never |parts|²; existing edges leave via a broadcast-able
    anti-join; every common neighbor z arrives with its degree from
    one hash aggregate. (deg(z) ≥ 2 for any common neighbor, so
    1/ln(deg) never divides by zero.) At 100 TB you cap hub degrees
    before the self-join (drop z above a degree ceiling) — standard
    AA practice; the fixture graph has no such hubs. (Fixture note:
    at larger SFs the support-pruned graph gets SPARSER — random part
    baskets repeat less — so sf0.1 legitimately yields zero open
    two-hop triads; the driver-scale sf0.01 graph predicts 74.)"""
    li = table(spark, sf_dir, "lineitem")
    # pl feeds BOTH sides of the co-purchase self-join and pairs feeds
    # FOUR consumers (the symmetrized copies x3 via ue, the anti-join)
    # — both DATA-SCALED, so persist() per the SCALE.md r13 rule
    # (before r13 this key replayed the lineitem scan 14x)
    pl = reuse(li.select("l_orderkey", "l_partkey").distinct())
    a = pl.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p1"))
    b = pl.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p2"))
    pairs = reuse(
        a.join(b, "ok")
        .where(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("sup"))
        .where(F.col("sup") >= COP_MIN_SUP)
        .select("p1", "p2")
    )
    ue = pairs.select(F.col("p1").alias("u"), F.col("p2").alias("v")).unionAll(
        pairs.select(F.col("p2").alias("u"), F.col("p1").alias("v"))
    )
    deg = ue.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("d"))
    e1 = ue.select(F.col("u").alias("pa"), F.col("v").alias("z"))
    e2 = ue.select(F.col("u").alias("z"), F.col("v").alias("pb"))
    two_hop = e1.join(e2, "z").where(F.col("pa") < F.col("pb"))
    unlinked = two_hop.join(
        pairs,
        (two_hop["pa"] == pairs["p1"]) & (two_hop["pb"] == pairs["p2"]),
        "left_anti",
    )
    cand = (
        unlinked.join(deg, unlinked["z"] == deg["u"])
        .groupBy("pa", "pb")
        .agg(
            F.count(F.lit(1)).cast("long").alias("common_neighbors"),
            F.sum(F.round(1e9 / F.log(F.col("d"))).cast("long"))
            .cast("long")
            .alias("aaq"),
        )
    )
    return cand.where(F.col("common_neighbors") >= 2).select(
        F.col("pa").alias("part_a"),
        F.col("pb").alias("part_b"),
        "common_neighbors",
        q4(F.col("aaq") / 1e9).alias("adamic_adar"),
    )


# ------------------------------------------------------------------
# Jaccard-coefficient link prediction (r11)


@register(
    "graph_jaccard_linkpred",
    oracle=f"""
    WITH pl AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), pairs AS (
        SELECT a.l_partkey AS p1, b.l_partkey AS p2
        FROM pl a JOIN pl b
          ON a.l_orderkey = b.l_orderkey
         AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING count(*) >= {COP_MIN_SUP}
    ), ue AS (
        SELECT p1 AS u, p2 AS v FROM pairs
        UNION ALL
        SELECT p2, p1 FROM pairs
    ), deg AS (
        SELECT u, CAST(count(*) AS BIGINT) AS d FROM ue GROUP BY u
    ), two_hop AS (
        SELECT e1.u AS pa, e2.v AS pb,
               CAST(count(*) AS BIGINT) AS common_neighbors
        FROM ue e1 JOIN ue e2 ON e1.v = e2.u
        WHERE e1.u < e2.v
        GROUP BY e1.u, e2.v
    ), cand AS (
        SELECT t.pa, t.pb, t.common_neighbors,
               da.d AS deg_a, db.d AS deg_b
        FROM two_hop t
        JOIN deg da ON da.u = t.pa
        JOIN deg db ON db.u = t.pb
        LEFT JOIN pairs p ON p.p1 = t.pa AND p.p2 = t.pb
        WHERE p.p1 IS NULL
    )
    SELECT pa AS part_a, pb AS part_b, common_neighbors, deg_a, deg_b,
           {sql_q4("CAST(common_neighbors AS DOUBLE)"
                   " / (deg_a + deg_b - common_neighbors)")} AS jaccard
    FROM cand WHERE common_neighbors >= 2
    """,
)
def graph_jaccard_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard-coefficient link prediction on the part co-purchase
    graph: for every UNLINKED pair reachable in two hops, the
    neighborhood overlap |N(a) INTERSECT N(b)| / |N(a) UNION N(b)|
    (Liben-Nowell & Kleinberg 2003) — the normalized companion to
    graph_adamic_adar (same candidate generator, overlap RATIO
    instead of hub-damped sum, so a pair with few-but-identical
    neighborhoods outranks a pair sharing a couple of hub
    neighbors).  |union| = deg(a) + deg(b) - |intersect| comes from
    the degree table, so the score is an exact integer ratio taken
    to double once — hash-identical across engines with no
    transcendental terms at all.

    Scale shape: identical to graph_adamic_adar — support-pruned
    edges self-joined on the middle node (fan-out bounded by the
    pruned degree distribution, never |parts|^2), existing edges
    leave via an anti-join, degrees arrive from one hash aggregate
    joined twice on the endpoint keys.  At 100 TB cap hub degrees
    before the self-join, as for any common-neighbor method.
    (Fixture note: at larger SFs the support-pruned graph gets
    sparser, so sf0.1 legitimately yields zero open two-hop triads —
    the same documented behavior as graph_adamic_adar.)"""
    li = table(spark, sf_dir, "lineitem")
    # pl / pairs fan into multiple consumers — DATA-SCALED, persist()
    # per the SCALE.md r13 rule (this key replayed lineitem 18x
    # before r13; same shape as graph_adamic_adar)
    pl = reuse(li.select("l_orderkey", "l_partkey").distinct())
    a = pl.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p1"))
    b = pl.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p2"))
    pairs = reuse(
        a.join(b, "ok")
        .where(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("sup"))
        .where(F.col("sup") >= COP_MIN_SUP)
        .select("p1", "p2")
    )
    ue = pairs.select(F.col("p1").alias("u"), F.col("p2").alias("v")).unionAll(
        pairs.select(F.col("p2").alias("u"), F.col("p1").alias("v"))
    )
    deg = ue.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("d"))
    e1 = ue.select(F.col("u").alias("pa"), F.col("v").alias("z"))
    e2 = ue.select(F.col("u").alias("z"), F.col("v").alias("pb"))
    two_hop = (
        e1.join(e2, "z")
        .where(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).cast("long").alias("common_neighbors"))
    )
    unlinked = two_hop.join(
        pairs,
        (two_hop["pa"] == pairs["p1"]) & (two_hop["pb"] == pairs["p2"]),
        "left_anti",
    )
    da = deg.select(F.col("u").alias("pa"), F.col("d").alias("deg_a"))
    db = deg.select(F.col("u").alias("pb"), F.col("d").alias("deg_b"))
    cand = unlinked.join(da, "pa").join(db, "pb")
    return cand.where(F.col("common_neighbors") >= 2).select(
        F.col("pa").alias("part_a"),
        F.col("pb").alias("part_b"),
        "common_neighbors",
        "deg_a",
        "deg_b",
        q4(
            F.col("common_neighbors").cast("double")
            / (F.col("deg_a") + F.col("deg_b") - F.col("common_neighbors"))
        ).alias("jaccard"),
    )
