"""Graph queries over the co-purchase and supplier graphs.

PageRank (float and exactly-verified), BFS and Bellman-Ford distances,
degree statistics, k-core peeling, HITS, Katz, label propagation and
modularity, 2-hop neighbourhoods, link prediction and the triangle
family (global count, per-node clustering coefficient, per-edge
support). Iterative algorithms are unrolled into integer recurrences so
the DuckDB oracle walks the identical steps.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from laser_hadoop_spark.registry import register
from laser_hadoop_spark.tables import register_views, table


# --- deterministic supplier hash graphs (X66 lineage) -------------------------

# Edge rules u -> (m*u + c) % n over the n supplier nodes, as (m, c).
_CHORDS = ((7, 3), (13, 5))  # X50/X66: two hash chords
_RING_CHORDS = ((1, 1), (7, 3), (13, 5))  # ring + the two chords
_TRUSS_RULES = ((7, 3), (13, 5), (3, 1), (1, 1), (2, 1))  # X304's densified graph


def _hash_graph(
    spark: SparkSession, sf_dir: str, rules: tuple = _RING_CHORDS
) -> DataFrame:
    """Undirected deduped edge list (x < y) over supplier nodes, one
    edge per node per rule — deterministic at every sf, identically
    spelled in the oracles (pure modular arithmetic, no engine hash).

    The edge list is eagerly localCheckpoint-ed (the operators/graph.py
    discipline): graph queries reference it 3-6 times (both directions,
    degree census, per-step joins), and without the checkpoint every
    reference replays the build — measured 54 exchanges in the Katz
    plan vs 8 after (the count-agg SinglePartition on the DIMENSION-
    sized node table multiplied into the plan)."""
    s = table(spark, sf_dir, "supplier").select(F.col("s_suppkey").alias("node"))
    n = s.agg(F.count("*").alias("n"))
    sn = s.crossJoin(F.broadcast(n))
    raw = reduce(
        lambda a, b: a.unionByName(b),
        [
            sn.select(
                F.col("node").alias("a"), ((F.col("node") * m + c) % F.col("n")).alias("b")
            )
            for m, c in rules
        ],
    )
    return (
        raw.where(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("x"), F.greatest("a", "b").alias("y")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )


def _oriented_triangles(e: DataFrame) -> DataFrame:
    """Every triangle of a canonical (x < y) edge list exactly once, as
    (x, y, z) with x < y < z: paths x-y-z of the ordered edge join closed
    by an (x, z) edge. All three joins are equi-joins on node keys."""
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    return (
        e1.join(e2, F.col("e2.x") == F.col("e1.y"))
        .join(
            e3,
            (F.col("e3.x") == F.col("e1.x")) & (F.col("e3.y") == F.col("e2.y")),
        )
        .select(
            F.col("e1.x").alias("x"),
            F.col("e1.y").alias("y"),
            F.col("e2.y").alias("z"),
        )
    )


@register("q_pagerank", oracle=None)  # iterative float fixpoint: rows-only
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative PageRank over the part↔supplier co-purchase graph.

    Nodes: parts and suppliers (supplier ids offset by 10M); edges both
    directions per distinct (part, supplier) lineitem pair, 10%
    deterministic part sample. Each of the 5 rounds is one shuffle
    join + aggregate with lineage truncated per round
    (operators/graph.pagerank); equivalence with dense numpy power
    iteration is pytest-verified, so the query is rows-only (float
    fixpoints aren't SQL-oracle material).
    """
    from laser_hadoop_spark.operators.graph import pagerank

    li = table(spark, sf_dir, "lineitem")
    pairs = (
        li.where(F.col("l_partkey") % 10 == 0)
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    sup_node = F.col("l_suppkey") + F.lit(10_000_000)
    edges = pairs.select(
        F.col("l_partkey").alias("src"), sup_node.alias("dst")
    ).unionByName(pairs.select(sup_node.alias("src"), F.col("l_partkey").alias("dst")))
    pr = pagerank(edges, n_iter=5)
    return pr.select("node", F.round("rank", 8).alias("rank"))


def _pagerank_sql(n_iters: int, intdiv: str) -> str:
    """Shared fixed-point PageRank SQL, parameterized on the integer
    division operator ('div' Spark, '//' DuckDB). All arithmetic is
    bigint parts-per-billion, so both engines walk the IDENTICAL
    integer recurrence and the iterative result is exactly comparable
    (the q_dedup_clusters trick, extended to an aggregate-per-iteration
    loop via unrolled CTEs — recursive CTEs cannot aggregate)."""
    d = intdiv
    ctes = [
        "s AS (SELECT s_suppkey AS node FROM supplier)",
        "cnt AS (SELECT COUNT(*) AS n FROM s)",
        f"""edges AS (
            SELECT DISTINCT node AS src, (node * 7 + 3) % n AS dst
            FROM s CROSS JOIN cnt
            UNION
            SELECT DISTINCT node, (node * 13 + 5) % n FROM s CROSS JOIN cnt
        )""",
        "outdeg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src)",
        f"r0 AS (SELECT node, CAST(1000000000 {d} n AS BIGINT) AS r "
        "FROM s CROSS JOIN cnt)",
    ]
    for k in range(1, n_iters + 1):
        ctes.append(f"""r{k} AS (
            SELECT s.node,
                   CAST((150000000 {d} n)
                        + (85 * COALESCE(inf.contrib, 0)) {d} 100
                        AS BIGINT) AS r
            FROM s CROSS JOIN cnt
            LEFT JOIN (
                SELECT e.dst AS node, SUM(p.r {d} o.deg) AS contrib
                FROM edges e
                JOIN r{k - 1} p ON p.node = e.src
                JOIN outdeg o ON o.src = e.src
                GROUP BY e.dst
            ) inf ON inf.node = s.node
        )""")
    return (
        "WITH " + ",\n".join(ctes)
        + f" SELECT node, r AS rank_ppb FROM r{n_iters}"
    )


@register("q_pagerank_exact", oracle=_pagerank_sql(5, "//"))
def q_pagerank_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X50: exactly-verified iterative PageRank (5 unrolled iterations,
    bigint parts-per-billion fixed point) over a deterministic supplier
    graph (each node links to (7u+3)%n and (13u+5)%n).

    This makes an aggregate-per-iteration loop value-checkable across
    engines — float PageRank (operators/graph.pagerank, the scale
    operator with damping/dangling handling and localCheckpoint lineage
    truncation) can only ever be rows-checked because float summation
    order diverges; the integer recurrence cannot. Per iteration the
    plan is one broadcast join + one aggregate; the loop composes lazy
    plans, no driver state beyond the loop counter.
    """
    register_views(spark, sf_dir, names=("supplier",))
    return spark.sql(_pagerank_sql(5, "div"))


_TRIANGLE_EDGE_SQL = """
    WITH s AS (SELECT s_suppkey AS node FROM supplier),
    cnt AS (SELECT COUNT(*) AS n FROM s),
    raw AS (
        SELECT node AS src, (node * 7 + 3) % n AS dst FROM s CROSS JOIN cnt
        UNION ALL
        SELECT node, (node * 13 + 5) % n FROM s CROSS JOIN cnt
    ),
    e AS (
        SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM raw WHERE src <> dst
    )
"""
_TRIANGLE_SQL = _TRIANGLE_EDGE_SQL + """    SELECT COUNT(*) AS n_triangles
    FROM e e1
    JOIN e e2 ON e2.a = e1.b
    JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
"""


@register("q_triangle_count", oracle=_TRIANGLE_SQL)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-closure: triangle counting by ordered-triple enumeration.

    Over the same deterministic supplier graph as q_pagerank_exact
    (u -> (7u+3)%n, (13u+5)%n): canonicalize to a < b undirected edges,
    then count paths a<b<c closed by an (a, c) edge — each triangle
    enumerated exactly once, the standard two-join formulation.

    Scale shape: both joins are equi-joins on a single node key; the
    a<b orientation is the degree-ordering trick's cheap cousin — it
    halves the edge list and bounds each join's fan-out by the
    out-neighborhood of the lower endpoint. Production-scale graphs
    would orient by (degree, id) instead to cap hub fan-out; same plan,
    different ordering key.
    """
    # The edge set is materialized ONCE (it is tiny: 2 edges per node)
    # instead of letting the 3-way self-join recompute the union+distinct
    # subtree per reference — measured 10 exchanges via the inlined SQL
    # form vs 4 with the checkpointed edge list.
    e = _hash_graph(spark, sf_dir, _CHORDS)
    return _oriented_triangles(e).agg(F.count("*").alias("n_triangles"))


@register(
    "q_bfs_distances",
    oracle="""
    WITH RECURSIVE pairs AS (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ),
    s AS (SELECT MIN(l_partkey) AS root FROM lineitem),
    bfs AS (
        SELECT root AS node, 0 AS d FROM s
        UNION
        SELECT p.dst AS node, b.d + 1 AS d
        FROM bfs b JOIN pairs p ON p.src = b.node
        WHERE b.d < 3
    )
    SELECT CAST(node AS BIGINT) AS partkey, CAST(MIN(d) AS INT) AS hops
    FROM bfs GROUP BY node
    """,
)
def q_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X113: BFS hop distances over the co-purchase graph.

    Shortest hop count (capped at 3) from the smallest partkey to
    every part reachable through shared orders — iterative frontier
    expansion in Spark checked against DuckDB's recursive CTE, the
    suite's second exactly-verified iterative graph algorithm after
    PageRank (X50). Each of the 3 rounds is one self-equi-join on the
    deduplicated edge list; the edge relation is built once with a
    single l_orderkey self-join and reused (cached) across rounds —
    at 100 TB the frontier join is an equi-shuffle on partkey, never
    an all-pairs expansion, and the depth cap bounds the iteration
    count independent of graph size.
    """
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.alias("a")
    b = li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
        .distinct()
        .cache()
    )
    root = li.agg(F.min("l_partkey").alias("node")).withColumn("d", F.lit(0))
    reached = root
    for _ in range(3):
        expand = (
            reached.where(F.col("d") < 3)
            .join(pairs, reached.node == pairs.src)
            .select(F.col("dst").alias("node"), (F.col("d") + 1).alias("d"))
        )
        reached = reached.unionByName(expand).groupBy("node").agg(
            F.min("d").alias("d")
        )
    return reached.select(
        F.col("node").cast("bigint").alias("partkey"),
        F.col("d").cast("int").alias("hops"),
    )


@register(
    "q_copurchase_degree",
    tags=("pairs",),
    oracle="""
    WITH pairs AS (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ),
    nodes AS (SELECT DISTINCT l_partkey AS part FROM lineitem),
    deg AS (
        SELECT n.part, COUNT(p.dst) AS degree
        FROM nodes n LEFT JOIN pairs p ON p.src = n.part
        GROUP BY n.part
    )
    SELECT CAST(degree AS BIGINT) AS degree, COUNT(*) AS n_parts
    FROM deg GROUP BY degree
    """,
)
def q_copurchase_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X117: degree distribution of the co-purchase graph.

    How many parts have k distinct co-purchase neighbors — the graph
    profiling pass that sizes any downstream triangle / community /
    BFS job (and the skew detector for X113's frontier joins).
    Isolated nodes (parts never sharing an order) are kept at degree 0
    via the left join. The edge list is a single orderkey self-join
    deduplicated once; degrees are one partkey aggregate; the final
    histogram is a tiny second aggregate — three shuffles, all on
    keys, nothing quadratic beyond the per-order line fanout.
    """
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.alias("a")
    b = li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst"))
        .distinct()
    )
    nodes = li.select(F.col("l_partkey").alias("part")).distinct()
    deg = (
        nodes.join(pairs, nodes.part == pairs.src, "left")
        .groupBy("part")
        .agg(F.count("dst").alias("degree"))
    )
    return deg.groupBy(F.col("degree").cast("bigint").alias("degree")).agg(
        F.count("*").alias("n_parts")
    )


@register(
    "q_bellman_ford",
    oracle="""
    WITH RECURSIVE edges AS (
        SELECT a.l_partkey AS src, b.l_partkey AS dst,
               COUNT(*) AS w
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey
    ),
    s AS (SELECT MIN(l_partkey) AS root FROM lineitem),
    walk AS (
        SELECT root AS node, CAST(0 AS BIGINT) AS cost, 0 AS hops FROM s
        UNION
        SELECT e.dst AS node, w.cost + e.w AS cost, w.hops + 1 AS hops
        FROM walk w JOIN edges e ON e.src = w.node
        WHERE w.hops < 3
    )
    SELECT CAST(node AS BIGINT) AS partkey,
           CAST(MIN(cost) AS BIGINT) AS min_cost
    FROM walk GROUP BY node
    """,
)
def q_bellman_ford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X131: bounded-hop weighted shortest paths (Bellman-Ford).

    Minimum-cost path (<= 3 hops) from the smallest partkey over the
    co-purchase graph, edge weight = co-occurrence count — the
    weighted sibling of X113's BFS, verified against DuckDB's
    recursive CTE taking MIN(cost) over all bounded walks. The Spark
    side runs 3 Bellman-Ford relaxations: each is one equi-join of the
    current best-costs against the cached weighted edge list plus a
    min-combine — never an all-walks enumeration, so while the
    oracle's walk closure is exponential in hops, the engine's work is
    O(hops * |edges|). Iteration k's state holds min cost over <= k
    hops, matching the CTE's group-wise MIN exactly (integer costs, no
    ordering ambiguity).
    """
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.alias("a")
    b = li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
        .agg(F.count("*").alias("w"))
        .cache()
    )
    best = li.agg(F.min("l_partkey").alias("node")).select(
        "node", F.lit(0).cast("bigint").alias("cost")
    )
    for _ in range(3):
        relaxed = (
            best.join(edges, best.node == edges.src)
            .select(
                F.col("dst").alias("node"),
                (F.col("cost") + F.col("w")).alias("cost"),
            )
        )
        best = (
            best.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("cost").alias("cost"))
        )
    return best.select(
        F.col("node").cast("bigint").alias("partkey"),
        F.col("cost").cast("bigint").alias("min_cost"),
    )


@register(
    "q_degree_assortativity",
    tags=("pairs",),
    oracle="""
    WITH pairs AS (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ),
    deg AS (SELECT src AS node, COUNT(*) AS d FROM pairs GROUP BY src),
    ed AS (
        SELECT ds.d AS dx, dd.d AS dy
        FROM pairs p
        JOIN deg ds ON ds.node = p.src
        JOIN deg dd ON dd.node = p.dst
    ),
    s AS (
        SELECT COUNT(*) AS m, SUM(dx) AS sx, SUM(dy) AS sy,
               SUM(CAST(dx AS HUGEINT) * dx) AS sxx,
               SUM(CAST(dy AS HUGEINT) * dy) AS syy,
               SUM(CAST(dx AS HUGEINT) * dy) AS sxy
        FROM ed
    )
    SELECT CAST(m AS BIGINT) AS m_edges,
           CAST(m * sxy - sx * sy AS BIGINT) AS num,
           ROUND(CAST(m * sxy - sx * sy AS DOUBLE)
                 / (SQRT(CAST(m * sxx - sx * sx AS DOUBLE))
                    * SQRT(CAST(m * syy - sy * sy AS DOUBLE))), 6)
               AS assortativity
    FROM s
    """,
)
def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X149: degree assortativity of the co-purchase graph.

    Do high-degree parts co-purchase with other high-degree parts?
    Pearson correlation of endpoint degrees over the directed edge
    list (X117's edges — already symmetrized by the self-join, so this
    is the standard undirected estimator). Power sums are exact
    bigints (degrees are small integers); products go through
    DECIMAL(38,0); one final IEEE division + sqrt, with the integer
    numerator hash-pinned like X144. Plan: the X117 edge/degree
    relations plus two degree broadcast joins and one scalar
    aggregate — nothing quadratic beyond the per-order line fanout.
    """
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
        .distinct()
    )
    deg = pairs.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("d"))
    ed = (
        pairs.join(deg.select(F.col("node").alias("src"), F.col("d").alias("dx")), "src")
        .join(deg.select(F.col("node").alias("dst"), F.col("d").alias("dy")), "dst")
        .select("dx", "dy")
    )
    dec_prod = lambda a, b: F.sum(  # noqa: E731  (X144's overflow
        F.col(a).cast("decimal(38,0)") * F.col(b)
    )  # discipline: degree products wrap bigint on dense graphs)
    s = ed.agg(
        F.count("*").alias("m"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        dec_prod("dx", "dx").alias("sxx"),
        dec_prod("dy", "dy").alias("syy"),
        dec_prod("dx", "dy").alias("sxy"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    num = dec("m") * dec("sxy") - dec("sx") * dec("sy")
    den1 = dec("m") * dec("sxx") - dec("sx") * dec("sx")
    den2 = dec("m") * dec("syy") - dec("sy") * dec("sy")
    return s.select(
        F.col("m").cast("bigint").alias("m_edges"),
        num.cast("bigint").alias("num"),
        F.round(
            num.cast("double")
            / (F.sqrt(den1.cast("double")) * F.sqrt(den2.cast("double"))),
            6,
        ).alias("assortativity"),
    )


# --- X215: 2-core graph peeling, exactly verified --------------------------


def _core_oracle() -> str:
    """Three unrolled peel iterations of the 2-core decomposition over
    the co-purchase graph (same edge derivation as X117): drop nodes
    with degree < 2, recompute degrees on the induced subgraph,
    repeat."""
    steps = []
    prev = "e0"
    for t in (1, 2, 3):
        steps.append(
            f"""
    d{t} AS (
        SELECT node, COUNT(*) AS deg FROM (
            SELECT a AS node FROM {prev}
            UNION ALL SELECT b FROM {prev}
        ) GROUP BY node
    ),
    keep{t} AS (SELECT node FROM d{t} WHERE deg >= 2),
    e{t} AS (
        SELECT e.a, e.b FROM {prev} e
        JOIN keep{t} ka ON ka.node = e.a
        JOIN keep{t} kb ON kb.node = e.b
    )"""
        )
        prev = f"e{t}"
    return (
        """
    WITH pairs AS (
        SELECT DISTINCT l.l_partkey AS a, r.l_partkey AS b
        FROM lineitem l JOIN lineitem r
          ON r.l_orderkey = l.l_orderkey AND r.l_partkey > l.l_partkey
        WHERE l.l_orderkey % 20 = 0 AND r.l_orderkey % 20 = 0
    ),
    e0 AS (SELECT a, b FROM pairs),"""
        + ",".join(steps)
        + """
    SELECT 0 AS peel_step,
           (SELECT COUNT(*) FROM e0) AS n_edges,
           (SELECT COUNT(*) FROM d1) AS n_nodes
    UNION ALL SELECT 1, (SELECT COUNT(*) FROM e1),
                     (SELECT COUNT(*) FROM keep1)
    UNION ALL SELECT 2, (SELECT COUNT(*) FROM e2),
                     (SELECT COUNT(*) FROM keep2)
    UNION ALL SELECT 3, (SELECT COUNT(*) FROM e3),
                     (SELECT COUNT(*) FROM keep3)
    """
    )


@register("q_kcore_peel", oracle=_core_oracle())
def q_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X215: 2-core graph peeling, three exactly-verified iterations.

    The k-core decomposition inner loop on the co-purchase graph
    (X117's edge derivation, 5% order sample): each peel removes
    degree-<2 nodes and recomputes degrees on the induced subgraph.
    Reports edge/node counts per peel step — the convergence trace a
    real core decomposition monitors. The oracle unrolls the identical
    three iterations (X50's discipline).

    100 TB: each iteration is one degree aggregate + two semi-joins of
    the shrinking edge list against the <=|V|-row keep set; the edge
    list only ever shrinks, and lineage is truncated per iteration
    with localCheckpoint exactly like X12/X50.
    """
    li = table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 20 == 0)
    l, r = li.alias("l"), li.alias("r")
    edges = (
        l.join(
            r,
            (F.col("r.l_orderkey") == F.col("l.l_orderkey"))
            & (F.col("r.l_partkey") > F.col("l.l_partkey")),
        )
        .select(F.col("l.l_partkey").alias("a"), F.col("r.l_partkey").alias("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    rows = []
    e = edges
    for t in (1, 2, 3):
        deg = (
            e.select(F.col("a").alias("node"))
            .unionAll(e.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("deg"))
        )
        if t == 1:
            n0 = deg.agg(
                F.count("*").alias("n_nodes")
            ).crossJoin(e.agg(F.count("*").alias("n_edges"))).select(
                F.lit(0).alias("peel_step"), "n_edges", "n_nodes"
            )
            rows.append(n0)
        keep = deg.where(F.col("deg") >= 2).select("node")
        e = (
            e.join(
                keep.withColumnRenamed("node", "a"), "a"
            )
            .join(keep.withColumnRenamed("node", "b"), "b")
            .select("a", "b")
            .localCheckpoint(eager=True)
        )
        step = e.agg(F.count("*").alias("n_edges")).crossJoin(
            keep.agg(F.count("*").alias("n_nodes"))
        ).select(F.lit(t).alias("peel_step"), "n_edges", "n_nodes")
        rows.append(step)
    res = rows[0]
    for df in rows[1:]:
        res = res.unionByName(df)
    return res


# --- X248: HITS hubs/authorities --------------------------------------------

_HITS_TOPK = 10


@register(
    "q_hits_scores",
    oracle=f"""
    WITH edges AS (
        SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    a1 AS (SELECT p, COUNT(*) AS s FROM edges GROUP BY p),
    a1n AS (
        SELECT p, 10000 * s // (SELECT MAX(s) FROM a1) AS sn FROM a1
    ),
    h1 AS (
        SELECT e.c, SUM(a.sn) AS s FROM edges e JOIN a1n a ON a.p = e.p
        GROUP BY e.c
    ),
    h1n AS (
        SELECT c, 10000 * s // (SELECT MAX(s) FROM h1) AS sn FROM h1
    ),
    a2 AS (
        SELECT e.p, SUM(h.sn) AS s FROM edges e JOIN h1n h ON h.c = e.c
        GROUP BY e.p
    ),
    a2n AS (
        SELECT p, 10000 * s // (SELECT MAX(s) FROM a2) AS sn FROM a2
    ),
    h2 AS (
        SELECT e.c, SUM(a.sn) AS s FROM edges e JOIN a2n a ON a.p = e.p
        GROUP BY e.c
    ),
    h2n AS (
        SELECT c, 10000 * s // (SELECT MAX(s) FROM h2) AS sn FROM h2
    ),
    ranked AS (
        SELECT 'authority' AS role, p AS node, sn,
               ROW_NUMBER() OVER (ORDER BY sn DESC, p) AS rk
        FROM a2n
        UNION ALL
        SELECT 'hub', c, sn, ROW_NUMBER() OVER (ORDER BY sn DESC, c)
        FROM h2n
    )
    SELECT role, CAST(node AS BIGINT) AS node, CAST(sn AS BIGINT) AS score_bp,
           CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= {_HITS_TOPK}
    """,
)
def q_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X248: HITS hubs/authorities, two exactly-verified iterations.

    Mutual reinforcement over the bipartite customer->part purchase
    graph: a part is authoritative when bought by good hubs, a
    customer is a good hub when buying authoritative parts. Each
    half-step is one edge equi-join + aggregate; after every step the
    scores renormalize to basis points of the maximum (integer DIV of
    a 1-row broadcast max) — the float L2 normalization of textbook
    HITS replaced by an exact max-normalization that preserves the
    ranking and keeps every intermediate a bigint, so the classically
    float-only eigenvector iteration is hash-verifiable (X50's
    PageRank discipline, transposed).

    100 TB shape: the edge list reuses the order-line shuffle; each
    iteration is two key-partitioned aggregates + a broadcast scalar;
    top-k via rank windows over the already-aggregated node relations
    (two-level salted top-k when nodes outgrow one partition, X157).
    """
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def norm(df: DataFrame, key: str) -> DataFrame:
        # materialize each normalized score relation: every step is
        # referenced twice downstream (as the max source and the join
        # side), and without truncation the plan re-derives the whole
        # iteration chain per reference (measured 86 exchanges vs 2
        # per step with the checkpoint — X50's iteration discipline)
        mx = df.agg(F.max("s").alias("mx"))
        return (
            df.crossJoin(F.broadcast(mx))
            .select(key, F.expr("10000 * s DIV mx").alias("sn"))
            .localCheckpoint(eager=True)
        )

    a1 = edges.groupBy("p").agg(F.count("*").alias("s"))
    a1n = norm(a1, "p")
    h1 = (
        edges.join(a1n, "p").groupBy("c").agg(F.sum("sn").alias("s"))
    )
    h1n = norm(h1, "c")
    a2 = (
        edges.join(h1n, "c").groupBy("p").agg(F.sum("sn").alias("s"))
    )
    a2n = norm(a2, "p")
    h2 = (
        edges.join(a2n, "p").groupBy("c").agg(F.sum("sn").alias("s"))
    )
    h2n = norm(h2, "c")
    auth = a2n.select(
        F.lit("authority").alias("role"),
        F.col("p").alias("node"),
        "sn",
        F.row_number()
        .over(Window.orderBy(F.desc("sn"), "p"))
        .alias("rk"),
    )
    hub = h2n.select(
        F.lit("hub").alias("role"),
        F.col("c").alias("node"),
        "sn",
        F.row_number()
        .over(Window.orderBy(F.desc("sn"), "c"))
        .alias("rk"),
    )
    return (
        auth.unionAll(hub)
        .where(F.col("rk") <= _HITS_TOPK)
        .select(
            "role",
            F.col("node").cast("bigint").alias("node"),
            F.col("sn").cast("bigint").alias("score_bp"),
            F.col("rk").cast("int").alias("rk"),
        )
    )


# --- X249: local clustering-coefficient census ------------------------------


@register(
    "q_clustering_coefficient",
    oracle=_TRIANGLE_EDGE_SQL
    + """
    , und AS (
        SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e
    ),
    deg AS (SELECT u, COUNT(*) AS d FROM und GROUP BY u),
    tri AS (
        SELECT x.a, x.b, y.b AS c
        FROM e x JOIN e y ON y.a = x.b
        JOIN e z ON z.a = x.a AND z.b = y.b
    ),
    tnodes AS (
        SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    ),
    tcnt AS (SELECT node, COUNT(*) AS t FROM tnodes GROUP BY node),
    percc AS (
        SELECT d.u, d.d, COALESCE(t.t, 0) AS t,
               CASE WHEN d.d >= 2
                    THEN 2000000 * COALESCE(t.t, 0) // (d.d * (d.d - 1))
                    ELSE 0 END AS cc_micro
        FROM deg d LEFT JOIN tcnt t ON t.node = d.u
    )
    SELECT CAST(d AS BIGINT) AS degree, CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(SUM(t) AS BIGINT) AS n_triangle_slots,
           CAST(SUM(cc_micro) // COUNT(*) AS BIGINT) AS avg_cc_micro
    FROM percc GROUP BY d
    """,
)
def q_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X249: local clustering coefficient, per-degree census.

    Per node of the deterministic supplier graph (same edge rule as
    X50/X66): cc(v) = 2*tri(v) / (deg(v)*(deg(v)-1)) in exact micro
    (the only division is one truncating DIV per node). Triangles per
    node come from the X66 ordered-triple enumeration exploded to its
    three corners. Reported as a per-degree census — the
    degree-vs-clustering profile that distinguishes hub-and-spoke
    from community structure, bounded output at any graph size.

    100 TB shape: edges materialize once (localCheckpoint, X66's
    measured fix); triangle enumeration is the two-equi-join ordered
    form; everything else aggregates on node keys. The census output
    is |distinct degrees| rows regardless of node count.
    """
    e = _hash_graph(spark, sf_dir, _CHORDS)
    und = e.selectExpr("x AS u", "y AS v").unionAll(
        e.selectExpr("y AS u", "x AS v")
    )
    deg = und.groupBy("u").agg(F.count("*").alias("d"))
    tri = _oriented_triangles(e)
    tnodes = (
        tri.select(F.col("x").alias("node"))
        .unionAll(tri.select(F.col("y").alias("node")))
        .unionAll(tri.select(F.col("z").alias("node")))
    )
    tcnt = tnodes.groupBy("node").agg(F.count("*").alias("t"))
    percc = deg.join(tcnt, deg.u == tcnt.node, "left").select(
        "d",
        F.coalesce(F.col("t"), F.lit(0)).alias("t"),
        F.when(
            F.col("d") >= 2,
            F.expr(
                "2000000 * COALESCE(t, 0) DIV (d * (d - 1))"
            ),
        )
        .otherwise(0)
        .alias("cc_micro"),
    )
    return percc.groupBy(F.col("d").cast("bigint").alias("degree")).agg(
        F.count("*").cast("bigint").alias("n_nodes"),
        F.sum("t").cast("bigint").alias("n_triangle_slots"),
        F.expr("CAST(SUM(cc_micro) DIV COUNT(*) AS BIGINT)").alias(
            "avg_cc_micro"
        ),
    )


# --- X304: triangle-support census (k-truss step) ----------------------------

_TRUSS_K = 4


@register(
    "q_triangle_support",
    oracle=f"""
    WITH s AS (SELECT s_suppkey AS node FROM supplier),
    cnt AS (SELECT COUNT(*) AS n FROM s),
    raw AS (
        SELECT node AS src, (node * 7 + 3) % n AS dst FROM s CROSS JOIN cnt
        UNION ALL
        SELECT node, (node * 13 + 5) % n FROM s CROSS JOIN cnt
        UNION ALL
        SELECT node, (node * 3 + 1) % n FROM s CROSS JOIN cnt
        UNION ALL
        SELECT node, (node + 1) % n FROM s CROSS JOIN cnt
        UNION ALL
        SELECT node, (node * 2 + 1) % n FROM s CROSS JOIN cnt
    ),
    e AS (
        SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM raw WHERE src <> dst
    ),
    tris AS (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM e e1
        JOIN e e2 ON e2.a = e1.b
        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    sup AS (
        SELECT a, b, CAST(COUNT(*) AS BIGINT) AS support
        FROM (
            SELECT x AS a, y AS b FROM tris
            UNION ALL SELECT y, z FROM tris
            UNION ALL SELECT x, z FROM tris
        ) GROUP BY a, b
    )
    SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b, support,
           CASE WHEN support >= {_TRUSS_K - 2} THEN 1 ELSE 0 END AS in_truss
    FROM sup ORDER BY support DESC, a, b
    """,
)
def q_triangle_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X304: per-edge triangle support — the k-truss peeling relation.

    Over a 5-rule densified variant of X66's deterministic supplier
    graph (the 2-rule original is triangle-free at every test scale —
    probed; the ring + three hash chords create them), each enumerated oriented
    triangle (x<y<z from the ordered edge join) credits all three of
    its edges; an edge with support >= k-2 survives the first k-truss
    peel (k=4 here). X66 counts triangles globally and X215 peels
    2-cores by degree; truss decomposition peels by SUPPORT — this is
    its inner census, the relation each peel iteration recomputes.

    100 TB: the ordered edge-join triangle enumeration shuffles on
    edge keys (the standard distributed pattern); support is one
    partial-aggregated count over the 3-way edge projection.
    """
    tris = _oriented_triangles(_hash_graph(spark, sf_dir, _TRUSS_RULES))
    edges3 = (
        tris.select(F.col("x").alias("a"), F.col("y").alias("b"))
        .unionByName(tris.select(F.col("y").alias("a"), F.col("z").alias("b")))
        .unionByName(tris.select(F.col("x").alias("a"), F.col("z").alias("b")))
    )
    sup = edges3.groupBy("a", "b").agg(
        F.count("*").cast("bigint").alias("support")
    )
    return sup.select(
        F.col("a").cast("bigint").alias("a"),
        F.col("b").cast("bigint").alias("b"),
        "support",
        F.when(F.col("support") >= _TRUSS_K - 2, 1).otherwise(0).alias("in_truss"),
    ).orderBy(F.desc("support"), "a", "b")


_GRAPH_SQL = """
    nodes AS (SELECT s_suppkey AS node FROM supplier),
    cnt AS (SELECT COUNT(*) AS n FROM nodes),
    raw AS (
        SELECT node AS a, (node + 1) % n AS b FROM nodes CROSS JOIN cnt
        UNION ALL
        SELECT node, (node * 7 + 3) % n FROM nodes CROSS JOIN cnt
        UNION ALL
        SELECT node, (node * 13 + 5) % n FROM nodes CROSS JOIN cnt
    ),
    edges AS (
        SELECT DISTINCT LEAST(a, b) AS x, GREATEST(a, b) AS y
        FROM raw WHERE a <> b
    )
"""

_RA_TOP = 100


@register(
    "q_resource_alloc",
    oracle=f"""
    WITH {_GRAPH_SQL},
    und AS (
        SELECT x AS u, y AS v FROM edges
        UNION ALL SELECT y, x FROM edges
    ),
    deg AS (SELECT u, COUNT(*) AS d FROM und GROUP BY u),
    wedge AS (
        SELECT a.v AS z, LEAST(a.u, b.u) AS p, GREATEST(a.u, b.u) AS q
        FROM und a JOIN und b ON a.v = b.v AND a.u < b.u
    ),
    scored AS (
        SELECT w.p, w.q,
               CAST(SUM(1000000 // d.d) AS BIGINT) AS ra_micro,
               CAST(COUNT(*) AS BIGINT) AS n_common
        FROM wedge w JOIN deg d ON d.u = w.z
        GROUP BY w.p, w.q
    ),
    flagged AS (
        SELECT s.p, s.q, s.ra_micro, s.n_common,
               CASE WHEN e.x IS NULL THEN 0 ELSE 1 END AS is_edge
        FROM scored s LEFT JOIN edges e ON e.x = s.p AND e.y = s.q
    )
    SELECT p, q, ra_micro, n_common, is_edge
    FROM flagged
    ORDER BY ra_micro DESC, p, q
    LIMIT {_RA_TOP}
    """,
)
def q_resource_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X350: resource-allocation link-prediction index (Zhou-Lu-Zhang).

    For every node pair sharing >= 1 common neighbor, RA = sum over
    common neighbors z of 1/deg(z) — the strongest of the classical
    local link-prediction indices, and (unlike Adamic-Adar's 1/ln deg)
    EXACT in integer micro units, so the oracle pins it bit-for-bit.
    Pairs come from the wedge join (two edges sharing an endpoint) —
    candidates scale with sum(deg^2), never all-pairs; existing edges
    are flagged, not dropped (RA over existing edges is the
    edge-strength variant).

    100 TB: one degree census (broadcast), one wedge self-join
    shuffled on the shared endpoint — the standard distributed wedge
    enumeration; skew bounds are the max-degree hubs, the same bound
    every triangle/LSH-bucket op in this repo documents.
    """
    edges = _hash_graph(spark, sf_dir)
    und = edges.select(F.col("x").alias("u"), F.col("y").alias("v")).unionByName(
        edges.select(F.col("y").alias("u"), F.col("x").alias("v"))
    )
    deg = und.groupBy("u").agg(F.count("*").alias("d"))
    a = und.select(F.col("u").alias("u1"), F.col("v").alias("z"))
    b = und.select(F.col("u").alias("u2"), F.col("v").alias("z2"))
    wedge = (
        a.join(b, (F.col("z") == F.col("z2")) & (F.col("u1") < F.col("u2")))
        .select(
            "z",
            F.col("u1").alias("p"),
            F.col("u2").alias("q"),
        )
    )
    scored = (
        wedge.join(
            F.broadcast(deg.select(F.col("u").alias("z"), "d")), "z"
        )
        .groupBy("p", "q")
        .agg(
            F.sum(F.expr("1000000 DIV d")).cast("bigint").alias("ra_micro"),
            F.count("*").cast("bigint").alias("n_common"),
        )
    )
    flagged = scored.join(
        edges.select(
            F.col("x").alias("p"), F.col("y").alias("q"), F.lit(1).alias("is_edge")
        ),
        ["p", "q"],
        "left",
    ).select(
        "p",
        "q",
        "ra_micro",
        "n_common",
        F.coalesce(F.col("is_edge"), F.lit(0)).alias("is_edge"),
    )
    return flagged.orderBy(F.desc("ra_micro"), "p", "q").limit(_RA_TOP)


# --- X351: exact Katz centrality (3 unrolled walk steps) -----------------------

_KATZ_TOP = 100


@register(
    "q_katz_centrality",
    oracle=f"""
    WITH {_GRAPH_SQL},
    und AS (
        SELECT x AS u, y AS v FROM edges
        UNION ALL SELECT y, x FROM edges
    ),
    p1 AS (SELECT v, COUNT(*) AS w FROM und GROUP BY v),
    p2 AS (
        SELECT e.v AS v, SUM(p.w) AS w
        FROM und e JOIN p1 p ON p.v = e.u GROUP BY e.v
    ),
    p3 AS (
        SELECT e.v AS v, SUM(p.w) AS w
        FROM und e JOIN p2 p ON p.v = e.u GROUP BY e.v
    )
    SELECT p1.v AS node,
           CAST(16 * p1.w + 4 * COALESCE(p2.w, 0) + COALESCE(p3.w, 0)
                AS BIGINT) AS katz_q64,
           CAST(p1.w AS BIGINT) AS walks1,
           CAST(COALESCE(p2.w, 0) AS BIGINT) AS walks2,
           CAST(COALESCE(p3.w, 0) AS BIGINT) AS walks3
    FROM p1 LEFT JOIN p2 ON p2.v = p1.v LEFT JOIN p3 ON p3.v = p1.v
    ORDER BY katz_q64 DESC, node
    LIMIT {_KATZ_TOP}
    """,
)
def q_katz_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X351: Katz centrality, 3-step truncation, INTEGER-exact.

    Katz(v) = sum_k beta^k * (# walks of length k ending at v); with
    beta = 1/4 and the sum truncated at k=3, scaling by 4^3 makes the
    score a pure bigint: katz_q64 = 16*w1 + 4*w2 + w3 (w1 = degree).
    Walk counts come from two sparse matrix-vector joins over the edge
    list — the X50 exactly-verified-iteration discipline applied to a
    centrality no other query covers (PageRank is the FLOAT random
    walk, rows-only; HITS is the bipartite pair; Katz is the damped
    walk census, exact here).

    100 TB: each step is one equi-join of the edge list with a
    node-indexed vector + a partial-aggregated sum — the standard
    distributed SpMV; three steps, three bounded shuffles.
    """
    edges = _hash_graph(spark, sf_dir)
    und = edges.select(F.col("x").alias("u"), F.col("y").alias("v")).unionByName(
        edges.select(F.col("y").alias("u"), F.col("x").alias("v"))
    )
    p1 = und.groupBy("v").agg(F.count("*").alias("w1"))
    p2 = (
        und.join(
            F.broadcast(p1.select(F.col("v").alias("u"), F.col("w1").alias("pw"))),
            "u",
        )
        .groupBy("v")
        .agg(F.sum("pw").alias("w2"))
    )
    p3 = (
        und.join(
            F.broadcast(p2.select(F.col("v").alias("u"), F.col("w2").alias("pw"))),
            "u",
        )
        .groupBy("v")
        .agg(F.sum("pw").alias("w3"))
    )
    out = (
        p1.join(p2, "v", "left")
        .join(p3, "v", "left")
        .select(
            F.col("v").alias("node"),
            (
                16 * F.col("w1")
                + 4 * F.coalesce(F.col("w2"), F.lit(0))
                + F.coalesce(F.col("w3"), F.lit(0))
            )
            .cast("bigint")
            .alias("katz_q64"),
            F.col("w1").cast("bigint").alias("walks1"),
            F.coalesce(F.col("w2"), F.lit(0)).cast("bigint").alias("walks2"),
            F.coalesce(F.col("w3"), F.lit(0)).cast("bigint").alias("walks3"),
        )
    )
    return out.orderBy(F.desc("katz_q64"), "node").limit(_KATZ_TOP)


# --- X354: deterministic label propagation (2 unrolled rounds) -----------------

_LP_TOP = 100


@register(
    "q_label_prop",
    oracle=f"""
    WITH {_GRAPH_SQL},
    und AS (
        SELECT x AS u, y AS v FROM edges
        UNION ALL SELECT y, x FROM edges
    ),
    l0 AS (SELECT node, node AS lab FROM nodes),
    l1 AS (
        SELECT e.u AS node, MIN(l.lab) AS lab
        FROM und e JOIN l0 l ON l.node = e.v
        GROUP BY e.u
    ),
    l2 AS (
        SELECT e.u AS node, MIN(l.lab) AS lab
        FROM und e JOIN l1 l ON l.node = e.v
        GROUP BY e.u
    ),
    census AS (
        SELECT lab, CAST(COUNT(*) AS BIGINT) AS community_size
        FROM l2 GROUP BY lab
    )
    SELECT lab, community_size
    FROM census
    ORDER BY community_size DESC, lab
    LIMIT {_LP_TOP}
    """,
)
def q_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X354: label propagation, 2 unrolled MIN-rule rounds + community
    census — the deterministic skeleton of LPA community detection
    (the async random-order variant is nondeterministic by design;
    the synchronous MIN-label rule is its exactly-verifiable core and
    the same update connected-components converges with). Two rounds
    over the hash graph: every node takes the minimum label among its
    neighbors; communities are the label census after round 2.
    q_dedup_survivors runs this rule TO convergence (components);
    this pins the per-round operator itself, census included, so an
    iterative caller can checkpoint-verify any intermediate round.

    100 TB: each round is one edge-list equi-join + partial-aggregated
    MIN — the SpMV shape (X351); the label relation shuffles on node
    id (broadcast here because the node table is dimension-sized).
    """
    s = table(spark, sf_dir, "supplier").select(F.col("s_suppkey").alias("node"))
    edges = _hash_graph(spark, sf_dir)
    und = edges.select(F.col("x").alias("u"), F.col("y").alias("v")).unionByName(
        edges.select(F.col("y").alias("u"), F.col("x").alias("v"))
    )
    l0 = s.select("node", F.col("node").alias("lab"))
    l1 = (
        und.join(F.broadcast(l0.select(F.col("node").alias("v"), "lab")), "v")
        .groupBy(F.col("u").alias("node"))
        .agg(F.min("lab").alias("lab"))
    )
    l2 = (
        und.join(F.broadcast(l1.select(F.col("node").alias("v"), "lab")), "v")
        .groupBy(F.col("u").alias("node"))
        .agg(F.min("lab").alias("lab"))
    )
    census = l2.groupBy("lab").agg(
        F.count("*").cast("bigint").alias("community_size")
    )
    return census.orderBy(F.desc("community_size"), "lab").limit(_LP_TOP)


# --- X360: Newman modularity of the label-prop communities ------------------------


@register(
    "q_modularity",
    oracle=f"""
    WITH {_GRAPH_SQL},
    und AS (
        SELECT x AS u, y AS v FROM edges
        UNION ALL SELECT y, x FROM edges
    ),
    l0 AS (SELECT node, node AS lab FROM nodes),
    l1 AS (
        SELECT e.u AS node, MIN(l.lab) AS lab
        FROM und e JOIN l0 l ON l.node = e.v GROUP BY e.u
    ),
    l2 AS (
        SELECT e.u AS node, MIN(l.lab) AS lab
        FROM und e JOIN l1 l ON l.node = e.v GROUP BY e.u
    ),
    m_ AS (SELECT COUNT(*) AS m FROM edges),
    intra AS (
        SELECT la.lab, COUNT(*) AS e_c
        FROM edges e
        JOIN l2 la ON la.node = e.x
        JOIN l2 lb ON lb.node = e.y AND lb.lab = la.lab
        GROUP BY la.lab
    ),
    degs AS (
        SELECT l.lab, SUM(d.deg) AS d_c, COUNT(*) AS sz
        FROM (SELECT u, COUNT(*) AS deg FROM und GROUP BY u) d
        JOIN l2 l ON l.node = d.u
        GROUP BY l.lab
    ),
    per_c AS (
        SELECT d.lab, d.sz, COALESCE(i.e_c, 0) AS e_c, d.d_c,
               4 * m.m * COALESCE(i.e_c, 0) - d.d_c * d.d_c AS q_num_c
        FROM degs d LEFT JOIN intra i ON i.lab = d.lab CROSS JOIN m_ m
    ),
    q AS (
        SELECT CAST(1000000 * SUM(q_num_c)
                    // (4 * CAST(m.m AS BIGINT) * m.m) AS BIGINT) AS q_micro
        FROM per_c CROSS JOIN m_ m GROUP BY m.m
    )
    SELECT p.lab, CAST(p.sz AS BIGINT) AS community_size,
           CAST(p.e_c AS BIGINT) AS intra_edges,
           CAST(p.d_c AS BIGINT) AS degree_sum,
           q.q_micro
    FROM per_c p CROSS JOIN q
    ORDER BY p.lab
    """,
)
def q_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X360: Newman modularity of the X354 label-propagation
    communities — the number that says whether a community structure
    is better than chance: Q = sum_c [e_c/m - (d_c/2m)^2], computed as
    ONE exact integer rational: Q_micro = 1e6 * sum(4m*e_c - d_c^2)
    DIV 4m^2. The numerator can be negative (worse than random);
    both engines truncate integer division toward zero (probed, see
    PERF_NOTES round 5), so the spelling is engine-identical.

    Closes the community-detection loop: X354 produces the partition,
    this scores it — exactly the LPA + modularity pairing practitioners
    run, with per-community intra-edge and degree-mass evidence rows.

    100 TB: intra-edge counting is the edge list joined twice against
    the broadcast label relation; everything else is censuses over
    community-count-sized relations.
    """
    s = table(spark, sf_dir, "supplier").select(F.col("s_suppkey").alias("node"))
    edges = _hash_graph(spark, sf_dir)
    und = edges.select(F.col("x").alias("u"), F.col("y").alias("v")).unionByName(
        edges.select(F.col("y").alias("u"), F.col("x").alias("v"))
    )
    l0 = s.select("node", F.col("node").alias("lab"))
    l1 = (
        und.join(F.broadcast(l0.select(F.col("node").alias("v"), "lab")), "v")
        .groupBy(F.col("u").alias("node"))
        .agg(F.min("lab").alias("lab"))
    )
    l2 = (
        und.join(F.broadcast(l1.select(F.col("node").alias("v"), "lab")), "v")
        .groupBy(F.col("u").alias("node"))
        .agg(F.min("lab").alias("lab"))
    ).localCheckpoint(eager=True)
    m_ = edges.agg(F.count("*").alias("m"))
    la = l2.select(F.col("node").alias("x"), F.col("lab").alias("lab_x"))
    lb = l2.select(F.col("node").alias("y"), F.col("lab").alias("lab_y"))
    intra = (
        edges.join(F.broadcast(la), "x")
        .join(F.broadcast(lb), "y")
        .where(F.col("lab_x") == F.col("lab_y"))
        .groupBy(F.col("lab_x").alias("lab"))
        .agg(F.count("*").alias("e_c"))
    )
    deg = und.groupBy("u").agg(F.count("*").alias("deg"))
    degs = (
        deg.join(
            F.broadcast(l2.select(F.col("node").alias("u"), "lab")), "u"
        )
        .groupBy("lab")
        .agg(F.sum("deg").alias("d_c"), F.count("*").alias("sz"))
    )
    per_c = (
        degs.join(intra, "lab", "left")
        .crossJoin(F.broadcast(m_))
        .select(
            "lab",
            "sz",
            F.coalesce(F.col("e_c"), F.lit(0)).alias("e_c"),
            "d_c",
            (
                4 * F.col("m") * F.coalesce(F.col("e_c"), F.lit(0))
                - F.col("d_c") * F.col("d_c")
            ).alias("q_num_c"),
            "m",
        )
    )
    q = per_c.groupBy("m").agg(
        F.expr(
            "CAST(1000000 * SUM(q_num_c) DIV (4 * CAST(m AS BIGINT) * m)"
            " AS BIGINT)"
        ).alias("q_micro")
    )
    return (
        per_c.crossJoin(F.broadcast(q.select("q_micro")))
        .select(
            "lab",
            F.col("sz").cast("bigint").alias("community_size"),
            F.col("e_c").cast("bigint").alias("intra_edges"),
            F.col("d_c").cast("bigint").alias("degree_sum"),
            "q_micro",
        )
        .orderBy("lab")
    )


# --- X361: 2-hop neighborhood census (exact neighborhood function) --------------

_H2_TOP = 100


@register(
    "q_hop2_census",
    oracle=f"""
    WITH {_GRAPH_SQL},
    und AS (
        SELECT x AS u, y AS v FROM edges
        UNION ALL SELECT y, x FROM edges
    ),
    hop1 AS (SELECT u, v FROM und),
    hop2 AS (
        SELECT a.u, b.v
        FROM und a JOIN und b ON b.u = a.v
        WHERE b.v <> a.u
    ),
    reach AS (
        SELECT u, v FROM hop1
        UNION
        SELECT u, v FROM hop2
    ),
    census AS (
        SELECT r.u AS node,
               CAST(COUNT(*) AS BIGINT) AS n_reach2,
               CAST(SUM(CASE WHEN h.v IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_hop1
        FROM reach r LEFT JOIN hop1 h ON h.u = r.u AND h.v = r.v
        GROUP BY r.u
    )
    SELECT node, n_hop1, n_reach2,
           CAST(n_reach2 - n_hop1 AS BIGINT) AS n_hop2_only
    FROM census
    ORDER BY n_reach2 DESC, node
    LIMIT {_H2_TOP}
    """,
)
def q_hop2_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X361: exact 2-hop neighborhood function — per node, how many
    distinct nodes sit within <= 2 hops (and the 1-hop / 2-hop-only
    split). N(2) of the neighborhood function underlying effective-
    diameter estimation (HyperANF runs this same expansion on HLL
    registers — X349's sketch — when exact distinct sets stop
    fitting; this is the exact form that certifies it). BFS (X113)
    answers one source; this censuses ALL sources at bounded depth —
    the reachability profile feeding friend-of-friend recommendation
    and influence-radius features.

    100 TB: one edge-edge equi-join (the SpMV shape) + a UNION
    distinct — shuffle keys are node pairs; hub skew bounds are the
    max-degree^2 fan of the 2-hop expansion, the same bound every
    wedge op documents. The exact form is for dimension-sized graphs;
    at social-graph scale swap the distinct set for X349 registers.
    """
    edges = _hash_graph(spark, sf_dir)
    und = edges.select(F.col("x").alias("u"), F.col("y").alias("v")).unionByName(
        edges.select(F.col("y").alias("u"), F.col("x").alias("v"))
    )
    hop1 = und
    a = und.select(F.col("u").alias("u1"), F.col("v").alias("mid"))
    b = und.select(F.col("u").alias("mid"), F.col("v").alias("v2"))
    hop2 = (
        a.join(b, "mid")
        .where(F.col("v2") != F.col("u1"))
        .select(F.col("u1").alias("u"), F.col("v2").alias("v"))
    )
    reach = hop1.unionByName(hop2).distinct()
    census = (
        reach.join(
            hop1.select("u", "v", F.lit(1).alias("is1")), ["u", "v"], "left"
        )
        .groupBy(F.col("u").alias("node"))
        .agg(
            F.count("*").cast("bigint").alias("n_reach2"),
            F.sum(F.coalesce(F.col("is1"), F.lit(0)))
            .cast("bigint")
            .alias("n_hop1"),
        )
    )
    return (
        census.select(
            "node",
            "n_hop1",
            "n_reach2",
            (F.col("n_reach2") - F.col("n_hop1"))
            .cast("bigint")
            .alias("n_hop2_only"),
        )
        .orderBy(F.desc("n_reach2"), "node")
        .limit(_H2_TOP)
    )
