"""Graph analytics beyond connected components: weighted PageRank,
degree-oriented triangle counting, and frontier-expansion BFS.

dedup.py's ``propagate_min_labels`` (connected components) covers the
fixpoint-iteration pattern; PageRank adds the WEIGHTED message-passing
variant every entity/link-analysis pipeline eventually needs (seed-doc
importance over a citation/link graph, canonical-record authority in
entity resolution). The demonstration graph is the nation-to-nation
trade network: supplier nation → customer nation, edge weight = number
of lineitems flowing between them (the tpch_q7 join tree, reduced to
an edge list).

Scale shape: the iteration state is two relations — ``edges`` (src,
dst, w, normalized once by out-weight) and ``ranks`` (node, pr) — and
each round is ONE shuffle join of ranks onto edges plus a groupBy(dst)
whose map-side partial combine collapses contributions before the
exchange. The corpus-sized join tree that BUILDS the edge list runs
once, up front. Lineage is cut with localCheckpoint on a short fixed
cadence exactly like components: an eager per-round broadcast of an
UNcheckpointed rank relation re-executes every round since the last
cut — quadratic work (checkpointing every 4th round measured 8.2 s at
sf0.1; every 2nd, 3.4 s for the 8-round loop, the best of the swept
cadences). On a web-scale graph both relations partition by node id
and the per-round cost is |edges| shuffle bytes, never |corpus|. Dangling-node mass (nodes with no out-edges) is dropped, the
common simplified formulation — both the Spark and oracle formulations
drop it identically, so the hash-check pins the exact semantics.

The oracle unrolls the same fixed iteration count as nested CTEs
(generated from the same constants), so both engines run the identical
arithmetic: pr = (1-d)/N + d * Σ pr_src · w/outw. Per-node fan-in here
is ≤ |nations|, and final ranks are rounded to 6 dp, far above
double-sum association noise."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from talkdesk_async_etl_spark.plans.cache import (
    cache_scope,
    collect_release,
    scoped_persist,
)
from talkdesk_async_etl_spark.plans.registry import query
from talkdesk_async_etl_spark.session import partitions_for, single_partition_loop
from talkdesk_async_etl_spark.sources.io import read_table as t

_PR_DAMPING = 0.85
def _edge_window(und):
    """Materialize a persisted edge relation and return the size-derived
    conf window for the join tree that consumes it
    (session.single_partition_loop): the corpus-sized edge build runs
    under the session's normal AQE profile via the aggregate here; the
    bounded downstream tail then skips per-stage AQE re-planning exactly
    when it fits one partition. No-op on a real graph.

    The window signal is Σ deg² — a bound on the WEDGE/PAIR relations
    the consumers expand (triangle wedges, common-neighbor /
    Adamic-Adar / Jaccard pair enumerations are quadratic in node
    degree), not the raw edge count: a skewed graph just under a
    100k-EDGE threshold can push a pair relation orders of magnitude
    past one partition with AQE skew-split disabled (ADVICE r15). One
    hub node with 10^4 neighbors alone pushes the bound to 10^8 and
    keeps AQE on.

    Cost control (a distributed Σ deg² is a 2-exchange aggregate job,
    measured +0.3-0.5 s per kernel at sf0.1): Σ deg² ≥ Σ deg = 2|E|,
    so when the count already clears the threshold the window is off
    with no second look at the data; below it the graph has < 50k
    edges and the exact bound comes from a BOUNDED driver fetch of the
    endpoint pairs (≤ 100k longs ≈ 0.8 MB, the audited bounded-collect
    class) — a single-stage scan of the persisted relation, no
    exchange, no AQE re-plan. The count doubles as the persist
    materializer the callers rely on."""
    n_edges = und.count()
    if partitions_for(2 * n_edges) > 1:
        return single_partition_loop(und.sparkSession, 2 * n_edges)  # no-op
    from collections import Counter

    deg: Counter = Counter()
    for row in und.select("a", "b").collect():
        deg[row[0]] += 1
        deg[row[1]] += 1
    wedge_bound = sum(d * d for d in deg.values())
    return single_partition_loop(und.sparkSession, wedge_bound)

_PR_ITERS = 8
_PR_CHECKPOINT_EVERY = 2  # measured best of {1, 2, 4} at sf0.1


def _oracle_pagerank() -> str:
    d = _PR_DAMPING
    ctes = [
        """
        edges AS (
            SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
                   CAST(count(*) AS DOUBLE) AS w
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            GROUP BY src, dst
        )""",
        """
        outw AS (SELECT src, sum(w) AS ow FROM edges GROUP BY src)""",
        """
        nodes AS (
            SELECT DISTINCT node FROM (
                SELECT src AS node FROM edges
                UNION SELECT dst AS node FROM edges
            )
        )""",
        """
        nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes)""",
        """
        pr0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS pr FROM nodes)""",
    ]
    for k in range(1, _PR_ITERS + 1):
        ctes.append(f"""
        pr{k} AS (
            SELECT nodes.node,
                   (1 - {d}) / (SELECT n FROM nn)
                       + {d} * COALESCE(c.s, 0) AS pr
            FROM nodes
            LEFT JOIN (
                SELECT e.dst AS node, sum(p.pr * e.w / o.ow) AS s
                FROM pr{k - 1} p
                JOIN edges e ON e.src = p.node
                JOIN outw o ON o.src = p.node
                GROUP BY e.dst
            ) c ON c.node = nodes.node
        )""")
    return (
        "WITH " + ",".join(ctes) + f"""
        SELECT n.n_name AS nation, round(p.pr, 6) AS pagerank
        FROM pr{_PR_ITERS} p JOIN nation n ON n.n_nationkey = p.node
    """
    )


# Below this node count the per-iteration rank/contribution relations
# broadcast (Pregel-with-broadcast: edges stream from cache, never
# shuffle; ONE tiny exchange per round for the partial sums). Above
# it, ranks shuffle onto the edges' persisted src-partitioning — the
# web-scale shape where ranks are billions of rows and only the
# node-sized relation moves per round.
_PR_BROADCAST_NODES = 100_000


def _graph_nodes(edges: DataFrame, n_parts: int):
    """``(nodes, n_nodes, j)`` for the rounds over a persisted
    ``(src, dst, …)`` edge list on ``n_parts`` partitions: the persisted
    distinct ``node`` relation, its count, and the round-join rule ``j``
    — broadcast a node-sized relation up to ``_PR_BROADCAST_NODES``
    nodes, else shuffle it onto the node key. The count materializes
    BOTH persists (nodes scan edges) before the caller's conf window,
    so edge-sized work runs under the session's normal AQE profile and
    only the node-sized rounds run inside the window."""
    nodes = scoped_persist(
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .repartition(n_parts, "node")
    )
    n_nodes = nodes.count()

    def j(df: DataFrame) -> DataFrame:
        if n_nodes <= _PR_BROADCAST_NODES:
            return F.broadcast(df)
        return df.repartition(n_parts, df.columns[0])

    return nodes, n_nodes, j


def pagerank_from_edges(
    edges_raw: DataFrame, iters: int = _PR_ITERS, damping: float = _PR_DAMPING
) -> DataFrame:
    """Weighted PageRank core over an ``(src, dst, w)`` edge list →
    ``(node, pr)``. Callers must hold an active cache_scope. The
    returned relation is localCheckpointed (materialized), so it stays
    valid after the scope releases the iteration's persists.

    Like propagate_min_labels, the iteration partitions for the GRAPH
    size, not the session default — 32-partition exchanges over a few
    hundred edges make every round scheduling-dominated (the naive
    form measured 12.6 s at sf0.1; graph-sized partitioning + the
    broadcast fast path runs the same 8 iterations in ~2 s)."""
    # The count sizes the graph AND materializes the persist that the
    # normalization and node build below read, so the caller's edge
    # build runs once.
    edges_raw = scoped_persist(edges_raw)
    n_edges = edges_raw.count()
    n_parts = partitions_for(n_edges)
    # Normalize once: each edge carries its transition probability,
    # so the iteration never re-joins out-weights.
    outw = edges_raw.groupBy("src").agg(F.sum("w").alias("ow"))
    edges = scoped_persist(
        edges_raw.join(outw, "src")
        .select("src", "dst", (F.col("w") / F.col("ow")).alias("p"))
        .repartition(n_parts, "src")
    )
    nodes, n_nodes, j = _graph_nodes(edges, n_parts)
    edges_raw.unpersist()  # the rounds read only the partitioned edges
    with single_partition_loop(edges_raw.sparkSession, n_edges):
        ranks = nodes.select(
            "node", F.lit(1.0 / n_nodes).alias("pr")
        ).localCheckpoint()
        for k in range(1, iters + 1):
            contrib = (
                j(ranks.withColumnRenamed("node", "src"))
                .join(edges, "src")
                .groupBy("dst")
                .agg(F.sum(F.col("pr") * F.col("p")).alias("s"))
            )
            ranks = nodes.join(
                j(contrib.withColumnRenamed("dst", "node")), "node", "left"
            ).select(
                "node",
                (
                    F.lit((1 - damping) / n_nodes)
                    + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("pr"),
            )
            if k % _PR_CHECKPOINT_EVERY == 0 and k < iters:
                ranks = ranks.localCheckpoint()
        return ranks.localCheckpoint()


def _oracle_triangles() -> str:
    return """
    WITH base AS (
        SELECT DISTINCT s.s_nationkey AS src, c.c_nationkey AS dst
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE s.s_nationkey <> c.c_nationkey
    ),
    und AS (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM base
    ),
    tris AS (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM und e1
        JOIN und e2 ON e2.a = e1.b
        JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    members AS (
        SELECT x AS node FROM tris
        UNION ALL SELECT y AS node FROM tris
        UNION ALL SELECT z AS node FROM tris
    )
    SELECT n.n_name AS nation, CAST(count(*) AS BIGINT) AS triangles
    FROM members m JOIN nation n ON n.n_nationkey = m.node
    GROUP BY nation
    """


@query("graph_triangle_count", oracle=_oracle_triangles(), tags=("graph",))
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the undirected nation trade graph
    (same edge build as graph_pagerank, weights dropped, self-loops
    removed) — the third classic graph kernel next to components
    (dedup.py) and PageRank above; downstream of dedup it grades how
    clique-like near-duplicate neighborhoods are.

    Scale shape — degree orientation, the distributed-triangle result
    from Suri & Vassilvitskii's MapReduce paper: orient every
    undirected edge from its lower-(degree, id) endpoint to the
    higher, enumerate wedges as pairs of OUT-neighbors of each node,
    and close each wedge with one hash join back onto the oriented
    edge list. Orientation bounds per-node out-degree by O(sqrt(m)),
    so the wedge relation is O(m^1.5) worst-case instead of
    sum(deg^2) — the difference between feasible and not on a
    power-law graph where one hub would otherwise generate deg^2 ≈
    10^12 wedges. Each triangle is emitted exactly once (its three
    members then counted by exploding x/y/z), and the closing probe is
    an equi-join on the (v1, v2) pair key — no inequality-range scan.
    The degree relation is node-count-sized: broadcast here (25
    nations); at web scale it exceeds the broadcast threshold and the
    two degree joins become shuffles on the edge endpoints, which AQE
    plans off the same exchange. The oracle enumerates the identical
    triangle set via the canonical a<b<c three-way self-join —
    orientation changes the join ORDER, never the triangle set, which
    is exactly what the hash-check proves."""
    # The output is ≤|nation| rows by construction, so materialize
    # INSIDE the scope: the persisted und/oriented relations serve
    # their ~15 plan references during this one evaluation, then the
    # scope frees them. Returning the lazy plan would let the scope
    # exit unpersist both before any read (the persists would be dead
    # code and the edge-build subtree recomputed at execution time).
    with cache_scope():
        und = scoped_persist(_trade_und(spark, sf_dir))
        with _edge_window(und):
            return collect_release(
                triangle_count_plan(spark, sf_dir, persist=True, und=und)
            )


def _trades(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem ⋈ orders ⋈ customer ⋈ supplier — one row per lineitem
    carrying its supplier and customer nation; every graph kernel's
    edge list is an aggregate of this join tree. Left unprojected:
    Catalyst prunes each caller's unused columns below the joins.

    lineitem is read WITHOUT the ``spread`` repartition: the
    lineitem⋈orders shuffle join parallelizes the stream side at its
    own exchange, so a prefixed full-table repartition is a pure extra
    shuffle (measured 1.9 → 0.8 s for graph_pagerank at sf0.1).
    customer and supplier are true dimensions → broadcast."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
    )


def _trade_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One undirected ``(a, b)`` nation pair (a < b) per cross-border
    trade row — self-loops dropped, duplicates kept."""
    return (
        _trades(spark, sf_dir)
        .where(F.col("s_nationkey") != F.col("c_nationkey"))
        .select(
            F.least("s_nationkey", "c_nationkey").alias("a"),
            F.greatest("s_nationkey", "c_nationkey").alias("b"),
        )
    )


def _trade_und(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The undirected nation trade edge list (a < b, deduped) the
    triangle/clustering/BFS kernels share — factored so callers can
    persist + materialize it BEFORE opening the edge-sized conf
    window (:func:`_edge_window`)."""
    return _trade_pairs(spark, sf_dir).distinct()


def triangle_count_plan(
    spark: SparkSession, sf_dir: str, persist: bool = False, und: DataFrame | None = None
) -> DataFrame:
    """Lazy plan for :func:`graph_triangle_count` — exposed so the
    physical-plan tests can ``explain`` the real join tree (the query
    itself returns an already-materialized driver-local result).
    ``persist=True`` requires an active :func:`cache_scope`; ``und``
    lets the registered wrapper pass its pre-persisted edge relation."""
    n = t(spark, sf_dir, "nation")
    keep = scoped_persist if persist else (lambda df: df)
    if und is None:
        und = keep(_trade_und(spark, sf_dir))
    deg = (
        und.select(F.col("a").alias("node"))
        .union(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    da = F.broadcast(deg.select(F.col("node").alias("a"), F.col("deg").alias("da")))
    db = F.broadcast(deg.select(F.col("node").alias("b"), F.col("deg").alias("db")))
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = keep(
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
            F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dv"),
        )
    )
    e1 = oriented.select("u", F.col("v").alias("v1"), F.col("dv").alias("d1"))
    e2 = oriented.select("u", F.col("v").alias("v2"), F.col("dv").alias("d2"))
    wedges = e1.join(e2, "u").where(
        (F.col("d1") < F.col("d2"))
        | ((F.col("d1") == F.col("d2")) & (F.col("v1") < F.col("v2")))
    )
    tris = wedges.join(
        oriented.select(F.col("u").alias("v1"), F.col("v").alias("v2")),
        ["v1", "v2"],
    ).select("u", "v1", "v2")
    members = (
        tris.select(F.col("u").alias("node"))
        .union(tris.select(F.col("v1").alias("node")))
        .union(tris.select(F.col("v2").alias("node")))
    )
    return (
        members.join(F.broadcast(n), members.node == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count("*").alias("triangles"))
    )


@query("graph_pagerank", oracle=_oracle_pagerank(), tags=("graph", "iterative"))
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the supplier-nation → customer-nation
    trade graph, damping 0.85, 8 fixed iterations (see module
    docstring for the scale shape and the dangling-mass convention)."""
    n = t(spark, sf_dir, "nation")
    with cache_scope():
        edges_raw = (
            _trades(spark, sf_dir)
            .groupBy(
                F.col("s_nationkey").alias("src"),
                F.col("c_nationkey").alias("dst"),
            )
            .agg(F.count("*").cast("double").alias("w"))
        )
        ranks = pagerank_from_edges(edges_raw)
        return (
            ranks.join(F.broadcast(n), ranks.node == n.n_nationkey)
            .select(
                F.col("n_name").alias("nation"),
                F.round("pr", 6).alias("pagerank"),
            )
        )


_BFS_MAX_ROUNDS = 10


def _oracle_bfs() -> str:
    return f"""
    WITH RECURSIVE und AS (
        SELECT DISTINCT least(s.s_nationkey, c.c_nationkey) AS a,
                        greatest(s.s_nationkey, c.c_nationkey) AS b
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE s.s_nationkey <> c.c_nationkey
    ),
    edges AS (
        SELECT a AS src, b AS dst FROM und
        UNION ALL
        SELECT b AS src, a AS dst FROM und
    ),
    walk(node, dist) AS (
        SELECT (SELECT min(a) FROM und) AS node, 0 AS dist
        UNION
        SELECT e.dst, w.dist + 1
        FROM walk w JOIN edges e ON e.src = w.node
        WHERE w.dist < {_BFS_MAX_ROUNDS}
    )
    SELECT n.n_name AS nation, CAST(min(w.dist) AS INTEGER) AS dist
    FROM walk w JOIN nation n ON n.n_nationkey = w.node
    GROUP BY nation
    """


@query("graph_bfs_distance", oracle=_oracle_bfs(), tags=("graph", "iterative"))
def graph_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS shortest-path distances from the smallest trade-graph node
    — the fourth graph kernel next to components (dedup.py), PageRank,
    and triangles: frontier expansion with an anti-join against the
    visited set, the Pregel BFS every distributed graph engine ships.

    Scale shape: per round, ONE hash join of the frontier against the
    edge list (partitioned by src and scoped-persisted — edges never
    rebuild) plus one anti-join against the visited relation; both
    relations are node-sized, never edge-sized, and the frontier
    SHRINKS as the ball saturates. Rounds are data-independent beyond
    the emptiness probe (a bounded driver action, ≤ the diameter cap
    of {_BFS_MAX_ROUNDS}). The oracle walks the same graph with a
    recursive UNION CTE — its (node, dist) dedup bounds the recursion
    on cycles — and takes min(dist), which equals first-discovery
    level. Output is ≤|nation| rows by construction → materialized
    inside the scope (collect_release), so the persisted edge/visited
    relations serve every round before release."""
    n = t(spark, sf_dir, "nation")
    with cache_scope():
        # The count materializes the persisted edge list the directed
        # edges are read from, so the trade join runs once.
        und = scoped_persist(_trade_und(spark, sf_dir))
        n_edges = 2 * und.count()
        # Graph-sized partitioning, same reasoning as pagerank_from_edges
        # and propagate_min_labels: the iteration works on the EDGE
        # graph, orders of magnitude smaller than the corpus that built
        # it — session-default 32-partition exchanges over a few hundred
        # edges make every round scheduling-dominated (measured 3.2 s →
        # ~1 s at sf0.1 for the identical rounds).
        edges_wide = und.select(F.col("a").alias("src"), F.col("b").alias("dst")).union(
            und.select(F.col("b").alias("src"), F.col("a").alias("dst"))
        )
        edges = scoped_persist(edges_wide.repartition(partitions_for(n_edges), "src"))
        # Bounded driver fetch: the single source id.
        src0 = edges.agg(F.min("src").alias("m")).collect()[0]["m"]
        und.unpersist()  # that scan materialized edges, all the rounds read
        dist = scoped_persist(
            edges.sparkSession.createDataFrame(
                [(int(src0), 0)], "node int, dist int"
            )
        )
        frontier = dist
        with single_partition_loop(spark, n_edges):
            for rnd in range(1, _BFS_MAX_ROUNDS + 1):
                # The frontier is node-sized — broadcast it onto the
                # persisted edges (below ~10^5 nodes; at web scale drop
                # the hint and both sides shuffle on the node key, the
                # pagerank_from_edges switch).
                nxt = (
                    F.broadcast(frontier)
                    .join(edges, frontier.node == edges.src)
                    .select(F.col("dst").alias("node"))
                    .distinct()
                    .withColumn("dist", F.lit(rnd))
                )
                new = scoped_persist(nxt.join(F.broadcast(dist), "node", "left_anti"))
                if new.isEmpty():
                    break
                dist = scoped_persist(dist.union(new))
                frontier = new
        return collect_release(
            dist.join(F.broadcast(n), dist.node == n.n_nationkey)
            .groupBy(F.col("n_name").alias("nation"))
            .agg(F.min("dist").cast("int").alias("dist"))
        )


_KCORE_K = 5
_KCORE_MAX_ROUNDS = 8


def _oracle_kcore() -> str:
    """Generated unrolled-peel oracle (the pagerank-oracle pattern):
    round i keeps edges whose BOTH endpoints have degree ≥ k in round
    i−1's subgraph. 8 unrolled rounds far exceed the fixture's
    convergence (≤2); extra rounds are idempotent after fixpoint, so
    the final relation equals the true k-core."""
    ctes = [
        f"""pairs AS (
            SELECT least(s_nationkey, c_nationkey) AS a,
                   greatest(s_nationkey, c_nationkey) AS b, count(*) AS w
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            WHERE s_nationkey <> c_nationkey
            GROUP BY 1, 2
        ), e0 AS MATERIALIZED (
            SELECT a, b FROM pairs
            WHERE w * (SELECT count(*) FROM pairs) > (SELECT sum(w) FROM pairs)
        )"""
    ]
    for i in range(1, _KCORE_MAX_ROUNDS + 1):
        p = i - 1
        ctes.append(
            f"""d{i} AS MATERIALIZED (
                SELECT node, count(*) AS deg FROM (
                    SELECT a AS node FROM e{p} UNION ALL SELECT b FROM e{p}
                ) GROUP BY node
            ), e{i} AS MATERIALIZED (
                SELECT e.a, e.b FROM e{p} e
                JOIN d{i} da ON e.a = da.node AND da.deg >= {_KCORE_K}
                JOIN d{i} db ON e.b = db.node AND db.deg >= {_KCORE_K}
            )"""
        )
    last = f"e{_KCORE_MAX_ROUNDS}"
    return f"""
        WITH {",".join(ctes)}
        SELECT node, CAST(deg AS BIGINT) AS core_deg FROM (
            SELECT node, count(*) AS deg FROM (
                SELECT a AS node FROM {last} UNION ALL SELECT b FROM {last}
            ) GROUP BY node
        ) WHERE deg >= {_KCORE_K}
    """


@query("graph_kcore", oracle=_oracle_kcore(), tags=("graph", "iterative"))
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8 kernel #5: k-CORE decomposition — iteratively peel nodes of
    degree < k until the maximal subgraph where every node keeps ≥ k
    neighbors remains (the standard "dense cohesive cluster" /
    spam-farm detector over dup-pair and link graphs). The graph is
    the nation trade network thresholded to above-average-volume
    edges (scale-free threshold; 2–4 nodes peel at every fixture SF).
    Each round is one degree aggregate + two semi-join-shaped edge
    filters — the peel's cost is edge-relation-sized, never
    corpus-sized, and the edge relation SHRINKS monotonically, so
    round cost decays; convergence is edge-count stability (bounded
    by _KCORE_MAX_ROUNDS, far above the observed ≤2). The oracle
    unrolls the identical peel as generated CTEs (the
    pagerank-oracle pattern); extra unrolled rounds are idempotent
    at fixpoint, so both engines land on the same maximal subgraph —
    per-node core degrees hash-checked exactly. Scale: at real graph
    sizes the degree aggregate map-side-combines and the per-round
    filter is a broadcast of the (tiny) dropped-node set; for
    billion-node graphs switch to the bucketed semi-join form the
    components kernels use."""
    pairs = _trade_pairs(spark, sf_dir).groupBy("a", "b").agg(F.count(F.lit(1)).alias("w"))
    totals = pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"), F.sum("w").alias("total_w")
    )
    edges = (
        pairs.crossJoin(F.broadcast(totals))
        .filter(F.col("w") * F.col("n_pairs") > F.col("total_w"))
        .select("a", "b")
        .localCheckpoint()
    )
    n_edges = edges.count()
    # The lazy checkpoint + count fuse each peel round into ONE job
    # (the propagate_min_labels pattern: count materializes the
    # checkpointed round AND probes convergence).
    with single_partition_loop(spark, n_edges):
        for _ in range(_KCORE_MAX_ROUNDS):
            deg = (
                edges.select(F.col("a").alias("node"))
                .union(edges.select(F.col("b").alias("node")))
                .groupBy("node")
                .agg(F.count(F.lit(1)).alias("deg"))
            )
            keep = F.broadcast(deg.filter(F.col("deg") >= _KCORE_K).select("node"))
            pruned = (
                edges.join(keep, edges.a == keep.node, "left_semi")
                .join(keep, edges.b == keep.node, "left_semi")
                .localCheckpoint(eager=False)
            )
            n_pruned = pruned.count()
            edges, stable = pruned, n_pruned == n_edges
            n_edges = n_pruned
            if stable:
                break
    final_deg = (
        edges.select(F.col("a").alias("node"))
        .union(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("core_deg"))
        .filter(F.col("core_deg") >= _KCORE_K)
    )
    return final_deg


_SSSP_SRC = 3  # supplier nation with out-edges at every SF (probed)
_SSSP_ROUNDS = 6


def _oracle_sssp() -> str:
    """Unrolled Bellman-Ford relaxation (the pagerank-oracle pattern:
    recursive SQL cannot aggregate inside the recursive term, so each
    round is a generated CTE computing d_{k+1}(v) = min(d_k(v),
    min_{(u,v,w)} d_k(u)+w))."""
    # AS MATERIALIZED on every CTE (the graph_kcore lesson): DuckDB
    # inlines multiply-referenced CTEs, and each round references the
    # previous one twice — inlined, d6 would re-evaluate the 4-table
    # edge join 2^6 times (measured: 11 s at sf0.01, unbounded at
    # sf0.1; materialized: milliseconds).
    rounds = []
    for k in range(1, _SSSP_ROUNDS + 1):
        rounds.append(
            f"""d{k} AS MATERIALIZED (
            SELECT node, min(dist) AS dist FROM (
                SELECT node, dist FROM d{k - 1}
                UNION ALL
                SELECT e.dst AS node, d.dist + e.w AS dist
                FROM d{k - 1} d JOIN edges e ON e.src = d.node
            ) GROUP BY node
        )"""
        )
    return f"""
    WITH edges AS MATERIALIZED (
        SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
               CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT))
                    % 97 + 1 AS BIGINT) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE s.s_nationkey <> c.c_nationkey
        GROUP BY 1, 2
    ),
    d0 AS (SELECT CAST({_SSSP_SRC} AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist),
    {",".join(rounds)}
    SELECT n.n_name AS nation, d.dist AS dist
    FROM d{_SSSP_ROUNDS} d JOIN nation n ON n.n_nationkey = d.node
    """


@query("graph_sssp_weighted", oracle=_oracle_sssp(), tags=("graph",))
def graph_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8 kernel #6 — weighted single-source shortest paths by
    Bellman-Ford relaxation over the trade graph (edge weight = exact
    trade cents % 97 + 1, a deterministic positive BIGINT both engines
    derive identically). Complements graph_bfs_distance (hop counts):
    here the metric is a WEIGHTED sum, so the frontier trick (visited
    set + anti-join) is unsound — a later path can be cheaper — and
    the correct distributed form is whole-relation relaxation:
    d_{k+1}(v) = min(d_k(v), min over edges (u,v): d_k(u)+w). Each
    round is ONE dist⋈edges equi-join plus a map-side-combinable min
    aggregate; the iteration state is node-sized, never corpus-sized,
    and the corpus-sized edge BUILD runs exactly once. Fixed round
    count on BOTH engines (like graph_pagerank): the attestation is
    exact equality of d_6, which at these graph diameters is the true
    shortest-path vector (probed: source 3 reaches all 25 nations at
    every SF inside 6 rounds). All arithmetic is BIGINT — no float
    relaxation drift."""
    n = t(spark, sf_dir, "nation")
    cents = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("bigint")
    edges = (
        _trades(spark, sf_dir)
        .where(F.col("s_nationkey") != F.col("c_nationkey"))
        .groupBy(
            F.col("s_nationkey").cast("bigint").alias("src"),
            F.col("c_nationkey").cast("bigint").alias("dst"),
        )
        .agg((F.sum(cents) % 97 + 1).alias("w"))
        .localCheckpoint()  # node²-bounded; built once, read every round
    )
    dist = spark.createDataFrame(
        [(_SSSP_SRC, 0)], "node bigint, dist bigint"
    ).localCheckpoint()
    for k in range(1, _SSSP_ROUNDS + 1):
        relaxed = (
            dist.join(edges, dist.node == edges.src)
            .select(F.col("dst").alias("node"), (F.col("dist") + F.col("w")).alias("dist"))
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
        if k % 2 == 0 and k < _SSSP_ROUNDS:
            dist = dist.localCheckpoint()
    dist = dist.localCheckpoint()
    return dist.join(F.broadcast(n), dist.node == n.n_nationkey).select(
        F.col("n_name").alias("nation"), "dist"
    )


_CN_TOP_EDGES = 60  # deterministic sparsification: the 25-nation trade
# graph saturates to near-complete at sf >= 0.01, leaving ZERO
# non-adjacent pairs (a vacuous link-prediction output); keeping only
# the top-60 pair edges by trade volume (ties broken by the pair key)
# yields a sparse graph with real missing-edge candidates at every SF,
# and the threshold is a RANK, not a count, so it is scale-stable.


def _trade_top_und(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sparsified undirected trade graph the link-prediction,
    assortativity and two-hop kernels share: the top-``_CN_TOP_EDGES``
    ``(a, b)`` pairs by trade volume, ties broken by the pair key."""
    return (
        _trade_pairs(spark, sf_dir)
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_trades"))
        .orderBy(F.desc("n_trades"), "a", "b")
        .limit(_CN_TOP_EDGES)
        .select("a", "b")
    )


def _oracle_common_neighbors() -> str:
    return """
    WITH base AS (
        SELECT least(s.s_nationkey, c.c_nationkey) AS a,
               greatest(s.s_nationkey, c.c_nationkey) AS b
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE s.s_nationkey <> c.c_nationkey
    ),
    und AS (
        SELECT a, b FROM (
            SELECT a, b, count(*) AS n_trades
            FROM base GROUP BY a, b
        ) ORDER BY n_trades DESC, a, b LIMIT 60
    ),
    adj AS (
        SELECT a AS n, b AS x FROM und
        UNION ALL
        SELECT b AS n, a AS x FROM und
    ),
    w AS (
        SELECT p.x AS a, q.x AS b
        FROM adj p JOIN adj q ON p.n = q.n AND p.x < q.x
    ),
    cn AS (
        SELECT a, b, CAST(count(*) AS BIGINT) AS n_common
        FROM w GROUP BY a, b
    ),
    deg AS (
        SELECT n AS node, CAST(count(*) AS BIGINT) AS deg
        FROM adj GROUP BY n
    ),
    nonadj AS (
        SELECT c.a, c.b, c.n_common
        FROM cn c LEFT JOIN und u ON u.a = c.a AND u.b = c.b
        WHERE u.a IS NULL
    )
    SELECT CAST(c.a AS INT) AS a, CAST(c.b AS INT) AS b, c.n_common,
           CAST((1000000 * c.n_common)
                // (da.deg + db.deg - c.n_common) AS BIGINT)
               AS jaccard_micro
    FROM nonadj c
    JOIN deg da ON da.node = c.a
    JOIN deg db ON db.node = c.b
    """


@query(
    "graph_common_neighbors",
    oracle=_oracle_common_neighbors(),
    tags=("graph",),
)
def graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the undirected nation trade graph (same
    edge build as the other graph kernels): for every NON-adjacent
    node pair sharing at least one neighbor, emit the common-neighbor
    count and the neighborhood Jaccard — the two classic
    missing-edge scores (Liben-Nowell & Kleinberg). Downstream of the
    dedup family this is the "these two clusters are about to merge"
    signal: a high-Jaccard non-edge predicts the next batch's
    connection. Jaccard is quantized to exact micro-units via integer
    division (n_common / (deg_a + deg_b − n_common)), so both engines
    emit identical BIGINTs.

    Scale shape: candidate pairs enumerate as neighbor pairs around
    each CENTER node (one self-join of the adjacency on the center
    key), which is inherently Σdeg² work — unlike triangle counting,
    common-neighbor COUNTING needs every wedge, so degree orientation
    can't prune it. The production remedies at power-law scale are the
    standard ones: cap per-center neighbor lists (hot-key cap, as the
    LSH pair generator does), or score only candidate pairs from a
    blocking pass. The non-adjacency filter is one anti-join on the
    pair key; degree joins broadcast at this node count and become
    edge-keyed shuffles past the threshold (AQE re-plans off the same
    exchange)."""
    with cache_scope():
        und = scoped_persist(_trade_top_und(spark, sf_dir))
        with _edge_window(und):
            return collect_release(common_neighbors_from(und))


def common_neighbors_from(und: DataFrame) -> DataFrame:
    """Scoring core behind :func:`graph_common_neighbors`, over an
    undirected edge list ``(a, b)`` with a < b. Factored out so the
    constructed-graph unit test can drive the wedge/anti-join/score
    pipeline on hand-built edges. Caller holds the cache scope that
    keeps ``und`` persisted across its four plan references."""
    adj = und.select(F.col("a").alias("n"), F.col("b").alias("x")).union(
        und.select(F.col("b").alias("n"), F.col("a").alias("x"))
    )
    p, q = adj.alias("p"), adj.alias("q")
    cn = (
        p.join(q, "n")
        .where(F.col("p.x") < F.col("q.x"))
        .groupBy(F.col("p.x").alias("a"), F.col("q.x").alias("b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    nonadj = cn.join(und, ["a", "b"], "left_anti")
    deg = adj.groupBy(F.col("n").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    da = F.broadcast(deg.select(F.col("node").alias("a"), F.col("deg").alias("da")))
    db = F.broadcast(deg.select(F.col("node").alias("b"), F.col("deg").alias("db")))
    return (
        nonadj.join(da, "a")
        .join(db, "b")
        .select(
            F.col("a").cast("int").alias("a"),
            F.col("b").cast("int").alias("b"),
            F.col("n_common").cast("long").alias("n_common"),
            F.expr("(1000000 * n_common) div (da + db - n_common)")
            .cast("long")
            .alias("jaccard_micro"),
        )
    )


def _oracle_assortativity() -> str:
    return f"""
    WITH base AS (
        SELECT least(s.s_nationkey, c.c_nationkey) AS a,
               greatest(s.s_nationkey, c.c_nationkey) AS b
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE s.s_nationkey <> c.c_nationkey
    ),
    und AS (
        SELECT a, b FROM (
            SELECT a, b, count(*) AS n_trades
            FROM base GROUP BY a, b
        ) ORDER BY n_trades DESC, a, b LIMIT {_CN_TOP_EDGES}
    ),
    adj AS (
        SELECT a AS src, b AS dst FROM und
        UNION ALL
        SELECT b AS src, a AS dst FROM und
    ),
    deg AS (
        SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
        FROM adj GROUP BY src
    ),
    sums AS (
        SELECT CAST(count(*) AS BIGINT) AS m,
               CAST(sum(dj.deg) AS BIGINT) AS sum_j,
               CAST(sum(dj.deg * dk.deg) AS BIGINT) AS sum_jk,
               CAST(sum(dj.deg * dj.deg) AS BIGINT) AS sum_j2
        FROM adj e
        JOIN deg dj ON dj.node = e.src
        JOIN deg dk ON dk.node = e.dst
    )
    SELECT m AS m_directed_edges, sum_j, sum_jk, sum_j2,
           CAST(CASE WHEN (m * sum_j2 - sum_j * sum_j) = 0 THEN 0
                WHEN (m * sum_jk - sum_j * sum_j) < 0
                THEN -((-(m * sum_jk - sum_j * sum_j) * 1000000)
                       // (m * sum_j2 - sum_j * sum_j))
                ELSE ((m * sum_jk - sum_j * sum_j) * 1000000)
                     // (m * sum_j2 - sum_j * sum_j) END AS BIGINT)
               AS assortativity_micro
    FROM sums
    """


@query(
    "graph_degree_assortativity",
    oracle=_oracle_assortativity(),
    tags=("graph",),
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8 depth: DEGREE ASSORTATIVITY (Newman 2002) of the sparsified
    trade graph — do high-degree trading hubs connect to other hubs
    (r > 0, social-network mixing) or to spokes (r < 0, the
    hub-and-spoke / technological pattern)? The one-number structure
    summary that tells a graph pipeline whether hot-key mitigations
    (salting, hub caps) will be load-bearing: disassortative graphs
    concentrate wedge work around hubs.

    Exactness: over the symmetric directed-edge list, Pearson's r has
    equal marginal variances, so the usual sqrt denominator collapses
    and r = (M·Σjk − (Σj)²) / (M·Σj² − (Σj)²) — a ratio of exact
    BIGINT sums. The micro quantization divides toward zero, spelled
    with an explicit sign split on BOTH engines because DuckDB ``//``
    floors negatives while Spark ``div`` truncates — assortativity is
    routinely negative, so this seam would flip the last digit
    silently. Zero variance (k-regular graph) returns 0 by guard on
    both engines; at web scale (Σjk approaching 1e18) the two
    quadratic sums (Σjk, Σj²) ACCUMULATE in DECIMAL(38,0) — the gini
    precedent — while m and Σj stay BIGINT: they are linear in edge
    count and degree, and the top-60 sparsification cap bounds them
    far below 2^63 (all four still enter the ratio arithmetic as
    DECIMAL, so the cross products m·Σj² and (Σj)² cannot wrap).

    Plan: the edge build is the shared lineitem⋈orders tree every
    graph kernel pays (dominant cost at test SF); after the top-60
    sparsification everything is edge-grain — one degree aggregate,
    two broadcast degree joins onto the edge list, one 1-row sum. At
    real graph scale the degree relation passes the broadcast
    threshold and the joins become edge-keyed shuffles; the final
    statistic is a single map-side-combinable reduction either way."""
    with cache_scope():
        und = scoped_persist(_trade_top_und(spark, sf_dir))
        with _edge_window(und):
            return collect_release(degree_assortativity_from(und))


def degree_assortativity_from(und: DataFrame) -> DataFrame:
    """Statistic core behind :func:`graph_degree_assortativity` over
    an undirected edge list ``(a, b)``; factored out so the unit test
    can pin r on constructed graphs (star -> strongly negative,
    k-regular -> denominator guard, two-clique chain -> positive).
    Caller holds the cache scope persisting ``und``."""
    adj = und.select(F.col("a").alias("src"), F.col("b").alias("dst")).union(
        und.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    deg = adj.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    dj = deg.select(F.col("node").alias("src"), F.col("deg").alias("deg_j"))
    dk = deg.select(F.col("node").alias("dst"), F.col("deg").alias("deg_k"))
    # The Σjk/Σj² accumulators run in DECIMAL(38,0): Spark sums BIGINT
    # as BIGINT (silent non-ANSI wraparound) while the DuckDB oracle
    # widens to HUGEINT, so a 64-bit accumulator diverges silently at
    # web scale instead of failing loudly (ADVICE r12 — the gini
    # accumulator fix applied here); the ratio arithmetic below stays
    # in DECIMAL(38,0) end-to-end, with the sign split preserved
    # because DuckDB ``//`` floors negatives where truncation toward
    # zero is the documented contract.
    sums = (
        adj.join(F.broadcast(dj), "src")
        .join(F.broadcast(dk), "dst")
        .agg(
            F.count(F.lit(1)).cast("long").alias("m"),
            F.sum("deg_j").cast("long").alias("sum_j"),
            F.sum(F.col("deg_j").cast("decimal(19,0)") * F.col("deg_k")).alias(
                "sum_jk_d"
            ),
            F.sum(F.col("deg_j").cast("decimal(19,0)") * F.col("deg_j")).alias(
                "sum_j2_d"
            ),
        )
    )
    ratio = sums.select(
        "m",
        "sum_j",
        "sum_jk_d",
        "sum_j2_d",
        F.expr(
            "CAST(m AS DECIMAL(38,0)) * sum_jk_d"
            " - CAST(sum_j AS DECIMAL(38,0)) * CAST(sum_j AS DECIMAL(38,0))"
        ).alias("num"),
        F.expr(
            "CAST(m AS DECIMAL(38,0)) * sum_j2_d"
            " - CAST(sum_j AS DECIMAL(38,0)) * CAST(sum_j AS DECIMAL(38,0))"
        ).alias("den"),
    )
    return ratio.select(
        F.col("m").alias("m_directed_edges"),
        "sum_j",
        F.col("sum_jk_d").cast("long").alias("sum_jk"),
        F.col("sum_j2_d").cast("long").alias("sum_j2"),
        F.expr(
            "CAST(CASE WHEN den = 0 THEN 0"
            " WHEN num < 0"
            " THEN -((((-num) * 1000000) - (((-num) * 1000000) % den)) / den)"
            " ELSE ((num * 1000000) - ((num * 1000000) % den)) / den"
            " END AS BIGINT)"
        ).alias("assortativity_micro"),
    )


def _oracle_clustering() -> str:
    return """
    WITH base AS (
        SELECT DISTINCT s.s_nationkey AS src, c.c_nationkey AS dst
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE s.s_nationkey <> c.c_nationkey
    ),
    und AS (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM base
    ),
    deg AS (
        SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
            SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und
        ) GROUP BY node
    ),
    tris AS (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM und e1
        JOIN und e2 ON e2.a = e1.b
        JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    per_node AS (
        SELECT node, CAST(count(*) AS BIGINT) AS triangles FROM (
            SELECT x AS node FROM tris
            UNION ALL SELECT y AS node FROM tris
            UNION ALL SELECT z AS node FROM tris
        ) GROUP BY node
    )
    SELECT n.n_name AS nation, d.deg,
           CAST(coalesce(p.triangles, 0) AS BIGINT) AS triangles,
           CAST(CASE WHEN d.deg < 2 THEN 0
                ELSE (2000000 * coalesce(p.triangles, 0))
                     // (d.deg * (d.deg - 1)) END AS BIGINT) AS cc_micro
    FROM deg d
    LEFT JOIN per_node p ON p.node = d.node
    JOIN nation n ON n.n_nationkey = d.node
    """


@query("graph_clustering_coeff", oracle=_oracle_clustering(), tags=("graph",))
def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8 depth: LOCAL CLUSTERING COEFFICIENT per node — cc_v =
    2·tri_v / (deg_v·(deg_v−1)), the how-clique-like-is-this-
    neighborhood number that grades dedup cluster tightness (a
    near-dup cluster whose pair graph has cc ≈ 1 is one document in
    many renderings; cc ≈ 0 with high degree is a hub stitching
    unrelated docs — exactly the cluster the canonical-keep rule
    should NOT collapse). Builds on the same degree-oriented wedge
    machinery as graph_triangle_count (per-node triangle membership
    counts instead of the nation rollup) plus the node-degree
    relation; the ratio is exact micro-unit integer division with a
    deg<2 guard, and zero-triangle nodes stay visible via the left
    join — both engines emit identical BIGINTs.

    Scale shape: identical to the triangle kernel — O(m^1.5) wedges
    under orientation, equi-join close, degree broadcast below the
    node threshold. The extra cost over triangle counting is one
    node-keyed left join of two node-sized relations: free at any
    scale where triangles themselves are feasible."""
    n = t(spark, sf_dir, "nation")
    with cache_scope():
        und = scoped_persist(_trade_und(spark, sf_dir))
        with _edge_window(und):
            out = clustering_coeff_from(und).join(
                F.broadcast(n), F.col("node") == n.n_nationkey
            ).select(F.col("n_name").alias("nation"), "deg", "triangles", "cc_micro")
            return collect_release(out)


def clustering_coeff_from(und: DataFrame) -> DataFrame:
    """Per-node clustering-coefficient core over an undirected edge
    list ``(a, b)`` with a < b → ``(node, deg, triangles, cc_micro)``.
    Factored out so the unit test can pin cc on constructed graphs
    (triangle-plus-pendant, clique, star). Caller holds the cache
    scope persisting ``und``; the degree and oriented relations
    persist inside it too (each feeds two plan branches)."""
    deg = scoped_persist(
        und.select(F.col("a").alias("node"))
        .union(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("deg"))
    )
    da = F.broadcast(deg.select(F.col("node").alias("a"), F.col("deg").alias("da")))
    db = F.broadcast(deg.select(F.col("node").alias("b"), F.col("deg").alias("db")))
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = scoped_persist(
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
            F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dv"),
        )
    )
    e1 = oriented.select("u", F.col("v").alias("v1"), F.col("dv").alias("d1"))
    e2 = oriented.select("u", F.col("v").alias("v2"), F.col("dv").alias("d2"))
    wedges = e1.join(e2, "u").where(
        (F.col("d1") < F.col("d2"))
        | ((F.col("d1") == F.col("d2")) & (F.col("v1") < F.col("v2")))
    )
    tris = wedges.join(
        oriented.select(F.col("u").alias("v1"), F.col("v").alias("v2")),
        ["v1", "v2"],
    ).select("u", "v1", "v2")
    members = (
        tris.select(F.col("u").alias("node"))
        .union(tris.select(F.col("v1").alias("node")))
        .union(tris.select(F.col("v2").alias("node")))
    )
    per_node = members.groupBy("node").agg(
        F.count("*").cast("long").alias("triangles")
    )
    return deg.join(per_node, "node", "left").select(
        "node",
        "deg",
        F.coalesce(F.col("triangles"), F.lit(0)).cast("long").alias("triangles"),
        F.expr(
            "CAST(CASE WHEN deg < 2 THEN 0"
            " ELSE (2000000 * coalesce(triangles, CAST(0 AS BIGINT)))"
            "      DIV (deg * (deg - 1)) END AS BIGINT)"
        ).alias("cc_micro"),
    )


# --- HITS hubs & authorities (round 14) ---------------------------------

_HITS_ITERS = 4
_HITS_MICRO = 1_000_000


def hits_from_edges(edges_raw: DataFrame, iters: int = _HITS_ITERS) -> DataFrame:
    """EXACT-INTEGER HITS (Kleinberg) core over an ``(src, dst, w)``
    BIGINT-weighted directed edge list → ``(node, hub_micro,
    auth_micro)``. Callers must hold an active cache_scope; the result
    is localCheckpointed like the pagerank core.

    Unlike graph_pagerank (doubles, 6-dp rounded), every HITS round
    here is integer arithmetic end-to-end: scores live in micro units
    (1e6 = 1.0 of L1 mass), the mutual-reinforcement sums Σ hub·w /
    Σ auth·w accumulate in DECIMAL(38,0)/HUGEINT, and each L1
    normalization is a truncating integer division (score·1e6 div
    total — nonnegative, so truncation ≡ floor ≡ DuckDB ``//``). No
    float enters at any round, so partial-aggregation ORDER cannot
    perturb anything — the per-round quantization to 1e-6 of L1 mass
    is the documented (and deterministic) contract, not an error term.

    Scale shape: per round, two node-sized join+aggregate passes over
    the once-persisted edge relation, each followed by a 1-row total
    broadcast (that hint stays — a scalar is always broadcastable).
    The node-sized score relation broadcasts only under a SIZE-DERIVED
    switch (n_nodes <= the pagerank broadcast threshold, from the same
    count the partitioning already pays — never an unconditional hint,
    so a web-scale node domain cannot OOM the driver; ADVICE r14);
    above the threshold both sides shuffle on the node key. The
    conditional matters inside the AQE-off loop window below: the
    round relations are localCheckpointed LogicalRDDs whose size
    statistics are unknown, so without the switch every round join
    plans as sort-merge even for a 25-node graph (measured ~+0.8 s
    over the 4 rounds at sf0.1). Lineage cut per round via
    localCheckpoint (the pagerank 2.4x lesson)."""
    # The count sizes the graph AND materializes the persist the
    # partitioned edge relation is read from, so the caller's edge
    # build runs once.
    edges_raw = scoped_persist(edges_raw)
    n_edges = edges_raw.count()
    n_parts = partitions_for(n_edges)
    edges = scoped_persist(edges_raw.repartition(n_parts, "src"))
    nodes, _, j = _graph_nodes(edges, n_parts)
    edges_raw.unpersist()  # the rounds read only the partitioned edges

    def norm(raw: DataFrame, key: str, out: str, checkpoint: bool) -> DataFrame:
        tot = raw.agg(F.sum("raw").alias("tot"))
        res = (
            nodes.join(j(raw.withColumnRenamed(key, "node")), "node", "left")
            .crossJoin(F.broadcast(tot))
            .select(
                "node",
                F.expr(
                    "CAST(CASE WHEN raw IS NULL OR tot = 0 THEN 0"
                    " ELSE (raw * 1000000 - (raw * 1000000) % tot) / tot"
                    " END AS BIGINT)"
                ).alias(out),
            )
        )
        return res.localCheckpoint() if checkpoint else res

    # The pagerank checkpoint cadence: lineage is cut once per FULL
    # hub/auth round (the half-round auth relation stays lazy inside
    # its round — its one-join subtree re-derives from the checkpointed
    # hub, which is cheaper than an extra eager materialization per
    # half-round; identical outputs, numbers in OPTIMIZATION_r15.md).
    with single_partition_loop(edges_raw.sparkSession, n_edges):
        h = nodes.select(
            "node", F.lit(_HITS_MICRO).cast("long").alias("hub")
        ).localCheckpoint()
        a = None
        for _ in range(iters):
            a_raw = (
                j(h.withColumnRenamed("node", "src"))
                .join(edges, "src")
                .groupBy(F.col("dst"))
                .agg(F.sum(F.col("hub").cast("decimal(38,0)") * F.col("w")).alias("raw"))
            )
            a = norm(a_raw, "dst", "auth", checkpoint=False)
            h_raw = (
                j(a.withColumnRenamed("node", "dst"))
                .join(edges, "dst")
                .groupBy(F.col("src"))
                .agg(F.sum(F.col("auth").cast("decimal(38,0)") * F.col("w")).alias("raw"))
            )
            h = norm(h_raw, "src", "hub", checkpoint=True)
        # Materialize the LAST auth once so the caller's join reads a
        # checkpointed relation instead of re-deriving the final
        # half-round at every downstream action.
        a = a.localCheckpoint()
    return h.join(a, "node")


def _oracle_hits() -> str:
    ctes = [
        """
        edges AS MATERIALIZED (
            SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
                   CAST(count(*) AS BIGINT) AS w
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            GROUP BY src, dst
        )""",
        """
        nodes AS MATERIALIZED (
            SELECT DISTINCT node FROM (
                SELECT src AS node FROM edges
                UNION SELECT dst AS node FROM edges
            )
        )""",
        f"""
        h0 AS MATERIALIZED (SELECT node, CAST({_HITS_MICRO} AS HUGEINT) AS hub FROM nodes)""",
    ]
    for k in range(1, _HITS_ITERS + 1):
        ctes.append(f"""
        araw{k} AS MATERIALIZED (
            SELECT e.dst AS node, sum(CAST(h.hub AS HUGEINT) * e.w) AS raw
            FROM h{k - 1} h JOIN edges e ON e.src = h.node GROUP BY e.dst
        )""")
        ctes.append(f"""
        a{k} AS MATERIALIZED (
            SELECT nodes.node,
                   CASE WHEN r.raw IS NULL
                             OR (SELECT sum(raw) FROM araw{k}) = 0 THEN 0
                        ELSE r.raw * 1000000
                             // (SELECT sum(raw) FROM araw{k}) END AS auth
            FROM nodes LEFT JOIN araw{k} r ON r.node = nodes.node
        )""")
        ctes.append(f"""
        hraw{k} AS MATERIALIZED (
            SELECT e.src AS node, sum(CAST(a.auth AS HUGEINT) * e.w) AS raw
            FROM a{k} a JOIN edges e ON e.dst = a.node GROUP BY e.src
        )""")
        ctes.append(f"""
        h{k} AS MATERIALIZED (
            SELECT nodes.node,
                   CASE WHEN r.raw IS NULL
                             OR (SELECT sum(raw) FROM hraw{k}) = 0 THEN 0
                        ELSE r.raw * 1000000
                             // (SELECT sum(raw) FROM hraw{k}) END AS hub
            FROM nodes LEFT JOIN hraw{k} r ON r.node = nodes.node
        )""")
    return (
        "WITH " + ",".join(ctes) + f"""
        SELECT n.n_name AS nation,
               CAST(h.hub AS BIGINT) AS hub_micro,
               CAST(a.auth AS BIGINT) AS auth_micro
        FROM h{_HITS_ITERS} h
        JOIN a{_HITS_ITERS} a ON a.node = h.node
        JOIN nation n ON n.n_nationkey = h.node
    """
    )


@query("graph_hits_scores", oracle=_oracle_hits(), tags=("graph",))
def graph_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8 depth: HITS hubs & authorities over the DIRECTED
    supplier-nation → customer-nation trade graph — the two-sided
    importance ranking PageRank cannot express: a great SUPPLIER
    nation (hub) is one that ships to the nations everyone buys from;
    a great CUSTOMER nation (authority) is one the best suppliers
    ship to. The mutual-recursion pair is the link-analysis companion
    to graph_pagerank's single random-walk score, and its directed
    edge build shares pagerank's exact lineitem⋈orders tree.

    Four fixed rounds of exact-integer mutual reinforcement with L1
    micro-normalization (see :func:`hits_from_edges` — no float in
    any round, so the oracle's unrolled MATERIALIZED CTE replay
    matches bit-for-bit, a stronger contract than pagerank's 6-dp
    rounding). Output: per nation, hub and authority mass in micro
    units."""
    with cache_scope():
        edges = (
            _trades(spark, sf_dir)
            .groupBy(
                F.col("s_nationkey").alias("src"),
                F.col("c_nationkey").alias("dst"),
            )
            .agg(F.count(F.lit(1)).cast("long").alias("w"))
        )
        scores = hits_from_edges(edges)
        nat = t(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("node"), F.col("n_name").alias("nation")
        )
        return collect_release(
            scores.join(F.broadcast(nat), "node").select(
                "nation",
                F.col("hub").cast("long").alias("hub_micro"),
                F.col("auth").cast("long").alias("auth_micro"),
            )
        )


def _oracle_adamic_adar() -> str:
    return """
    WITH base AS (
        SELECT least(s.s_nationkey, c.c_nationkey) AS a,
               greatest(s.s_nationkey, c.c_nationkey) AS b
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE s.s_nationkey <> c.c_nationkey
    ),
    und AS (
        SELECT a, b FROM (
            SELECT a, b, count(*) AS n_trades
            FROM base GROUP BY a, b
        ) ORDER BY n_trades DESC, a, b LIMIT 60
    ),
    adj AS (
        SELECT a AS n, b AS x FROM und
        UNION ALL
        SELECT b AS n, a AS x FROM und
    ),
    deg AS (
        SELECT n AS node, CAST(count(*) AS BIGINT) AS deg
        FROM adj GROUP BY n
    ),
    wedge AS (
        SELECT p.x AS a, q.x AS b, p.n AS center
        FROM adj p JOIN adj q ON p.n = q.n AND p.x < q.x
    ),
    scored AS (
        SELECT w.a, w.b,
               CAST(count(*) AS BIGINT) AS n_common,
               CAST(sum(CAST(floor(1000000 / ln(CAST(d.deg AS DOUBLE)))
                             AS BIGINT)) AS BIGINT) AS aa_micro
        FROM wedge w JOIN deg d ON d.node = w.center
        GROUP BY w.a, w.b
    )
    SELECT CAST(s.a AS INT) AS a, CAST(s.b AS INT) AS b,
           s.n_common, s.aa_micro
    FROM scored s LEFT JOIN und u ON u.a = s.a AND u.b = s.b
    WHERE u.a IS NULL
    """


@query("graph_adamic_adar", oracle=_oracle_adamic_adar(), tags=("graph",))
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8 depth: ADAMIC-ADAR link prediction over the same sparsified
    undirected nation trade graph as graph_common_neighbors — the
    score that fixed raw common-neighbor counting's hub problem: each
    shared neighbor w contributes 1/ln(deg(w)), so a promiscuous hub
    certifies a missing edge far less than a selective mutual friend
    (Adamic & Adar 2003, the strongest classical unsupervised link
    predictor on most graphs).

    Exactness: the ONLY transcendental is ln(deg) over small integer
    degrees, and each term quantizes to micro-units BEFORE summing —
    floor(1e6/ln(deg)) — so the published score is an exact BIGINT
    sum of integers and aggregation order cannot perturb it. Every
    wedge center is adjacent to both endpoints, so deg ≥ 2 and
    ln > 0 by construction (no zero-division branch needed). The
    unit-test boundary audit proves 1e6/ln(k) sits ≥1e-4 from every
    integer for all k ≤ 4096 — a 2-ulp cross-engine ln difference
    (~3e-10 here) can never flip a floor.

    Scale shape: identical to common-neighbors (the wedge relation is
    inherently Σdeg² — cap per-center lists or block candidates at
    power-law scale); the center-degree lookup is one |nodes|-row
    broadcast join on the wedge stream, and the non-adjacency filter
    one anti-join on the pair key."""
    with cache_scope():
        und = scoped_persist(_trade_top_und(spark, sf_dir))
        with _edge_window(und):
            return collect_release(adamic_adar_from(und))


def adamic_adar_from(und: DataFrame) -> DataFrame:
    """Scoring core behind :func:`graph_adamic_adar` over an
    undirected ``(a, b)`` edge list with a < b — factored out like
    :func:`common_neighbors_from` so the constructed-graph unit test
    can drive it on hand-built edges. Caller holds the cache scope."""
    adj = und.select(F.col("a").alias("n"), F.col("b").alias("x")).union(
        und.select(F.col("b").alias("n"), F.col("a").alias("x"))
    )
    deg = adj.groupBy(F.col("n").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    p, q = adj.alias("p"), adj.alias("q")
    wedge = (
        p.join(q, "n")
        .where(F.col("p.x") < F.col("q.x"))
        .select(F.col("p.x").alias("a"), F.col("q.x").alias("b"), F.col("n"))
    )
    scored = (
        wedge.join(F.broadcast(deg), wedge.n == deg.node)
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_common"),
            F.sum(
                F.expr(
                    "CAST(floor(1000000 / ln(CAST(deg AS DOUBLE))) AS BIGINT)"
                )
            )
            .cast("long")
            .alias("aa_micro"),
        )
    )
    return scored.join(und, ["a", "b"], "left_anti").select(
        F.col("a").cast("int").alias("a"),
        F.col("b").cast("int").alias("b"),
        "n_common",
        "aa_micro",
    )


def _oracle_jaccard_linkpred() -> str:
    # und/adj are MATERIALIZED: DuckDB inlines CTEs by default, and
    # this oracle references the edge list through enough paths (two
    # degree lookups + the wedge self-join + the anti-join) that
    # inlining re-executes the 4-table base build ~9 times (measured
    # 410 s vs 4 s at sf0.1).
    return """
    WITH base AS (
        SELECT least(s.s_nationkey, c.c_nationkey) AS a,
               greatest(s.s_nationkey, c.c_nationkey) AS b
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE s.s_nationkey <> c.c_nationkey
    ),
    und AS MATERIALIZED (
        SELECT a, b FROM (
            SELECT a, b, count(*) AS n_trades
            FROM base GROUP BY a, b
        ) ORDER BY n_trades DESC, a, b LIMIT 60
    ),
    adj AS MATERIALIZED (
        SELECT a AS n, b AS x FROM und
        UNION ALL
        SELECT b AS n, a AS x FROM und
    ),
    deg AS (
        SELECT n AS node, CAST(count(*) AS BIGINT) AS deg
        FROM adj GROUP BY n
    ),
    wedge AS (
        SELECT p.x AS a, q.x AS b
        FROM adj p JOIN adj q ON p.n = q.n AND p.x < q.x
    ),
    common AS (
        SELECT a, b, CAST(count(*) AS BIGINT) AS n_common
        FROM wedge GROUP BY a, b
    ),
    scored AS (
        SELECT c.a, c.b, c.n_common,
               da.deg AS deg_a, db.deg AS deg_b,
               da.deg + db.deg - c.n_common AS u
        FROM common c
        JOIN deg da ON da.node = c.a
        JOIN deg db ON db.node = c.b
    )
    SELECT CAST(s.a AS INT) AS a, CAST(s.b AS INT) AS b,
           s.n_common, s.deg_a, s.deg_b,
           CAST(s.n_common * 1000000 // s.u AS BIGINT) AS jaccard_micro
    FROM scored s LEFT JOIN und un ON un.a = s.a AND un.b = s.b
    WHERE un.a IS NULL
    """


@query("graph_jaccard_link_pred", oracle=_oracle_jaccard_linkpred(), tags=("graph",))
def graph_jaccard_link_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8 depth: JACCARD-coefficient link prediction over the same
    sparsified undirected nation trade graph as
    graph_common_neighbors / graph_adamic_adar — |Γa ∩ Γb| / |Γa ∪ Γb|
    for non-adjacent pairs. Completes the classical link-prediction
    triptych: raw common neighbors over-credits high-degree pairs,
    adamic-adar discounts promiscuous WITNESSES, Jaccard discounts
    promiscuous ENDPOINTS (two hubs sharing 3 of their 40 neighbors
    score far below two villages sharing 3 of 4).

    INTEGER-EXACT, the only family member with no transcendental at
    all: |∩| counts wedges, |∪| = deg(a) + deg(b) − |∩| (exact for
    non-adjacent pairs), and the coefficient publishes as one
    truncating micro division (|∪| ≥ deg(a) ≥ 1 by construction —
    an endpoint of a wedge has at least its center as a neighbor).

    Scale shape: identical to adamic-adar — the wedge relation is
    inherently Σdeg² (cap per-center lists at power-law scale), the
    two endpoint-degree lookups are |nodes|-row broadcast equi-joins,
    and the non-adjacency filter one anti-join on the pair key."""
    with cache_scope():
        und = scoped_persist(_trade_top_und(spark, sf_dir))
        with _edge_window(und):
            return collect_release(jaccard_linkpred_from(und))


def jaccard_linkpred_from(und: DataFrame) -> DataFrame:
    """Scoring core behind :func:`graph_jaccard_link_pred` over an
    undirected ``(a, b)`` edge list with a < b — factored out like
    :func:`adamic_adar_from` so the constructed-graph unit test can
    drive it on hand-built edges. Caller holds the cache scope."""
    adj = und.select(F.col("a").alias("n"), F.col("b").alias("x")).union(
        und.select(F.col("b").alias("n"), F.col("a").alias("x"))
    )
    deg = adj.groupBy(F.col("n").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    p, q = adj.alias("p"), adj.alias("q")
    wedge = (
        p.join(q, "n")
        .where(F.col("p.x") < F.col("q.x"))
        .select(F.col("p.x").alias("a"), F.col("q.x").alias("b"))
    )
    common = wedge.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("long").alias("n_common")
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    scored = (
        common.join(F.broadcast(da), "a")
        .join(F.broadcast(db), "b")
        .withColumn("u", F.col("deg_a") + F.col("deg_b") - F.col("n_common"))
    )
    return scored.join(und, ["a", "b"], "left_anti").select(
        F.col("a").cast("int").alias("a"),
        F.col("b").cast("int").alias("b"),
        "n_common",
        "deg_a",
        "deg_b",
        F.expr(
            "CAST((n_common * 1000000 - (n_common * 1000000) % u) / u AS BIGINT)"
        ).alias("jaccard_micro"),
    )


def _oracle_two_hop_reach() -> str:
    # adj MATERIALIZED for the same reason as the jaccard oracle —
    # inlining re-executes the 4-table base build per reference.
    return """
    WITH base AS (
        SELECT least(s.s_nationkey, c.c_nationkey) AS a,
               greatest(s.s_nationkey, c.c_nationkey) AS b
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE s.s_nationkey <> c.c_nationkey
    ),
    und AS MATERIALIZED (
        SELECT a, b FROM (
            SELECT a, b, count(*) AS n_trades
            FROM base GROUP BY a, b
        ) ORDER BY n_trades DESC, a, b LIMIT 60
    ),
    adj AS MATERIALIZED (
        SELECT a AS n, b AS x FROM und
        UNION ALL
        SELECT b AS n, a AS x FROM und
    ),
    deg AS (
        SELECT n, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY n
    ),
    reach AS (
        SELECT DISTINCT n, x FROM (
            SELECT n, x FROM adj
            UNION ALL
            SELECT p.n, q.x
            FROM adj p JOIN adj q ON q.n = p.x
            WHERE q.x <> p.n
        )
    ),
    cnt AS (
        SELECT n, CAST(count(*) AS BIGINT) AS n_reach2 FROM reach GROUP BY n
    )
    SELECT CAST(d.n AS INT) AS node, d.deg, c.n_reach2
    FROM deg d JOIN cnt c ON c.n = d.n
    """


@query("graph_two_hop_reach", oracle=_oracle_two_hop_reach(), tags=("graph",))
def graph_two_hop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8 depth: TWO-HOP REACH per node — how many distinct nodes sit
    within ≤ 2 hops, the neighborhood-growth statistic behind
    friend-of-friend recommendation candidate pools, ANF/effective-
    diameter estimation (this is the exact N(v, 2) that sketch
    methods approximate), and gossip/propagation fan-out bounds.
    Complements the link-prediction family, which scores individual
    non-adjacent PAIRS — this sizes each node's whole 2-ball.

    Exact by construction: the 2-ball is the distinct union of direct
    neighbors and wedge endpoints (self excluded); counts are plain
    BIGINTs — no division, no transcendental, nothing to quantize.

    Scale shape: the wedge expansion is the family's Σdeg² relation
    (hot-node cap at power-law scale, documented on the common-
    neighbors kernel); the distinct collapse shuffles on the node key
    and at web scale is exactly the workload the ANF/HyperBall sketch
    family (rows-only territory) would replace — this operator IS
    their exactness oracle."""
    with cache_scope():
        und = scoped_persist(_trade_top_und(spark, sf_dir))
        with _edge_window(und):
            return collect_release(two_hop_reach_from(und))


def two_hop_reach_from(und: DataFrame) -> DataFrame:
    """Counting core behind :func:`graph_two_hop_reach` over an
    undirected ``(a, b)`` edge list with a < b — factored out like
    :func:`jaccard_linkpred_from` for constructed-graph unit tests.
    Caller holds the cache scope."""
    adj = scoped_persist(
        und.select(F.col("a").alias("n"), F.col("b").alias("x")).union(
            und.select(F.col("b").alias("n"), F.col("a").alias("x"))
        )
    )
    deg = adj.groupBy("n").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    p, q = adj.alias("p"), adj.alias("q")
    hop2 = (
        p.join(q, F.col("q.n") == F.col("p.x"))
        .where(F.col("q.x") != F.col("p.n"))
        .select(F.col("p.n").alias("n"), F.col("q.x").alias("x"))
    )
    reach = adj.select("n", "x").union(hop2).distinct()
    cnt = reach.groupBy("n").agg(F.count(F.lit(1)).cast("long").alias("n_reach2"))
    return deg.join(cnt, "n").select(
        F.col("n").cast("int").alias("node"), "deg", "n_reach2"
    )
