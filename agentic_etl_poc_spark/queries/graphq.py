"""Graph-analytics battery entries: iterative fixpoint algorithms over
session-memoized graph intermediates.

The connected-components operator (operators/graph.py, driven by d07)
covers the driver-loop-until-convergence shape; this module covers the
FIXED-ITERATION shape — a bounded number of join/aggregate rounds the
optimizer sees whole: g01 writes its rounds as ONE SQL statement over the
session's checkpointed graph, g03 unrolls its frontier levels with a
checkpoint per level.  Everything runs on exact integer arithmetic
(floor-division redistribution) so Spark and the DuckDB oracle agree
bit-for-bit — the classic damped-PageRank double would drift in the last
ulp across engines.

Reference parity: the closest surface in mounikavas/agentic-etl-poc is
the SQL pass-through (etl_agent/tools.py transform_sql); iterative graph
analytics is engine-extension surface (SURVEY.md §2.3 "free in Spark").
"""

from __future__ import annotations

import weakref
from typing import NamedTuple

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from agentic_etl_poc_spark.io_tables import memo, table
from agentic_etl_poc_spark.queries.core import register

PR_SCALE = 1_000_000  # initial integer rank per node
PR_ITERS = 3
PR_TOP = 20

#: bytes per row of the node-scale frames g01 broadcasts — (node, d) and
#: (node, contrib), two BIGINTs each
NODE_ROW_BYTES = 16


class _Graph(NamedTuple):
    edges: DataFrame  # (src, dst), rows hash-partitioned on src
    degrees: DataFrame  # (node, d), one row per node
    n_nodes: int


#: Session-scoped checkpointed graph intermediates — g01 and g03 walk
#: the SAME customer<->supplier interaction graph, and the edge
#: derivation (orders⋈lineitem + 58.7M-pair distinct at sf10) is ~90% of
#: each entry's isolated sf10 wall (38 of 42 s measured).  One battery
#: session derives the edge list and its degree frame once:
#: ``{session: {sf_dir: (fingerprint, graph)}}`` through ``io_tables.memo``,
#: keyed on the data dir's fingerprint, so a rewritten fixture rebuilds
#: the graph.  The memo holds the LogicalRDD-backed frames
#: (localCheckpoint blocks die with the session).  This is the
#: compute-once-fan-out shape the dedup family already uses (minhash
#: stats, twin parts).
_EDGES: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def _graph(spark: SparkSession, sf_dir: str) -> _Graph:
    def build() -> _Graph:
        o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
        li = table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_suppkey"
        )
        pairs = (
            o.join(li, o["o_orderkey"] == li["l_orderkey"])
            .select(
                (F.col("o_custkey") * 2).alias("cnode"),
                (F.col("l_suppkey") * 2 + 1).alias("snode"),
            )
            .distinct()
        )
        edges = pairs.select(
            F.col("cnode").alias("src"), F.col("snode").alias("dst")
        ).unionAll(
            pairs.select(
                F.col("snode").alias("src"), F.col("cnode").alias("dst")
            )
        )
        # clustered on src, the key of every consumer (the degree agg and
        # the rank and frontier joins).  The checkpointed frame reports
        # UnknownPartitioning, so a src-keyed aggregate over it still
        # shuffles — the degree agg's is node-scale (map-side combined)
        e = edges.repartition("src").localCheckpoint(eager=True)
        # the node count is observed during the degree checkpoint's own
        # job (g01's broadcast guard), so it costs no action.
        # localCheckpoint, not persist(): AQE reads a cached frame through
        # a TableCacheQueryStage, and a warm g01 call over a persisted
        # degree frame ran 9 jobs instead of 8
        nodes = Observation()
        deg = (
            e.groupBy(F.col("src").alias("node"))
            .agg(F.count(F.lit(1)).alias("d"))
            .observe(nodes, F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        return _Graph(e, deg, int(nodes.get["n"]))

    return memo(_EDGES, spark, sf_dir, sf_dir, build)


def shared_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The interaction graph's edge list (src, dst) — BOTH directions of
    the distinct customer<->supplier pairs, hash-partitioned on src and
    localCheckpointed once per (session, sf_dir)."""
    return _graph(spark, sf_dir).edges


def shared_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The interaction graph's out-degrees (node, d) — one row per node
    (every node is a src: both edge directions are in the edge list),
    localCheckpointed with the edge list once per (session, sf_dir)."""
    return _graph(spark, sf_dir).degrees


def _broadcast_fits(spark: SparkSession, n_nodes: int) -> bool:
    """Whether a node-scale frame of ``n_nodes`` rows fits the session's
    ``spark.sql.autoBroadcastJoinThreshold`` (a negative one disables
    broadcasting)."""
    conf = spark._jsparkSession.sessionState().conf()
    limit = conf.autoBroadcastJoinThreshold()
    return 0 <= n_nodes * NODE_ROW_BYTES <= limit


def _duck_pr_iter(prev: str, out: str) -> str:
    """One integer PageRank round: floor-div redistribution + damping.
    rank'(v) = 0.15*SCALE + floor(0.85 * sum(rank(u) // deg(u)))."""
    return f"""
c{out} AS (
  SELECT e.dst, SUM({prev}.rank // deg.d) AS s
  FROM e JOIN deg USING (src) JOIN {prev} ON {prev}.node = e.src
  GROUP BY e.dst
),
r{out} AS (
  SELECT dst AS node,
         CAST(150000 + (85 * s) // 100 AS BIGINT) AS rank
  FROM c{out}
)"""


def _spark_pr_sql(edges: str, deg: str, hint: bool) -> str:
    """g01's rounds as one statement over the ``edges`` (src, dst) and
    ``deg`` (node, d) views; the same integer arithmetic as
    ``_duck_pr_iter``.  Each round attaches the node-scale per-edge
    contribution c{k} = rank div d to the edges by one src-keyed join;
    round 1 reads it straight off the degrees (every starting rank is
    PR_SCALE).  ``hint`` broadcasts the two node-scale join sides."""

    def bc(alias: str) -> str:
        return f"/*+ BROADCAST({alias}) */ " if hint else ""

    ctes = [f"c1 AS (SELECT node, {PR_SCALE} div d AS contrib FROM {deg})"]
    for k in range(1, PR_ITERS + 1):
        if k > 1:
            ctes.append(
                f"""c{k} AS (
  SELECT {bc('g')}r.node, r.rank div g.d AS contrib
  FROM r{k - 1} r JOIN {deg} g ON r.node = g.node
)"""
            )
        ctes.append(
            f"""r{k} AS (
  SELECT {bc('c')}e.dst AS node,
         CAST(150000 + (85 * SUM(c.contrib)) div 100 AS BIGINT) AS rank
  FROM {edges} e JOIN c{k} c ON e.src = c.node
  GROUP BY e.dst
)"""
        )
    return (
        "WITH " + ",\n".join(ctes) + f"\nSELECT node, rank FROM r{PR_ITERS}"
        f"\nORDER BY rank DESC, node ASC\nLIMIT {PR_TOP}"
    )


@register(
    "g01_integer_pagerank",
    oracle=f"""
WITH pairs AS (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
e AS (
  SELECT c * 2 AS src, s * 2 + 1 AS dst FROM pairs
  UNION ALL
  SELECT s * 2 + 1 AS src, c * 2 AS dst FROM pairs
),
deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY src),
r0 AS (SELECT src AS node, CAST({PR_SCALE} AS BIGINT) AS rank FROM deg),
{_duck_pr_iter('r0', '1')},
{_duck_pr_iter('r1', '2')},
{_duck_pr_iter('r2', '3')}
SELECT node, rank FROM r3
ORDER BY rank DESC, node ASC
LIMIT {PR_TOP}
""",
    description=f"Integer PageRank, {PR_ITERS} damped rounds written as "
    "ONE SQL statement over the session's memoized graph — the "
    "fixed-iteration graph-fixpoint shape (d07's connected components "
    "covers the loop-until-convergence shape).  The graph is the "
    "customer<->supplier interaction graph (distinct order lineage "
    "pairs, both directions, so no dangling nodes); ranks live on an "
    "integer grid and every redistribution is a FLOOR DIVISION (rank div "
    "degree), every damping step integer (0.15*SCALE + floor(0.85*sum)) "
    "— exact in both engines, where the textbook double formulation "
    "would drift in the final ulp under different summation orders.  "
    "Scale shape: the edge list and its degree frame are checkpointed "
    "once per session (shared with g03), so a call is one parse, one "
    "analysis and the rounds' own jobs; each round computes the "
    "per-edge contribution (rank div degree) on the NODE-scale frame, "
    "attaches it to the src-partitioned edges by one join and sums it by "
    "dst (map-side combinable) — O(|E|) scan, node-scale shuffle.  The "
    "two node-scale join sides are BROADCAST while node count x 16 B "
    "fits the session's autoBroadcastJoinThreshold, and left to the "
    "planner beyond it.  Top-20 is TakeOrderedAndProject.",
)
def g01_integer_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Nothing but the rounds runs per call: the graph and its degrees come
    # from the session memo, and the rounds are one statement, parsed and
    # analyzed once — as ~20 DataFrame calls, each call would re-analyze
    # the growing self-joined plan (warm build at sf0.01 on 4 cores: 0.13 s
    # as one statement, 0.5 s as DataFrame calls plus a degree checkpoint).
    # The node-scale join sides are broadcast (statically the planner saw
    # an unknown-size aggregate and picked sort-merge, which re-SORTED
    # the checkpointed edge list every round) — but only while they fit
    # the session's broadcast threshold.
    shared_edges(spark, sf_dir).createOrReplaceTempView("g01_edges")
    shared_degrees(spark, sf_dir).createOrReplaceTempView("g01_deg")
    hint = _broadcast_fits(spark, _graph(spark, sf_dir).n_nodes)
    return spark.sql(_spark_pr_sql("g01_edges", "g01_deg", hint))


@register(
    "g02_triangle_count",
    oracle="""
WITH pair_orders AS (
  SELECT DISTINCT l1.l_orderkey, l1.l_suppkey AS a, l2.l_suppkey AS b
  FROM lineitem l1
  JOIN lineitem l2
    ON l1.l_orderkey = l2.l_orderkey AND l1.l_suppkey < l2.l_suppkey
),
co AS (
  SELECT a, b FROM pair_orders
  GROUP BY a, b HAVING COUNT(*) >= 5
),
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT a AS node FROM co UNION ALL SELECT b AS node FROM co) u
  GROUP BY node
),
oriented AS (
  SELECT CASE WHEN (da.d < db.d) OR (da.d = db.d AND a < b)
              THEN a ELSE b END AS src,
         CASE WHEN (da.d < db.d) OR (da.d = db.d AND a < b)
              THEN b ELSE a END AS dst
  FROM co
  JOIN deg da ON da.node = a
  JOIN deg db ON db.node = b
),
keyed AS (
  SELECT src, dst, db.d * 100000000 + dst AS dst_ord
  FROM oriented JOIN deg db ON db.node = dst
),
tri AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
  FROM keyed e1
  JOIN keyed e2 ON e1.src = e2.src AND e1.dst_ord < e2.dst_ord
  JOIN oriented e3 ON e3.src = e1.dst AND e3.dst = e2.dst
),
wed AS (
  SELECT CAST(COALESCE(SUM(d * (d - 1) // 2), 0) AS BIGINT) AS n_wedges
  FROM deg
)
SELECT n_triangles, n_wedges,
       CAST(CASE WHEN n_wedges = 0 THEN 0
                 ELSE (3 * n_triangles * 1000000) // n_wedges END AS BIGINT)
         AS closure_ppm
FROM tri, wed
""",
    description="Distributed triangle counting with DEGREE-ORDERED edge "
    "orientation over the supplier co-supply graph (suppliers are "
    "adjacent when they ship lines of the same order in >= 5 DISTINCT "
    "orders — the standard support threshold that prunes coincidental "
    "co-occurrence, and the knob that keeps edge count near-linear in "
    "data size instead of saturating toward the complete graph: the "
    "round-7 scaling audit measured the unthresholded sf1 graph at "
    "4.5M edges over 10k suppliers with ~2.4G wedges — ~560 s of "
    "exact counting — while support>=5 keeps 477k edges / 1.55M "
    "triangles and runs in seconds; small fixtures stay complete "
    "graphs because every pair co-occurs often).  Orientation "
    "is the load-bearing scale idea: each undirected edge points from "
    "its lower-(degree, id) endpoint to the higher, so every triangle "
    "is counted exactly once at its lowest vertex and the wedge join's "
    "per-key fanout is bounded by max OUT-degree = O(sqrt(edges)) even "
    "on power-law graphs — the unoriented wedge join explodes on hub "
    "nodes.  All counts are exact integers (the closure rate is an "
    "integer-division ppm with a zero-wedge guard), so both engines "
    "agree bit-for-bit.  Scale shape: the co-supply self-join fans out "
    "only within an order (bounded lines per order), the per-(order, "
    "pair) DISTINCT and the support count share one shuffle on (a, b), "
    "degrees broadcast (node set is dim-scale), and the wedge join "
    "shuffles oriented edges once on src.",
)
def g02_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    l2 = li.select(
        F.col("l_orderkey").alias("r_orderkey"), F.col("l_suppkey").alias("r_suppkey")
    )
    pair_orders = (
        li.join(
            l2,
            (F.col("l_orderkey") == F.col("r_orderkey"))
            & (F.col("l_suppkey") < F.col("r_suppkey")),
        )
        .select(
            "l_orderkey",
            F.col("l_suppkey").alias("a"),
            F.col("r_suppkey").alias("b"),
        )
        .distinct()
    )
    # The edge list feeds SIX consumers (two degree scans, orientation,
    # the closing-edge probe, and both wedge sides through keyed).
    # Catalyst reuses EXCHANGES, not arbitrary subplans, and per-consumer
    # column pruning makes each subtree distinct — without a boundary the
    # whole lineitem self-join + support aggregation re-executes per
    # consumer (149 s at sf1, measured).  The explicit repartition pins
    # one shared exchange every consumer reuses (14 s at sf1, 9
    # ReusedExchange nodes in the plan).
    co = (
        pair_orders.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 5)
        .select("a", "b")
        .repartition("a", "b")
        # round-12: materialize the thresholded edge list once — the
        # repartition's runtime exchange reuse already deduplicated the
        # EXECUTION, but the six consumers still re-derived the subtree
        # in the static plan (174 Exchanges / 84 scans, planning cost);
        # the frame is support-thresholded-edge-scale (near-linear in
        # data by the >= 5 support knob)
        .localCheckpoint(eager=True)
    )
    deg = (
        co.select(F.col("a").alias("node"))
        .unionAll(co.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("db"))
    fwd = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = (
        co.join(F.broadcast(da), "a")
        .join(F.broadcast(db), "b")
        .select(
            F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("src"),
            F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("dst"),
        )
    )
    dd = deg.select(F.col("node").alias("dst"), F.col("d").alias("dd"))
    keyed = oriented.join(F.broadcast(dd), "dst").select(
        "src", "dst", (F.col("dd") * 100000000 + F.col("dst")).alias("dst_ord")
    )
    e1 = keyed.select(
        F.col("src").alias("s1"), F.col("dst").alias("d1"), F.col("dst_ord").alias("o1")
    )
    e2 = keyed.select(
        F.col("src").alias("s2"), F.col("dst").alias("d2"), F.col("dst_ord").alias("o2")
    )
    wedges = e1.join(e2, (F.col("s1") == F.col("s2")) & (F.col("o1") < F.col("o2")))
    closing = oriented.select(
        F.col("src").alias("c_src"), F.col("dst").alias("c_dst")
    )
    tri = wedges.join(
        closing,
        (F.col("d1") == F.col("c_src")) & (F.col("d2") == F.col("c_dst")),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    wed = deg.agg(
        F.coalesce(F.sum(F.expr("d * (d - 1) div 2")), F.lit(0))
        .cast("bigint")
        .alias("n_wedges")
    )
    return tri.crossJoin(wed).select(
        "n_triangles",
        "n_wedges",
        F.expr(
            "CASE WHEN n_wedges = 0 THEN 0"
            "     ELSE (3 * n_triangles * 1000000) div n_wedges END"
        )
        .cast("bigint")
        .alias("closure_ppm"),
    )


@register(
    "g03_bfs_levels",
    oracle="""
WITH pairs AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
e AS MATERIALIZED (
  SELECT c * 2 AS src, s * 2 + 1 AS dst FROM pairs
  UNION ALL
  SELECT s * 2 + 1 AS src, c * 2 AS dst FROM pairs
),
nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM e),
l0 AS MATERIALIZED (SELECT MIN(node) AS node FROM nodes),
r1 AS MATERIALIZED (SELECT DISTINCT e.dst AS node FROM e JOIN l0 ON e.src = l0.node),
l1 AS MATERIALIZED (SELECT node FROM r1 EXCEPT SELECT node FROM l0),
r2 AS MATERIALIZED (SELECT DISTINCT e.dst AS node FROM e JOIN l1 ON e.src = l1.node),
l2 AS MATERIALIZED (SELECT node FROM r2
       EXCEPT SELECT node FROM l1
       EXCEPT SELECT node FROM l0),
r3 AS MATERIALIZED (SELECT DISTINCT e.dst AS node FROM e JOIN l2 ON e.src = l2.node),
l3 AS MATERIALIZED (SELECT node FROM r3
       EXCEPT SELECT node FROM l2
       EXCEPT SELECT node FROM l1
       EXCEPT SELECT node FROM l0),
lv AS MATERIALIZED (
  SELECT 0 AS level, node FROM l0
  UNION ALL SELECT 1, node FROM l1
  UNION ALL SELECT 2, node FROM l2
  UNION ALL SELECT 3, node FROM l3
),
unreached AS (
  SELECT 99 AS level, node FROM nodes
  WHERE node NOT IN (SELECT node FROM lv)
)
SELECT CAST(level AS INT) AS level,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(SUM(node) AS BIGINT) AS sum_node_ids
FROM (SELECT * FROM lv UNION ALL SELECT * FROM unreached)
GROUP BY level
ORDER BY level
""",
    description="Breadth-first FRONTIER EXPANSION, three levels unrolled "
    "into one lazy plan, over the bipartite customer<->supplier "
    "interaction graph (g01's node encoding: customers even, suppliers "
    "odd — bipartite, so frontiers alternate sides and the graph stays "
    "sparse at every scale where a co-supply projection saturates).  "
    "Each level is one edge join against the previous frontier plus "
    "EXCEPT-dedup against all earlier levels — the iterative frontier "
    "shape (vs g01's full-graph fixpoint and d07's convergence loop); "
    "unreached nodes (other components) report as level 99, so the "
    "output is a complete partition of the node set and the hash "
    "pins every frontier membership decision exactly (levels, counts, "
    "and id-sums are all integers).  Scale shape: each round shuffles "
    "only the FRONTIER keyed on node id (frontier size, not graph "
    "size), the edge list is scanned once per round with the join "
    "pushed on src, and the EXCEPTs are frontier-sized anti-joins; each "
    "round is localCheckpointed (the d07 discipline) — left lazy, the "
    "unrolled plan re-derives the base join ~2^rounds times per "
    "consumer (75 s vs 7 s at sf0.01, measured).  The edge list and the "
    "node set (the key column of the degree frame; the seed is its min) "
    "come from the session's graph memo, shared with g01.",
)
def g03_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The checkpointed edge list and degree frame are session-shared with
    # g01 (see _graph); in a battery session only the first consumer pays
    # the orders⋈lineitem + distinct derivation.
    #
    # The d07 discipline for iterative frontier algorithms: each round's
    # frontier is consumed three times (next round's join, the seen
    # accumulator, the level output) and the accumulator k times more —
    # left lazy, every consumer re-derives the whole upstream chain and
    # the unrolled plan recomputes the base join ~2^rounds times
    # (measured 75 s at sf0.01).  localCheckpoint(eager) materializes
    # each round once and resets its plan to a LogicalRDD scan; the
    # frames are frontier-sized (node ids only), so the checkpoint cost
    # is trivial next to the recompute it prevents (~7 s at sf0.01).
    e = shared_edges(spark, sf_dir)
    # the node set is the session-shared degree frame's key column (every
    # node is a src — both edge directions are in e), and the seed is its
    # min: one scalar aggregate over node-scale rows, no per-call distinct
    nodes = shared_degrees(spark, sf_dir).select("node")
    l0 = nodes.agg(F.min("node").alias("node")).localCheckpoint(eager=True)
    frontiers = [l0]
    seen = l0
    for _ in range(3):
        reach = (
            e.join(frontiers[-1], e["src"] == frontiers[-1]["node"])
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        nxt = reach.join(seen, "node", "left_anti").localCheckpoint(
            eager=True
        )
        frontiers.append(nxt)
        # the accumulator is a lazy union of ALREADY-CHECKPOINTED
        # frontiers: every consumer re-reads materialized blocks, so
        # checkpointing the union itself only added an eager job per
        # round (round-12: 3 fewer jobs, same dataflow)
        seen = seen.unionAll(nxt)
    lv = None
    for level, fr in enumerate(frontiers):
        part = fr.select(F.lit(level).alias("level"), "node")
        lv = part if lv is None else lv.unionAll(part)
    unreached = nodes.join(seen, "node", "left_anti").select(
        F.lit(99).alias("level"), "node"
    )
    return (
        lv.unionAll(unreached)
        .groupBy(F.col("level").cast("int").alias("level"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.sum("node").cast("bigint").alias("sum_node_ids"),
        )
        .orderBy("level")
    )
