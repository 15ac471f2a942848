"""SQL-string entry surface + iterative graph traversal.

Q20 exercises the `spark.sql(...)` path end-to-end over
`catalog.register_views` — the engine's second front door (the
reference's users write SQL against the catalog, SURVEY.md §2.11).

Q21 is the STAGE_DEPENDENCY transitive traversal that round 1 scoped
out (/root/reference/test.mmd:52-58, VERDICT r1 missing #3): the full
ancestor closure of the within-order precedence chain — built as a
driver loop (the pre-Spark-4 form, and still the shape that admits
path-doubling); q94 below runs the ENGINE-NATIVE WITH RECURSIVE that
Spark 4.1 added (SPARK-24497) over the same chain. Round 3
upgraded the one-hop frontier join to PATH DOUBLING (repeated
squaring): ceil(log2 depth) barrier rounds instead of depth rounds,
with multiplicity bookkeeping to preserve the recursion's bag
semantics (see q21_dependency_closure). localCheckpoint between rounds
truncates the exponentially-growing lineage (the classic
iterative-algorithm trap on Spark). The DuckDB oracle is the same
closure via WITH RECURSIVE — a full cross-engine check of an
iterative algorithm.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load, register_views
from ..session import local_frame


# ---------------------------------------------------------------------------
# Q20 — the SQL front door: same relational semantics as q2's grouped
# agg, but entering through spark.sql over registered views.
# ---------------------------------------------------------------------------
Q20_TEXT = """
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,4))), 2) AS DOUBLE) AS total_price
FROM orders
WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q20_sql_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(Q20_TEXT)


Q20_SQL = Q20_TEXT  # dialect-shared: the same text runs on DuckDB


# ---------------------------------------------------------------------------
# Q21 — transitive dependency closure (iterative frontier join).
# Edges: within an order, line n+1 depends on line n (the q19 chain).
# Output: every (descendant, ancestor) pair with its path depth.
# ---------------------------------------------------------------------------
_UNROLL_DEPTH = 8  # closures at most this deep take the single-plan fast path


def q21_dependency_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load(spark, sf_dir, "lineitem")
    edges = (
        lineitem.alias("c")
        .join(
            lineitem.alias("p"),
            (F.col("c.l_orderkey") == F.col("p.l_orderkey"))
            & (F.col("c.l_linenumber") == F.col("p.l_linenumber") + 1),
        )
        .select(
            F.col("c.l_orderkey").alias("orderkey"),
            F.col("c.l_linenumber").alias("child_line"),
            F.col("p.l_linenumber").alias("parent_line"),
        )
    )
    # Path-doubling (repeated squaring): round k covers every path of
    # length <= 2^k, so a depth-d closure takes ceil(log2 d) barrier
    # rounds instead of d frontier hops — the difference between 10 and
    # 1000 sequential jobs on a depth-1000 chain. The recursion has BAG
    # semantics (lineitem carries duplicate (orderkey, linenumber) rows,
    # and the oracle's UNION ALL multiplies path counts), so edges are
    # first collapsed to (edge, mult); squaring multiplies mults, and in
    # this chain graph every (child, ancestor) pair has exactly one
    # underlying path, so any split of it yields the same depth and the
    # same mult product — the per-round dropDuplicates keeps one
    # representative safely. The bag is re-expanded at the end.
    # localCheckpoint per round truncates the exponentially-growing
    # lineage; the round count comes from one cheap max(l_linenumber)
    # agg, not a per-round emptiness probe.
    edges = (
        edges.groupBy("orderkey", "child_line", "parent_line")
        .agg(F.count(F.lit(1)).alias("mult"))
        .localCheckpoint(eager=True)  # computed once, reused every round
    )
    max_depth = (
        lineitem.agg(F.max("l_linenumber").alias("m")).collect()[0].m or 1
    ) - 1
    closure = edges.withColumn("depth", F.lit(1))
    if max_depth <= _UNROLL_DEPTH:
        # Shallow-closure fast path (VERDICT r3): for bounded depth,
        # unroll the frontier extension into ONE declarative plan —
        # max_depth-1 chained joins, no per-round driver barrier, no
        # dropDuplicates, no checkpoints. In this chain graph every
        # (child, ancestor) pair has exactly one path, so the unrolled
        # union is already duplicate-free. Catalyst/AQE schedule the
        # whole DAG as one job; the doubling loop below remains the
        # unbounded-depth path.
        step = edges.select(
            F.col("orderkey").alias("r_orderkey"),
            F.col("child_line").alias("r_child"),
            F.col("parent_line").alias("r_parent"),
            F.col("mult").alias("r_mult"),
        )
        cur = closure
        for lvl in range(max_depth - 1):
            cur = cur.join(
                step,
                (F.col("orderkey") == F.col("r_orderkey"))
                & (F.col("parent_line") == F.col("r_child")),
            ).select(
                "orderkey",
                "child_line",
                F.col("r_parent").alias("parent_line"),
                (F.col("depth") + 1).alias("depth"),
                (F.col("mult") * F.col("r_mult")).alias("mult"),
            )
            # pin every SECOND depth level (r12, VERDICT r11 #1):
            # `cur` feeds BOTH the next level's join and the union, and
            # Catalyst does no CSE, so with no pins every union branch
            # re-expanded the whole join chain from scratch — level k
            # re-paid k-1 joins (plan-audited r11: 15 SortMergeJoins
            # for a depth-7 closure instead of 6). r11 pinned EVERY
            # level (joins exactly linear) but the driver bench
            # regressed 0.777 and it reproduced at 8 cores — at small
            # SF each lazy-checkpoint level pays a block
            # materialization plus lost codegen fusion. The r12
            # four-variant probe (min-of-4 paired, identical
            # checksums): none 2.32 s / alt 2.58 s /
            # all 2.92 s / persist 2.98 s at sf0.1. Pinning alternate
            # levels keeps the join count ~1.5x linear (an unpinned
            # arm re-expands at most one extra join back to the last
            # pin — 7 joins for depth 6, vs 15 unpinned) with half the
            # materialization barriers; still one driver action.
            if lvl % 2 == 1:
                cur = cur.localCheckpoint(eager=False)
            closure = closure.unionByName(cur)
        return (
            closure.withColumn("__i", F.explode(F.sequence(F.lit(1), F.col("mult"))))
            .drop("__i", "mult")
            .orderBy("orderkey", "child_line", "parent_line")
        )
    reach = 1
    while reach < max_depth:
        # rename-before-join instead of alias(): both sides of this
        # self-join descend from the same checkpointed plan, where
        # alias-qualified F.col references can silently resolve to one
        # side (the Spark self-join ambiguity trap) — distinct column
        # names make misresolution impossible.
        rhs = closure.select(
            F.col("orderkey").alias("r_orderkey"),
            F.col("child_line").alias("r_child"),
            F.col("parent_line").alias("r_parent"),
            F.col("depth").alias("r_depth"),
            F.col("mult").alias("r_mult"),
        )
        sq = closure.join(
            rhs,
            (F.col("orderkey") == F.col("r_orderkey"))
            & (F.col("parent_line") == F.col("r_child")),
        ).select(
            "orderkey",
            "child_line",
            F.col("r_parent").alias("parent_line"),
            (F.col("depth") + F.col("r_depth")).alias("depth"),
            (F.col("mult") * F.col("r_mult")).alias("mult"),
        )
        closure = (
            closure.unionByName(sq)
            .dropDuplicates(["orderkey", "child_line", "parent_line"])
            .localCheckpoint(eager=True)
        )
        reach *= 2
    # re-expand to bag semantics: one output row per underlying path
    return (
        closure.withColumn("__i", F.explode(F.sequence(F.lit(1), F.col("mult"))))
        .drop("__i", "mult")
        .orderBy("orderkey", "child_line", "parent_line")
    )


Q21_SQL = """
WITH RECURSIVE edges AS (
  SELECT c.l_orderkey AS orderkey,
         c.l_linenumber AS child_line,
         p.l_linenumber AS parent_line
  FROM lineitem c
  JOIN lineitem p ON c.l_orderkey = p.l_orderkey
                 AND c.l_linenumber = p.l_linenumber + 1
), closure AS (
  SELECT orderkey, child_line, parent_line, 1 AS depth FROM edges
  UNION ALL
  SELECT cl.orderkey, cl.child_line, e.parent_line, cl.depth + 1
  FROM closure cl
  JOIN edges e ON cl.orderkey = e.orderkey AND cl.parent_line = e.child_line
)
SELECT orderkey, child_line, parent_line, depth
FROM closure
ORDER BY orderkey, child_line, parent_line
"""


QUERIES = {
    "q20_sql_entry": q20_sql_entry,
    "q21_dependency_closure": q21_dependency_closure,
}

ORACLES = {
    "q20_sql_entry": Q20_SQL,
    "q21_dependency_closure": Q21_SQL,
}


# ---------------------------------------------------------------------------
# Q94 — ENGINE-NATIVE recursive CTE through the SQL front door.
# Spark 4.1 ships WITH RECURSIVE (SPARK-24497), so the traversal family
# gains a third, engine-executed implementation next to q21's manual
# path-doubling and the oracle's DuckDB recursion: the IDENTICAL SQL
# text runs on both engines, and the hash-match certifies Catalyst's
# new recursive execution against an independent native implementation
# — plus per-step arithmetic (a path-accumulated quantity), which the
# closure-shape queries don't exercise.
#
# Semantics: within each order the lineitem precedence chain (q19/q21's
# edges) is walked from line 1, accumulating CAST(l_quantity AS BIGINT)
# along the path; duplicate (orderkey, linenumber) rows give the
# recursion BAG semantics — UNION ALL multiplies paths identically in
# both engines. The output aggregates per depth (paths, distinct
# orders, total path quantity), so result transfer is 7 rows while the
# hash still pins every path's existence and sum.
#
# Scale shape: each recursion level is one equi-join of the frontier
# against the (orderkey-partitioned) lineitem scan — cost per level is
# one shuffle, level count = chain depth (7 here), not data volume.
# The 10%-of-orders partition filter is pushed into the anchor scan.
# Ledger note: Spark pays its fixed per-iteration stage floor 7 times
# (~4-5 s at any tiny SF) while DuckDB's in-process recursive executor
# replays in milliseconds — the ratio is the iteration floor, not the
# plan; at 100x data the per-level join cost, not the floor, dominates.
# ---------------------------------------------------------------------------
Q94_TEXT = """
WITH RECURSIVE chain AS (
  SELECT l_orderkey AS orderkey, l_linenumber AS line,
         CAST(l_quantity AS BIGINT) AS cum_qty, 1 AS depth
  FROM lineitem WHERE l_linenumber = 1 AND l_orderkey % 10 = 0
  UNION ALL
  SELECT c.orderkey, l.l_linenumber, c.cum_qty + CAST(l.l_quantity AS BIGINT),
         c.depth + 1
  FROM chain c JOIN lineitem l
    ON l.l_orderkey = c.orderkey AND l.l_linenumber = c.line + 1
)
SELECT depth,
       COUNT(*) AS n_paths,
       COUNT(DISTINCT orderkey) AS n_orders,
       CAST(SUM(cum_qty) AS BIGINT) AS total_path_qty
FROM chain
GROUP BY depth
ORDER BY depth
"""


def q94_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    # Only orderkey % 10 = 0 rows can ever join the chain (the anchor
    # fixes the orderkey set and the step preserves it), but Spark
    # re-plans the step per level, rescanning full lineitem each
    # iteration. Materialize the 1/10th participating projection once
    # (q120's materialize-once discipline); the oracle keeps the
    # self-contained text — results identical by the anchor invariant.
    spark.sql(
        """
        SELECT l_orderkey AS orderkey, l_linenumber AS line,
               CAST(l_quantity AS BIGINT) AS qty
        FROM lineitem WHERE l_orderkey % 10 = 0
        """
    ).localCheckpoint(eager=False).createOrReplaceTempView("q94_lines")
    return spark.sql(
        """
        WITH RECURSIVE chain AS (
          SELECT orderkey, line, qty AS cum_qty, 1 AS depth
          FROM q94_lines WHERE line = 1
          UNION ALL
          SELECT c.orderkey, l.line, c.cum_qty + l.qty, c.depth + 1
          FROM chain c JOIN q94_lines l
            ON l.orderkey = c.orderkey AND l.line = c.line + 1
        )
        SELECT depth,
               COUNT(*) AS n_paths,
               COUNT(DISTINCT orderkey) AS n_orders,
               CAST(SUM(cum_qty) AS BIGINT) AS total_path_qty
        FROM chain
        GROUP BY depth
        ORDER BY depth
        """
    )


Q94_SQL = Q94_TEXT  # dialect-shared: the same text runs on DuckDB

QUERIES["q94_recursive_cte"] = q94_recursive_cte
ORACLES["q94_recursive_cte"] = Q94_SQL


# ---------------------------------------------------------------------------
# Q39 — PageRank over the part↔supplier co-occurrence graph, 3 fixed
# iterations, ALL-INTEGER arithmetic (micro-units; damping 0.85 as
# (85*s) DIV 100) so every engine computes bit-identical ranks — FP
# PageRank can never hash-match across engines, integer PageRank must.
# The graph is symmetrized (both edge directions) so no node dangles.
# Scale shape (r8 rework, VERDICT r7 #5): the r3 shape annotated edges
# with the degree and pre-partitioned them, but every iteration still
# planned as a SortMergeJoin — Spark re-EXCHANGED and re-SORTED the
# full edge list per round (plan-audited), which is where the sf10
# 127 s went. Now (a) the per-node contribution r DIV d is folded
# BEFORE the edge join (rank ⋈ deg is a node-sized join; the big join
# carries only (src, dst) × (src, c)), and (b) both per-round joins
# carry SHUFFLE_HASH hints: a shuffled hash join never sorts either
# side, the checkpointed edge list's hash partitioning is reused
# as-is, and only the node-sized contribution frame moves. Each
# iteration is exactly (node-sized contrib exchange) + (contribution
# agg exchange on dst) with map-side partial aggregation; at 1000
# executors the per-partition hash build is the node frame / n_parts —
# the memory-safe side. Round count is fixed (3), not data-dependent.
# ---------------------------------------------------------------------------
_PR_ITERS = 3


def q39_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load(spark, sf_dir, "lineitem")
    e0 = lineitem.select(
        (F.col("l_partkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    ).distinct()
    edges = (
        e0.unionByName(e0.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .repartition(F.col("src"))
        .localCheckpoint(eager=True)  # pinned + hash-partitioned on the join key
    )
    deg = (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("d"))
        .withColumnRenamed("src", "node")
        .localCheckpoint(eager=True)
    )
    rank = deg.select("node", F.lit(1_000_000).alias("r"))
    for _ in range(_PR_ITERS):
        contrib = (
            rank.join(deg.hint("shuffle_hash"), "node")
            .select(F.col("node").alias("src"), F.expr("r DIV d").alias("c"))
        )
        rank = (
            edges.join(contrib.hint("shuffle_hash"), "src")
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
            .select(
                F.col("dst").alias("node"),
                (F.lit(150_000) + F.expr("(85 * s) DIV 100")).alias("r"),
            )
        )
    return (
        rank.groupBy(
            F.when(F.pmod(F.col("node"), F.lit(2)) == 0, F.lit("part"))
            .otherwise(F.lit("supplier"))
            .alias("node_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum("r").alias("total_rank"),
            F.max("r").alias("max_rank"),
        )
        .orderBy("node_type")
    )


Q39_SQL = """
WITH e0 AS (
  SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst FROM lineitem
), edges AS (
  SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0
), deg AS (
  SELECT src, COUNT(*) AS d FROM edges GROUP BY src
), r0 AS (
  SELECT src AS node, CAST(1000000 AS BIGINT) AS r FROM deg
), s1 AS (
  SELECT e.dst AS node, SUM(r0.r // deg.d) AS s
  FROM edges e JOIN r0 ON e.src = r0.node JOIN deg ON e.src = deg.src
  GROUP BY e.dst
), r1 AS (
  SELECT node, CAST(150000 + (85 * s) // 100 AS BIGINT) AS r FROM s1
), s2 AS (
  SELECT e.dst AS node, SUM(r1.r // deg.d) AS s
  FROM edges e JOIN r1 ON e.src = r1.node JOIN deg ON e.src = deg.src
  GROUP BY e.dst
), r2 AS (
  SELECT node, CAST(150000 + (85 * s) // 100 AS BIGINT) AS r FROM s2
), s3 AS (
  SELECT e.dst AS node, SUM(r2.r // deg.d) AS s
  FROM edges e JOIN r2 ON e.src = r2.node JOIN deg ON e.src = deg.src
  GROUP BY e.dst
), r3 AS (
  SELECT node, CAST(150000 + (85 * s) // 100 AS BIGINT) AS r FROM s3
)
SELECT CASE WHEN node % 2 = 0 THEN 'part' ELSE 'supplier' END AS node_type,
       COUNT(*) AS n_nodes,
       CAST(SUM(r) AS BIGINT) AS total_rank,
       CAST(MAX(r) AS BIGINT) AS max_rank
FROM r3
GROUP BY node_type
ORDER BY node_type
"""

QUERIES["q39_pagerank"] = q39_pagerank
ORACLES["q39_pagerank"] = Q39_SQL


# ---------------------------------------------------------------------------
# Q76 — LATERAL join (per-group top-k via a correlated table subquery).
# The third SQL front-door feature after the plain entry (q20) and the
# recursive closure (q21): `FROM outer, LATERAL (correlated sub)` is
# the SQL-standard per-row subtable shape users reach for before they
# learn window functions. Spark decorrelates it (DomainJoin rewrite)
# into the same broadcast-join + per-group TopK physical plan the
# window formulation gets — verified: no BroadcastNestedLoopJoin, the
# nation side broadcasts, rank work is local per group. The IDENTICAL
# SQL text runs on DuckDB (its LATERAL unnesting), so the hash-match
# certifies Spark's decorrelation end-to-end against an independent
# engine. Scale: customers shuffle once on c_nationkey; top-3 per
# group is a bounded per-partition heap, never a global sort.
# ---------------------------------------------------------------------------
Q76_TEXT = """
SELECT n.n_name, t.c_custkey, t.c_name, t.c_acctbal
FROM nation n, LATERAL (
  SELECT c_custkey, c_name, c_acctbal
  FROM customer c
  WHERE c.c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_custkey
  LIMIT 3
) t
ORDER BY n.n_name, t.c_acctbal DESC, t.c_custkey
"""


def q76_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(Q76_TEXT)


QUERIES["q76_lateral_topk"] = q76_lateral_topk
ORACLES["q76_lateral_topk"] = Q76_TEXT


# ---------------------------------------------------------------------------
# Q78 — correlated scalar subquery (per-row aggregate lookup). The
# classic pre-window SQL idiom: each part compared against an
# aggregate over its own group computed in a correlated subquery.
# Spark cannot execute this row-at-a-time — Catalyst DECORRELATES it
# into one grouped aggregate + an equi-join (RewriteCorrelatedScalarSubquery),
# so the physical plan is two scans + one hash agg + one join, scale-
# safe at any cardinality. The identical text runs on DuckDB; the
# hash-match checks the decorrelation preserves per-group semantics
# (including the NULL-on-empty-group scalar contract). Comparison is
# read-value equality on stored doubles — no FP arithmetic.
# ---------------------------------------------------------------------------
Q78_TEXT = """
SELECT p.p_partkey, p.p_brand, p.p_retailprice
FROM part p
WHERE p.p_retailprice = (
  SELECT MAX(p2.p_retailprice) FROM part p2 WHERE p2.p_brand = p.p_brand
)
ORDER BY p.p_brand, p.p_partkey
"""


def q78_correlated_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(Q78_TEXT)


QUERIES["q78_correlated_scalar_subquery"] = q78_correlated_scalar_subquery
ORACLES["q78_correlated_scalar_subquery"] = Q78_TEXT


# ---------------------------------------------------------------------------
# Q80 — FILTER-clause aggregates (SQL:2003 §10.9): per-group
# conditional aggregation without CASE-wrapping, including the
# hardest combination — DISTINCT + FILTER on one aggregate — which
# Catalyst plans as a grouped expand + two-phase agg. The decimal
# SUM rides the _det discipline (exact decimal accumulate, round-2,
# cast double). Identical text on DuckDB; one scan + one hash agg.
# ---------------------------------------------------------------------------
Q80_TEXT = """
SELECT c_mktsegment,
       COUNT(*) AS n_customers,
       COUNT(*) FILTER (WHERE c_acctbal > 5000) AS n_rich,
       COUNT(DISTINCT c_nationkey) FILTER (WHERE c_acctbal > 5000) AS n_rich_nations,
       CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(12,4))) FILTER (WHERE c_acctbal > 0), 2) AS DOUBLE) AS pos_balance
FROM customer
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


def q80_filtered_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(Q80_TEXT)


QUERIES["q80_filtered_aggregates"] = q80_filtered_aggregates
ORACLES["q80_filtered_aggregates"] = Q80_TEXT


# ---------------------------------------------------------------------------
# Q82 — distributed TRIANGLE COUNTING with degree orientation (the
# graph-analytics companion to q21's closure and q39's PageRank).
# Graph: parts co-ordered in the same high-quantity order (bounded
# pair fan-out — ≤ 7 lines per order). The Spark side uses the
# Schank/Wagner MapReduce-classic orientation: every edge points from
# its lower-(degree, id) endpoint to the higher, so each triangle is
# enumerated exactly once from its lowest vertex and the wedge join
# is bounded by Σ out-deg² = O(E^1.5) instead of Σ deg² — THE
# 100 TB-safe triangle shape (hub nodes never fan wedges). The DuckDB
# oracle counts the same triangles via the naive id-ordered triple
# join; the hash-match proves orientation-invariance of the result
# while the plans differ — a genuine cross-algorithm check. Output is
# per-part triangle participation (each triangle credits its 3 parts).
# ---------------------------------------------------------------------------
_TRI_QTY = 45  # quantity floor keeps the co-order graph sparse


def q82_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load(spark, sf_dir, "lineitem")
    li = (
        lineitem.filter(F.col("l_quantity") > _TRI_QTY)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    e = (
        li.alias("a")
        .join(
            li.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .distinct()
    )
    deg = (
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # orientation: lexicographic (degree, id) — an EXPLICIT two-column
    # compare, never a packed scalar (a deg*K + id packing silently
    # loses injectivity once ids reach K, dropping triangles at scale)
    u_lt_v = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    ek = (
        e.join(deg.select(F.col("n").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("n").alias("v"), F.col("d").alias("dv")), "v")
        .select(
            F.when(u_lt_v, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(u_lt_v, F.col("v")).otherwise(F.col("u")).alias("dst"),
            F.when(u_lt_v, F.col("dv")).otherwise(F.col("du")).alias("dst_d"),
        )
    )
    wedges = (
        ek.alias("x")
        .join(
            ek.alias("y"),
            (F.col("x.src") == F.col("y.src"))
            & (
                (F.col("x.dst_d") < F.col("y.dst_d"))
                | (
                    (F.col("x.dst_d") == F.col("y.dst_d"))
                    & (F.col("x.dst") < F.col("y.dst"))
                )
            ),
        )
        .select(
            F.col("x.src").alias("a"),
            F.col("x.dst").alias("b"),
            F.col("y.dst").alias("c"),
        )
    )
    closing = ek.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    tri = wedges.join(closing, ["b", "c"], "leftsemi")
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("p_partkey"))
        .groupBy("p_partkey")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
        .orderBy("p_partkey")
    )


Q82_SQL = f"""
WITH li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_quantity > {_TRI_QTY}
),
e AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e e1 JOIN e e2 ON e1.v = e2.u JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
),
member AS (
  SELECT a AS p_partkey FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
SELECT p_partkey, COUNT(*) AS n_triangles
FROM member
GROUP BY p_partkey
ORDER BY p_partkey
"""

QUERIES["q82_triangle_count"] = q82_triangle_count
ORACLES["q82_triangle_count"] = Q82_SQL


# ---------------------------------------------------------------------------
# Q87 — TPC-H Q2-shaped min-cost supplier: the flagship COMPOSED query
# — a derived supply-cost table (lineitem as the partsupp surrogate,
# cost = MIN over stored prices: read-value arithmetic, no FP compute)
# consumed TWICE, once in the outer join chain and once inside a
# correlated scalar subquery that Catalyst must decorrelate WITH the
# region restriction intact; plus broadcast dims and a total order +
# LIMIT. Exercises q78's decorrelation, q3's join chain and O2's
# top-k in one plan — the "does it all compose?" check. Identical
# text runs on DuckDB.
# ---------------------------------------------------------------------------
Q87_TEXT = """
WITH supply AS (
  SELECT l_partkey AS partkey, l_suppkey AS suppkey,
         MIN(l_extendedprice) AS cost
  FROM lineitem
  GROUP BY l_partkey, l_suppkey
)
SELECT s.s_name, n.n_name, p.p_partkey, p.p_type, sp.cost
FROM part p
JOIN supply sp ON sp.partkey = p.p_partkey
JOIN supplier s ON s.s_suppkey = sp.suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
WHERE p.p_size BETWEEN 10 AND 15
  AND r.r_name = 'ASIA'
  AND sp.cost = (
    SELECT MIN(sp2.cost)
    FROM supply sp2
    JOIN supplier s2 ON s2.s_suppkey = sp2.suppkey
    JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey
    JOIN region r2 ON r2.r_regionkey = n2.n_regionkey
    WHERE sp2.partkey = p.p_partkey AND r2.r_name = 'ASIA'
  )
ORDER BY sp.cost, p.p_partkey, s.s_name
LIMIT 20
"""


def q87_mincost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r9 rework (VERDICT r8 #2: 5.1x at sf10, worst non-codec plan).
    # Running Q87_TEXT through spark.sql inlines the twice-consumed
    # `supply` CTE, so the full-lineitem (partkey,suppkey) aggregation
    # executed TWICE (outer join chain + decorrelated per-part MIN),
    # and the decorrelated MIN added its own partkey agg-shuffle plus
    # an equality join back. The DataFrame plan computes supply ONCE
    # and replaces the decorrelated-subquery round trip with a
    # per-partkey MIN *window* over the already ASIA-restricted rows —
    # both legs of the SQL apply the same ASIA restriction, so one
    # frame serves both:
    #   lineitem --(broadcast SEMI join: size-filtered part keys,
    #               ~12% selectivity, pushed BELOW the agg)-->
    #   groupBy(partkey,suppkey) min  [shuffle #1, map-side combine]
    #   --(broadcast INNER join: ASIA suppliers — drops non-ASIA rows
    #      BEFORE the min, preserving the agg's hash partitioning)-->
    #   min-over-Window(partkey)     [exchange-free: HashPartitioning
    #                                 (partkey,suppkey) from the agg
    #                                 satisfies PartitionBy(partkey)'s
    #                                 clustering? NO — the agg shuffles
    #                                 on BOTH keys, so the window adds
    #                                 shuffle #2 over the ~8x-smaller
    #                                 aggregated rows]
    #   --> filter cost == min, broadcast part for p_type, top-20.
    # Two small post-combine shuffles instead of two full-lineitem
    # aggs + decorrelation join. The oracle keeps the original
    # correlated-subquery SQL — the hash-match is cross-algorithm.
    part = load(spark, sf_dir, "part").filter(F.col("p_size").between(10, 15))
    part_keys = part.select(F.col("p_partkey").alias("partkey"))
    asia = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(load(spark, sf_dir, "nation")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(
            load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"))
        .select(F.col("s_suppkey").alias("suppkey"), "s_name", "n_name")
    )
    supply_asia = (
        load(spark, sf_dir, "lineitem")
        .select(
            F.col("l_partkey").alias("partkey"),
            F.col("l_suppkey").alias("suppkey"),
            "l_extendedprice",
        )
        .join(F.broadcast(part_keys), "partkey", "left_semi")
        .groupBy("partkey", "suppkey")
        .agg(F.min("l_extendedprice").alias("cost"))
        .join(F.broadcast(asia), "suppkey")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("partkey")
    return (
        supply_asia.withColumn("min_cost", F.min("cost").over(w))
        .filter(F.col("cost") == F.col("min_cost"))
        .join(
            F.broadcast(part.select("p_partkey", "p_type")),
            F.col("partkey") == F.col("p_partkey"),
        )
        .select("s_name", "n_name", "p_partkey", "p_type", "cost")
        .orderBy("cost", "p_partkey", "s_name")
        .limit(20)
    )


QUERIES["q87_mincost_supplier"] = q87_mincost_supplier
ORACLES["q87_mincost_supplier"] = Q87_TEXT


# ---------------------------------------------------------------------------
# Q120 — DATA-PROPORTIONAL recursive CTE: per-customer order-history
# walk (VERDICT r5 #9's requested q94 companion). q94's chain depth is
# 7 and its frontier is a 10% orderkey slice, so at any SF its wall is
# the per-iteration stage floor; this query's recursion does real
# data-proportional work at every level: the anchor is EVERY customer's
# first order and level k's frontier is every customer with >= k orders
# (TPC-H max ~25), so total recursion volume across levels equals
# |orders| — 1.5M rows at sf1, 1.5B at sf1000 — while depth stays
# bounded by orders-per-customer, not data size.
#
# The ORACLE runs the walk as an engine-native WITH RECURSIVE (the
# ordered next-order edge relation built once via row_number(), each
# level one (custkey, rk) equi-join of the frontier); Spark computes
# the identical result as a cumulative window — see the function body
# for why the linear-chain reduction is lossless and why it is the
# right 100 TB plan. Money accumulates as exact BIGINT cents
# (floor(x*100+0.5)); outer sums CAST to BIGINT (DuckDB HUGEINT would
# reach the client as float64 — the r5 driver hash-red class).
# ---------------------------------------------------------------------------
Q120_TEXT = """
WITH RECURSIVE seq AS (
  SELECT o_custkey AS custkey,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS rk,
         o_orderkey AS orderkey,
         CAST(floor(CAST(o_totalprice AS DOUBLE) * 100.0 + 0.5) AS BIGINT) AS cents
  FROM orders
), walk AS (
  SELECT custkey, rk, orderkey, cents AS cum_cents, 1 AS depth
  FROM seq WHERE rk = 1
  UNION ALL
  SELECT n.custkey, n.rk, n.orderkey, w.cum_cents + n.cents, w.depth + 1
  FROM walk w JOIN seq n ON n.custkey = w.custkey AND n.rk = w.rk + 1
)
SELECT depth,
       COUNT(*) AS n_customers,
       CAST(SUM(cum_cents) AS BIGINT) AS sum_cum_cents,
       CAST(SUM(orderkey) AS BIGINT) AS orderkey_sum
FROM walk
GROUP BY depth
ORDER BY depth
"""


def q120_recursive_order_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    # r8 rework (VERDICT r7 #3): the engine-native WITH RECURSIVE run
    # (kept through r7, q94 still exercises it) re-plans the recursion
    # step per level, so even with the `seq` prelude checkpointed the
    # cost was depth × per-level stage floor — 159.5 s vs DuckDB's
    # 15.6 s at sf10. But THIS walk is a linear chain: rk is a
    # row_number, so every node has exactly one (custkey, rk+1)
    # successor and the recursion's cum_cents is definitionally the
    # running sum of cents over (custkey ORDER BY rk), with depth = rk.
    # The Spark-first physical plan for a linear-chain walk is
    # therefore ONE cumulative window — a single hash partition by
    # custkey, zero iterations, depth-independent (the 100 TB shape:
    # cost is O(|orders|) regardless of orders-per-customer). The
    # ORACLE KEEPS THE WITH RECURSIVE TEXT, so the hash-match is a
    # cross-ALGORITHM proof (recursive walk ≡ prefix sum), the q83
    # discipline. Generic-DAG recursions — where no such reduction
    # exists — remain covered by q94 (engine-native recursion) and
    # q21 (frontier joins with localCheckpoint pinning).
    return spark.sql(
        """
        WITH seq AS (
          SELECT o_custkey AS custkey,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate, o_orderkey) AS rk,
                 o_orderkey AS orderkey,
                 CAST(floor(CAST(o_totalprice AS DOUBLE) * 100.0 + 0.5) AS BIGINT)
                   AS cents
          FROM orders
        ), walk AS (
          SELECT CAST(rk AS INT) AS depth,
                 orderkey,
                 SUM(cents) OVER (PARTITION BY custkey ORDER BY rk
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND CURRENT ROW) AS cum_cents
          FROM seq
        )
        SELECT depth,
               COUNT(*) AS n_customers,
               CAST(SUM(cum_cents) AS BIGINT) AS sum_cum_cents,
               CAST(SUM(orderkey) AS BIGINT) AS orderkey_sum
        FROM walk
        GROUP BY depth
        ORDER BY depth
        """
    )


QUERIES["q120_recursive_order_walk"] = q120_recursive_order_walk
ORACLES["q120_recursive_order_walk"] = Q120_TEXT


# ---------------------------------------------------------------------------
# Q145 — k-core decomposition by iterative peel over the co-purchase
# graph (the q82/q39 graph family's density primitive: the 3-core is
# the standard "dense community" backbone used to seed dedup-cluster
# review and graph-based curation; Seidman 1983, Batagelj-Zaversnik).
#
# Semantics are BOUNDED-ROUND by contract (the q103/q39 discipline):
# exactly R=12 peel rounds of "drop every node with degree < K, keep
# edges whose endpoints both survive", emitting one audit row per
# round (nodes removed, nodes/edges remaining). 12 rounds converge to
# the true 3-core at every tested SF (the pytest pins a converged
# final row: n_removed = 0); at a scale where 12 rounds did not
# converge, the row sequence still matches the oracle exactly — the
# operator certifies the peel, round for round.
#
# Scale shape: the edge frame is rebuilt per round by two hash
# semi-joins against the >=K degree set and re-checkpointed, so
# lineage stays flat and each round's shuffle shrinks with the graph.
# Driver sees only ONE 4-scalar row per round (the cluster.py
# closure-loop contract) — never edge data. Degree counting is a
# map-side-combinable union agg; no windows, no BNLJ, no collect of
# anything data-sized.
# ---------------------------------------------------------------------------

_Q145_K = 3
_Q145_ROUNDS = 12


def q145_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load(spark, sf_dir, "lineitem")
    li = (
        lineitem.filter(F.col("l_quantity") > _TRI_QTY)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    e = (
        li.alias("a")
        .join(
            li.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
        .localCheckpoint()
    )
    # Fixpoint-aware peel (r11 optimization): the peel is a monotone
    # fixpoint — once a round removes 0 nodes, keep = every node of e,
    # the semi-joins are identity, and ALL later rounds emit the same
    # row. Detect that (n_removed == 0) and replicate the row instead
    # of paying ~4 more jobs/round on a converged graph; the emitted
    # 12-row sequence is bit-identical to the unrolled oracle. Two
    # more job eliminations vs the r10 shape: n_before (distinct nodes
    # of e) is the PREVIOUS round's n_nodes_after, so only round 1
    # pays a deg.count(); and keep's checkpoint is LAZY, materialized
    # by the keep.count() that follows (r11 fusion — one action pins
    # the blocks the semi-joins then read).
    rows = []
    n_nodes = None  # distinct nodes in current e (= next round's n_before)
    n_edges = None
    converged: tuple[int, int, int] | None = None
    for r in range(1, _Q145_ROUNDS + 1):
        if converged is not None:
            rows.append((r, *converged))
            continue
        deg = (
            e.select(F.col("u").alias("n"))
            .unionAll(e.select(F.col("v").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        # lazy checkpoints, materialized by the counts that follow —
        # one Spark action per frame instead of two (r11 fusion, the
        # operators/cluster.py discipline)
        keep = deg.filter(F.col("d") >= _Q145_K).select("n").localCheckpoint(eager=False)
        n_before = deg.count() if n_nodes is None else n_nodes
        n_kept = keep.count()
        if n_kept == n_before:
            if n_edges is None:
                n_edges = e.count()
            converged = (0, n_before, n_edges)
            rows.append((r, *converged))
            continue
        e = (
            e.join(keep.withColumnRenamed("n", "u"), "u", "leftsemi")
            .join(keep.withColumnRenamed("n", "v"), "v", "leftsemi")
            .localCheckpoint(eager=False)
        )
        # r12 fusion: edge and node counts in ONE action (every row
        # contributes both ends, so count(*) = 2*|E| exactly and
        # countDistinct = |V|) — one driver barrier per active round
        # instead of two; the same job materializes the lazy-
        # checkpointed e. Paired knob probes, both orders (min-of-4,
        # sf0.1): fused 3.23/3.54 vs split 3.87/3.72 mins, medians
        # 3.94/3.91 vs 4.46/4.26. Oracle MATCH sf0.01 + sf0.1.
        st = (
            e.select(F.explode(F.array("u", "v")).alias("n"))
            .agg(
                F.count(F.lit(1)).alias("two_m"),
                F.countDistinct("n").alias("nn"),
            )
            .collect()[0]
        )
        n_edges = st.two_m // 2
        n_nodes = st.nn
        rows.append((r, n_before - n_kept, n_nodes, n_edges))
    return local_frame(
        spark,
        rows,
        "round INT, n_removed BIGINT, n_nodes_after BIGINT, n_edges_after BIGINT",
    ).orderBy("round")


def _q145_sql() -> str:
    parts = [
        f"""
li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_quantity > {_TRI_QTY}
),
e0 AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)"""
    ]
    stats = []
    for r in range(1, _Q145_ROUNDS + 1):
        p = r - 1
        parts.append(f"""
d{r} AS MATERIALIZED (
  SELECT n, COUNT(*) AS d
  FROM (SELECT u AS n FROM e{p} UNION ALL SELECT v AS n FROM e{p})
  GROUP BY n
),
keep{r} AS MATERIALIZED (SELECT n FROM d{r} WHERE d >= {_Q145_K}),
e{r} AS MATERIALIZED (
  SELECT u, v FROM e{p}
  WHERE u IN (SELECT n FROM keep{r}) AND v IN (SELECT n FROM keep{r})
)""")
        stats.append(f"""
SELECT {r} AS round,
       (SELECT COUNT(*) FROM d{r}) - (SELECT COUNT(*) FROM keep{r}) AS n_removed,
       (SELECT COUNT(*) FROM (SELECT u AS n FROM e{r} UNION SELECT v FROM e{r})) AS n_nodes_after,
       (SELECT COUNT(*) FROM e{r}) AS n_edges_after""")
    union = "\nUNION ALL".join(stats)
    return (
        "WITH " + ",".join(parts) + f"""
SELECT CAST(round AS INT) AS round,
       CAST(n_removed AS BIGINT) AS n_removed,
       CAST(n_nodes_after AS BIGINT) AS n_nodes_after,
       CAST(n_edges_after AS BIGINT) AS n_edges_after
FROM ({union})
ORDER BY round
"""
    )


QUERIES["q145_kcore_peel"] = q145_kcore_peel
ORACLES["q145_kcore_peel"] = _q145_sql()
