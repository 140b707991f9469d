"""Link-graph operators over the domain graph a web corpus induces —
the crawl-frontier / source-weighting side of a training-data pipeline
(PageRank-weighted domain sampling is the classic quality prior for
web text; see Page et al. 1999, and Common Crawl's host-level ranks).

PageRank and HITS are integer micro-unit arithmetic with a FIXED
iteration count, so the DuckDB oracle replays the exact values by
textually unrolling the same iterations (the k-means / IVF precedent in
operators/similarity.py). :func:`connected_components` instead runs to
its fixpoint; its callers' oracles are recursive-CTE transitive
closures, which reach the same min-id labels by construction.

Reference parity note: the reference repo (a single-document OCR
script) has no corpus-level graph pass; this is builder-brief breadth
for the 100 TB training-data pipeline surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: PageRank damping factor as an exact rational: 0.85 = DAMP_NUM/DAMP_DEN.
DAMP_NUM = 17
DAMP_DEN = 20

#: Teleport term in micro-units: (1 - 0.85) * 1e6.
TELEPORT_MICRO = 150_000

#: Fixed power-iteration count. Contract — the oracle unrolls exactly
#: this many iterations.
PAGERANK_ITERS = 3


def pagerank(edges: DataFrame, iters: int = PAGERANK_ITERS) -> DataFrame:
    """Fixed-iteration integer PageRank over a (src, dst) edge list.

    Semantics (the deterministic micro-unit variant): ranks start at
    1e6 per node; each iteration every node sends
    ``(17 * rank) // (20 * out_degree)`` along each distinct out-edge
    and receives ``150000 + Σ incoming`` — i.e. damping 0.85 and
    teleport 0.15 in exact integer arithmetic, so no float summation
    order can diverge between engines. Dangling nodes (no out-edges)
    simply keep the teleport term, the standard simplified variant.

    Scale shape: edges are deduped and degree-annotated once; each
    iteration is one join of the rank table on ``src`` (both sides
    keyed on node — AQE picks shuffle or broadcast by the actual node
    count) and one map-side-combining aggregation on ``dst``. The rank
    table is node-bounded (domains, not documents); document text never
    enters the graph. Iterations are a CONSTANT, so the lineage is a
    fixed-depth plan, not a loop over the corpus."""
    e = edges.select("src", "dst").distinct()
    deg = e.groupBy("src").agg(F.count("*").alias("__deg"))
    ed = e.join(deg, "src")
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    r = nodes.select("node", F.lit(1_000_000).cast("long").alias("rank_micro"))
    for _ in range(iters):
        contrib = ed.join(
            r.withColumnRenamed("node", "src"), "src"
        ).select(
            F.col("dst").alias("node"),
            F.expr(
                f"div({DAMP_NUM} * rank_micro, {DAMP_DEN} * __deg)"
            ).alias("__c"),
        )
        sums = contrib.groupBy("node").agg(F.sum("__c").alias("__s"))
        r = nodes.join(sums, "node", "left").select(
            "node",
            (
                F.lit(TELEPORT_MICRO) + F.coalesce(F.col("__s"), F.lit(0))
            )
            .cast("long")
            .alias("rank_micro"),
        )
    return r


def oracle_pagerank_sql(
    edges_cte: str, iters: int = PAGERANK_ITERS
) -> str:
    """DuckDB replay: given a CTE body named ``e`` (columns src, dst,
    already distinct), unroll ``iters`` power iterations and select the
    final (node, rank_micro). Mirrors :func:`pagerank` exactly —
    BIGINT ``//`` matches Spark's ``div``."""
    parts = [
        f"WITH e AS ({edges_cte}),",
        " deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),",
        " nodes AS (SELECT src AS node FROM e"
        "  UNION SELECT dst FROM e),",
        " r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes)",
    ]
    for k in range(1, iters + 1):
        # the incoming-mass subquery is INNER-joined internally and
        # LEFT-joined to nodes, so a node with no in-edges keeps its
        # row and gets the bare teleport term
        parts.append(
            f", r{k} AS (SELECT n.node, CAST({TELEPORT_MICRO} +"
            f" COALESCE(SUM(x.c), 0) AS BIGINT) AS r"
            f" FROM nodes n LEFT JOIN"
            f" (SELECT e.dst, ({DAMP_NUM} * p.r) //"
            f" ({DAMP_DEN} * deg.deg) AS c"
            f"  FROM e JOIN deg ON deg.src = e.src"
            f"  JOIN r{k - 1} p ON p.node = e.src) x"
            f" ON x.dst = n.node GROUP BY n.node)"
        )
    parts.append(
        f" SELECT node, r AS rank_micro FROM r{iters}"
    )
    return "".join(parts)


#: HITS fixed iteration count and per-iteration normalization scale.
#: Contract — the oracle unrolls exactly this many iterations.
HITS_ITERS = 2
HITS_SCALE = 1_000_000


def hits(edges: DataFrame, iters: int = HITS_ITERS) -> DataFrame:
    """Fixed-iteration integer HITS (Kleinberg 1999) over a (src, dst)
    edge list — the hub/authority complement to :func:`pagerank` for
    source weighting (a domain that links to many authorities is a good
    crawl frontier; a domain many hubs point at is a quality prior).

    Deterministic micro-unit variant: hubs start at HITS_SCALE; each
    iteration computes raw authority = Σ incoming hub, normalizes by
    the corpus-wide raw sum as ``(raw * SCALE) // Σraw`` (exact integer,
    L1-style), then raw hub = Σ outgoing NEW authority, normalized the
    same way — so no float summation order can diverge between engines.
    Requires a non-empty edge set (the normalizing sums are positive).

    Scale shape: per iteration, one join of the node-bounded score
    table on src (then dst) and one map-side-combining aggregation; the
    normalizer is a broadcast 1-row aggregate, never a driver collect.
    The raw×SCALE product bounds node count at ~9e12 before BIGINT
    overflow — at larger graphs drop HITS_SCALE a decade."""
    e = edges.select("src", "dst").distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    h = nodes.select(
        "node", F.lit(HITS_SCALE).cast("long").alias("hub_micro")
    )
    a = None
    for _ in range(iters):
        araw = (
            e.join(h.withColumnRenamed("node", "src"), "src")
            .groupBy("dst")
            .agg(F.sum("hub_micro").alias("__ar"))
            .withColumnRenamed("dst", "node")
        )
        asum = araw.agg(F.sum("__ar").alias("__as"))
        a = (
            nodes.join(araw, "node", "left")
            .crossJoin(F.broadcast(asum))
            .select(
                "node",
                F.expr(
                    f"div(coalesce(__ar, 0L) * {HITS_SCALE}, __as)"
                )
                .cast("long")
                .alias("auth_micro"),
            )
        )
        hraw = (
            e.join(a.withColumnRenamed("node", "dst"), "dst")
            .groupBy("src")
            .agg(F.sum("auth_micro").alias("__hr"))
            .withColumnRenamed("src", "node")
        )
        hsum = hraw.agg(F.sum("__hr").alias("__hs"))
        h = (
            nodes.join(hraw, "node", "left")
            .crossJoin(F.broadcast(hsum))
            .select(
                "node",
                F.expr(
                    f"div(coalesce(__hr, 0L) * {HITS_SCALE}, __hs)"
                )
                .cast("long")
                .alias("hub_micro"),
            )
        )
    return a.join(h, "node")


def oracle_hits_sql(edges_cte: str, iters: int = HITS_ITERS) -> str:
    """DuckDB replay of :func:`hits`: unrolled MATERIALIZED stages (the
    CTE-inlining trap — every score table is multi-referenced); HUGEINT
    ``//`` matches Spark's ``div`` on non-negative operands."""
    parts = [
        f"WITH e AS ({edges_cte}),",
        " nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),",
        f" h0 AS (SELECT node, CAST({HITS_SCALE} AS BIGINT) AS h"
        "  FROM nodes)",
    ]
    for k in range(1, iters + 1):
        parts.append(
            f", ar{k} AS (SELECT e.dst AS node, SUM(p.h) AS ar"
            f"  FROM e JOIN h{k - 1} p ON p.node = e.src GROUP BY e.dst)"
            f", as{k} AS MATERIALIZED (SELECT SUM(ar) AS s FROM ar{k})"
            f", a{k} AS MATERIALIZED (SELECT n.node,"
            f"  CAST((COALESCE(x.ar, 0) * {HITS_SCALE}) // t.s AS BIGINT)"
            f"  AS a FROM nodes n LEFT JOIN ar{k} x ON x.node = n.node"
            f"  CROSS JOIN as{k} t)"
            f", hr{k} AS (SELECT e.src AS node, SUM(p.a) AS hr"
            f"  FROM e JOIN a{k} p ON p.node = e.dst GROUP BY e.src)"
            f", hs{k} AS MATERIALIZED (SELECT SUM(hr) AS s FROM hr{k})"
            f", h{k} AS MATERIALIZED (SELECT n.node,"
            f"  CAST((COALESCE(x.hr, 0) * {HITS_SCALE}) // t.s AS BIGINT)"
            f"  AS h FROM nodes n LEFT JOIN hr{k} x ON x.node = n.node"
            f"  CROSS JOIN hs{k} t)"
        )
    parts.append(
        f" SELECT a{iters}.node, a{iters}.a AS auth_micro,"
        f" h{iters}.h AS hub_micro FROM a{iters}"
        f" JOIN h{iters} ON a{iters}.node = h{iters}.node"
    )
    return "".join(parts)


#: Round cap for :func:`connected_components`: hook-and-jump needs
#: O(log diameter) rounds (a pure-Python replay needs at most 14 on
#: paths, cycles, trees and grids of 10^4 nodes), so the cap is hit only
#: by a defect in the loop, never by the data.
CC_MAX_ROUNDS = 64


def _drop_checkpoint(df: DataFrame) -> None:
    """Free a ``localCheckpoint()`` frame's blocks now, not at the
    driver's next garbage collection; the frame is unusable after."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)


def connected_components(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """``(node, cluster_id)`` for every row of ``nodes``: ``cluster_id``
    is the smallest node id of the node's component in the undirected
    graph ``edges`` ``(src, dst)``, each pair given once. Every endpoint
    must be a row of ``nodes``; ids may be of any orderable type; a NULL
    node keeps its row with a NULL ``cluster_id``.

    Each round is hook-and-jump over the labels ``L`` (initially the
    node's own id; Kiveris et al., *Connected Components in MapReduce
    and Beyond*, SoCC 2014): hook — ``m(v)`` is the smallest label of
    ``v`` and its neighbours, and ``v`` and ``L(v)`` both take the
    smallest ``m`` offered to them; jump — ``L(v)`` becomes ``L(L(v))``.
    Rounds grow with log(diameter), not the diameter. The old label
    rides through the hook aggregate, so one ``count()`` of changed
    labels finds the fixpoint. Labels are mins, so the result does not
    depend on partitioning.

    The edges (both directions from one evaluation of ``edges``), the
    initial labels and each round's labels are ``localCheckpoint()``-ed,
    so every round's plan is one round deep (a round reads the previous
    labels more than once, so without it the plan doubles each round).
    The cost: checkpoint blocks live on the executors, so a lost
    executor fails the query instead of recomputing it. Superseded
    checkpoints and the edges are freed on every path."""
    both = F.explode(F.array(F.array("src", "dst"), F.array("dst", "src")))
    e = (
        edges.select(both.alias("__e"))
        .select(F.col("__e")[0].alias("src"), F.col("__e")[1].alias("dst"))
        .localCheckpoint()
    )
    no_old = F.lit(None).cast(nodes.schema["node"].dataType).alias("__old")
    try:
        ck = nodes.select(
            "node", F.col("node").alias("label"), F.col("node").alias("__old")
        ).localCheckpoint()
        for _ in range(CC_MAX_ROUNDS):
            own = ck.select("node", "label", F.col("label").alias("__old"))
            nbr = e.join(ck.select(F.col("node").alias("dst"), "label"), "dst")
            m = (
                own.unionByName(nbr.select(F.col("src").alias("node"), "label", no_old))
                .groupBy("node")
                .agg(F.min("label").alias("__m"), F.min("__old").alias("__old"))
            )
            hooked = (
                m.unionByName(m.select(F.col("__old").alias("node"), "__m", no_old))
                .groupBy("node")
                .agg(F.min("__m").alias("__h"), F.min("__old").alias("__old"))
            )
            # left join: a NULL node finds no parent but keeps its row
            parent = hooked.select(
                F.col("node").alias("__h"), F.col("__h").alias("__p")
            )
            step = (
                hooked.join(parent, "__h", "left")
                .select("node", F.coalesce("__p", "__h").alias("label"), "__old")
                .localCheckpoint()
            )
            _drop_checkpoint(ck)
            ck = step
            if ck.filter(~F.col("label").eqNullSafe(F.col("__old"))).count() == 0:
                return ck.select("node", F.col("label").alias("cluster_id"))
        _drop_checkpoint(ck)
    finally:
        _drop_checkpoint(e)
    raise RuntimeError(
        f"connected_components: no fixpoint in {CC_MAX_ROUNDS} rounds (a defect)"
    )
