"""Iterative graph algorithms on DataFrames (SURVEY §2.M).

The five nation-graph queries (q_pagerank, q_bfs, q_hits, q_label_prop,
q_bellman_ford) share one distill-then-iterate template:

1. ``nation_trade_edges`` distills the fact table ONCE into the nation
   trade network: an edge (customer nation -> supplier nation) weighted by
   the number of lineitems between them. lineitem ⋈ orders is the one
   fact-scale join, customer and supplier are broadcast, and the grouped
   aggregate leaves at most |nations|² = 625 rows at any scale factor.
2. ``one_batch`` hands that edge list to a kernel as ONE pandas frame (a
   single-group ``applyInPandas``). Iteration grain sits below task grain:
   every round of the 25-node iteration is microseconds of arithmetic, so
   one vectorized task replaces a per-round join + groupBy loop that paid
   a job/stage quantum for each round.
3. Each ``_*_batch`` kernel starts from ``_edge_arrays``, the one
   ``ONE_BATCH_MAX_EDGES`` guard and node index, and runs all its rounds
   in that one Python worker. At a billion-node grain the batch step would swap back for
   the per-round join + fold with node-keyed exchanges that the oracles'
   unrolled CTEs spell.

The oracles unroll the same fixed number of rounds as chained CTEs, so
every iterative query carries a FULL SQL hash-check, not a rows-only
waiver. Floating-point kernels round the way ``F.round`` does
(``_round_half_up_vec``).

Graphs whose node sets grow with the data keep a distributed loop:
``kcore_survivors`` (q_kcore) peels with node-grain state per round, and
``triangle_count`` (q_triangles) runs degree-ordered joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import Catalog, load
from ..registry import query
from ..session import session_cores

DAMPING = 0.85
ITERATIONS = 8

#: Edge rows one single-batch graph kernel accepts (``_edge_arrays``).
#: Each kernel holds its whole edge list in one Python worker; the
#: distilled nation graph has at most 25 x 25 = 625 rows.
ONE_BATCH_MAX_EDGES = 100_000


def nation_trade_edges(t: Catalog) -> DataFrame:
    """The weighted nation trade network (src, dst, w): customer nation
    -> supplier nation, ``w`` = the number of lineitems between them."""
    return (
        t.lineitem.select("l_orderkey", "l_suppkey")
        .join(
            t.orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(t.customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(t.supplier.select("s_suppkey", "s_nationkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )


def one_batch(edges: DataFrame, fn, schema: str) -> DataFrame:
    """Run ``fn`` once over every row of ``edges`` as one pandas frame (a
    single-group ``applyInPandas``); ``schema`` is its output's DDL."""
    return edges.withColumn("g", F.lit(0)).groupBy("g").applyInPandas(fn, schema)


def _edge_arrays(pdf):
    """Index one edge-list batch ``pdf`` (src, dst[, w]) by node for a
    single-batch kernel. Fails with a clear message on a data-sized edge
    list instead of exhausting the one Python worker. Returns ``(nodes,
    si, di, w)``: the sorted distinct node ids, each edge's source and
    destination position in ``nodes``, and its weight (1 when ``pdf`` has
    no ``w`` column)."""
    import numpy as np

    if len(pdf) > ONE_BATCH_MAX_EDGES:
        raise ValueError(
            f"{len(pdf)} edge rows exceed the single-batch cap of "
            f"{ONE_BATCH_MAX_EDGES}; distill the edge list first or run the "
            "rounds as a distributed loop"
        )
    src = pdf["src"].to_numpy()
    dst = pdf["dst"].to_numpy()
    nodes = np.unique(np.concatenate([src, dst]))
    w = pdf["w"].to_numpy() if "w" in pdf else np.ones(len(pdf), dtype="int64")
    return nodes, np.searchsorted(nodes, src), np.searchsorted(nodes, dst), w


def _oracle(iterations: int = ITERATIONS, d: float = DAMPING) -> str:
    """Generate the unrolled fixed-iteration PageRank SQL."""
    head = f"""
    WITH edges_raw AS (
      SELECT c_nationkey AS src, s_nationkey AS dst, count(*) AS w
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey  = c_custkey
      JOIN supplier ON l_suppkey  = s_suppkey
      GROUP BY 1, 2
    ),
    edges AS (
      SELECT src, dst, w * 1.0 / sum(w) OVER (PARTITION BY src) AS p
      FROM edges_raw
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges_raw
              UNION SELECT DISTINCT dst FROM edges_raw),
    n AS (SELECT count(*) AS n FROM nodes),
    r0 AS (SELECT node, 1.0 / (SELECT n FROM n) AS rank FROM nodes)
    """
    steps = []
    for i in range(1, iterations + 1):
        steps.append(
            f""",
    r{i} AS (
      SELECT nodes.node,
             (1 - {d}) / (SELECT n FROM n)
             + {d} * coalesce(sum(r{i-1}.rank * edges.p), 0) AS rank
      FROM nodes
      LEFT JOIN edges ON edges.dst = nodes.node
      LEFT JOIN r{i-1} ON r{i-1}.node = edges.src
      GROUP BY nodes.node
    )"""
        )
    tail = f"""
    SELECT node, round(rank, 8) AS rank FROM r{iterations}
    """
    return head + "".join(steps) + tail


@query("q_pagerank", oracle=_oracle(), tags=("graph", "iterative"))
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the nation trade graph: power iteration with damping,
    uniform teleport, no dangling nodes by construction (every nation that
    appears has outgoing trade). One fact-table aggregation distills the
    edges; the iteration itself is node-sized.

    Distill-then-iterate (module docstring): all {ITERATIONS} rounds run
    in one batch over ``nation_trade_edges``.

    Rounding contract: the trajectory is plain float64 in both forms —
    only the FINAL ranks round to 8dp (oracle: round(rank, 8) on r8
    only). Per-node message sums accumulate in a different order here
    (numpy add.at over ≤625 edge rows) than in a shuffle or in DuckDB's
    aggregate, drifting ≤ a few ulp. The 8dp output rounding absorbs that
    drift unless a rank lies within a few ulp of a half at the 8th digit:
    that case is residual risk (as for Spark-vs-DuckDB order drift) which
    scripts/rounding_lint.py checks for, not something the rounding rules
    out. The final rounding rule, _round_half_up_vec, is bit-equivalent
    to F.round.
    Normalized transition weights p = w / sum_w(src) are bit-identical in
    all three engines (integer-valued float64 sums, one IEEE division)."""
    return one_batch(
        nation_trade_edges(load(spark, sf_dir)),
        _pagerank_batch,
        "node int, rank double",
    )


def _pagerank_batch(pdf):
    """All {ITERATIONS} PageRank rounds over one distilled weighted
    edge-list batch (see q_pagerank's docstring for the trajectory and
    rounding contract). Executor-side numpy: normalize out-weights, then
    rank = (1-d)/n + d * Σ_in rank[src] * p, final ranks rounded 8dp with
    the F.round-equivalent HALF_UP rule."""
    import numpy as np
    import pandas as pd

    nodes, si, di, w = _edge_arrays(pdf)
    n = len(nodes)
    outw = np.zeros(n, dtype="float64")
    np.add.at(outw, si, w)
    p = w / outw[si]
    rank = np.full(n, 1.0 / n, dtype="float64")
    for _ in range(ITERATIONS):
        araw = np.zeros(n, dtype="float64")
        np.add.at(araw, di, rank[si] * p)
        rank = (1 - DAMPING) / n + DAMPING * araw
    return pd.DataFrame(
        {"node": nodes.astype("int32"), "rank": _round_half_up_vec(rank, 8)}
    )


@query(
    "q_triangles",
    oracle="""
    WITH li AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    e AS (
      SELECT DISTINCT a.p AS a, b.p AS b
      FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
    )
    SELECT
      (SELECT count(DISTINCT p) FROM li)                    AS n_nodes,
      (SELECT count(*) FROM e)                              AS n_edges,
      (SELECT count(*)
       FROM e e1
       JOIN e e2 ON e2.a = e1.a AND e1.b < e2.b
       JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b)            AS n_triangles
    """,
    tags=("graph", "join"),
)
def q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count on the part co-purchase graph (parts sharing an
    order are adjacent) — the clustering-coefficient / community-density
    primitive. The oracle orients edges low-id -> high-id and counts
    closed wedges with a triple self-join; correct, but wedge volume is
    sum(out_deg^2) under that orientation, and one celebrity node at
    100 TB makes it explode.

    The Spark plan uses degree-ordered orientation (Schank & Wagner /
    Cohen's MapReduce triangle counting): orient every edge from its
    lower-(degree, id) endpoint to the higher one. Max out-degree is then
    O(sqrt(|E|)) regardless of raw degree, bounding total wedges by
    |E|^1.5 — the celebrity problem disappears by construction. Each
    triangle has exactly one doubly-outgoing node in any total-order
    orientation, so the count is orientation-invariant and matches the
    oracle exactly. Degrees are node-sized (broadcast); the wedge and
    closing joins are equi-joins (hash/SMJ), never a nested loop.
    """
    t = load(spark, sf_dir)
    li = t.lineitem.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    )
    # No (o, p) distinct pass here: copurchase_edges' per-group
    # collect_set dedups within groups (the only dedup the pair expansion
    # needs), so a full-width distinct shuffle of the fact table before it
    # is pure overhead (~2 s of the sf1 wall time, round-6 decomposition).
    # And no edge-level distinct either: oriented_adjacency's collect_set
    # dedups while grouping, fusing what used to be TWO edge-scale
    # exchanges (distinct + collect_list) into one. The checkpointed
    # adjacency table then serves both the exact distinct-edge count
    # (sum of neighbor-list sizes) and the closing probe.
    adj = oriented_adjacency(copurchase_edges(li, distinct=False))
    # n_nodes: single-column distinct straight off the fact scan —
    # map-side partial aggregation shrinks the shuffle to node scale.
    n_nodes = li.select("p").distinct().agg(F.count(F.lit(1)).alias("n_nodes"))
    n_edges = adj.agg(F.sum(F.size("nbrs")).alias("n_edges"))
    n_tri = closing_probe(adj).agg(F.count(F.lit(1)).alias("n_triangles"))
    return n_nodes.crossJoin(n_edges).crossJoin(n_tri)


def copurchase_edges(
    li: DataFrame,
    chunk: int = 256,
    stats: dict | None = None,
    distinct: bool = True,
) -> DataFrame:
    """Distinct co-occurrence edges (u, v) with u < v from a (group, item)
    table — items sharing a group are adjacent. SKEW-GUARDED: the naive
    per-group self-join puts a group with k items' entire O(k²) pair
    expansion in the one task that owns its join key, so one mega-group
    at 100 TB is a straggler. Here each group's sorted item list is cut
    into chunks of ≤``chunk`` items; pairs are then within-chunk
    (slice-suffix expansion, ≤ chunk²/2 rows per array row) plus
    cross-chunk (chunk-pair rows round-robin ``repartition``-ed BEFORE
    their product expands, so a mega-group's chunk-pairs spread across
    the cluster and no task expands more than chunk² pairs).

    ADAPTIVE: one scalar aggregate over the grouped table reads the max
    group size; when no group exceeds ``chunk`` (every real TPC-H-shaped
    dataset — max order size is single digits), the cross-chunk branch
    and its two extra shuffles are skipped entirely and the plan is just
    groupBy + explode. Sorted lists make u < v structural in both
    branches (within a chunk by slice order; across chunks because
    slices are contiguous ranges of the sorted list), so no post-filter
    recompares pairs.

    ``distinct=False`` skips the final cross-group dedup shuffle: a pair
    appears once PER GROUP either way (sorted-set construction), so
    callers that dedup downstream anyway (oriented_adjacency's
    collect_set) save a full edge-scale exchange."""
    parts = (
        li.groupBy("o")
        .agg(F.sort_array(F.collect_set("p")).alias("ps"))
        .localCheckpoint()
    )
    max_k = parts.agg(F.max(F.size("ps"))).collect()[0][0] or 0
    if stats is not None:
        stats["max_group"] = max_k
        stats["chunked"] = max_k > chunk
    if max_k <= chunk:
        pairs = parts.select(
            F.posexplode("ps").alias("i", "u"), "ps"
        ).select(
            "u",
            F.explode(F.expr("slice(ps, i + 2, size(ps))")).alias("v"),
        )
        return pairs.distinct() if distinct else pairs
    chunks = parts.select(
        "o",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, int(ceil(size(ps) / {chunk})) - 1),"
                f" i -> slice(ps, i * {chunk} + 1, {chunk}))"
            )
        ).alias("ci", "cs"),
    ).localCheckpoint()
    within = chunks.select(
        F.posexplode("cs").alias("i", "u"), "cs"
    ).select(
        "u", F.explode(F.expr("slice(cs, i + 2, size(cs))")).alias("v")
    )
    ca = chunks.select("o", F.col("ci").alias("cia"), F.col("cs").alias("csa"))
    cb = chunks.select("o", F.col("ci").alias("cib"), F.col("cs").alias("csb"))
    spread = session_cores(li.sparkSession)
    cross = (
        ca.join(cb, (ca.o == cb.o) & (F.col("cia") < F.col("cib")))
        .select("csa", "csb")
        .repartition(spread)  # round-robin: spread BEFORE the k² expansion
        .select(F.explode("csa").alias("u"), "csb")
        .select("u", F.explode("csb").alias("v"))
    )
    both = within.unionByName(cross)
    return both.distinct() if distinct else both


#: Broadcast budget for the closing-probe adjacency table, in ESTIMATED
#: BYTES (not element count — a 50M-element cap would admit a ~400 MB+
#: driver collect long before tripping). 128 MiB: safely inside executor
#: and driver memory at local-test scale, and far below Spark's 8 GB
#: broadcast hard limit, while still letting the sf1 adjacency (~8 B per
#: neighbor + ~48 B per row) take the map-side fast path.
BROADCAST_ADJ_CAP_BYTES = 128 * 1024 * 1024

#: Heuristic in-memory bytes per (src, dst) edge row when deciding whether
#: an edge table fits the broadcast cap: 16 B of int payload + ~32 B of
#: UnsafeRow/object overhead. Deliberately conservative (overestimates) so
#: a borderline table takes the shuffle path rather than a too-big
#: broadcast (ADVICE r7: name the constant).
EDGE_ROW_EST_BYTES = 48


def oriented_adjacency(edges: DataFrame) -> DataFrame:
    """Degree-ordered oriented adjacency table ``(src, nbrs)`` from an
    edge-pair relation ``(u, v)`` with u != v — duplicate rows and mixed
    orientations WELCOME: ``collect_set`` dedups while grouping, so
    callers can skip a full edge-distinct shuffle before this one (the
    round-6 q_triangles fusion: distinct + collect_list, two edge-scale
    exchanges, became one collect_set exchange).

    Correctness needs only a FIXED TOTAL ORDER on nodes (every triangle
    has exactly one doubly-outgoing node under any such order); degree
    ordering is the performance bound on out-degree. Degrees are
    therefore counted over the RAW rows (multiplicity-weighted —
    partial-aggregated map-side, node-scale shuffle), which preserves
    exactness (ties broken by id make the order strict) and tracks true
    degree closely enough to keep the O(sqrt |E|) wedge bound in
    practice. The adjacency table is the only materialization
    (localCheckpoint): wedges derive from it map-side."""
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    du = F.broadcast(deg.select(F.col("node").alias("u"), F.col("deg").alias("du")))
    dv = F.broadcast(deg.select(F.col("node").alias("v"), F.col("deg").alias("dv")))
    ranked = edges.join(du, "u").join(dv, "v")
    # total-order rank of an endpoint: (degree, id) as a comparable struct
    ru = F.struct(F.col("du").alias("d"), F.col("u").alias("i"))
    rv = F.struct(F.col("dv").alias("d"), F.col("v").alias("i"))
    oriented = ranked.select(
        F.when(ru < rv, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(ru < rv, F.col("v")).otherwise(F.col("u")).alias("dst"),
    )
    return (
        oriented.groupBy("src")
        .agg(F.collect_set("dst").alias("nbrs"))
        .localCheckpoint()
    )


def closing_probe(
    adj: DataFrame, broadcast_adj_cap_bytes: int = BROADCAST_ADJ_CAP_BYTES
) -> DataFrame:
    """Closing join over a checkpointed oriented adjacency table: one row
    per triangle (w_src, b1, b2). See `triangle_count` for the plan
    shape and the byte-budgeted broadcast decision."""
    n_edges, n_rows = adj.agg(
        F.sum(F.size("nbrs")), F.count(F.lit(1))
    ).collect()[0]
    est_bytes = 8 * (n_edges or 0) + EDGE_ROW_EST_BYTES * (n_rows or 0)
    closing = adj.select(F.col("src").alias("b1"), F.col("nbrs").alias("nbrs_v"))
    if est_bytes <= broadcast_adj_cap_bytes:
        closing = F.broadcast(closing)
    wedge = adj.select(
        F.col("src").alias("w_src"),
        F.col("nbrs").alias("nbrs_u"),
        F.explode("nbrs").alias("b1"),
    )
    return wedge.join(closing, "b1").select(
        "w_src",
        "b1",
        F.explode(F.array_intersect("nbrs_u", "nbrs_v")).alias("b2"),
    )


def triangle_count(
    undirected: DataFrame, broadcast_adj_cap_bytes: int = BROADCAST_ADJ_CAP_BYTES
) -> DataFrame:
    """Degree-ordered triangle enumeration core: takes distinct undirected
    edges as columns (u, v) with u != v (one row per unordered pair, either
    orientation), returns one row per triangle. Factored out of
    q_triangles so toy graphs with known counts exercise it directly
    (tests/test_properties.py).

    Edge-iterator enumeration: in the total-order (degree, id)
    orientation every triangle x->y, x->z, y->z (rank x < y < z) is
    witnessed exactly once, at edge (x, y), by z in N_out(x) ∩ N_out(y),
    and max out-degree is O(sqrt |E|) by the orientation bound. The
    closing probe is ONE join: the checkpointed adjacency table explodes
    MAP-SIDE into (x, N_out(x), y) wedge rows — the edge relation with
    N_out(x) still attached, no second adjacency join needed — and joins
    the adjacency table on y. The wedge-volume payload (sum of
    outdeg² array elements, 410M at sf1) therefore crosses at most one
    exchange, not two; and when the adjacency table's ESTIMATED SIZE
    (8 B per neighbor long + ~48 B per-row key/array/row overhead, from
    one cheap aggregate over the checkpointed table) fits
    ``broadcast_adj_cap_bytes`` — AQE can't make this call because
    array-typed stats exceed the auto threshold long before the table is
    actually too big to ship — it is BROADCAST and the wedge volume
    never touches an exchange at all: explode, hash-probe, intersect run
    in one map-side stage (34.9 s -> 3.1 s at sf1). Past the cap — the
    true 100 TB regime — the shuffle join path keeps it scale-safe."""
    return closing_probe(
        oriented_adjacency(undirected), broadcast_adj_cap_bytes
    )


BFS_SOURCE = 0
BFS_ROUNDS = 4


@query(
    "q_bfs",
    oracle=f"""
    WITH RECURSIVE edges AS (
      SELECT DISTINCT c_nationkey AS src, s_nationkey AS dst
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey  = c_custkey
      JOIN supplier ON l_suppkey  = s_suppkey
    ),
    walk(node, dist) AS (
      SELECT {BFS_SOURCE}, 0
      UNION ALL
      SELECT e.dst, w.dist + 1
      FROM walk w JOIN edges e ON e.src = w.node
      WHERE w.dist < {BFS_ROUNDS}
    )
    SELECT node, min(dist) AS dist FROM walk GROUP BY node
    """,
    tags=("graph", "iterative"),
)
def q_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS hop distance over the nation trade graph —
    reachability / shortest-unweighted-path, the second fixed-point
    template next to q_pagerank (which propagates mass; this propagates
    a min). {BFS_ROUNDS} rounds bound the search to the graph's diameter.

    Frontier iteration, not path enumeration: the state is one row per
    REACHED NODE (node, best_dist), folded with a min each round — state
    stays node-sized while the naive recursive-CTE oracle materializes
    every walk (fine at 25 nodes, fatal at a billion). The min-fold makes
    revisits idempotent, so the fixed round count returns exactly min-hop
    distances — matching the oracle's min over walks.

    Distill-then-iterate (module docstring): all {BFS_ROUNDS} rounds run
    in one batch over the distinct pairs of ``nation_trade_edges``."""
    return one_batch(
        nation_trade_edges(load(spark, sf_dir)).select("src", "dst"),
        _bfs_batch,
        "node int, dist int",
    )


def _bfs_batch(pdf):
    """All {BFS_ROUNDS} BFS rounds from BFS_SOURCE over one distilled
    edge-list batch (src, dst): min-plus relaxation with unit costs,
    integer-exact."""
    return _relax(pdf, BFS_SOURCE, BFS_ROUNDS, "int32")


def _relax(pdf, source: int, rounds: int, dist_type: str):
    """``rounds`` synchronous min-plus relaxations from ``source`` over an
    edge-list batch: dist_{r+1}[v] = min(dist_r[v], min over edges (s, v)
    of dist_r[s] + w). Returns (node, dist) sorted by node; unreached
    nodes stay absent, as in the oracles' unrolled rounds."""
    import pandas as pd

    nodes, si, di, w = _edge_arrays(pdf)
    edges = list(zip(nodes[si].tolist(), nodes[di].tolist(), w.tolist()))
    dist = {source: 0}
    for _ in range(rounds):
        new = dict(dist)
        for s, d, cost in edges:
            if s in dist and (d not in new or dist[s] + cost < new[d]):
                new[d] = dist[s] + cost
        dist = new
    reached = sorted(dist)
    return pd.DataFrame(
        {"node": reached, "dist": [dist[n] for n in reached]}
    ).astype({"node": "int32", "dist": dist_type})


#: HITS fixed iteration count (hub/authority mutual recursion).
HITS_ITERS = 4


def _hits_oracle(iterations: int = HITS_ITERS) -> str:
    """Unrolled weighted HITS: per round, auth = L1-normalized weighted
    sum of in-neighbor hubs (rounded 8dp), then hub = L1-normalized
    weighted sum of out-neighbor auths (rounded 8dp) — rounding INSIDE
    each round keeps both engines on the identical trajectory (the
    q_kmeans_multi lockstep convention)."""
    head = """
    WITH edges AS (
      SELECT c_nationkey AS src, s_nationkey AS dst, count(*) AS w
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey  = c_custkey
      JOIN supplier ON l_suppkey  = s_suppkey
      GROUP BY 1, 2
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges
              UNION SELECT DISTINCT dst FROM edges),
    h0 AS (SELECT node, 1.0 AS hub FROM nodes)
    """
    steps = []
    for i in range(1, iterations + 1):
        steps.append(f""",
    araw{i} AS (
      SELECT nodes.node, coalesce(sum(h{i-1}.hub * edges.w), 0.0) AS raw
      FROM nodes
      LEFT JOIN edges ON edges.dst = nodes.node
      LEFT JOIN h{i-1} ON h{i-1}.node = edges.src
      GROUP BY nodes.node
    ),
    a{i} AS (
      SELECT node, round(raw / sum(raw) OVER (), 8) AS auth FROM araw{i}
    ),
    hraw{i} AS (
      SELECT nodes.node, coalesce(sum(a{i}.auth * edges.w), 0.0) AS raw
      FROM nodes
      LEFT JOIN edges ON edges.src = nodes.node
      LEFT JOIN a{i} ON a{i}.node = edges.dst
      GROUP BY nodes.node
    ),
    h{i} AS (
      SELECT node, round(raw / sum(raw) OVER (), 8) AS hub FROM hraw{i}
    )""")
    tail = f"""
    SELECT h{iterations}.node, h{iterations}.hub AS hub,
           a{iterations}.auth AS auth
    FROM h{iterations} JOIN a{iterations}
      ON h{iterations}.node = a{iterations}.node
    """
    return head + "".join(steps) + tail


@query("q_hits", oracle=_hits_oracle(), tags=("graph", "iterative"))
def q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999), weighted, on the same
    nation-level trade network as q_pagerank: {HITS_ITERS} rounds of the
    mutual recursion auth = sum of in-neighbor hubs x edge weight, hub =
    sum of out-neighbor auths x edge weight, each L1-normalized and
    rounded 8dp per round so the oracle's unrolled CTE chain follows the
    identical trajectory. PageRank ranks by stationary flow; HITS
    separates "good consumer" (hub) from "good producer" (authority) —
    both are the distill-then-iterate graph template.

    Distill-then-iterate (module docstring): all {HITS_ITERS} rounds run
    in one batch over ``nation_trade_edges``. Rounding inside the batch
    reproduces F.round exactly (``_round_half_up_vec``)."""
    return one_batch(
        nation_trade_edges(load(spark, sf_dir)),
        _hits_batch,
        "node int, hub double, auth double",
    )


def _hits_batch(pdf):
    """All {HITS_ITERS} HITS rounds over one distilled edge-list batch.
    Executor-side numpy; rounds follow the oracle trajectory exactly:
    auth = round8(L1-normalized weighted in-hub sum), then hub =
    round8(L1-normalized weighted out-auth sum), per round."""
    import numpy as np
    import pandas as pd

    nodes, si, di, w = _edge_arrays(pdf)
    hub = np.ones(len(nodes), dtype="float64")
    auth = hub
    for _ in range(HITS_ITERS):
        araw = np.zeros(len(nodes), dtype="float64")
        np.add.at(araw, di, hub[si] * w)
        auth = _round_half_up_vec(araw / araw.sum(), 8)
        hraw = np.zeros(len(nodes), dtype="float64")
        np.add.at(hraw, si, auth[di] * w)
        hub = _round_half_up_vec(hraw / hraw.sum(), 8)
    return pd.DataFrame(
        {"node": nodes.astype("int32"), "hub": hub, "auth": auth}
    )


def _round_half_up_vec(xs, scale: int):
    """Element-wise F.round equivalent: HALF_UP over the shortest decimal
    representation of each double (Decimal(repr(x)) ≡ the JVM's
    BigDecimal.valueOf(double)), so batch-side rounding is bit-identical
    to engine-side F.round."""
    import numpy as np
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal(1).scaleb(-scale)
    return np.array(
        [
            float(Decimal(repr(float(x))).quantize(q, rounding=ROUND_HALF_UP))
            for x in xs
        ],
        dtype="float64",
    )


LPA_ITERS = 3


def _lpa_oracle() -> str:
    """Unrolled synchronous majority-vote LPA: per round, each node adopts
    the label with the greatest incident edge weight (ties -> min label)."""
    head = """
    WITH directed AS (
      SELECT c_nationkey AS src, s_nationkey AS dst, count(*) AS w
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey  = c_custkey
      JOIN supplier ON l_suppkey  = s_suppkey
      GROUP BY 1, 2
    ),
    edges AS (
      SELECT src, dst, CAST(sum(w) AS BIGINT) AS w FROM (
        SELECT src, dst, w FROM directed
        UNION ALL
        SELECT dst AS src, src AS dst, w FROM directed
      ) GROUP BY src, dst
    ),
    lbl0 AS (
      SELECT DISTINCT src AS node, src AS label FROM edges
    )"""
    steps = []
    for i in range(LPA_ITERS):
        steps.append(f""",
    votes{i} AS (
      SELECT e.dst AS node, l.label, sum(e.w) AS vw
      FROM edges e JOIN lbl{i} l ON l.node = e.src
      GROUP BY 1, 2
    ),
    lbl{i + 1} AS (
      SELECT node, label FROM (
        SELECT node, label,
               row_number() OVER (PARTITION BY node
                                  ORDER BY vw DESC, label) AS rn
        FROM votes{i}
      ) WHERE rn = 1
    )""")
    tail = f"""
    SELECT CAST(node AS INTEGER) AS node,
           CAST(label AS INTEGER) AS label
    FROM lbl{LPA_ITERS} ORDER BY node
    """
    return head + "".join(steps) + tail


@query("q_label_prop", oracle=_lpa_oracle(), tags=("graph", "iterative"))
def q_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted majority-vote label propagation (Raghavan 2007), the
    linear-time community-detection workhorse, on the undirected
    nation trade network: {LPA_ITERS} synchronous rounds, each node
    adopting the label with the greatest total incident edge weight
    (deterministic min-label tie-break — classic LPA's random tie-break
    would never hash-match an oracle). Communities of densely-trading
    nations emerge; the same operator clusters domain link graphs and
    near-dup document graphs at corpus scale.

    Distill-then-iterate (module docstring): ``nation_trade_edges`` is
    symmetrized by a union + re-aggregate, then all {LPA_ITERS} rounds run
    in one batch — integer-exact vote sums, no rounding contract."""
    directed = nation_trade_edges(load(spark, sf_dir))
    edges = (
        directed.unionAll(
            directed.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
            )
        )
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
    )
    return one_batch(edges, _lpa_batch, "node int, label int").orderBy("node")


def _lpa_batch(pdf):
    """All {LPA_ITERS} LPA rounds over one distilled edge-list batch:
    synchronous updates, integer vote sums, (max weight, min label)
    argmax — exactly the oracle's window trajectory."""
    import numpy as np
    import pandas as pd

    nodes, si, di, w = _edge_arrays(pdf)
    label = nodes.astype("int64")
    for _ in range(LPA_ITERS):
        new = label.copy()
        for v in range(len(nodes)):
            mask = di == v
            if not mask.any():
                continue
            lbls = label[si[mask]]
            ws = w[mask]
            best_w, best_l = -1, None
            for lb in np.unique(lbls):
                vw = int(ws[lbls == lb].sum())
                if vw > best_w or (vw == best_w and lb < best_l):
                    best_w, best_l = vw, int(lb)
            new[v] = best_l
        label = new
    return pd.DataFrame(
        {"node": nodes.astype("int32"), "label": label.astype("int32")}
    )


BF_SOURCE = 0
BF_ROUNDS = 3


def _bf_oracle() -> str:
    """Unrolled Bellman-Ford relaxation over the integer-cost edge list."""
    head = f"""
    WITH edges AS (
      SELECT c_nationkey AS src, s_nationkey AS dst,
             CAST(1000000 // count(*) AS BIGINT) + 1 AS w
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey  = c_custkey
      JOIN supplier ON l_suppkey  = s_suppkey
      GROUP BY 1, 2
    ),
    d0 AS (SELECT {BF_SOURCE} AS node, CAST(0 AS BIGINT) AS dist)"""
    steps = []
    for i in range(BF_ROUNDS):
        steps.append(f""",
    d{i + 1} AS (
      SELECT node, min(dist) AS dist FROM (
        SELECT node, dist FROM d{i}
        UNION ALL
        SELECT e.dst AS node, d.dist + e.w AS dist
        FROM d{i} d JOIN edges e ON e.src = d.node
      ) GROUP BY node
    )""")
    tail = f"""
    SELECT CAST(node AS INTEGER) AS node, dist
    FROM d{BF_ROUNDS} ORDER BY node
    """
    return head + "".join(steps) + tail


@query("q_bellman_ford", oracle=_bf_oracle(), tags=("graph", "iterative"))
def q_bellman_ford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source WEIGHTED shortest paths (Bellman-Ford, {BF_ROUNDS}
    relaxation rounds) over the nation trade graph with integer
    inverse-capacity edge costs (1e6/shipment-count — thin trade links
    cost more). Completes the semiring family of graph templates:
    q_pagerank propagates mass (+,×), q_bfs hop counts (min,+1), q_hits
    mutual scores, q_label_prop votes — this is the general (min,+)
    relaxation, the routing/ETL-dependency-cost shape.

    Integer-exact end to end (costs and path sums are BIGINTs — no float
    contract). Distill-then-iterate (module docstring): all {BF_ROUNDS}
    relaxations run in one batch over ``nation_trade_edges``, each
    lineitem count mapped to its cost."""
    edges = nation_trade_edges(load(spark, sf_dir)).select(
        "src",
        "dst",
        (F.floor(F.lit(1000000) / F.col("w")).cast("bigint") + 1).alias("w"),
    )
    return one_batch(edges, _bf_batch, "node int, dist bigint").orderBy("node")


def _bf_batch(pdf):
    """All {BF_ROUNDS} Bellman-Ford relaxations from BF_SOURCE over one
    distilled edge-list batch — integer min-plus folds, following the
    oracle's round trajectory exactly (unreached nodes stay absent)."""
    return _relax(pdf, BF_SOURCE, BF_ROUNDS, "int64")


#: k-core parameters: degree floor and the fixed peeling horizon. The
#: part-supplier graph converges well inside KCORE_ROUNDS at every test
#: scale factor (pinned in tests, the q_bellman_ford fixed-horizon
#: contract); a cascade that needed more rounds would simply continue
#: peeling in later rounds on both engines identically.
KCORE_K = 10
KCORE_ROUNDS = 4


def _kcore_oracle() -> str:
    """Unrolled synchronous k-core peeling over the bipartite
    part-supplier graph: each round recomputes degrees among survivors
    and drops nodes below KCORE_K, mirroring kcore_survivors round for
    round."""
    # AS MATERIALIZED is load-bearing: every round's CTEs are referenced
    # twice (both endpoint filters, then the next round), so DuckDB's
    # default inlining re-evaluates round i 2^(R-i) times — measured as a
    # disk-filling spill at sf1. Materialization bounds each round to one
    # evaluation, exactly like the engine's per-round checkpoints.
    head = """
    WITH e AS MATERIALIZED (
      SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
    ),
    ap0 AS MATERIALIZED (SELECT DISTINCT p FROM e),
    as0 AS MATERIALIZED (SELECT DISTINCT s FROM e)"""
    steps = []
    for i in range(KCORE_ROUNDS):
        steps.append(f""",
    ee{i} AS MATERIALIZED (
      SELECT e.p, e.s FROM e
      JOIN ap{i} ON e.p = ap{i}.p JOIN as{i} ON e.s = as{i}.s
    ),
    ap{i + 1} AS MATERIALIZED (
      SELECT p FROM ee{i} GROUP BY p HAVING count(*) >= {KCORE_K}
    ),
    as{i + 1} AS MATERIALIZED (
      SELECT s FROM ee{i} GROUP BY s HAVING count(*) >= {KCORE_K}
    )""")
    r = KCORE_ROUNDS
    tail = f""",
    final AS MATERIALIZED (
      SELECT e.p, e.s FROM e
      JOIN ap{r} ON e.p = ap{r}.p JOIN as{r} ON e.s = as{r}.s
    )
    SELECT node_kind, node_id, core_deg FROM (
      SELECT 'part' AS node_kind, p AS node_id,
             CAST(count(*) AS BIGINT) AS core_deg
      FROM final GROUP BY p
      UNION ALL
      SELECT 'supplier', s, CAST(count(*) AS BIGINT) FROM final GROUP BY s
    ) ORDER BY node_kind, node_id
    """
    return head + "".join(steps) + tail


def kcore_survivors(
    edges: DataFrame, k: int, rounds: int
) -> tuple[DataFrame, DataFrame]:
    """Synchronous k-core peeling over bipartite edges (p, s): per round,
    degrees are recomputed over edges whose BOTH endpoints survived the
    previous round, then every node below ``k`` is dropped. Returns the
    surviving (p) and (s) node sets after ``rounds`` rounds. Factored
    out of q_kcore so planted cascade graphs exercise it directly.

    Scale shape: state is two NODE-grain survivor sets, re-derived each
    round from the loop-invariant edge table — the edge table itself is
    never mutated or checkpointed (at 100 TB it stays a scan; the
    node-grain sets are the only things materialized). Survivor sets are localCheckpoint'ed each round so the
    plan doesn't re-derive the whole peeling history per iteration.

    r14 optimization (one eager job per round instead of 2–2.5): the old
    form paid TWO startup distinct-checkpoint jobs whose first-round
    semi-joins were identity filters (round 0's survivor sets ARE the
    endpoint sets, so ee0 == edges — the oracle's own ap0/as0/ee0 shape
    makes this explicit), plus two eager per-side degree checkpoints per
    round. Now round 0 skips the identity semi-joins outright, and each
    round computes BOTH sides' degrees in ONE exploded (kind, id)
    aggregate — the exchange carries the same bytes either way (every
    edge contributes one row keyed by p and one keyed by s), but one
    semi-join pass over the edges instead of two and one sequential
    checkpoint barrier per round instead of two. 44 Spark jobs -> ~12 at
    KCORE_ROUNDS=4 (2.99 s -> measured below, sf0.1 warm). Degree counts,
    filters and survivor sets are integer-identical to the per-side form."""
    alive_p = alive_s = None
    for _ in range(rounds):
        ee = edges
        if alive_p is not None:
            ee = edges.join(alive_p, "p", "leftsemi").join(
                alive_s, "s", "leftsemi"
            )
        alive = (
            ee.select(
                F.explode(
                    F.array(
                        F.struct(
                            F.lit("p").alias("kind"), F.col("p").alias("id")
                        ),
                        F.struct(
                            F.lit("s").alias("kind"), F.col("s").alias("id")
                        ),
                    )
                ).alias("e")
            )
            .groupBy(F.col("e.kind").alias("kind"), F.col("e.id").alias("id"))
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= k)
            .select("kind", "id")
            .localCheckpoint(eager=True)
        )
        alive_p = alive.filter(F.col("kind") == "p").select(
            F.col("id").alias("p")
        )
        alive_s = alive.filter(F.col("kind") == "s").select(
            F.col("id").alias("s")
        )
    if alive_p is None:  # rounds == 0: survivors are the raw endpoint sets
        alive_p = edges.select("p").distinct()
        alive_s = edges.select("s").distinct()
    return alive_p, alive_s


@query("q_kcore", oracle=_kcore_oracle(), tags=("graph", "iterative"))
def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{KCORE_K}-core of the bipartite part-supplier procurement graph
    (distinct lineitem (part, supplier) edges): iteratively peel nodes
    with degree < {KCORE_K} until stable — the dense-subgraph extractor
    behind spam-cluster mining, engagement-core analysis and robust
    supply-base audits (a part in the core has >= {KCORE_K} suppliers
    EVEN AFTER every thinly-connected node is discarded — plain degree
    filters overcount by keeping nodes propped up by peeled neighbors).
    Completes the iterative-graph family: q_pagerank propagates mass,
    q_bfs a min, q_label_prop votes, q_bellman_ford (min,+) — k-core
    propagates DELETION.

    Scale: unlike the nation-graph ops the node sets here GROW with the
    data (parts x suppliers), so no single-batch Arrow collapse —
    peeling runs as the distributed round loop in kcore_survivors with
    node-grain state, and the oracle unrolls the same {KCORE_ROUNDS}
    rounds as CTEs. Convergence inside the horizon is pinned in tests
    at every test SF."""
    t = load(spark, sf_dir)
    edges = (
        t.lineitem.select(
            F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    alive_p, alive_s = kcore_survivors(edges, KCORE_K, KCORE_ROUNDS)
    final = edges.join(alive_p, "p", "leftsemi").join(
        alive_s, "s", "leftsemi"
    )
    # Same exploded (kind, id) fusion as the peeling rounds (r14): one
    # aggregate pass over the final survivor edges computes both sides'
    # core degrees — the per-side groupBy+union form consumed `final`
    # (edges + two semi-joins) twice for identical counts.
    return (
        final.select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("part").alias("kind"), F.col("p").alias("id")
                    ),
                    F.struct(
                        F.lit("supplier").alias("kind"), F.col("s").alias("id")
                    ),
                )
            ).alias("e")
        )
        .groupBy(
            F.col("e.kind").alias("node_kind"), F.col("e.id").alias("node_id")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("core_deg"))
        .orderBy("node_kind", "node_id")
    )
