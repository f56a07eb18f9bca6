"""Graph analytics beyond connected components (operators/clusters.py):
triangle counting + global clustering coefficient over the part
co-occurrence graph (parts appearing in the same order — the
market-basket projection of lineitem).

Triangle counting is the canonical distributed-join graph kernel,
implemented degree-ordered (a.k.a. compact-forward): each undirected
edge is oriented from its lower-rank endpoint, where rank is the
lexicographic pair ``(degree, id)`` — a total order. Every triangle
{a, b, c} with rank a < b < c then appears exactly once as the wedge
(a→b, a→c) closed by the oriented edge b→c, so the two-hop join
enumerates wedges only from each triangle's MINIMUM-rank vertex. That
bounds per-vertex fan-out by O(sqrt(|E|)) regardless of raw degree
skew (a hub of degree 1M with the max rank contributes ZERO wedges),
which is the difference between ~1.4B and ~1M materialized wedges on
the unwindowed sf0.1 graph. Every join remains a keyed equi-join
(vertex ids) — hash-partitioned shuffles, no cross join, no driver
state; AQE skew-join splitting handles residual hot buckets.

The analysis is windowed to a shipdate range exactly as TPC-H windows
its scans; the window bounds the *edge count*, the degree orientation
bounds the *wedge count* — the two guards compose. Wedges (open
two-paths) come from an integer-exact degree aggregation; the
clustering coefficient 3T/wedges is the only floating-point op. The
DuckDB oracle keeps the naive id-ordered two-hop formulation: the
triangle count is plan-invariant, so oracle parity doubles as the
orientation-correctness check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table


_WIN_LO = "1996-01-01"
_WIN_HI = "1998-01-01"

# ONE copy of the co-occurrence edge CTEs for every oracle in this file
# (textual twin of _cooccurrence_edges): the edge definition — shipdate
# window, both distinct grains — must change in exactly one place or an
# oracle silently desynchronizes from the Spark graph.
_EDGE_CTES_SQL = f"""pp AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '{_WIN_LO} 00:00:00'
    AND l_shipdate < TIMESTAMP '{_WIN_HI} 00:00:00'
),
e AS (
  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
  FROM pp a JOIN pp b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
)"""


def _oriented_edges(edges: DataFrame) -> DataFrame:
    """Orient canonical undirected edges ``(pa < pb)`` from the
    lower-``(deg, id)``-rank endpoint.

    Returns ``(src, dst, ddeg)`` where ``ddeg`` is dst's degree — carried
    so the wedge join can order the two out-neighbours by rank without a
    further join. Two shuffle joins against the degree table (which is
    |V|-sized and may exceed broadcast limits at scale — deliberately not
    broadcast).
    """
    deg = (
        edges.select(F.col("pa").alias("node"))
        .unionAll(edges.select(F.col("pb").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    ed = (
        edges.join(deg.select(F.col("node").alias("pa"), F.col("deg").alias("da")), "pa")
        .join(deg.select(F.col("node").alias("pb"), F.col("deg").alias("db")), "pb")
    )
    # pa < pb canonically, so a (da, id) tie keeps pa as the source.
    a_first = (F.col("da") < F.col("db")) | (F.col("da") == F.col("db"))
    return ed.select(
        F.when(a_first, F.col("pa")).otherwise(F.col("pb")).alias("src"),
        F.when(a_first, F.col("pb")).otherwise(F.col("pa")).alias("dst"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("ddeg"),
    )


# session-shared co-occurrence edge list (r14, guide §1.2): NINE graph
# queries rebuild the identical canonical edge list — lineitem window
# scan -> distinct (order, part) -> order self-join -> distinct pair —
# from parquet every time; at 100 TB that scan+self-join IS the graph
# family's dominant shared cost. Memoized once per session
# (operators/memo.py). Same-window family A/B at sf0.1/32cpu: 17.9s ->
# 12.2s.
# NOTE this is CROSS-QUERY sharing — the r13 negative result ("graph
# fencing reverted") was about fencing per-iteration subtrees WITHIN
# one query, where ReuseExchange already deduplicates identical
# exchange-terminated subtrees for free; across separate actions there
# is no ReuseExchange, so the memo is the only way to pay the build
# once per session.
def _cooccurrence_edges_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.memo import session_memo

    return session_memo(
        spark,
        "cooccurrence_edges",
        sf_dir,
        ("lineitem",),
        (_WIN_LO, _WIN_HI),
        lambda: _cooccurrence_edges(spark, sf_dir).localCheckpoint(eager=False),
    )


def _cooccurrence_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical (pa < pb) part co-occurrence edges within the shipdate
    window — the shared graph both kernels analyze. Distinct is applied
    at both grains (order-part, then pair) so multi-line orders don't
    multiply edges."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(_WIN_LO).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(_WIN_HI).cast("timestamp"))
    )
    pp = li.select("l_orderkey", "l_partkey").distinct()
    a, b = pp.alias("a"), pp.alias("b")
    return (
        a.join(b, F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb")
        )
        .distinct()
    )


def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fence the co-occurrence self-join (same discipline as khop/kcore/
    # eigencentrality): edges feeds the oriented list consumed as
    # e1/e2/e3 PLUS the degree and edge-count branches — without the
    # fence the order-pair self-join re-runs in every branch
    edges = _cooccurrence_edges_shared(spark, sf_dir)
    oe = _oriented_edges(edges).localCheckpoint(eager=False)
    e1, e2, e3 = oe.alias("e1"), oe.alias("e2"), oe.alias("e3")
    # Wedge (u; v, w) from the minimum-rank vertex u only, with the two
    # out-neighbours rank-ordered v < w, closed by the oriented edge v→w:
    # counts each triangle exactly once (see module docstring).
    rank_vw = (F.col("e1.ddeg") < F.col("e2.ddeg")) | (
        (F.col("e1.ddeg") == F.col("e2.ddeg")) & (F.col("e1.dst") < F.col("e2.dst"))
    )
    tri = (
        e1.join(e2, (F.col("e1.src") == F.col("e2.src")) & rank_vw)
        .join(
            e3,
            (F.col("e1.dst") == F.col("e3.src")) & (F.col("e2.dst") == F.col("e3.dst")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    deg = (
        edges.select(F.col("pa").alias("node"))
        .unionAll(edges.select(F.col("pb").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    wedge = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.expr("deg * (deg - 1) div 2")).cast("long").alias("n_wedges"),
    )
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        wedge.crossJoin(n_edges)
        .crossJoin(tri)
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            # NULLIF both engines: a wedge-free graph has an undefined
            # coefficient (ANSI /0 raises on Spark, NaN on DuckDB)
            (
                F.lit(3.0) * F.col("n_triangles").cast("double")
                / F.nullif(F.col("n_wedges").cast("double"), F.lit(0.0))
            ).alias("clustering_coeff"),
        )
    )


GRAPH_TRIANGLE_COUNT_SQL = f"""
WITH {_EDGE_CTES_SQL},
deg AS (
  SELECT node, COUNT(*) AS deg FROM (
    SELECT pa AS node FROM e UNION ALL SELECT pb AS node FROM e
  ) GROUP BY node
),
wedge AS (
  SELECT COUNT(*) AS n_nodes,
         CAST(SUM(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges
  FROM deg
),
tri AS (
  SELECT COUNT(*) AS n_triangles
  FROM e e1 JOIN e e2 ON e1.pb = e2.pa
            JOIN e e3 ON e1.pa = e3.pa AND e2.pb = e3.pb
),
ne AS (SELECT COUNT(*) AS n_edges FROM e)
SELECT n_nodes, n_edges, n_wedges, n_triangles,
       CAST(3.0 AS DOUBLE) * CAST(n_triangles AS DOUBLE)
         / NULLIF(CAST(n_wedges AS DOUBLE), 0.0) AS clustering_coeff
FROM wedge, ne, tri
"""


PR_SCALE = 10**9  # fixed-point unit: 1.0 rank == 1e9 scaled units
PR_ITERS = 3
PR_TOP = 20
_PR_BASE = (15 * PR_SCALE) // 100  # (1 - d) with d = 0.85


def _pr_step(ed: DataFrame, nodes: DataFrame, pr: DataFrame) -> DataFrame:
    """One damped PageRank iteration in scaled-integer fixed point:
    keyed equi-join (edge src = rank node) -> hash agg on dst -> left
    join back to the node list. Shared by the fixed-iteration
    oracle-checked query and the convergence-tested variant so the two
    cannot drift."""
    contrib = ed.join(pr, ed["src"] == pr["node"]).select(
        F.col("dst"), F.expr("pr div out_deg").alias("c")
    )
    insum = contrib.groupBy("dst").agg(F.sum("c").alias("s"))
    return nodes.join(insum, nodes["node"] == insum["dst"], "left").select(
        "node",
        (F.lit(_PR_BASE) + F.expr("(85 * coalesce(s, 0L)) div 100"))
        .cast("long")
        .alias("pr"),
    )


def pagerank_converged(
    spark: SparkSession,
    sf_dir: str,
    tol_per_node: int = 10,
    max_iters: int = 50,
) -> tuple[DataFrame, int]:
    """PageRank run to CONVERGENCE rather than a fixed iteration count —
    the production form of :func:`graph_pagerank` (same kernel via
    :func:`_pr_step`, same fixed-point arithmetic): iterate until the
    mean per-node L1 delta drops to ``tol_per_node`` scaled units
    (tol 10 = 1e-8 of a rank unit), the delta-based stop the
    connected-components operator (operators/clusters.py) already uses.
    Returns ``(ranks, n_iters)``.

    Each iteration collects ONE scalar (the summed L1 delta — bounded
    driver data) and fences the new rank vector with an eager
    localCheckpoint: the delta check needs rank materialized anyway, and
    the fence stops lineage growing linearly with iteration count (the
    un-fenced plan would re-run every prior join each iteration). The
    oracle-checked query stays the fixed-``PR_ITERS`` variant — a
    convergence loop's iteration count is data-dependent, which SQL
    can't express — and tests/test_properties.py pins the contract that
    the converged vector is iteration-count-invariant: one extra step
    moves it by at most the tolerance."""
    edges = _cooccurrence_edges_shared(spark, sf_dir)
    directed = edges.select(
        F.col("pa").alias("src"), F.col("pb").alias("dst")
    ).unionAll(edges.select(F.col("pb").alias("src"), F.col("pa").alias("dst")))
    deg = directed.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    ed = directed.join(deg, "src").localCheckpoint(eager=False)
    nodes = deg.select(F.col("src").alias("node")).localCheckpoint(eager=False)
    n_nodes = nodes.count()
    pr = nodes.select(
        "node", F.lit(PR_SCALE).cast("long").alias("pr")
    ).localCheckpoint(eager=True)
    if n_nodes == 0:
        # empty windowed graph (e.g. a slice with no in-window lineitem
        # rows): SUM over zero rows is NULL, which would TypeError the
        # delta comparison — an empty rank vector is already converged
        return pr, 0
    iters = 0
    for _ in range(max_iters):
        nxt = _pr_step(ed, nodes, pr).localCheckpoint(eager=True)
        iters += 1
        delta = (
            nxt.join(pr.withColumnRenamed("pr", "prev"), "node")
            .agg(F.sum(F.abs(F.col("pr") - F.col("prev"))).alias("d"))
            .collect()[0]["d"]
        )
        pr = nxt
        if delta is None or delta <= tol_per_node * n_nodes:
            break
    return pr, iters


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (d=0.85, {PR_ITERS} fixed iterations) over the part
    co-occurrence graph, in scaled-integer fixed point so both engines
    compute bit-identical ranks: per-edge contribution is
    ``pr div out_deg`` (floor), the damped update is
    ``(15*SCALE) div 100 + (85 * in_sum) div 100`` — floor division
    and integer sums are order-independent, unlike float accumulation,
    which is what makes an iterative float kernel oracle-checkable at
    all.

    Shape per iteration: one keyed equi-join (edge src = rank node) +
    one hash aggregation on dst + one left join back to the node list —
    the standard Pregel-as-joins lowering with NO driver-side state and
    no global sort; the edge list (built once, degree-annotated) is
    fenced with a lazy localCheckpoint so the co-occurrence self-join
    doesn't re-run each iteration. Every node in this graph has
    out-degree >= 1 (nodes exist only via edges), so there is no
    dangling-mass term. The undirected graph is symmetrized into
    directed edges; a 1000-executor run shuffles on vertex ids and AQE
    splits residual hub skew. Output: top-{PR_TOP} ranked parts
    (TakeOrderedAndProject — no full sort)."""
    edges = _cooccurrence_edges_shared(spark, sf_dir)
    directed = edges.select(
        F.col("pa").alias("src"), F.col("pb").alias("dst")
    ).unionAll(edges.select(F.col("pb").alias("src"), F.col("pa").alias("dst")))
    deg = directed.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    ed = directed.join(deg, "src").localCheckpoint(eager=False)
    nodes = deg.select(F.col("src").alias("node"))
    pr = nodes.select("node", F.lit(PR_SCALE).cast("long").alias("pr"))
    # Fixed PR_ITERS keeps the query SQL-expressible (the oracle unrolls
    # exactly this many CTEs); production callers wanting a data-dependent
    # stop use pagerank_converged, which runs the same _pr_step kernel
    # under an L1-delta convergence test.
    for _ in range(PR_ITERS):
        pr = _pr_step(ed, nodes, pr)
    return (
        pr.orderBy(F.col("pr").desc(), F.col("node").asc())
        .limit(PR_TOP)
        .select("node", F.col("pr").alias("pr_scaled"))
    )


def _pagerank_oracle_sql() -> str:
    iters = []
    for i in range(PR_ITERS):
        prev = f"pr{i}"
        iters.append(f"""
pr{i + 1} AS (
  SELECT n.node,
         CAST({_PR_BASE} + (85 * COALESCE(s.s, 0)) // 100 AS BIGINT) AS pr
  FROM nodes n LEFT JOIN (
    SELECT ed.dst, CAST(SUM(p.pr // ed.out_deg) AS BIGINT) AS s
    FROM ed JOIN {prev} p ON ed.src = p.node GROUP BY ed.dst
  ) s ON n.node = s.dst
)""")
    return f"""
WITH {_EDGE_CTES_SQL},
d AS (
  SELECT pa AS src, pb AS dst FROM e
  UNION ALL
  SELECT pb AS src, pa AS dst FROM e
),
deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS out_deg FROM d GROUP BY src),
ed AS (SELECT d.src, d.dst, deg.out_deg FROM d JOIN deg ON d.src = deg.src),
nodes AS (SELECT src AS node FROM deg),
pr0 AS (SELECT node, CAST({PR_SCALE} AS BIGINT) AS pr FROM nodes),{",".join(iters)}
SELECT node, pr AS pr_scaled FROM pr{PR_ITERS}
ORDER BY pr DESC, node ASC LIMIT {PR_TOP}
"""


GRAPH_PAGERANK_SQL = _pagerank_oracle_sql()


KHOP_TOP = 25


def graph_khop_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hop neighborhood feature aggregation — the GraphSAGE-style
    feature-prep kernel (per node: how many distinct parts are reachable
    within 2 hops, and the mean retail price over that neighborhood).
    The frontier expansion is one keyed equi-join (frontier dst = edge
    src) followed by a DISTINCT on (origin, reached) — hash-partitioned
    on origin, never a cross join; fan-out is bounded by the same
    shipdate window + degree profile the triangle kernel documents
    (wedge-count O(Σ deg²), window-bounded). Price mass accumulates in
    DECIMAL(18,2) (order-free exact), the mean is the single float
    division at the edge. Top-{KHOP_TOP} via TakeOrderedAndProject —
    no global sort."""
    edges = _cooccurrence_edges_shared(spark, sf_dir)
    sym = (
        edges.select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
        .unionAll(edges.select(F.col("pb").alias("src"), F.col("pa").alias("dst")))
        # fenced: hop1, the frontier join's probe side and the degree agg
        # all branch from here — without this the order-pair self-join
        # runs three times
        .localCheckpoint(eager=False)
    )
    # 1-hop pairs + 2-hop pairs (excluding the origin itself), deduped at
    # (origin, reached) grain: the distance<=2 reachability set.
    hop1 = sym.select(F.col("src").alias("origin"), F.col("dst").alias("reached"))
    e2 = sym.select(F.col("src").alias("mid"), F.col("dst").alias("reached"))
    hop2 = (
        hop1.withColumnRenamed("reached", "mid")
        .join(e2, "mid")
        .filter(F.col("origin") != F.col("reached"))
        .select("origin", "reached")
    )
    # r13 (guide §2.4): cluster the union by origin ONCE — the
    # (origin, reached) dedup agg, the broadcast price join and the
    # per-origin rollup all reuse that single clustering (subset-key
    # distribution: same origin -> same partition suffices for the
    # two-key group), so the reach set crosses the network once instead
    # of twice (plain .distinct() exchanged on both keys, then the
    # origin rollup re-exchanged). Values identical: distinct == group
    # by both keys; same-window A/B 3.5-4.0s -> 2.4s.
    # Skew: origin is a part key, so the clustering spreads over (nearly)
    # every part. Measured at sf0.1: 2,577,114 union rows over 19,965
    # distinct origins (of 20,000 parts); the heaviest origin holds 459
    # rows (p50 122, p99 306, 3.6x the mean), 0.02% of the input, so no
    # single key can dominate a partition. The per-origin row count is
    # the 2-hop fan-out, bounded as the docstring says.
    reach = (
        hop1.unionAll(hop2)
        .repartition("origin")
        .groupBy("origin", "reached")
        .agg(F.lit(1))
        .select("origin", "reached")
    )
    price = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("reached"),
        F.col("p_retailprice").cast("decimal(18,2)").alias("price"),
    )
    agg = (
        reach.join(price, "reached")
        .groupBy("origin")
        .agg(
            F.count(F.lit(1)).alias("n_reach_2hop"),
            F.sum("price").alias("price_sum"),
        )
    )
    deg = hop1.groupBy("origin").agg(F.count(F.lit(1)).alias("n_1hop"))
    return (
        agg.join(deg, "origin")
        .select(
            "origin",
            "n_1hop",
            "n_reach_2hop",
            # exact DECIMAL accumulation; the output edge casts to double
            # (unscaled cents < 2^53, so the cast is exact on both engines)
            F.col("price_sum").cast("double").alias("price_sum"),
            (
                F.col("price_sum").cast("double") / F.col("n_reach_2hop").cast("double")
            ).alias("price_mean"),
        )
        .orderBy(F.col("n_reach_2hop").desc(), F.col("origin").asc())
        .limit(KHOP_TOP)
    )


GRAPH_KHOP_FEATURES_SQL = f"""
WITH {_EDGE_CTES_SQL},
sym AS (
  SELECT pa AS src, pb AS dst FROM e
  UNION ALL
  SELECT pb AS src, pa AS dst FROM e
),
hop1 AS (SELECT src AS origin, dst AS reached FROM sym),
hop2 AS (
  SELECT h.origin, s.dst AS reached
  FROM hop1 h JOIN sym s ON h.reached = s.src
  WHERE h.origin <> s.dst
),
reach AS (
  SELECT DISTINCT origin, reached FROM (
    SELECT * FROM hop1 UNION ALL SELECT * FROM hop2
  )
),
agg AS (
  SELECT r.origin, COUNT(*) AS n_reach_2hop,
         SUM(CAST(p.p_retailprice AS DECIMAL(18,2))) AS price_sum
  FROM reach r JOIN part p ON r.reached = p.p_partkey
  GROUP BY r.origin
),
deg AS (SELECT origin, COUNT(*) AS n_1hop FROM hop1 GROUP BY origin)
SELECT a.origin, d.n_1hop, a.n_reach_2hop,
       CAST(CAST(a.price_sum AS VARCHAR) AS DOUBLE) AS price_sum,
       CAST(CAST(a.price_sum AS VARCHAR) AS DOUBLE)
         / CAST(a.n_reach_2hop AS DOUBLE) AS price_mean
FROM agg a JOIN deg d ON a.origin = d.origin
ORDER BY a.n_reach_2hop DESC, a.origin ASC LIMIT {KHOP_TOP}
"""


KCORE_K = 8
KCORE_ROUNDS = 3


def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling, {KCORE_ROUNDS} rounds unrolled: repeatedly drop
    vertices with degree < {KCORE_K} in the surviving subgraph — the
    standard densest-region extractor (community cores, spam/bot
    subgraph mining). Each round is one hash-agg (degrees of the
    surviving edge set) + two semi joins (restrict edges to surviving
    endpoints) — the Pregel-as-joins lowering again, no driver state.
    A fixed unroll keeps it SQL-expressible exactly like the fixed
    PageRank iterations (the oracle builds the same CTE chain); the
    converged variant would loop until the survivor count fixes, the
    same stop the connected-components operator uses. Output: one row
    per round with survivor counts — plan-invariant, so oracle parity
    checks every intermediate peel, not just the final core."""
    edges = _cooccurrence_edges_shared(spark, sf_dir)
    sym = (
        edges.select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
        .unionAll(edges.select(F.col("pb").alias("src"), F.col("pa").alias("dst")))
        # fence the co-occurrence self-join: each peel round's degree agg
        # and two semi joins branch from this relation, and without the
        # checkpoint every branch re-executes the order-pair join
        .localCheckpoint(eager=False)
    )
    rounds = []
    cur = sym
    for rnd in range(1, KCORE_ROUNDS + 1):
        deg = cur.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.filter(F.col("deg") >= KCORE_K).select("src")
        cur = (
            cur.join(keep, "src", "left_semi")
            .join(keep.withColumnRenamed("src", "dst"), "dst", "left_semi")
            .select("src", "dst")
        )
        stats = keep.agg(
            F.lit(rnd).alias("round"),
            F.count(F.lit(1)).alias("n_survivors"),
        )
        rounds.append(stats)
    out = rounds[0]
    for r in rounds[1:]:
        out = out.unionByName(r)
    return out


def _kcore_oracle_sql() -> str:
    ctes = []
    prev = "sym"
    for rnd in range(1, KCORE_ROUNDS + 1):
        ctes.append(f"""
keep{rnd} AS (
  SELECT src FROM (SELECT src, COUNT(*) AS deg FROM {prev} GROUP BY src)
  WHERE deg >= {KCORE_K}
),
e{rnd} AS (
  SELECT e.src, e.dst FROM {prev} e
  WHERE EXISTS (SELECT 1 FROM keep{rnd} k WHERE k.src = e.src)
    AND EXISTS (SELECT 1 FROM keep{rnd} k WHERE k.src = e.dst)
)""")
        prev = f"e{rnd}"
    selects = "\nUNION ALL\n".join(
        f"SELECT {rnd} AS round, COUNT(*) AS n_survivors FROM keep{rnd}"
        for rnd in range(1, KCORE_ROUNDS + 1)
    )
    return f"""
WITH {_EDGE_CTES_SQL},
sym AS (
  SELECT pa AS src, pb AS dst FROM e
  UNION ALL
  SELECT pb AS src, pa AS dst FROM e
),{",".join(ctes)}
{selects}
"""


GRAPH_KCORE_PEEL_SQL = _kcore_oracle_sql()


EC_ITERS = 3
EC_INIT = 1000  # scaled-integer starting mass per node
EC_RESCALE = 4  # per-iteration div (~mean degree) bounding growth
EC_TOP = 20


def graph_eigencentrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eigenvector centrality by integer power iteration — the undamped
    companion to the PageRank kernel: v ← (A·v) div RESCALE, where A is
    the 0/1 co-occurrence adjacency. Every iteration is one keyed
    equi-join (edge src = score node) + one hash agg on dst — pure
    BIGINT sums with an integer-div rescale, so unlike textbook
    float-normalized power iteration the whole fixed point is exactly
    reproducible on any engine (the same trick as the fixed-point
    PageRank above, minus even the div-by-degree). Nodes shed to zero
    by rescaling simply drop out of the top-k; ranking ties break on
    node id. Top-{EC_TOP} via TakeOrderedAndProject."""
    edges = _cooccurrence_edges_shared(spark, sf_dir)
    sym = (
        edges.select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
        .unionAll(edges.select(F.col("pb").alias("src"), F.col("pa").alias("dst")))
        .localCheckpoint(eager=False)
    )
    v = sym.select(F.col("src").alias("node")).distinct().select(
        "node", F.lit(EC_INIT).cast("long").alias("score")
    )
    for _ in range(EC_ITERS):
        v = (
            sym.join(v, sym["src"] == v["node"])
            .groupBy(F.col("dst").alias("n2"))
            .agg(F.sum("score").alias("s"))
            .select(
                F.col("n2").alias("node"),
                F.expr(f"s div {EC_RESCALE}").cast("long").alias("score"),
            )
        )
    return (
        v.orderBy(F.col("score").desc(), F.col("node").asc())
        .limit(EC_TOP)
        .select("node", F.col("score").alias("centrality_scaled"))
    )


def _eigencentrality_sql() -> str:
    iters = []
    for i in range(EC_ITERS):
        iters.append(f"""
v{i + 1} AS (
  SELECT sym.dst AS node,
         CAST(SUM(v{i}.score) // {EC_RESCALE} AS BIGINT) AS score
  FROM sym JOIN v{i} ON sym.src = v{i}.node
  GROUP BY sym.dst
)""")
    return f"""
WITH {_EDGE_CTES_SQL},
sym AS (
  SELECT pa AS src, pb AS dst FROM e
  UNION ALL
  SELECT pb AS src, pa AS dst FROM e
),
v0 AS (
  SELECT DISTINCT src AS node, CAST({EC_INIT} AS BIGINT) AS score FROM sym
),{",".join(iters)}
SELECT node, score AS centrality_scaled
FROM v{EC_ITERS}
ORDER BY score DESC, node ASC LIMIT {EC_TOP}
"""


GRAPH_EIGENCENTRALITY_SQL = _eigencentrality_sql()


SUBST_MIN_SHARED = 3
SUBST_JACCARD = 0.25
SUBST_TOP = 25


def graph_substitutes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural equivalence — substitute-part candidates: pairs whose
    NEIGHBORHOODS overlap (shared-neighbor Jaccard over the
    co-occurrence graph), the graph-native dedup of roles ("these two
    parts are bought alongside the same things"). Candidate pairs come
    only from the wedge join (two parts sharing a neighbor), so the
    all-pairs space is never touched — the same banding-not-cross-join
    discipline as minhash dedup, with the shared-neighbor count doubling
    as the intersection size; a {SUBST_MIN_SHARED}-shared-neighbor floor
    bounds the verify set before degrees join in. Jaccard is the single
    float division; top-{SUBST_TOP} by (jaccard, pair) via
    TakeOrderedAndProject."""
    edges = _cooccurrence_edges_shared(spark, sf_dir)
    sym = (
        edges.select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
        .unionAll(edges.select(F.col("pb").alias("src"), F.col("pa").alias("dst")))
        .localCheckpoint(eager=False)
    )
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # wedge join: neighbor n links (a, b); count shared neighbors per pair
    a = sym.select(F.col("src").alias("n"), F.col("dst").alias("a"))
    b = sym.select(F.col("src").alias("n"), F.col("dst").alias("b"))
    shared = (
        a.join(b, "n")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= SUBST_MIN_SHARED)
    )
    da = deg.select(F.col("src").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("src").alias("b"), F.col("deg").alias("deg_b"))
    scored = shared.join(da, "a").join(db, "b").select(
        "a",
        "b",
        "n_shared",
        "deg_a",
        "deg_b",
        (
            F.col("n_shared").cast("double")
            / (F.col("deg_a") + F.col("deg_b") - F.col("n_shared")).cast("double")
        ).alias("jaccard"),
    )
    return (
        scored.filter(F.col("jaccard") >= SUBST_JACCARD)
        .orderBy(F.col("jaccard").desc(), F.col("a").asc(), F.col("b").asc())
        .limit(SUBST_TOP)
    )


GRAPH_SUBSTITUTES_SQL = f"""
WITH {_EDGE_CTES_SQL},
sym AS (
  SELECT pa AS src, pb AS dst FROM e
  UNION ALL
  SELECT pb AS src, pa AS dst FROM e
),
deg AS (SELECT src, COUNT(*) AS deg FROM sym GROUP BY src),
shared AS (
  SELECT x.dst AS a, y.dst AS b, COUNT(*) AS n_shared
  FROM sym x JOIN sym y ON x.src = y.src AND x.dst < y.dst
  GROUP BY x.dst, y.dst
  HAVING COUNT(*) >= {SUBST_MIN_SHARED}
)
SELECT s.a, s.b, s.n_shared, dA.deg AS deg_a, dB.deg AS deg_b,
       CAST(s.n_shared AS DOUBLE)
         / CAST(dA.deg + dB.deg - s.n_shared AS DOUBLE) AS jaccard
FROM shared s
JOIN deg dA ON s.a = dA.src
JOIN deg dB ON s.b = dB.src
WHERE CAST(s.n_shared AS DOUBLE)
        / CAST(dA.deg + dB.deg - s.n_shared AS DOUBLE) >= {SUBST_JACCARD}
ORDER BY jaccard DESC, s.a ASC, s.b ASC LIMIT {SUBST_TOP}
"""


_RC_SEED_MOD = 997
_RC_MAX_DEPTH = 3

_RC_WALK_SQL = f"""
WITH RECURSIVE
seeds AS (SELECT DISTINCT src AS origin FROM {{edges}} WHERE src % {_RC_SEED_MOD} = 0),
walk(origin, node, depth) AS (
  SELECT origin, origin AS node, 0 AS depth FROM seeds
  UNION ALL
  SELECT w.origin, s.dst AS node, w.depth + 1 AS depth
  FROM walk w JOIN {{edges}} s ON w.node = s.src
  WHERE w.depth < {_RC_MAX_DEPTH}
),
dist AS (SELECT origin, node, MIN(depth) AS d FROM walk GROUP BY origin, node)
SELECT origin,
       CAST(SUM(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hop1,
       CAST(SUM(CASE WHEN d = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_hop2,
       CAST(SUM(CASE WHEN d = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_hop3
FROM dist WHERE d > 0 GROUP BY origin
"""


def graph_recursive_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-hop reachability via a RECURSIVE CTE (Spark 4's WITH
    RECURSIVE — the SQL-surface twin of the iterative-join
    ``graph_khop_features``): BFS from a deterministic seed set
    (partkey % {_RC_SEED_MOD} = 0), depth-capped at {_RC_MAX_DEPTH},
    min-distance per reached node, then exact counts per hop ring.
    Engine mechanics worth pinning: the recursion re-evaluates its
    non-recursive legs each step, so the symmetric edge table is
    checkpoint-fenced and registered as a temp view BEFORE the SQL —
    without the fence the order-pair self-join runs once per depth.
    The oracle runs the IDENTICAL recursive SQL (DuckDB shares the
    WITH RECURSIVE semantics) with the edge CTEs inlined. Path blowup
    is bounded by seed count x deg^depth inside the shipdate window;
    depth-capped UNION ALL + closing MIN-dedup is the plan — per-level
    DISTINCT would add a shuffle per depth for no asymptotic win at
    this cap."""
    edges = _cooccurrence_edges_shared(spark, sf_dir)
    sym = (
        edges.select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
        .unionAll(edges.select(F.col("pb").alias("src"), F.col("pa").alias("dst")))
        .localCheckpoint(eager=True)
    )
    view = "rc_sym_edges"
    sym.createOrReplaceTempView(view)
    return spark.sql(_RC_WALK_SQL.format(edges=view))


GRAPH_RECURSIVE_REACHABILITY_SQL = f"""
WITH RECURSIVE {_EDGE_CTES_SQL},
sym AS (
  SELECT pa AS src, pb AS dst FROM e
  UNION ALL SELECT pb AS src, pa AS dst FROM e
)
""" + _RC_WALK_SQL.format(edges="sym").replace("WITH RECURSIVE", ",").lstrip()


LINKPRED_TOP = 25


def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the part co-occurrence graph: for every
    NON-adjacent canonical pair (u < w) sharing at least one neighbor,
    the two classic exact-integer scores — common-neighbor count and
    preferential attachment deg(u)*deg(w) — ranked to the top
    {LINKPRED_TOP} (the 'parts likely to co-occur next quarter'
    recommendation feed). Adamic-Adar is deliberately NOT emitted: its
    per-neighbor 1/ln(deg) float sum is accumulation-order-dependent
    and would break cross-engine value parity; CN + PA carry the same
    ranking signal in exact BIGINT.

    Shape: one wedge join (neighbor-list self-join keyed on the shared
    node — sum-of-deg² work, the accepted triangle-count family) +
    hash agg on the pair, an anti-join against the edge list to keep
    non-edges only, two keyed joins for degrees, and a
    TakeOrderedAndProject top-{LINKPRED_TOP} with a total tie-break
    (cn desc, pa desc, id_a, id_b) — no full sort, no CartesianProduct,
    ranking independent of partition order."""
    edges = _cooccurrence_edges_shared(spark, sf_dir)
    sym = edges.select(
        F.col("pa").alias("node"), F.col("pb").alias("nbr")
    ).unionAll(edges.select(F.col("pb").alias("node"), F.col("pa").alias("nbr")))
    n1, n2 = sym.alias("n1"), sym.alias("n2")
    cn = (
        n1.join(
            n2,
            (F.col("n1.nbr") == F.col("n2.nbr"))
            & (F.col("n1.node") < F.col("n2.node")),
        )
        .groupBy(
            F.col("n1.node").alias("id_a"), F.col("n2.node").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("common_neighbors"))
    )
    non_edges = cn.join(
        edges,
        (cn["id_a"] == edges["pa"]) & (cn["id_b"] == edges["pb"]),
        "left_anti",
    )
    deg = sym.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    da = deg.select(F.col("node").alias("id_a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("id_b"), F.col("deg").alias("deg_b"))
    return (
        non_edges.join(da, "id_a")
        .join(db, "id_b")
        .select(
            "id_a",
            "id_b",
            "common_neighbors",
            (F.col("deg_a") * F.col("deg_b")).alias("pref_attachment"),
        )
        .orderBy(
            F.col("common_neighbors").desc(),
            F.col("pref_attachment").desc(),
            F.col("id_a").asc(),
            F.col("id_b").asc(),
        )
        .limit(LINKPRED_TOP)
    )


graph_link_prediction.__doc__ = graph_link_prediction.__doc__.format(
    LINKPRED_TOP=LINKPRED_TOP
)


GRAPH_LINK_PREDICTION_SQL = f"""
WITH {_EDGE_CTES_SQL},
sym AS (
  SELECT pa AS node, pb AS nbr FROM e
  UNION ALL
  SELECT pb AS node, pa AS nbr FROM e
),
cn AS (
  SELECT n1.node AS id_a, n2.node AS id_b, CAST(COUNT(*) AS BIGINT) AS common_neighbors
  FROM sym n1 JOIN sym n2 ON n1.nbr = n2.nbr AND n1.node < n2.node
  GROUP BY n1.node, n2.node
),
non_edges AS (
  SELECT c.* FROM cn c
  LEFT JOIN e ON c.id_a = e.pa AND c.id_b = e.pb
  WHERE e.pa IS NULL
),
deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY node)
SELECT ne.id_a, ne.id_b, ne.common_neighbors,
       da.deg * db.deg AS pref_attachment
FROM non_edges ne
JOIN deg da ON ne.id_a = da.node
JOIN deg db ON ne.id_b = db.node
ORDER BY ne.common_neighbors DESC, pref_attachment DESC, ne.id_a ASC, ne.id_b ASC
LIMIT {LINKPRED_TOP}
"""


def graph_modularity_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modularity of the BRAND partition over the part co-occurrence
    graph — "do parts of the same brand co-occur in orders more than a
    degree-preserving random graph predicts?", the community-quality
    score (Newman-Girvan Q) evaluated for the catalog's natural
    communities. Per brand c: Q_c = e_c/m − (d_c/2m)², where e_c =
    within-brand edges, d_c = degree sum, m = |E|; Q = Σ_c Q_c rides on
    every row (window sum over the |brands|-bounded grain). A Louvain
    pass would OPTIMIZE Q by iterating exactly this evaluation — the
    kernel is the reusable part; the brand labels make it
    deterministic and oracle-checkable.

    Exactness: e_c, d_c, m are exact BIGINTs; each contribution is one
    fixed float expression; the global Q sums DECIMAL(28,12)-cast
    contributions (order-free). Scale: the same windowed edge set as
    the triangle/link-prediction kernels (bounded by the shipdate
    window); two keyed joins against the part dim for endpoint brands
    (broadcast at test SF, shuffle-join at catalog scale); aggs land
    on the |brands| grain. No all-pairs anything."""
    # the edge set feeds three consumers (degree table, |E|, internal-
    # edge count) — fence it so the lineitem self-join runs once
    edges = _cooccurrence_edges_shared(spark, sf_dir)
    brand = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("node"), "p_brand"
    )
    deg = (
        edges.select(F.col("pa").alias("node"))
        .unionAll(edges.select(F.col("pb").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    m = edges.agg(F.count(F.lit(1)).alias("m_edges"))
    per_brand = (
        deg.join(brand, "node")
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum("deg").alias("degree_sum"),
        )
    )
    internal = (
        edges.join(brand.select(F.col("node").alias("pa"), F.col("p_brand").alias("brand_a")), "pa")
        .join(brand.select(F.col("node").alias("pb"), F.col("p_brand").alias("brand_b")), "pb")
        .filter(F.col("brand_a") == F.col("brand_b"))
        .groupBy(F.col("brand_a").alias("p_brand"))
        .agg(F.count(F.lit(1)).alias("internal_edges"))
    )
    j = (
        per_brand.join(internal, "p_brand", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "p_brand",
            "n_nodes",
            "degree_sum",
            F.coalesce(F.col("internal_edges"), F.lit(0)).alias("internal_edges"),
            "m_edges",
        )
    )
    frac_int = F.col("internal_edges").cast("double") / F.col("m_edges").cast(
        "double"
    )
    frac_deg = F.col("degree_sum").cast("double") / (
        F.lit(2) * F.col("m_edges")
    ).cast("double")
    contribution = frac_int - frac_deg * frac_deg
    from pyspark.sql import Window

    wall = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return j.select(
        "p_brand",
        "n_nodes",
        "degree_sum",
        "internal_edges",
        contribution.alias("contribution"),
        F.sum(contribution.cast("decimal(28,12)"))
        .over(wall)
        .cast("double")
        .alias("modularity_q"),
    )


GRAPH_MODULARITY_BRAND_SQL = f"""
WITH {_EDGE_CTES_SQL},
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg
  FROM (SELECT pa AS node FROM e UNION ALL SELECT pb AS node FROM e)
  GROUP BY node
),
m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m_edges FROM e),
per_brand AS (
  SELECT p.p_brand, CAST(COUNT(*) AS BIGINT) AS n_nodes,
         CAST(SUM(deg.deg) AS BIGINT) AS degree_sum
  FROM deg JOIN part p ON deg.node = p.p_partkey
  GROUP BY p.p_brand
),
internal AS (
  SELECT pa_b.p_brand, CAST(COUNT(*) AS BIGINT) AS internal_edges
  FROM e
  JOIN part pa_b ON e.pa = pa_b.p_partkey
  JOIN part pb_b ON e.pb = pb_b.p_partkey
  WHERE pa_b.p_brand = pb_b.p_brand
  GROUP BY pa_b.p_brand
),
j AS (
  SELECT per_brand.p_brand, n_nodes, degree_sum,
         COALESCE(internal_edges, CAST(0 AS BIGINT)) AS internal_edges,
         m.m_edges
  FROM per_brand LEFT JOIN internal ON per_brand.p_brand = internal.p_brand, m
),
c AS (
  SELECT *,
         CAST(internal_edges AS DOUBLE) / CAST(m_edges AS DOUBLE)
         - (CAST(degree_sum AS DOUBLE) / CAST(2 * m_edges AS DOUBLE))
           * (CAST(degree_sum AS DOUBLE) / CAST(2 * m_edges AS DOUBLE))
           AS contribution
  FROM j
)
SELECT p_brand, n_nodes, degree_sum, internal_edges, contribution,
       CAST(CAST(SUM(CAST(contribution AS DECIMAL(28,12))) OVER ()
                 AS VARCHAR) AS DOUBLE) AS modularity_q
FROM c
"""


QUERIES = {
    "graph_triangle_count": graph_triangle_count,
    "graph_modularity_brand": graph_modularity_brand,
    "graph_pagerank": graph_pagerank,
    "graph_khop_features": graph_khop_features,
    "graph_kcore_peel": graph_kcore_peel,
    "graph_eigencentrality": graph_eigencentrality,
    "graph_substitutes": graph_substitutes,
    "graph_recursive_reachability": graph_recursive_reachability,
    "graph_link_prediction": graph_link_prediction,
}

ORACLES = {
    "graph_triangle_count": GRAPH_TRIANGLE_COUNT_SQL,
    "graph_modularity_brand": GRAPH_MODULARITY_BRAND_SQL,
    "graph_pagerank": GRAPH_PAGERANK_SQL,
    "graph_khop_features": GRAPH_KHOP_FEATURES_SQL,
    "graph_kcore_peel": GRAPH_KCORE_PEEL_SQL,
    "graph_eigencentrality": GRAPH_EIGENCENTRALITY_SQL,
    "graph_substitutes": GRAPH_SUBSTITUTES_SQL,
    "graph_recursive_reachability": GRAPH_RECURSIVE_REACHABILITY_SQL,
    "graph_link_prediction": GRAPH_LINK_PREDICTION_SQL,
}
