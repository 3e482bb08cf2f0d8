"""Graph centrality over the co-purchase graph: distributed PageRank.

Curation pipelines use graph centrality to score representativeness
(which items/documents sit at the center of a similarity or
co-occurrence structure) — the same power-iteration shape as dedup's
connected components but with weighted mass instead of min-labels.
Here the graph is the market-basket co-purchase graph
(``basket_part_pairs``'s edge extraction: parts co-ordered in the same
order), and the score is classic PageRank (Brin & Page 1998, public
literature) with uniform teleport.

Scale shape:
- The edge list is built ONCE (the bounded per-order self-join —
  baskets ≤7 items, so fan-out is ≤ items²/2 per order, linear in
  orders) and materialized via lineage truncation; iterations never
  re-derive it.
- Each power-iteration round is one join (edges ⋈ ranks, both keyed on
  the node id — co-partitioned after the first shuffle) plus one
  aggregate. Rank state is one row per NODE (≪ edges), and nothing
  ever collects to the driver until the final top-k cut.
- The co-purchase graph is undirected → every node reachable from its
  edges has out-degree ≥1: no dangling-mass correction needed (the
  classic PageRank complication), documented rather than hidden.

Iterative → rows-only with the driver; exactness pinned in
tests/test_graph.py against a pure-Python power iteration on the same
collected edge list (scores allclose, top-k set identical).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from live_data_spark.catalog import load, register
from live_data_spark.operators.dedup import _truncate_lineage
from live_data_spark.session import local_frame

PR_DAMPING = 0.85
PR_ITERS = 12
PR_MIN_BOTH = 2  # co-purchase support floor: edges need ≥2 shared orders
PR_TOP = 25
# Per-iteration mass quantization (the surprisal recipe, applied to an
# ITERATIVE operator): every edge contribution pr/outdeg quantizes to a
# 1e-15 integer before the per-node sum, so each round's ranks are a pure
# function of engine-identical integers and the whole 12-round power
# iteration replays bit-for-bit in DuckDB (unrolled CTE chain) and in the
# pure-Python test reference. No overflow at ANY graph size: total mass
# is 1, so the global integer sum is ~1e15 and every per-node sum is
# below it. Quantization drift per round is ≤ n_edges·5e-16 — ~5e-11 at
# sf0.1, invisible at the 8-decimal output rounding.
PR_Q = 10**15
# Lineage-truncation cadence: materializing ranks EVERY round pays a full
# rank-table write per iteration; truncating only at the end lets the
# logical plan deepen 12 joins and the optimizer cost blow up (measured
# 9.1 s / 18.4 s vs 6.8 s at sf0.1 for every-1 / end-only / every-3).
# Every-3 keeps plans ≤3 joins deep while dropping 2/3 of the
# materializations — same values bit-for-bit (pinned in tests).
PR_TRUNCATE_EVERY = 3


def order_baskets(li: DataFrame) -> DataFrame:
    """(l_orderkey, ps): each order's DISTINCT part ids as a sorted array
    — ONE exchange on the basket key. The shared base of the market-
    basket pair extraction and its marginals (pair counts, per-part
    order counts, order totals all derive from it, sharing the exchange
    via AQE stage reuse)."""
    return li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )


def order_pair_counts(baskets: DataFrame) -> DataFrame:
    """(p1, p2, n_both): distinct in-order part pairs counted across
    orders — the market-basket pair extraction shared by
    ``basket_part_pairs``, ``graph_part_triangles``, and the PageRank
    edge list.

    r12 rewrite (guide §2.4): the r11 shape was DISTINCT(order, part)
    + a self-join on the order key + pair GROUP BY — three data-sized
    exchanges and an SMJ. Baskets are ≤7 items, so the in-basket pair
    set is ≤21 structs: generate it as a bounded array expression over
    the per-order sorted set (``sort_array`` makes p1 < p2 by
    construction, set semantics make each order contribute each pair at
    most once — exactly the old DISTINCT + a<b join) and explode. Plan:
    one exchange on the basket key + the final pair aggregate; the SMJ
    and the distinct exchange are gone. Consumers' oracles are
    unchanged and stay green (preflight), which pins the equivalence.
    Measured at sf0.1: basket_part_pairs 1.43 → 0.98 s, PageRank edge
    build 2.7 → 1.9 s warm, graph_part_triangles 1.94 → 1.45 s."""
    pair_arr = F.flatten(
        F.transform(
            "ps",
            lambda x, i: F.transform(
                F.slice("ps", i + F.lit(2), F.size("ps") - i - 1),
                lambda y: F.struct(x.alias("p1"), y.alias("p2")),
            ),
        )
    )
    return (
        baskets.select(F.explode(pair_arr).alias("pr"))
        .select("pr.p1", "pr.p2")
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )


def copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric (src, dst) edges: parts co-ordered in ≥PR_MIN_BOTH orders.

    The same bounded basket pair extraction as ``basket_part_pairs``
    (support floor BEFORE symmetrization so both directions agree),
    emitted in both directions so the random walk is over the
    undirected graph.
    """
    li = load(spark, sf_dir, "lineitem")
    pairs = order_pair_counts(order_baskets(li)).where(
        F.col("n_both") >= PR_MIN_BOTH
    )
    fwd = pairs.select(F.col("p1").alias("src"), F.col("p2").alias("dst"))
    rev = pairs.select(F.col("p2").alias("src"), F.col("p1").alias("dst"))
    return fwd.union(rev)


def pagerank(spark: SparkSession, sf_dir: str, iters: int = PR_ITERS) -> DataFrame:
    """(part_id, degree, pr) after ``iters`` power-iteration rounds.

    Nodes are the parts that appear in at least one qualifying edge
    (isolated parts have PageRank (1−d)/N by definition and are omitted
    — the interesting signal is relative centrality among connected
    parts). Uniform init 1/N; every node has out-degree ≥1 so the walk
    is stochastic with no dangling-mass term.

    Two arms, gated on EDGE bytes like every size-gated plan in the
    repo (r12, guide §1.2 — pick the distributed algorithm by the data
    that actually iterates):

    - gate OPEN (edge list under BROADCAST_GATE_BYTES at the shared
      catalog.EDGE_BYTES estimate —
      the co-purchase graph is support-floor-trimmed and node-bounded,
      7k edges at sf0.1): collect the edges once and fold the 12 rounds
      in numpy with the IDENTICAL quantized arithmetic (same IEEE ops
      in the same order — the pure-Python test reference promoted to
      the executed small-graph arm). The distributed loop paid ~0.4 s
      of job/exchange overhead PER ROUND on a 7k-edge graph (measured;
      12 rounds ≈ 4.5 s of the entry's 5.8 s) for work numpy does in
      microseconds.
    - gate CLOSED (real graphs): the r11 distributed loop unchanged —
      join + quantized aggregate per round, lineage truncated every
      PR_TRUNCATE_EVERY rounds.

    Arm equality is pinned three ways: the DuckDB oracle (unrolled CTE
    chain) replays the quantized rounds bit-for-bit against whichever
    arm runs; tests/test_graph.py pins the numpy reference; and the
    gate-closed sweep (tests/test_broadcast_gate_closed.py) forces the
    distributed arm and requires identical output.
    """
    from live_data_spark.catalog import edges_fit_gate

    edges = _truncate_lineage(copurchase_edges(spark, sf_dir))
    n_edges = edges.count()  # cheap: counts the checkpointed blocks
    # shared EDGE_BYTES size model (catalog.edges_fit_gate); the 0 <
    # lower bound keeps the empty graph on the distributed arm's defined
    # empty-ranking path (the driver arm would divide by n = 0)
    if 0 < n_edges and edges_fit_gate(n_edges):
        return _pagerank_driver(spark, edges, iters)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # one row per node; carries outdeg so iterations touch no extra table
    n_nodes = deg.count()
    if n_nodes == 0:  # empty graph: defined empty ranking, no 1/N term
        return deg.select(
            F.col("src").alias("part_id"),
            F.col("outdeg").alias("degree"),
            F.lit(0.0).alias("pr"),
        )
    ranks = _truncate_lineage(
        deg.select("src", "outdeg", F.lit(1.0 / n_nodes).alias("pr"))
    )
    teleport = (1.0 - PR_DAMPING) / n_nodes
    for i in range(iters):
        contrib = (
            edges.join(ranks, "src")
            .groupBy(F.col("dst").alias("src"))
            .agg(
                F.sum(
                    F.floor(
                        F.col("pr") / F.col("outdeg") * F.lit(float(PR_Q)) + 0.5
                    ).cast("long")
                ).alias("qmass")
            )
        )
        ranks = (
            ranks.drop("pr")
            .join(contrib, "src", "left")
            .select(
                "src",
                "outdeg",
                (
                    F.lit(teleport)
                    + PR_DAMPING
                    * (
                        F.coalesce("qmass", F.lit(0)).cast("double")
                        / F.lit(float(PR_Q))
                    )
                ).alias("pr"),
            )
        )
        if (i + 1) % PR_TRUNCATE_EVERY == 0 or i == iters - 1:
            ranks = _truncate_lineage(ranks)
    return ranks.select(
        F.col("src").alias("part_id"), F.col("outdeg").alias("degree"), "pr"
    )


def _pagerank_driver(spark: SparkSession, edges: DataFrame, iters: int) -> DataFrame:
    """The gate-open small-graph arm of ``pagerank``: fold the power
    iteration over the collected edge list with the EXACT quantized
    recurrence of the distributed loop — ``pr[src]/outdeg[src]`` (double
    ÷ int64→double), ``*1e15 + 0.5``, ``floor`` to int64, int64 per-dst
    sum (``np.add.at`` — bincount would go through float64 and lose
    exactness), then ``teleport + 0.85·(qmass/1e15)``. Same IEEE ops in
    the same order as the Spark expression tree, so the result is
    bit-identical (the oracle replays it)."""
    import numpy as np

    rows = edges.select("src", "dst").collect()  # gate-bounded
    src = np.array([r[0] for r in rows], dtype=np.int64)
    dst = np.array([r[1] for r in rows], dtype=np.int64)
    # symmetric edge list → node set == unique srcs; outdeg ≥ 1 everywhere
    nodes, inv_src = np.unique(src, return_inverse=True)
    outdeg = np.bincount(inv_src, minlength=len(nodes)).astype(np.int64)
    inv_dst = np.searchsorted(nodes, dst)
    n = len(nodes)
    pr = np.full(n, 1.0 / n, dtype=np.float64)
    teleport = (1.0 - PR_DAMPING) / n
    q = float(PR_Q)
    for _ in range(iters):
        contrib = np.floor(pr[inv_src] / outdeg[inv_src] * q + 0.5).astype(np.int64)
        qmass = np.zeros(n, dtype=np.int64)
        np.add.at(qmass, inv_dst, contrib)
        pr = teleport + PR_DAMPING * (qmass.astype(np.float64) / q)
    out = [
        (int(nodes[i]), int(outdeg[i]), float(pr[i]))
        for i in range(n)
    ]
    return local_frame(spark, out, "part_id long, degree long, pr double")


def _pr_oracle() -> str:
    """Unrolled power iteration: one CTE pair (mass, ranks) per round.

    "Iterative" does not have to mean "rows-only": a FIXED-round power
    iteration is a finite dataflow, so the oracle just chains
    ``PR_ITERS`` join+aggregate CTEs. With the per-iteration integer
    quantization both engines fold the identical integers, so the final
    doubles — and therefore the top-k cut — are bit-identical.
    """
    its = []
    prev = "r0"
    for i in range(1, PR_ITERS + 1):
        its.append(
            f""", m{i} AS MATERIALIZED (
  SELECT e.dst AS src,
         cast(sum(cast(floor(r.pr / r.outdeg * {PR_Q} + 0.5) AS BIGINT)) AS BIGINT) AS qmass
  FROM edges e JOIN {prev} r ON r.src = e.src
  GROUP BY e.dst
), r{i} AS MATERIALIZED (
  SELECT d.src, d.outdeg,
         cast({(1.0 - PR_DAMPING)!r} AS DOUBLE) / n.n
           + {PR_DAMPING} * (coalesce(m.qmass, 0) / cast({PR_Q} AS DOUBLE)) AS pr
  FROM deg d CROSS JOIN n LEFT JOIN m{i} m ON m.src = d.src
)"""
        )
        prev = f"r{i}"
    return (
        f"""
WITH items AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), pairs AS MATERIALIZED (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= {PR_MIN_BOTH}
), edges AS MATERIALIZED (
  SELECT p1 AS src, p2 AS dst FROM pairs
  UNION ALL SELECT p2, p1 FROM pairs
), deg AS MATERIALIZED (
  SELECT src, count(*) AS outdeg FROM edges GROUP BY src
), n AS MATERIALIZED (
  SELECT count(*) AS n FROM deg
), r0 AS MATERIALIZED (
  SELECT d.src, d.outdeg, 1.0 / n.n AS pr FROM deg d CROSS JOIN n
)"""
        + "".join(its)
        + f"""
SELECT src AS part_id, cast(outdeg AS BIGINT) AS degree,
       floor(pr * 100000000 + 0.5) / 100000000 AS pr_score
FROM {prev}
ORDER BY pr DESC, src
LIMIT {PR_TOP}
"""
    )


@register("graph_part_pagerank", oracle=_pr_oracle(), tags=("graph", "iterative"))
def graph_part_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 parts by co-purchase PageRank: (part_id, degree, pr_score).

    FULLY oracle-checked despite being iterative (the r7 promotion): the
    per-iteration integer quantization (``PR_Q``) makes every round a
    pure function of engine-identical integers, and the DuckDB oracle
    unrolls the fixed 12 rounds as a CTE chain — see ``_pr_oracle``.
    Score parity and top-set agreement vs a pure-Python power iteration
    replaying the same quantized arithmetic stay pinned in
    tests/test_graph.py. The output score is HALF-UP-quantized to 8
    decimals with integer arithmetic in BOTH engines (never ``round`` on
    a double — half-boundary rounding diverges across engines).
    """
    pr = pagerank(spark, sf_dir)
    return (
        pr.orderBy(F.col("pr").desc(), "part_id")
        .limit(PR_TOP)
        .select(
            "part_id",
            "degree",
            (F.floor(F.col("pr") * 100000000 + 0.5) / 100000000).alias("pr_score"),
        )
    )


# ---------------------------------------------------------------------------
# Triangle counting — local clustering structure of the co-purchase graph.
# ---------------------------------------------------------------------------

TRI_TOP = 20

_TRI_ORACLE = f"""
WITH items AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), pairs AS MATERIALIZED (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= {PR_MIN_BOTH}
), tri AS (
  SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c
  FROM pairs e1
  JOIN pairs e2 ON e2.p1 = e1.p2
  JOIN pairs e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2
), node_tri AS (
  SELECT part_id, count(*) AS n_triangles
  FROM (
    SELECT a AS part_id FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  ) GROUP BY 1
), deg AS (
  SELECT part_id, count(*) AS degree FROM (
    SELECT p1 AS part_id FROM pairs UNION ALL SELECT p2 FROM pairs
  ) GROUP BY 1
)
SELECT d.part_id, cast(coalesce(t.n_triangles, 0) AS BIGINT) AS n_triangles,
       cast(d.degree AS BIGINT) AS degree,
       round(coalesce(t.n_triangles, 0) * 2.0
             / NULLIF(d.degree * (d.degree - 1), 0), 6) AS clustering_coeff
FROM deg d LEFT JOIN node_tri t ON t.part_id = d.part_id
ORDER BY coalesce(t.n_triangles, 0) DESC, d.part_id
LIMIT {TRI_TOP}
"""


@register("graph_part_triangles", oracle=_TRI_ORACLE, tags=("graph",))
def graph_part_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 parts by triangle participation in the co-purchase graph,
    with degree and local clustering coefficient 2T/(d(d−1)) — the
    community-density complement to PageRank's centrality: a part inside
    many triangles sits in a tight substitute/bundle cluster, one with
    high degree but few triangles is a hub bridging unrelated baskets.

    Non-iterative, so unlike PageRank this entry is FULLY oracle-checked:
    the id-oriented edge list (p1 < p2, same ≥{PR_MIN_BOTH}-order support
    floor as the PageRank graph) joins itself twice — e1(a,b) ⋈ e2(b,c)
    ⋈ e3(a,c) counts each triangle exactly once — then one explode and
    two bounded aggregates. Ranking keys are pure integers (no fp in the
    cut); the coefficient is one IEEE division per output row.

    Scale: the wedge join shuffles oriented edges on their endpoints —
    the standard distributed triangle count, with fan-out bounded here
    by the ≤7-item baskets. On a power-law graph the production hardening
    is degree-ordered orientation (point every edge at its higher-degree
    endpoint), which caps wedge fan-out by arboricity instead of max
    degree. Id orientation stays: the SQL oracle reproduces it verbatim,
    the support floor already trims hubs, and at sf0.1 the degree-ordered
    form returned the same rows with 2 more stages (13 vs 11).
    """
    li = load(spark, sf_dir, "lineitem")
    pairs = (
        order_pair_counts(order_baskets(li))
        .where(F.col("n_both") >= PR_MIN_BOTH)
        .select("p1", "p2")
    )
    e1, e2, e3 = pairs.alias("e1"), pairs.alias("e2"), pairs.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.p1") == F.col("e1.p2"))
        .join(e3, (F.col("e3.p1") == F.col("e1.p1")) & (F.col("e3.p2") == F.col("e2.p2")))
        .select(F.col("e1.p1").alias("a"), F.col("e1.p2").alias("b"), F.col("e2.p2").alias("c"))
    )
    node_tri = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("part_id"))
        .groupBy("part_id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    deg = (
        pairs.select(F.explode(F.array("p1", "p2")).alias("part_id"))
        .groupBy("part_id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    t = F.coalesce("n_triangles", F.lit(0))
    return (
        deg.join(node_tri, "part_id", "left")
        .orderBy(t.desc(), "part_id")
        .limit(TRI_TOP)
        .select(
            "part_id",
            t.cast("bigint").alias("n_triangles"),
            F.col("degree").cast("bigint").alias("degree"),
            F.round(
                t * 2.0 / F.nullif((F.col("degree") * (F.col("degree") - 1)).cast("double"), F.lit(0.0)),
                6,
            ).alias("clustering_coeff"),
        )
    )
