"""PageRank parity vs a pure-Python power iteration on the same edges."""

from __future__ import annotations

import pytest

from live_data_spark.operators import graph as g


def _py_pagerank(edges, iters, damping):
    # Replays the engine's QUANTIZED arithmetic (graph.PR_Q): integer
    # mass sums per round, so parity with Spark/DuckDB is exact, not
    # approximate.
    import math
    from collections import defaultdict

    outdeg = defaultdict(int)
    for s, _ in edges:
        outdeg[s] += 1
    nodes = sorted(outdeg)
    n = len(nodes)
    pr = {v: 1.0 / n for v in nodes}
    tele = (1.0 - damping) / n
    for _ in range(iters):
        qmass = defaultdict(int)
        for s, d in edges:
            qmass[d] += math.floor(pr[s] / outdeg[s] * float(g.PR_Q) + 0.5)
        pr = {v: tele + damping * (qmass.get(v, 0) / float(g.PR_Q)) for v in nodes}
    return pr


def test_pagerank_matches_python_reference(spark, sf_dir):
    edges = [(r["src"], r["dst"]) for r in g.copurchase_edges(spark, sf_dir).collect()]
    assert edges, "support floor too high for sf0.001 — no edges"
    want = _py_pagerank(edges, g.PR_ITERS, g.PR_DAMPING)
    got = {r["part_id"]: r for r in g.pagerank(spark, sf_dir).collect()}
    assert set(got) == set(want)
    # quantized fold: parity is EXACT (identical integers, identical
    # IEEE ops in identical order), not approximate
    for v, r in got.items():
        assert r["pr"] == want[v], v
    # degree column is the real out-degree
    from collections import Counter

    deg = Counter(s for s, _ in edges)
    assert all(got[v]["degree"] == deg[v] for v in got)


def test_pagerank_invariants(spark, sf_dir):
    rows = g.pagerank(spark, sf_dir).collect()
    total = sum(r["pr"] for r in rows)
    # undirected graph, no dangling nodes: mass is conserved exactly
    assert total == pytest.approx(1.0, abs=1e-9)
    assert all(r["pr"] > 0 for r in rows)


def test_pagerank_entry_topk_stable(spark, sf_dir):
    edges = [(r["src"], r["dst"]) for r in g.copurchase_edges(spark, sf_dir).collect()]
    want = _py_pagerank(edges, g.PR_ITERS, g.PR_DAMPING)
    top = g.graph_part_pagerank(spark, sf_dir).collect()
    assert len(top) == min(g.PR_TOP, len(want))
    # descending with part_id tiebreak, and the set agrees with the
    # reference's top-k (ties at the boundary broken identically)
    want_top = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))[: len(top)]
    assert [r["part_id"] for r in top] == [v for v, _ in want_top]


def test_pagerank_sf01_scale_invariants(spark):
    """sf0.1 (10x the fixture's lineitem): mass conservation and
    positivity must hold on the real-sized graph, and the graph must be
    non-trivial (edges exist above the support floor)."""
    import pytest as _pt

    SF01 = "/root/testdata/sf0.1"
    rows = g.pagerank(spark, SF01).collect()
    assert len(rows) > 50, "support floor starves the sf0.1 graph"
    assert sum(r["pr"] for r in rows) == _pt.approx(1.0, abs=1e-9)
    assert all(r["pr"] > 0 for r in rows)


def test_triangle_count_matches_networkless_reference(spark, sf_dir):
    """Per-node triangle counts agree with a pure-Python recount over the
    same collected edge list, and each clustering coefficient respects
    2T ≤ d(d−1)."""
    from itertools import combinations

    from live_data_spark.operators.graph import graph_part_triangles
    from live_data_spark.operators.graph import copurchase_edges

    rows = graph_part_triangles(spark, sf_dir).collect()
    edges = {
        (r["src"], r["dst"])
        for r in copurchase_edges(spark, sf_dir).collect()
    }
    adj: dict[int, set[int]] = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
    tri_count: dict[int, int] = {}
    for u, nbrs in adj.items():
        for v, w in combinations(sorted(nbrs), 2):
            if w in adj.get(v, ()):  # u-v, u-w, v-w all present
                for x in (u, v, w):
                    tri_count[x] = tri_count.get(x, 0) + 1
    # the python loop counts each triangle 3x per node (once per corner
    # enumeration); normalize: every triangle visits a node exactly once
    # per corner role → counted 3 times total, once per u
    for r in rows:
        d = r["degree"]
        assert 2 * r["n_triangles"] <= d * (d - 1)
        assert tri_count.get(r["part_id"], 0) // 3 == r["n_triangles"]


def test_degree_oriented_triangles_survive_huge_part_ids(spark, tmp_path):
    """Part ids at production scale (sf100k reaches ~2e10 > 2³²) must
    not collide anywhere in the triangle count. The planted graph is the
    one that broke a (degree, id) order key packed as degree·2³² + id:
    deg(u)=3 with id_u = 2·2³²+5 and deg(v)=2 with id_v = 3·2³²+5 both
    packed to 5·2³²+5, and the u-v-w triangle was lost. The entry orders
    by plain ids, so each of the triangle's corners must count it once
    and the pendant x none."""
    from live_data_spark.operators.graph import graph_part_triangles

    u = 2 * 2**32 + 5
    v = 3 * 2**32 + 5
    w = 2 * 2**32 + 100
    x = 2 * 2**32 + 200
    rows = []
    for ok in (1, 2):  # two orders holding the triangle (support floor = 2)
        rows += [(ok, u), (ok, v), (ok, w)]
    for ok in (3, 4):  # two orders holding the extra u-x edge: deg(u)=3
        rows += [(ok, u), (ok, x)]
    df = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    df.write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))

    ref = {r["part_id"]: tuple(r) for r in graph_part_triangles(spark, str(tmp_path)).collect()}
    assert ref[u][1] == ref[v][1] == ref[w][1] == 1, ref  # the planted triangle
    assert ref[x][1] == 0
    assert [ref[p][2] for p in (u, v, w, x)] == [3, 2, 2, 1], ref  # degrees


def test_order_pair_counts_matches_manual_baskets(spark):
    from live_data_spark.operators.graph import order_baskets, order_pair_counts

    li = spark.createDataFrame(
        [
            # order 1: parts {3, 1, 2} (with a duplicate lineitem for 1)
            (1, 3), (1, 1), (1, 2), (1, 1),
            # order 2: parts {2, 3}
            (2, 3), (2, 2),
            # order 3: single-part basket -> no pairs
            (3, 9),
        ],
        "l_orderkey long, l_partkey long",
    )
    got = {
        (r["p1"], r["p2"]): r["n_both"]
        for r in order_pair_counts(order_baskets(li)).collect()
    }
    # per-order distinct pairs, p1 < p2, counted across orders
    assert got == {(1, 2): 1, (1, 3): 1, (2, 3): 2}
