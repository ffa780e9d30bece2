"""Convergence certificates for the iterative graph family (round-7
task: SCC/CC/label-prop/PageRank previously truncated silently at
their iteration budget; ``check_convergence=True`` now raises
:class:`ConvergenceError` instead — the k-truss certificate pattern
family-wide). Each operator gets one test on a graph that does NOT
converge within the budget and one asserting the flag stays silent
when the fixpoint IS reached."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import pandrs_spark.operators.graph as G
from pandrs_spark.operators.graph import (
    ConvergenceError,
    connected_components,
    label_propagation,
    pagerank,
    strongly_connected_components,
)


def _path_graph(spark, n):
    # 0-1-2-...-n path: min-label propagation needs ~n rounds
    return spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "src bigint, dst bigint"
    )


def test_cc_raises_when_diameter_exceeds_budget(spark):
    e = _path_graph(spark, 10)
    with pytest.raises(ConvergenceError, match="connected_components"):
        connected_components(e, max_iter=2, check_convergence=True)


def test_cc_certificate_silent_on_fixpoint(spark):
    e = _path_graph(spark, 4)
    comp = {
        r["id"]: r["component"]
        for r in connected_components(
            e, max_iter=10, check_convergence=True
        ).collect()
    }
    assert set(comp.values()) == {0}


def test_scc_raises_on_truncation(spark):
    # one long directed cycle: coloring needs ~n rounds to reach the
    # min id; max_iter=2 truncates the inner coloring pass
    n = 12
    e = spark.createDataFrame(
        [(i, (i + 1) % n) for i in range(n)], "src bigint, dst bigint"
    )
    with pytest.raises(ConvergenceError, match="strongly_connected"):
        strongly_connected_components(e, max_iter=2, check_convergence=True)


def test_scc_certificate_silent_on_fixpoint(spark):
    # two 3-cycles bridged one-way: clean SCC structure within budget
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (6, 4)],
        "src bigint, dst bigint",
    )
    comp = {
        r["id"]: r["component"]
        for r in strongly_connected_components(
            e, max_iter=10, check_convergence=True
        ).collect()
    }
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[4] == comp[5] == comp[6] == 4


def test_label_prop_raises_when_still_changing(spark):
    # long path: labels keep flowing inward for ~n/2 rounds, so after
    # 1 round the second round would still change labels
    e = _path_graph(spark, 10)
    with pytest.raises(ConvergenceError, match="label_propagation"):
        label_propagation(e, iterations=1, check_convergence=True)


def test_label_prop_certificate_silent_on_fixpoint(spark):
    # a triangle stabilizes immediately (everyone adopts label 1)
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "src bigint, dst bigint"
    )
    labels = {
        r["id"]: r["label"]
        for r in label_propagation(
            e, iterations=4, check_convergence=True
        ).collect()
    }
    assert set(labels.values()) == {1}


def test_pagerank_raises_below_tol_budget(spark):
    # star graph, 1 iteration: ranks move a lot on the first round
    e = spark.createDataFrame(
        [(0, i) for i in range(1, 8)] + [(i, 0) for i in range(1, 8)],
        "src bigint, dst bigint",
    )
    with pytest.raises(ConvergenceError, match="pagerank"):
        pagerank(e, iterations=1, check_convergence=True, tol=1e-9)


def test_pagerank_certificate_silent_when_converged(spark):
    # symmetric triangle starts AT the stationary distribution
    # (uniform), so even one iteration changes nothing
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (2, 1), (3, 2), (1, 3)],
        "src bigint, dst bigint",
    )
    ranks = {
        r["id"]: r["rank"]
        for r in pagerank(
            e, iterations=2, check_convergence=True, tol=1e-9
        ).collect()
    }
    for v in (1, 2, 3):
        assert ranks[v] == pytest.approx(1 / 3, abs=1e-9)


def test_kcore_convergence_certificate(spark):
    """kcore's certificate raises when the peel budget is short of the
    fixpoint and passes when it reaches it (a path graph peels one
    endpoint pair per round under k=2... use a long path + k=2)."""
    import pytest

    from pandrs_spark.operators.graph import ConvergenceError, kcore

    # path 0-1-2-...-9 with k=2: every round peels both endpoints, so
    # the whole path dissolves after ~5 rounds; 1 round is NOT enough
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "src long, dst long"
    )
    with pytest.raises(ConvergenceError):
        kcore(edges, k=2, n_iter=1, check_convergence=True).count()
    # a triangle IS its own 2-core: converged at any budget
    tri = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0)], "src long, dst long"
    )
    out = kcore(tri, k=2, n_iter=2, check_convergence=True).collect()
    assert len(out) == 3


def test_kcore_certificate_at_exact_peel_depth(spark):
    """A budget equal to the peel depth certifies; one round less
    raises. K4 plus the tail 4-5-6-7 under k=2 peels 7, 6, 5 in three
    rounds."""
    import pytest

    from pandrs_spark.operators.graph import ConvergenceError, kcore

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6), (6, 7)],
        "src long, dst long",
    )
    out = kcore(edges, k=2, n_iter=3, check_convergence=True).collect()
    assert {r["id"]: r["core_degree"] for r in out} == {1: 3, 2: 3, 3: 3, 4: 3}
    with pytest.raises(ConvergenceError, match="kcore"):
        kcore(edges, k=2, n_iter=2, check_convergence=True)


def _star(spark):
    # hub 0 <-> leaves 1..7: every fixed-round method moves a lot on
    # its first round
    return spark.createDataFrame(
        [(0, i) for i in range(1, 8)] + [(i, 0) for i in range(1, 8)],
        "src bigint, dst bigint",
    )


def _both_ways_triangle(spark):
    # regular graph: the uniform vector is already the fixpoint of
    # (weighted) PageRank, eigenvector centrality and HITS
    return spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (2, 1), (3, 2), (1, 3)],
        "src bigint, dst bigint",
    )


def _seed_self_loop(spark):
    # seed 0 only reaches itself: the walk starts at its fixpoint
    return spark.createDataFrame(
        [(0, 0), (1, 2), (2, 1)], "src bigint, dst bigint"
    )


def _one_edge(spark):
    # nilpotent adjacency: the Katz series ends after one term
    return spark.createDataFrame([(0, 1)], "src bigint, dst bigint")


def _path10(spark):
    return _path_graph(spark, 10)


def _path4(spark):
    return _path_graph(spark, 4)


# operator -> (run(edges, budget) with check_convergence=True, graph
# short of the fixpoint at budget 1, graph converged within `budget`)
_CERTIFIED = {
    "personalized_pagerank": (
        lambda e, b: G.personalized_pagerank(
            e, 0, iterations=b, check_convergence=True, tol=1e-9
        ),
        _star, _seed_self_loop, 2,
    ),
    "weighted_pagerank": (
        lambda e, b: G.weighted_pagerank(
            e.withColumn("weight", F.lit(1.0)),
            iterations=b, check_convergence=True, tol=1e-9,
        ),
        _star, _both_ways_triangle, 2,
    ),
    "eigenvector_centrality": (
        lambda e, b: G.eigenvector_centrality(
            e, iterations=b, check_convergence=True, tol=1e-9
        ),
        _star, _both_ways_triangle, 2,
    ),
    "katz_centrality": (
        lambda e, b: G.katz_centrality(
            e, iterations=b, check_convergence=True, tol=1e-9
        ),
        _star, _one_edge, 2,
    ),
    "hits": (
        lambda e, b: G.hits(e, iterations=b, check_convergence=True, tol=1e-9),
        _star, _both_ways_triangle, 2,
    ),
    "bfs_hops": (
        lambda e, b: G.bfs_hops(e, [0], max_iter=b, check_convergence=True),
        _path10, _path4, 10,
    ),
    "closeness_centrality": (
        lambda e, b: G.closeness_centrality(
            e, max_iter=b, check_convergence=True
        ),
        _path10, _path4, 10,
    ),
    "shortest_paths": (
        lambda e, b: G.shortest_paths(
            e.withColumn("cost", F.lit(1)), 0,
            iterations=b, check_convergence=True,
        ),
        _path10, _path4, 10,
    ),
}


@pytest.mark.parametrize("name", sorted(_CERTIFIED))
def test_certificate_raises_at_budget_one_and_silent_when_converged(spark, name):
    run, short, converged, budget = _CERTIFIED[name]
    with pytest.raises(ConvergenceError, match=name):
        run(short(spark), 1)
    run(converged(spark), budget).collect()
