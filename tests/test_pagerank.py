"""PageRank operator properties (operators/pagerank.py).

The registry oracle certifies the duplicate-graph instance end-to-end;
these pins cover the algebraic properties on hand-checkable graphs.
"""

from __future__ import annotations

import pytest

from world_vaccination_coverage_etl_spark.operators.pagerank import pagerank

D = 0.85


def _ranks(spark, nodes, edges, **kw):
    ndf = spark.createDataFrame([(n,) for n in nodes], "doc_id long")
    edf = spark.createDataFrame(
        edges or [(None, None)], "id_a long, id_b long"
    )
    if not edges:
        edf = edf.filter("id_a IS NOT NULL")
    out = pagerank(ndf, edf, **kw)
    return {r["doc_id"]: r["rank"] for r in out.collect()}


def test_isolated_nodes_sit_at_the_damping_floor(spark):
    r = _ranks(spark, [1, 2, 3, 4], [(1, 2)])
    # 3 and 4 have no in-edges: rank = (1-d)/N exactly, every iteration
    assert r[3] == pytest.approx((1 - D) / 4, abs=1e-15)
    assert r[4] == pytest.approx((1 - D) / 4, abs=1e-15)


def test_symmetric_pair_splits_evenly_and_mass_is_conserved(spark):
    r = _ranks(spark, [1, 2], [(1, 2)])
    # A<->B is already stationary at 1/2 each; no dangling mass lost
    assert r[1] == pytest.approx(0.5, abs=1e-12)
    assert r[2] == pytest.approx(0.5, abs=1e-12)
    assert sum(r.values()) == pytest.approx(1.0, abs=1e-12)


def test_triangle_is_uniform(spark):
    r = _ranks(spark, [1, 2, 3], [(1, 2), (2, 3), (1, 3)])
    for v in r.values():
        assert v == pytest.approx(1 / 3, abs=1e-12)


def test_directed_chain_matches_hand_computation(spark):
    # A -> B, 2 iterations, N=2: dangling B loses its mass.
    # r0 = (.5, .5); r1 = (.075, .075 + .85*.5); r2 = (.075, .075+.85*.075)
    r = _ranks(
        spark, [1, 2], [(1, 2)], undirected=False, n_iter=2
    )
    assert r[1] == pytest.approx(0.075, abs=1e-15)
    assert r[2] == pytest.approx(0.075 + D * 0.075, abs=1e-15)


def test_partition_invariance(spark):
    edges = [(i, (i * 7) % 23 + 1) for i in range(1, 23) if i != (i * 7) % 23 + 1]
    nodes = list(range(1, 24))
    ndf1 = spark.createDataFrame([(n,) for n in nodes], "doc_id long")
    edf = spark.createDataFrame(edges, "id_a long, id_b long")
    a = {
        r["doc_id"]: r["rank"]
        for r in pagerank(ndf1.repartition(1), edf.repartition(1)).collect()
    }
    b = {
        r["doc_id"]: r["rank"]
        for r in pagerank(ndf1.repartition(9), edf.repartition(5)).collect()
    }
    for k in a:
        assert a[k] == pytest.approx(b[k], abs=1e-12)


def test_staged_path_matches_checkpoint_path(spark, tmp_path):
    """The durable parquet staging (``staging_dir``) ranks every node as
    the default localCheckpoint path does."""
    edges = [(i, (i * 7) % 23 + 1) for i in range(1, 23) if i != (i * 7) % 23 + 1]
    nodes = list(range(1, 24))
    base = _ranks(spark, nodes, edges)
    staged = _ranks(spark, nodes, edges, staging_dir=str(tmp_path / "pr"))
    assert staged.keys() == base.keys()
    for k in base:
        assert staged[k] == pytest.approx(base[k], abs=1e-12)


def test_more_central_node_ranks_higher(spark):
    # star: hub 1 linked to 2..6; hub must outrank every leaf
    edges = [(1, i) for i in range(2, 7)]
    r = _ranks(spark, list(range(1, 7)), edges)
    assert all(r[1] > r[i] for i in range(2, 7))


def test_empty_graph_and_empty_nodes(spark):
    r = _ranks(spark, [1, 2], [])
    assert r[1] == pytest.approx((1 - D) / 2, abs=1e-15)
    r0 = _ranks(spark, [], [])
    assert r0 == {}
