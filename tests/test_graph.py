"""Connected-components operator (operators/graph.py) unit tests.

The registry query `dedup_clusters` proves cross-engine parity of the
pairs→clusters pipeline (test_registry_oracle.py); these units exercise the
shapes the planted corpus can't — long chains (multi-round convergence),
disjoint components, and the non-convergence guard.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from weather_data_warehouse_aws_spark.operators.graph import (
    connected_components,
    dedup_clusters,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "id_a long, id_b long")


def test_chain_converges_to_single_component(spark):
    # path graph 10-9-8-...-0: min label 0 must travel the full diameter
    comp = connected_components(_edges(spark, [(i, i + 1) for i in range(10)]))
    rows = {r["node"]: r["component"] for r in comp.collect()}
    assert rows == {i: 0 for i in range(11)}


def test_disjoint_components_and_edge_direction(spark):
    # two components; edge direction must not matter
    comp = connected_components(
        _edges(spark, [(5, 3), (3, 4), (100, 101), (102, 101)])
    )
    rows = {r["node"]: r["component"] for r in comp.collect()}
    assert rows == {3: 3, 4: 3, 5: 3, 100: 100, 101: 100, 102: 100}


def test_triangle_with_duplicate_edges(spark):
    comp = connected_components(
        _edges(spark, [(1, 2), (2, 3), (1, 3), (2, 1), (1, 2)])
    )
    assert {r["component"] for r in comp.collect()} == {1}


def test_empty_edges(spark):
    comp = connected_components(_edges(spark, []))
    assert comp.count() == 0
    assert set(comp.columns) == {"node", "component"}


def test_max_iter_guard(spark, monkeypatch):
    # the guard lives in the distributed loop; force past the driver path
    from weather_data_warehouse_aws_spark.operators import graph as G

    monkeypatch.setattr(G, "_DRIVER_MAX_EDGES", 0)
    with pytest.raises(RuntimeError, match="converge"):
        connected_components(_edges(spark, [(i, i + 1) for i in range(6)]), max_iter=2)


def test_driver_and_distributed_paths_agree(spark, monkeypatch):
    """The measured-size driver loop (union-find / driver power iteration)
    must produce bit-identical output to the distributed rounds — same
    labels, same exact-integer ranks."""
    import random

    from weather_data_warehouse_aws_spark.operators import graph as G

    rnd = random.Random(13)
    pairs = [(rnd.randrange(60), rnd.randrange(60)) for _ in range(150)]
    pairs = [(a, b) for a, b in pairs if a != b]
    edges = _edges(spark, pairs)
    sedges = spark.createDataFrame(
        [(f"d{a}", f"d{b}") for a, b in pairs], "id_a string, id_b string"
    )

    cc_drv = sorted(map(tuple, G.connected_components(edges).collect()))
    pr_drv = sorted(map(tuple, G.pagerank(edges, iters=4).collect()))
    cc_drv_s = sorted(map(tuple, G.connected_components(sedges).collect()))

    monkeypatch.setattr(G, "_DRIVER_MAX_EDGES", 0)
    cc_dist = sorted(map(tuple, G.connected_components(edges).collect()))
    pr_dist = sorted(map(tuple, G.pagerank(edges, iters=4).collect()))
    cc_dist_s = sorted(map(tuple, G.connected_components(sedges).collect()))

    assert cc_drv == cc_dist
    assert pr_drv == pr_dist
    assert cc_drv_s == cc_dist_s


def test_dedup_clusters_canonicals(spark):
    out = dedup_clusters(_edges(spark, [(7, 2), (2, 9), (40, 41)])).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert len(by_id) == 5
    assert by_id[2]["is_canonical"] and by_id[40]["is_canonical"]
    assert not by_id[7]["is_canonical"] and not by_id[9]["is_canonical"]
    assert by_id[7]["cluster_id"] == 2 and by_id[7]["cluster_size"] == 3
    assert by_id[41]["cluster_id"] == 40 and by_id[41]["cluster_size"] == 2


def test_survivor_filter_shape(spark):
    """Keep-one-per-cluster = anti-join corpus against non-canonical rows."""
    corpus = spark.range(0, 20).select(F.col("id").alias("doc_id"))
    clusters = dedup_clusters(_edges(spark, [(1, 11), (2, 12), (12, 13)]))
    drop = clusters.filter(~F.col("is_canonical")).select("doc_id")
    kept = corpus.join(drop, "doc_id", "left_anti")
    assert kept.count() == 17  # 11, 12, 13 dropped; 1 and 2 survive
    kept_ids = {r["doc_id"] for r in kept.collect()}
    assert {11, 12, 13}.isdisjoint(kept_ids) and {1, 2} <= kept_ids


def test_connected_components_string_ids(spark):
    """String vertex ids must propagate labels (a naive numeric convergence
    sum would see all-NULL and return the identity labeling)."""
    from weather_data_warehouse_aws_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [("doc-b", "doc-a"), ("doc-c", "doc-b"), ("doc-x", "doc-y")],
        "id_a string, id_b string",
    )
    comp = {r.node: r.component for r in connected_components(edges).collect()}
    assert comp["doc-a"] == comp["doc-b"] == comp["doc-c"] == "doc-a"
    assert comp["doc-x"] == comp["doc-y"] == "doc-x"


def test_pagerank_star_hub_ranks_highest(spark):
    """Symmetric star: the hub must out-rank every leaf, leaves tie
    exactly (integer arithmetic ⇒ exact equality, not approximate)."""
    from weather_data_warehouse_aws_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "id_a bigint, id_b bigint"
    )
    r = {row.node: row.rank_scaled for row in pagerank(edges, iters=5).collect()}
    leaves = {r[i] for i in range(1, 6)}
    assert len(leaves) == 1               # exact tie
    assert r[0] > max(leaves) * 2         # hub clearly dominant


def test_pagerank_mass_roughly_conserved(spark):
    """Symmetric graph: total scaled mass stays within integer-floor loss
    of n*scale (each edge share loses < 1 unit to flooring)."""
    from weather_data_warehouse_aws_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)], "id_a bigint, id_b bigint"
    )
    scale = 10**9
    out = pagerank(edges, iters=6, scale=scale).collect()
    total = sum(r.rank_scaled for r in out)
    n = len(out)
    assert n == 4
    assert n * scale * 0.999 < total <= n * scale


def test_pagerank_deterministic_under_repartition(spark):
    """Integer sums are associative: shuffling the edge layout must not
    change a single rank bit."""
    from weather_data_warehouse_aws_spark.operators.graph import pagerank

    import random

    rnd = random.Random(7)
    pairs = [(rnd.randrange(50), rnd.randrange(50)) for _ in range(200)]
    pairs = [(a, b) for a, b in pairs if a != b]
    e1 = spark.createDataFrame(pairs, "id_a bigint, id_b bigint")
    e2 = e1.repartition(17)
    r1 = sorted(map(tuple, pagerank(e1, iters=4).collect()))
    r2 = sorted(map(tuple, pagerank(e2, iters=4).collect()))
    assert r1 == r2


def test_pagerank_directed_sink_gets_ranked(spark):
    """Directed mode: a pure sink (only ever a destination — the most-cited
    node) must appear in the output and absorb inflow."""
    from weather_data_warehouse_aws_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 3), (2, 3)], "id_a bigint, id_b bigint"
    )
    r = {row.node: row.rank_scaled for row in
         pagerank(edges, iters=3, symmetric=False).collect()}
    assert set(r) == {1, 2, 3}
    assert r[3] > r[1] == r[2]


def test_null_ids_agree_on_driver_and_distributed_paths(spark, monkeypatch):
    # a null id is no vertex: edges to it connect nothing, their non-null
    # endpoints stay vertices — on the driver union-find AND the rounds
    from weather_data_warehouse_aws_spark.operators import graph as G

    edges = _edges(
        spark, [(1, 2), (2, 3), (5, None), (None, 7), (None, None), (8, 9), (9, 1)]
    )
    expected = {1: 1, 2: 1, 3: 1, 5: 5, 7: 7, 8: 1, 9: 1}
    driver = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    monkeypatch.setattr(G, "_DRIVER_MAX_EDGES", 0)
    rounds = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert driver == rounds == expected


def test_driver_results_are_sized_local_relations(spark):
    """The driver paths return Arrow-built local relations (LocalTableScan,
    no Python-parallelized ExistingRDD, sized for the planner) with the
    rows, types and non-null schema the createDataFrame(list) build had."""
    from weather_data_warehouse_aws_spark.operators.graph import pagerank
    from weather_data_warehouse_aws_spark.plans.inspect import physical_plan
    from weather_data_warehouse_aws_spark.plans.lint import lint_plan

    edges = _edges(spark, [(7, 2), (2, 9), (40, 41), (9, 40), (3, 3)])
    sedges = spark.createDataFrame(
        [("b", "a"), ("c", "b")], "id_a string, id_b string"
    )
    cc = connected_components(edges)
    pr = pagerank(edges, iters=3)
    pr_dir = pagerank(edges, iters=3, symmetric=False)
    cc_s = connected_components(sedges)
    pr_s = pagerank(sedges, iters=2)
    for df in (cc, pr, pr_dir, cc_s, pr_s):
        plan = physical_plan(df, "simple")
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
        assert "unsized-rdd" not in {f.code for f in lint_plan(df)}
        assert not any(f.nullable for f in df.schema)

    # rows pinned to the createDataFrame(list) build's output
    assert [f.dataType.simpleString() for f in cc.schema] == ["bigint", "bigint"]
    assert [f.dataType.simpleString() for f in pr_s.schema] == ["string", "bigint"]
    assert sorted(map(tuple, cc.collect())) == [
        (2, 2), (3, 3), (7, 2), (9, 2), (40, 2), (41, 2)
    ]
    assert list(map(tuple, pr.collect())) == [
        (2, 1370812500000), (3, 1000000000000), (7, 602093750000),
        (9, 1054187500000), (40, 1370812500000), (41, 602093750000),
    ]
    assert list(map(tuple, pr_dir.collect())) == [
        (2, 277500000000), (3, 1000000000000), (7, 150000000000),
        (9, 385875000000), (40, 1000000000000), (41, 1000000000000),
    ]
    assert sorted(map(tuple, cc_s.collect())) == [("a", "a"), ("b", "a"), ("c", "a")]
    assert list(map(tuple, pr_s.collect())) == [
        ("a", 936250000000), ("b", 1127500000000), ("c", 936250000000)
    ]
