"""Focused tests for the part-supplier graph of ``operators/graph.py``.

q_graph_pagerank / q_graph_ppr derive the node set from the outdegree
table instead of a separate distinct over the full edge frame. That is
only sound because ``bipartite_edges`` materializes BOTH edge
directions, so every node appears at least once as a src — these tests
pin that property and the end-to-end invariants that depend on it on
real driver testdata, and the fence that keeps supplier and part node
ids disjoint.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from parallel_monte_carlo_simulations_spark.operators.graph import (
    PART_OFFSET,
    bipartite_edges,
    q_graph_pagerank,
)
from parallel_monte_carlo_simulations_spark.operators.graph2 import q_graph_ppr
from parallel_monte_carlo_simulations_spark.registry import load_all_queries

SF = "/root/testdata/sf0.001"
SPECS = load_all_queries()


def test_outdeg_keys_are_the_distinct_node_set(spark):
    """src-set == src ∪ dst set: the outdeg table's key column IS the
    node set, so replacing the nodes-distinct subtree with
    outdeg.select(src) loses no node and invents none."""
    edges = bipartite_edges(spark, SF)
    srcs = {r.src for r in edges.select("src").distinct().collect()}
    nodes = {
        r.node
        for r in edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .collect()
    }
    assert srcs == nodes and len(nodes) > 0


def test_pagerank_covers_every_node_and_conserves_mass(spark):
    """One output row per node, and the unnormalized formulation's mass
    invariant (ranks sum to the node count) still holds after the
    edge-build restructure."""
    n_nodes = bipartite_edges(spark, SF).select("src").distinct().count()
    out = q_graph_pagerank(spark, SF)
    rows = out.collect()
    assert len(rows) == n_nodes
    assert len({r.node for r in rows}) == n_nodes
    total = sum(r.rank for r in rows)
    # ranks are 1e-4-quantized, so the conserved sum is exact to n*1e-4
    assert abs(total - n_nodes) <= n_nodes * 1e-4 + 1e-6


def test_ppr_covers_every_node_and_masses_bounded(spark):
    n_nodes = bipartite_edges(spark, SF).select("src").distinct().count()
    rows = q_graph_ppr(spark, SF).collect()
    assert len(rows) == n_nodes
    assert all(r.rank >= 0.0 for r in rows)
    # every node has outdegree >= 1, so each round passes on all of its
    # mass: the total stays 1, up to the 1e-6 quantization per node
    assert abs(sum(r.rank for r in rows) - 1.0) <= n_nodes * 1e-6


@pytest.mark.parametrize("name", ["q_graph_assortativity", "q_graph_degree_histogram"])
@pytest.mark.parametrize(
    "suppkey, partkey",
    [(PART_OFFSET + 1, 5), (3, 1 - PART_OFFSET)],
    ids=["supplier_at_part_id", "negative_part"],
)
def test_node_id_collision_fails_loudly(spark, tmp_path, name, suppkey, partkey):
    """A supplier key that reaches PART_OFFSET, or a negative part key,
    would merge a supplier and a part into one node (node 1_000_001 or
    node 1 here); the graph fails instead of answering for the merged
    graph."""
    pq.write_table(
        pa.table({"l_suppkey": [1, suppkey], "l_partkey": [1, partkey]}),
        tmp_path / "lineitem.parquet",
    )
    with pytest.raises(Exception, match="node ids collide"):
        SPECS[name].fn(spark, str(tmp_path)).collect()
