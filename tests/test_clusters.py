"""Unit tests for connected-components clustering (near-dup resolution)."""

from __future__ import annotations

import uuid

from wikistream_event_data_pipeline_aws_spark.operators.clusters import (
    connected_components,
)


def _pairs(spark, rows):
    return spark.createDataFrame(rows, "id_a bigint, id_b bigint")


def _labels(df):
    return {r["node"]: r["label"] for r in df.collect()}


def test_transitive_chain_and_disjoint_cluster(spark):
    # a~b, b~c chain must collapse to one cluster; {40,50} stays separate.
    out = _labels(connected_components(_pairs(spark, [(1, 2), (2, 3), (40, 50)])))
    assert out == {1: 1, 2: 1, 3: 1, 40: 40, 50: 40}


def test_long_chain_needs_multiple_rounds(spark):
    # Diameter-6 path: label 10 must propagate end-to-end (several rounds).
    edges = [(i, i + 10) for i in range(10, 70, 10)]
    out = _labels(connected_components(_pairs(spark, edges)))
    assert set(out.values()) == {10}
    assert len(out) == 7


def test_empty_edge_list(spark):
    out = connected_components(_pairs(spark, []))
    assert out.count() == 0
    assert out.columns == ["node", "label"]


def test_reversed_and_duplicate_edges_are_normalized(spark):
    out = _labels(connected_components(_pairs(spark, [(2, 1), (1, 2), (2, 1)])))
    assert out == {1: 1, 2: 1}


def test_rounds_observe_their_convergence_sum(spark):
    # Every checkpoint observes its row count and label sum on its own
    # job, so no emptiness probe or per-round sum job runs. The graph
    # takes two rounds (the second confirms the fixpoint).
    sc = spark.sparkContext
    group = f"cc-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = connected_components(_pairs(spark, [(1, 2), (2, 3), (40, 50)]))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 15
    assert _labels(out) == {1: 1, 2: 1, 3: 1, 40: 40, 50: 40}
