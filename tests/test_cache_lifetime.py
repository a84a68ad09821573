"""Iterative graph loops cache their stationary input only for the call
that made it: after the call returns — or raises — the session's cache
manager holds nothing, even while the result is still referenced."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from openseize_spark.llm import dedup

PAIRS = [(0, 1), (1, 2), (2, 3), (0, 3), (3, 4)]


def _raises_on_zero_weight(edges):
    weighted = edges.select(
        F.col("a").alias("u"), F.col("b").alias("v"), F.lit(0).alias("w")
    )
    with pytest.raises(ValueError, match="weights >= 1"):
        dedup.sssp_bounded(weighted, source=0, budget=8)


CASES = {
    "sssp_bounded_error": _raises_on_zero_weight,
    "pagerank": lambda e: dedup.pagerank(e, iters=3),
    "hits": lambda e: dedup.hits(
        e.select(F.col("a").alias("src"), F.col("b").alias("dst")), iters=2
    ),
    "bfs_distances": lambda e: dedup.bfs_distances(
        e, e.sparkSession.createDataFrame([(0,)], "id bigint"), max_hops=3
    ),
    "dag_layers": lambda e: dedup.dag_layers(e, rounds=4),
}


@pytest.mark.parametrize("case", list(CASES))
def test_no_cache_outlives_the_call(spark, case):
    spark.catalog.clearCache()
    edges = spark.createDataFrame(PAIRS, "a bigint, b bigint")
    out = CASES[case](edges)
    if out is not None:
        assert out.collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
