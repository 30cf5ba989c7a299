"""The link-analysis stages of the batch workload.

A pass builds the lineitem link graph's edge table with an eager
checkpoint and runs converged PageRank, HITS and connected components
on it, with the parameters of the engine's `graph_*` gates. Every
output is committed as parquet under a fresh workdir (the action that
forces it, and the artifact the oracle check reads back).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from commoncrawl_crawler_spark import loopscope
from commoncrawl_crawler_spark.operators import graph
from commoncrawl_crawler_spark.sources import load_table

# committed output -> the __spark_entry__ gate whose oracle checks it
ORACLES = {
    "pagerank": "graph_pagerank_converged",
    "hits": "graph_hits",
    "components": "graph_connected_components",
}

OUTPUTS = ("pagerank", "hits", "components")
SPANS = [
    "operators.graph.link_graph_edges",
    "operators.graph.pagerank_converged",
    "operators.graph.hits_scores",
    "operators.graph.connected_components",
]

# the connected-components gate runs on the sparse high-price subgraph
# (the full graph is one giant component)
CC_MIN_PRICE = 95000


def run_pass(spark, tracer, data_dir: str, workdir: str) -> tuple[int, list[float]]:
    """One pass; returns the link graph's edge count and the wall time
    of each span in SPANS."""
    lineitem = load_table(spark, "lineitem", data_dir)
    times: list[float] = []
    with tracer.timed(SPANS[0], times):
        edges = loopscope.observed_ckpt_eager(graph.link_graph_edges(lineitem))
        cc_edges = loopscope.observed_ckpt_eager(
            graph.link_graph_edges(
                lineitem.filter(F.col("l_extendedprice") > CC_MIN_PRICE)
            )
        )
    with tracer.timed(SPANS[1], times):
        graph.pagerank_converged(
            edges, epsilon=0.01, damp_num=50, damp_den=100, max_iterations=30
        ).write.parquet(f"{workdir}/pagerank")
    with tracer.timed(SPANS[2], times):
        graph.hits_scores(edges, iterations=2).write.parquet(f"{workdir}/hits")
    with tracer.timed(SPANS[3], times):
        graph.connected_components(cc_edges).write.parquet(f"{workdir}/components")
    return loopscope.known_rows(edges), times
