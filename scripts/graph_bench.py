"""Graph-operator evidence -> the analytics section of BENCH/GRAPH.md.

Wall time of the graph analytics family (pagerank 3 iters,
degree_stats, triangle_counts, two_hop) over a hub-skewed synthetic
edge table, the skew shape the operators are designed for. The file's
text before that section is kept as it is.

Usage: python scripts/graph_bench.py
"""
from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def hub_edges(spark, n_nodes=2000):
    """Deterministic skewed adjacency: node i links to i//2, i//4,
    i//8 (a balanced hierarchy, max in-degree 14) PLUS every node
    links to node 0 -- a genuine O(n)-in-degree hub, the skew shape
    the orientation/caps defend against."""
    rows = []
    for i in range(1, n_nodes):
        dsts = {f"n{i // (2 ** k):05d}" for k in (1, 2, 3) if i // (2 ** k) != i}
        dsts.add("n00000")
        dsts = sorted(dsts)
        rows.append((f"n{i:05d}", dsts, len(dsts)))
    return spark.createDataFrame(
        rows, "subject_id string, dst_ids array<string>, out_degree bigint")


def main():
    from openie_backend_spark.operators.materialize import (
        degree_stats, pagerank, triangle_counts, two_hop)
    from openie_backend_spark.session import get_spark

    spark = get_spark(app_name="graph-bench", parallelism=8,
                      shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    edges = hub_edges(spark).localCheckpoint(eager=True)
    timings = {}
    for name, fn in [
        ("pagerank(3 iters)", lambda: pagerank(edges, iterations=3)),
        ("degree_stats", lambda: degree_stats(edges)),
        ("triangle_counts", lambda: triangle_counts(edges)),
        ("two_hop(cap 1000)", lambda: two_hop(edges)),
    ]:
        t0 = time.monotonic()
        cnt = fn().count()
        timings[name] = (time.monotonic() - t0, cnt)
        print(f"{name}: {timings[name][0]:.2f}s, {cnt} rows")

    hub_in = (edges.selectExpr("explode(dst_ids) AS d")
              .groupBy("d").count().orderBy("count", ascending=False).first())

    out = os.path.join(REPO, "BENCH", "GRAPH.md")
    with open(out) as fh:
        head = fh.read().split("## Graph analytics")[0]
    with open(out, "w") as fh:
        fh.write(head)
        fh.write("## Graph analytics over a hub-skewed adjacency "
                 "(2 000 nodes, hierarchy edges + all→hub)\n\n")
        fh.write(f"Hub in-degree: {hub_in['count']} (node {hub_in['d']}) — the\n"
                 "skew the orientation/caps defend against; local[8] wall\n"
                 "times include full Spark job overhead.\n\n")
        fh.write("| operator | wall (s) | rows |\n|---|---|---|\n")
        for name, (t, cnt) in timings.items():
            fh.write(f"| {name} | {t:.2f} | {cnt} |\n")
        fh.write("\nRegenerate this table: `python scripts/graph_bench.py`.\n")
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
