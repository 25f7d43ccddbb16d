"""Graph-operator evidence -> BENCH/GRAPH.md.

1. Rounds-to-fixpoint: two-star vs min-label propagation on path
   graphs (the adversarial diameter shape). Two-star should converge
   in O(log n) rounds where propagation needs diameter rounds -- the
   empirical backing for dup_clusters_twostar's docstring claim.
2. Wall time of the graph analytics family (pagerank 3 iters,
   degree_stats, triangle_counts, two_hop) over a hub-skewed synthetic
   edge table, the skew shape the operators are designed for.

Usage: python scripts/graph_bench.py
"""
from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def chain_pairs(spark, n):
    return spark.createDataFrame(
        [(f"c{i:05d}", f"c{i + 1:05d}") for i in range(n - 1)],
        "doc_a string, doc_b string",
    )


def propagation_rounds(pairs, max_iterations=2000):
    """dup_clusters' loop, instrumented to return rounds-to-fixpoint."""
    from pyspark.sql import functions as F

    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .distinct()
    )
    labels = (
        edges.select(F.col("src").alias("node")).distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for i in range(max_iterations):
        nbr = (
            edges.join(labels, edges["dst"] == labels["node"])
            .groupBy("src").agg(F.min("label").alias("nbr_label"))
        )
        new = (
            labels.join(nbr, labels["node"] == nbr["src"], "left")
            .select("node", F.least(
                F.col("label"), F.coalesce("nbr_label", "label")).alias("label"))
        )
        changed = (
            labels.alias("o").join(new.alias("n"), "node")
            .filter(F.col("o.label") != F.col("n.label")).count()
        )
        labels = new.localCheckpoint(eager=True)
        if changed == 0:
            return i + 1
    return max_iterations


def twostar_rounds(pairs, max_iterations=60):
    from pyspark.sql import functions as F

    from openie_backend_spark.operators.dedup import _large_star, _small_star

    edges = (
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .filter(F.col("u") != F.col("v")).distinct()
        .localCheckpoint(eager=True)
    )
    for i in range(max_iterations):
        new = _small_star(_large_star(edges)).localCheckpoint(eager=True)
        changed = new.exceptAll(edges).union(edges.exceptAll(new)).count()
        edges = new
        if changed == 0:
            return i + 1
    return max_iterations


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

    rounds = []
    for n in (64, 256, 1024):
        ts = twostar_rounds(chain_pairs(spark, n))
        # propagation on the largest chain would need n-1 rounds
        # (~20 min of fixpoint counts); measure it where it is cheap
        # and report the analytic n-1 elsewhere
        pr = propagation_rounds(chain_pairs(spark, n)) if n == 64 else None
        rounds.append((n, ts, pr))
        print(f"chain n={n}: twostar={ts} rounds, propagation={pr}")

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
    with open(out, "w") as fh:
        fh.write("# GRAPH — graph-operator scale evidence\n\n")
        fh.write("## Rounds to fixpoint: two-star vs min-label propagation\n\n")
        fh.write("Path graphs (diameter = n−1), the adversarial shape for\n"
                 "propagation. Two-star (`dedup.dup_clusters_twostar`) is\n"
                 "O(log² n) by construction (Kiveris et al. SoCC 2014);\n"
                 "propagation (`dedup.dup_clusters`) moves the minimum one\n"
                 "hop per round, so a chain needs n−1 rounds (measured where\n"
                 "cheap, analytic elsewhere).\n\n")
        fh.write("| chain n | two-star rounds | propagation rounds |\n|---|---|---|\n")
        for n, ts, pr in rounds:
            fh.write(f"| {n} | {ts} | {pr if pr is not None else f'{n - 1} (analytic)'} |\n")
        fh.write("\nPropagation stays the default for LSH duplicate clusters\n"
                 "(banding emits shallow stars, diameter ≤ 4 — see\n"
                 "BENCH/NEARDUP.md); two-star is the drop-in for unknown or\n"
                 "chain-prone graph shapes (kg_components uses it).\n\n")
        fh.write("## Graph analytics over a hub-skewed adjacency "
                 "(2 000 nodes, hierarchy edges + all→hub)\n\n")
        fh.write(f"Hub in-degree: {hub_in['count']} (node {hub_in['d']}) — the\n"
                 "skew the orientation/caps defend against; local[8] wall\n"
                 "times include full Spark job overhead.\n\n")
        fh.write("| operator | wall (s) | rows |\n|---|---|---|\n")
        for name, (t, cnt) in timings.items():
            fh.write(f"| {name} | {t:.2f} | {cnt} |\n")
        fh.write("\nRegenerate: `python scripts/graph_bench.py`.\n")
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
