"""A repeated dedup pass compiles no new classes.

Spark keeps the classes it generates and compiles with Janino in one
LRU cache per JVM, keyed by their source. A second pass over the same
plan shapes must hit that cache for every class. Two things used to
defeat it: a cache smaller than one pass's classes (the default holds
100), and the fixpoint loops' ``limit(1)`` probes, whose generated
source names the LIMIT counter from a global id and so never repeats.

The passes run with adaptive execution off. With it on, Spark re-plans
a query each time one of its shuffle stages finishes, so which join
strategy and build side a stage gets can depend on which stage
finished first; such a variant is a new class once, and is reused from
then on. Off, a pass plans the same way every time, so any compile in
the second pass is a class the cache failed to keep (one pass here
compiles 150-200 classes, past the old cache size of 100) or one whose
source is new on every run.
"""

from __future__ import annotations

import random

import pytest

from openie_backend_spark.operators import dedup as D


def _compiles(spark) -> int:
    jvm = spark.sparkContext._jvm
    return jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME().getCount()


@pytest.fixture(scope="module")
def docs(spark):
    """120 documents of 40 random words; 12 of them are copies of
    another document with one word swapped (trigram Jaccard ~0.86)."""
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(400)]
    texts = [" ".join(rng.choice(vocab) for _ in range(40)) for _ in range(108)]
    for i in range(12):
        words = texts[i * 5].split()
        words[20] = "planted"
        texts.append(" ".join(words))
    return spark.createDataFrame(
        [(f"d{i:03d}", t) for i, t in enumerate(texts)], "doc_id string, text string")


def _pass(docs, clusters):
    cand = D.minhash_lsh_pairs(docs)
    verified = D.ngram_jaccard_pairs(docs, threshold=0.8, candidates=cand)
    return sorted(tuple(r) for r in clusters(verified).collect())


@pytest.mark.parametrize("clusters", [D.dup_clusters_twostar, D.dup_clusters],
                         ids=["twostar", "propagation"])
def test_second_pass_compiles_nothing(spark, docs, clusters):
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        c0 = _compiles(spark)
        first = _pass(docs, clusters)
        c1 = _compiles(spark)
        second = _pass(docs, clusters)
        c2 = _compiles(spark)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert second == first
    # the planted copies are found, so the fixpoint loop ran its rounds
    assert {doc for doc, label in first if doc != label} >= {
        f"d{108 + i:03d}" for i in range(12)}
    assert c2 - c1 == 0, (
        f"second pass compiled {c2 - c1} classes (first pass: {c1 - c0})")
