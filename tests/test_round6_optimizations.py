"""Round-6 optimization equivalence pins.

Every r6 rewrite claims BIT-IDENTICAL results; these tests pin the
claims against the straightforward reference formulations, including
the paths the oracle fixtures exercise only thinly (the batched
instance-dedup's cross-batch group carry).
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from openie_backend_spark.functions.text import _word_ngrams, words
from openie_backend_spark.operators import dedup as D
from openie_backend_spark.operators import instance_dedup


def _old_ngrams(ws, n):
    """Round-5 index-transform n-gram form (the O(words²) shape)."""
    idx = F.sequence(F.lit(1), F.greatest(F.size(ws) - (n - 1), F.lit(1)))
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(ws, i, n)))
    return F.when(F.size(ws) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def test_word_ngrams_matches_index_form(spark):
    texts = [
        "", "a", "a b", "a b c", "one two three four five",
        "x " * 40 + "y", "  spaced   out\ttokens  ", "dup dup dup dup",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    ws = words(F.col("text"))
    for n in (2, 3, 5, 8):
        a = df.select(_old_ngrams(ws, n).alias("g")).collect()
        b = df.select(_word_ngrams(ws, n).alias("g")).collect()
        assert a == b, f"n={n}"


def _old_simhash(docs, text_col="text", id_col="doc_id", bits=16):
    """Round-5 per-bit aggregate form."""
    ws = F.array_distinct(words(F.col(text_col)))
    hashed = F.transform(ws, lambda w: F.md5(w))

    def _votes(i):
        return F.aggregate(
            hashed, F.lit(0),
            lambda acc, h: acc + F.when(
                F.conv(F.substring(h, i + 1, 1), 16, 10).cast("int") >= 8, 1
            ).otherwise(-1),
        )

    bit_cols = [
        F.when(_votes(i) > 0, F.lit(1)).otherwise(F.lit(0)) * (2 ** i)
        for i in range(bits)
    ]
    sig = bit_cols[0]
    for b in bit_cols[1:]:
        sig = sig + b
    return docs.select(
        F.col(id_col).alias("doc_id"), sig.cast("long").alias("simhash")
    )


def test_simhash_matches_per_bit_form(spark):
    rng = random.Random(6)
    vocab = ["alpha", "beta", "gamma", "delta"] + [f"w{i}" for i in range(30)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 25))))
        for i in range(120)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    a = _old_simhash(docs).orderBy("doc_id").collect()
    b = D.simhash(docs).orderBy("doc_id").collect()
    assert a == b


_EXTRACTION_SCHEMA = (
    "arg1_norm string, rel_norm string, arg2_norm string, url string,"
    "sent_id long, tokens array<string>, pos_tags array<string>,"
    "chunk_tags array<string>, arg1_start int, arg1_end int,"
    "rel_start int, rel_end int, arg2_start int, arg2_end int,"
    "arg1_text string, rel_text string, arg2_text string,"
    "confidence double, corpus string"
)


def _extraction_rows(rng, keys):
    """1-9 rows per group key; three distinct sentences per group, so
    most groups have duplicates to drop."""
    rows = []
    for g, key in enumerate(keys):
        for i in range(rng.randint(1, 9)):
            toks = ["Acme", "acquired", f"Globex{i % 3}", "."]
            rows.append((
                *key, f"u{g}_{i}", i, toks,
                ["NNP", "VBD", "NNP", "."], ["B-NP", "B-VP", "B-NP", "O"],
                0, 1, 1, 2, 2, 3, toks[0], toks[1], toks[2],
                round(rng.random(), 3), "cc",
            ))
    return rows


def _batched_and_grouped(spark, rows):
    """(dedup_instances rows, groupBy().applyInPandas rows), both with
    a tiny maxRecordsPerBatch so groups SPAN Arrow batches."""
    df = spark.createDataFrame(rows, _EXTRACTION_SCHEMA)
    reference = df.groupBy("arg1_norm", "rel_norm", "arg2_norm").applyInPandas(
        lambda pdf: instance_dedup._dedup_one_group(pdf), schema=df.schema
    )
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
        got = instance_dedup.dedup_instances(df).collect()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    return got, reference.collect()


def _row_key(r):
    return tuple(str(v) for v in r)


def test_instance_dedup_batched_matches_grouped(spark):
    """The r6 mapInPandas rewrite must equal groupBy().applyInPandas —
    including groups that SPAN Arrow batches (forced with a tiny
    maxRecordsPerBatch)."""
    keys = [(f"arg{g % 7}", f"rel{g % 5}", f"obj{g}") for g in range(40)]
    rows = _extraction_rows(random.Random(13), keys)
    got, reference = _batched_and_grouped(spark, rows)
    assert sorted(map(_row_key, got)) == sorted(map(_row_key, reference))
    # and every group with a duplicate-free sentence keeps >= 1 row
    kept_keys = {(r["arg1_norm"], r["rel_norm"], r["arg2_norm"]) for r in got}
    all_keys = {(r[0], r[1], r[2]) for r in rows}
    assert kept_keys == all_keys


def test_instance_dedup_keeps_null_key_groups(spark):
    """A null key is a group like any other: its rows are deduplicated
    once, as groupBy().applyInPandas does, not dropped. The batch's
    last group and the groups before it can both have null keys."""
    keys = [(None if g % 4 == 0 else f"arg{g % 7}", f"rel{g % 5}",
             None if g % 6 == 0 else f"obj{g % 9}") for g in range(40)]
    rows = _extraction_rows(random.Random(17), keys)
    got, reference = _batched_and_grouped(spark, rows)
    assert sorted(map(_row_key, got)) == sorted(map(_row_key, reference))
    null_keys = {k for k in keys if None in k}
    kept = [r for r in got if (r["arg1_norm"], r["rel_norm"], r["arg2_norm"]) in null_keys]
    in_null = [r for r in rows if (r[0], r[1], r[2]) in null_keys]
    # present, deduplicated (three distinct sentences per group at most)
    assert {(r["arg1_norm"], r["rel_norm"], r["arg2_norm"]) for r in kept} == null_keys
    assert len(kept) < len(in_null)
    assert len({_row_key(r) for r in kept}) == len(kept)
