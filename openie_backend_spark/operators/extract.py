"""Extraction stage: pages → ReVerb extraction rows.

Spark mapping of the reference's three map-only jobs —
``ScoobiSentenceChunker`` (tokenize/POS/chunk,
``hadoop/.../ScoobiSentenceChunker.scala:35-52``), ``ScoobiReVerb``
(pattern extraction, ``ScoobiReVerb.scala:62-107``) and the per-row
normalization in ``ScoobiReVerbGrouper.getKeyValuePair``
(``ScoobiReVerbGrouper.scala:40-61``) — fused into ONE Arrow-batched
``mapInPandas`` stage. Fusing matters at scale: each Python↔JVM
crossing serializes the full column set, so chunk/extract/normalize
run in a single pass and everything downstream (grouping, joins,
filters) is pure JVM Spark SQL.

The confidence function is a logistic model over the published ReVerb
feature templates (Fader et al. EMNLP 2011; the reference attaches the
trained reverb-core ``ReVerbOpenNlpConfFunction``,
``ScoobiGroupReGrouper.scala:25-27``) — see ``nlp/confidence.py`` for
the calibration against the golden fixtures and the 0.5 / 0.9 filter
thresholds it gates (``ScoobiReVerbGroupFilter.scala:25``,
``...ExtremeFilter.scala:56``).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, DoubleType, IntegerType, LongType, StringType, StructField,
    StructType,
)

from openie_backend_spark.nlp import chunker, confidence, reverb, stemmer

EXTRACTION_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("sent_id", LongType(), False),
        StructField("tokens", ArrayType(StringType()), False),
        StructField("pos_tags", ArrayType(StringType()), False),
        StructField("chunk_tags", ArrayType(StringType()), False),
        StructField("arg1_start", IntegerType(), False),
        StructField("arg1_end", IntegerType(), False),
        StructField("rel_start", IntegerType(), False),
        StructField("rel_end", IntegerType(), False),
        StructField("arg2_start", IntegerType(), False),
        StructField("arg2_end", IntegerType(), False),
        StructField("arg1_text", StringType(), False),
        StructField("rel_text", StringType(), False),
        StructField("arg2_text", StringType(), False),
        StructField("arg1_norm", StringType(), False),
        StructField("rel_norm", StringType(), False),
        StructField("arg2_norm", StringType(), False),
        StructField("arg1_frontend", StringType(), False),
        StructField("rel_frontend", StringType(), False),
        StructField("arg2_frontend", StringType(), False),
        StructField("arg1_head", StringType(), False),
        StructField("arg2_head", StringType(), False),
        StructField("confidence", DoubleType(), False),
    ]
)


def _confidence(toks, tags, chks, e: reverb.Extraction) -> float:
    """ReVerb logistic confidence — the published feature templates
    (Fader et al. EMNLP 2011, Table 3) with fixture-calibrated weights;
    see nlp/confidence.py for the model and its calibration gates."""
    return confidence.reverb_confidence(toks, tags, chks, e.arg1, e.rel, e.arg2)


SLIM_SCHEMA = StructType(
    [f for f in EXTRACTION_SCHEMA.fields
     if f.name not in ("tokens", "pos_tags", "chunk_tags")]
)


def _sentence_rows(rows: list, key: tuple, toks, tags, chks,
                   include_layers: bool) -> None:
    """Append one row per ReVerb extraction of a tagged sentence to
    ``rows``: the ``key`` columns, the three token layers when
    ``include_layers``, then the 20 extraction fields in
    ``EXTRACTION_SCHEMA`` order. The one row builder of both NLP
    stages (and so of the single-process mirror)."""
    layers = (toks, tags, chks) if include_layers else ()
    seg = lambda s, t: (toks[s:t], tags[s:t])
    for e in reverb.extract(toks, tags, chks):
        (a1s, a1e), (rs, re_), (a2s, a2e) = e.arg1, e.rel, e.arg2
        rows.append(
            (
                *key, *layers,
                a1s, a1e, rs, re_, a2s, a2e,
                " ".join(toks[a1s:a1e]),
                " ".join(toks[rs:re_]),
                " ".join(toks[a2s:a2e]),
                stemmer.index_key_part(*seg(a1s, a1e)),
                stemmer.index_key_part(*seg(rs, re_)),
                stemmer.index_key_part(*seg(a2s, a2e)),
                stemmer.frontend_key_part(*seg(a1s, a1e)),
                stemmer.frontend_key_part(*seg(rs, re_)),
                stemmer.frontend_key_part(*seg(a2s, a2e)),
                stemmer.head_phrase(*seg(a1s, a1e)),
                stemmer.head_phrase(*seg(a2s, a2e)),
                _confidence(toks, tags, chks, e),
            )
        )


def _make_extract_batches(include_layers: bool):
    schema = EXTRACTION_SCHEMA if include_layers else SLIM_SCHEMA
    cols = [f.name for f in schema.fields]

    def _extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for url, text, pre_tok, pre_pos, pre_chk in zip(
                pdf["url"], pdf["text"], pdf["_tokens"], pdf["_pos"], pdf["_chunks"]
            ):
                if pre_tok is not None and len(pre_tok) > 0:
                    sentences = [(list(pre_tok), list(pre_pos), list(pre_chk))]
                else:
                    sentences = [
                        chunker.chunk_sentence(s) for s in chunker.split_sentences(text)
                    ]
                for sid, (toks, tags, chks) in enumerate(sentences):
                    _sentence_rows(rows, (url, sid), toks, tags, chks,
                                   include_layers)
            yield pd.DataFrame(rows, columns=cols)

    return _extract_batches, schema


def extract_pages(
    pages: DataFrame,
    lang: str = "en",
    text_col: str = "text",
    include_layers: bool = True,
    dedup_sentences: bool = False,
) -> DataFrame:
    """pages(url, text, lang, ...) → extraction rows.

    The language filter and column pruning happen BEFORE the Python
    stage so the parquet scan prunes to two columns and the filter
    pushes down (`.explain` shows PushedFilters + 2-column ReadSchema).
    ``include_layers=False`` drops the three token-layer arrays from
    the output — mapInPandas is opaque to Catalyst column pruning, so
    pipelines that keep no instance payloads (SPO-only) must prune
    here, not downstream; it cuts the Arrow transfer and every
    downstream shuffle payload by ~5x.

    ``dedup_sentences=True`` switches to the distinct-sentence plan:
    JVM-side sentence split → ``distinct()`` → CPython NLP once per
    DISTINCT sentence → hash-join the extractions back onto every
    (url, sent_id) occurrence. Two shuffles instead of zero, but the
    Python stage — the pipeline's cost center at any scale — runs
    once per distinct sentence instead of once per occurrence. Web
    corpora are boilerplate-heavy (navigation chrome, legal footers
    repeat across a site's every page), so at 100 TB the distinct
    ratio is the win; the reference re-extracts every occurrence
    (``ScoobiReVerb.scala:62-107``) and pays OpenNLP per duplicate.
    Output is row-identical to the direct path (pytest-gated): the
    NLP is sentence-deterministic and provenance (url, sent_id)
    survives on the occurrence side of the join.
    """
    if dedup_sentences:
        return _extract_pages_deduped(pages, lang, text_col, include_layers)
    src = (
        pages.filter(F.col("lang") == lang)
        .select(
            "url",
            F.col(text_col).alias("text"),
            F.lit(None).cast(ArrayType(StringType())).alias("_tokens"),
            F.lit(None).cast(ArrayType(StringType())).alias("_pos"),
            F.lit(None).cast(ArrayType(StringType())).alias("_chunks"),
        )
    )
    fn, schema = _make_extract_batches(include_layers)
    return src.mapInPandas(fn, schema)


def _trim_ws(col):
    # chunker._WS_CLASS, not \s: Java's \s is ASCII-only, Python's is
    # Unicode — the explicit class keeps the JVM trim char-identical
    # to str.strip() (NBSP / thin-space / U+2028 in scraped HTML).
    ws = chunker._WS_CLASS
    return F.regexp_replace(F.regexp_replace(col, "^" + ws + "+", ""),
                            ws + "+$", "")


def sentence_occurrences(
    pages: DataFrame, lang: str = "en", text_col: str = "text"
) -> DataFrame:
    """(url, sent_id, sentence) — sentence split as a pure JVM
    expression chain (split/trim/filter/posexplode). The Java regex is
    byte-identical to ``chunker._SENT_SPLIT`` and the trim/drop-empty
    steps mirror ``chunker.split_sentences``; a pytest fuzzes equality
    over every sf0.01 document. ``sent_id`` is the sentence's position
    within its page AFTER empty-drop, matching the direct path's
    ``enumerate``."""
    sents = F.filter(
        F.transform(
            F.split(F.coalesce(F.col(text_col), F.lit("")),
                    chunker._SENT_SPLIT.pattern),
            lambda x: _trim_ws(x),
        ),
        lambda x: x != "",
    )
    return (
        pages.filter(F.col("lang") == lang)
        .select("url", F.posexplode(sents).alias("sent_id", "sentence"))
    )


def _make_distinct_extract_batches(include_layers: bool):
    schema = EXTRACTION_SCHEMA if include_layers else SLIM_SCHEMA
    fields = [f for f in schema.fields if f.name not in ("url", "sent_id")]
    out_schema = StructType(
        [StructField("sent_key", StringType(), False)] + fields
    )
    cols = [f.name for f in out_schema.fields]

    def _batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for key, sent in zip(pdf["sent_key"], pdf["sentence"]):
                _sentence_rows(rows, (key,), *chunker.chunk_sentence(sent),
                               include_layers)
            yield pd.DataFrame(rows, columns=cols)

    return _batches, out_schema


# The last occurrences DataFrame persisted by _extract_pages_deduped:
# released before the next call pins a new one, so a long-lived session
# (pipeline reruns, test suites) holds at most ONE input-sized cached
# copy instead of accumulating one per call (review r5). Unpersisting
# a DataFrame another in-flight plan still references is safe — Spark
# recomputes evicted blocks — so a rare concurrent second caller costs
# recompute, never correctness.
_LAST_PERSISTED: DataFrame | None = None


def _extract_pages_deduped(
    pages: DataFrame, lang: str, text_col: str, include_layers: bool
) -> DataFrame:
    global _LAST_PERSISTED
    # persist: the DAG branches here (distinct side and provenance
    # side both consume occurrences), and without a persist Spark
    # recomputes the full pages scan + regex split + md5 once PER
    # BRANCH — at corpus scale that doubles the scan. One
    # MEMORY_AND_DISK materialization (~input-sized, spills to local
    # disk) is the cheaper side of that trade.
    if _LAST_PERSISTED is not None:
        try:
            _LAST_PERSISTED.unpersist(blocking=False)
        except Exception:
            pass  # session may be gone; nothing to release then
    occurrences = sentence_occurrences(pages, lang, text_col).select(
        "url",
        F.col("sent_id").cast(LongType()).alias("sent_id"),
        F.md5(F.col("sentence")).alias("sent_key"),
        "sentence",
    ).persist(StorageLevel.MEMORY_AND_DISK)
    _LAST_PERSISTED = occurrences
    # Repartition AFTER distinct: AQE coalesces post-shuffle partitions
    # by BYTE size (~64 MB advisory), which under-parallelizes a
    # CPU-bound Python stage whose cost per byte is ~10^3 higher than a
    # JVM scan's. One explicit round-robin exchange of the (small)
    # distinct side keeps every core busy through the NLP stage.
    spark = pages.sparkSession
    distinct = (
        occurrences.select("sent_key", "sentence").distinct()
        .repartition(spark.sparkContext.defaultParallelism)
    )
    fn, nlp_schema = _make_distinct_extract_batches(include_layers)
    extracted = distinct.mapInPandas(fn, nlp_schema)
    out_schema = EXTRACTION_SCHEMA if include_layers else SLIM_SCHEMA
    return (
        occurrences.drop("sentence")
        .join(extracted, "sent_key")
        .select(*[f.name for f in out_schema.fields])
    )


def extract_chunked(sentences: DataFrame) -> DataFrame:
    """Pre-chunked path (gold layers given): sentences(url, tokens,
    pos_tags, chunk_tags) → extraction rows. Parity route for the
    reference fixtures — extraction quality independent of our tagger."""
    src = sentences.select(
        "url",
        F.lit("").alias("text"),
        F.col("tokens").alias("_tokens"),
        F.col("pos_tags").alias("_pos"),
        F.col("chunk_tags").alias("_chunks"),
    )
    fn, schema = _make_extract_batches(True)
    return src.mapInPandas(fn, schema)
