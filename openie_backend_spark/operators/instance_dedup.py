"""G10: within-group sentence/instance deduplication.

Spark mapping of ``models/.../InstanceDeduplicator.scala:22-90`` +
``ScoobiGroupSentenceDeduplicator.scala:39-49``: within each relation
group, instances are scanned in confidence order (wiki-corpus
instances get a +0.1 boost, ``:34-36``) and kept only if they
contribute a new context token within a ±3-token window around the
tuple (``:20``) and no (token, relative-position) pair has been seen
3 times (``:71-74``); byte-identical whole sentences are always
deduplicated.

The scan is inherently sequential per group (state = seen token/pos
counts), so this is a grouped ``applyInPandas`` — the one UDAF-shaped
Python operator in the engine. Groups are independent; the shuffle is
the same group key used everywhere else.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from openie_backend_spark.operators.group import GROUP_KEY

WINDOW = 3          # InstanceDeduplicator.scala:20
MAX_REPEATS = 3     # :71-74
WIKI_BOOST = 0.1    # :34-36


def _dedup_one_group(pdf: pd.DataFrame) -> pd.DataFrame:
    def sort_key(row):
        conf = row["confidence"] or 0.0
        if (row.get("corpus") or "") == "wiki":
            conf += WIKI_BOOST
        # total order: equal-confidence instances must not depend on
        # partition-arrival order (determinism north rule) — break ties
        # on (url, sent_id, arg1_start) like group.py's cap window does
        return (-conf, row.get("url") or "", row.get("sent_id") or 0,
                row.get("arg1_start") or 0)

    rows = sorted(pdf.to_dict("records"), key=sort_key)
    seen_sentences: set[str] = set()
    seen_counts: dict[tuple[str, int], int] = {}
    kept = []
    for row in rows:
        raw_tokens = row.get("tokens")
        tokens = [] if raw_tokens is None else list(raw_tokens)
        sent = " ".join(tokens)
        if sent and sent in seen_sentences:
            continue
        a1s = row["arg1_start"]
        a2e = row["arg2_end"]
        lo = max(0, a1s - WINDOW)
        hi = min(len(tokens), a2e + WINDOW)
        novel = False
        window_pairs = []
        for p in range(lo, hi):
            key = (tokens[p].lower(), p - a1s)
            window_pairs.append(key)
            if seen_counts.get(key, 0) == 0:
                novel = True
        if not tokens:
            novel = True  # slim rows: no token layer → keep by sentence id
        if not novel:
            continue
        if any(seen_counts.get(k, 0) >= MAX_REPEATS for k in window_pairs):
            continue
        for k in window_pairs:
            seen_counts[k] = seen_counts.get(k, 0) + 1
        if sent:
            seen_sentences.add(sent)
        kept.append(row)
    if not kept:
        return pdf.iloc[0:0]
    return pd.DataFrame(kept, columns=list(pdf.columns))


def dedup_instances(extractions: DataFrame) -> DataFrame:
    """Deduplicate extraction rows within each group key.

    Batched grouped-map (r6): ``groupBy().applyInPandas`` invokes
    Python and builds a fresh pandas frame once PER GROUP — measured
    ~4-8 ms of pure overhead per group, which at 484 sf0.1 groups is
    already seconds and at web scale is O(groups) pure tax. Same
    shuffle (repartition by the group key), same per-group scan
    (``_dedup_one_group`` sorts internally, so intra-group input order
    is irrelevant), but ONE ``mapInPandas`` call per Arrow batch:
    rows arrive key-sorted within each partition and groups are sliced
    in pandas, with the final (possibly batch-spanning) group carried
    into the next batch. Output rows are identical; only the
    per-group invocation overhead moves to per-batch."""
    schema = extractions.schema
    keyed = extractions.repartition(*[F.col(k) for k in GROUP_KEY]) \
        .sortWithinPartitions(*GROUP_KEY)

    def _batched(batches):
        carry = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if not len(pdf):
                carry = None
                continue
            # null-safe: a null key is a group of its own, as in
            # groupBy().applyInPandas
            is_last = pd.Series(True, index=pdf.index)
            for k in GROUP_KEY:
                col, last = pdf[k], pdf[k].iloc[-1]
                is_last &= col.isna() if pd.isna(last) else col == last
            carry = pdf[is_last].reset_index(drop=True)
            head = pdf[~is_last]
            if len(head):
                out = [
                    _dedup_one_group(g.reset_index(drop=True))
                    for _, g in head.groupby(list(GROUP_KEY), sort=False,
                                             dropna=False)
                ]
                yield pd.concat(out, ignore_index=True)
        if carry is not None and len(carry):
            yield _dedup_one_group(carry)

    return keyed.mapInPandas(_batched, schema=schema)


def dedup_grouped(groups: DataFrame) -> DataFrame:
    """Same semantics applied to already-grouped REGs: explode the
    instances array, dedup, regroup (used on the serving path,
    ``ParallelExtractionGroupFetcher.scala:174-179``)."""
    exploded = groups.select(*GROUP_KEY, F.explode("instances").alias("instance"))
    flat = exploded.select(*GROUP_KEY, F.col("instance.*"))
    schema = flat.schema
    deduped = flat.groupBy(*GROUP_KEY).applyInPandas(
        lambda pdf: _dedup_one_group(pdf), schema=schema
    )
    inst_cols = [c for c in deduped.columns if c not in GROUP_KEY]
    return (
        deduped.groupBy(*GROUP_KEY)
        .agg(
            F.collect_list(F.struct(*inst_cols)).alias("instances"),
            F.count(F.lit(1)).alias("size"),
        )
    )
