"""Quality filters — all builtin Spark SQL (no Python in the hot path).

Spark mapping of:

* F2 instance quality filter
  (``hadoop/.../ScoobiReVerbGroupFilter.scala:25-35,77-127``): drop an
  instance if it contains a negation word in rel/arg2, total triple
  text length > 60, pronoun arg, confidence < 0.5, empty cleaned
  part, arg1 == arg2 after cleaning, ≥ 5 questionable characters, or
  matches the likely-error regex ``.*(http|\\(|\\)|"|\\[|thing).*``;
* F3 group filter (``:69-75``): all norms non-empty and ≥ 2 instances;
* F4 extreme-precision filter
  (``ScoobiReVerbGroupExtremeFilter.scala:56,65-91``);
* F5 frequency filter (``ScoobiEntityLinker.scala:161,172-197``).

The F7 entity stoplist is the typer's broadcast left-anti join
(``typer._rel_entities``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

NEGATION_WORDS = ("no", "not", "none", "n't", "never")
PRONOUNS = (
    "he", "she", "it", "they", "them", "him", "her", "i", "you", "we",
    "us", "me", "this", "that", "these", "those",
)
# F4 blacklists (ScoobiReVerbGroupExtremeFilter.scala:81-84). The
# reference checks MorphaStemmer.lemmatize(token) against the literal
# set {"said","have","is"} — with standard Morpha lemmas ('said'→'say',
# 'is'→'be') only have-forms can actually match, so the reference as
# written blocks less than it evidently intends. Like the
# _definite_noun note below, we implement the evident INTENT: the JVM
# filter expands say/have/be to their surface inflections (no Python in
# the hot path), deliberately blocking strictly more than the
# reference's literal behavior.
EXTREME_STOP_RELS = (
    "said", "say", "says", "saying",
    "have", "has", "had", "having",
    "is", "are", "was", "were", "be", "been", "being", "am",
)
EXTREME_STOP_ARGS = (
    "both", "all", "some", "other", "this", "that", "those",
    "sunday", "monday", "tuesday", "wednesday", "thursday", "friday",
    "saturday", "yesterday", "tomorrow", "today",
)
LIKELY_ERROR_RE = r'.*(http|\(|\)|"|\[|thing).*'
LIKELY_ERROR_SUBSTRINGS = ("http", "(", ")", '"', "[", "thing")
MAX_TRIPLE_LEN = 60


def _likely_error(col):
    """contains-any over LIKELY_ERROR_SUBSTRINGS — exactly the match
    set of ``rlike(LIKELY_ERROR_RE)`` (an unanchored alternation of
    literals) without the regex engine's quadratic backtracking."""
    out = col.contains(LIKELY_ERROR_SUBSTRINGS[0])
    for s in LIKELY_ERROR_SUBSTRINGS[1:]:
        out = out | col.contains(s)
    return out


def _negation(col):
    return F.exists(
        F.split(F.lower(col), " "),
        lambda w: w.isin(*NEGATION_WORDS),
    )


def _pronoun(col):
    return F.lower(col).isin(*PRONOUNS)


def instance_quality_filter(extractions: DataFrame, min_conf: float = 0.5) -> DataFrame:
    """F2 over extraction rows (applied BEFORE the grouping shuffle —
    the volume cut the reference only gets post-shuffle; SURVEY §7.4-4)."""
    total_len = (
        F.length("arg1_text") + F.length("rel_text") + F.length("arg2_text")
    )
    triple = F.concat_ws(" ", "arg1_text", "rel_text", "arg2_text")
    questionable = F.length(triple) - F.length(
        F.regexp_replace(triple, r"[^A-Za-z0-9 .,'-]", "")
    )
    return extractions.filter(
        ~_negation(F.col("rel_text"))
        & ~_negation(F.col("arg2_text"))
        & (total_len <= MAX_TRIPLE_LEN)
        & ~_pronoun(F.col("arg1_text"))
        & ~_pronoun(F.col("arg2_text"))
        & (F.col("confidence") >= min_conf)
        & (F.length(F.trim(F.col("arg1_norm"))) > 0)
        & (F.length(F.trim(F.col("rel_norm"))) > 0)
        & (F.length(F.trim(F.col("arg2_norm"))) > 0)
        & (F.col("arg1_norm") != F.col("arg2_norm"))
        & (questionable < 5)
        # contains-chain ≡ rlike(LIKELY_ERROR_RE): the unanchored-.*
        # regex backtracks O(len²) per row; substring search is linear
        # and byte-identical in accept/reject behaviour (r6)
        & ~_likely_error(F.lower(triple))
    )


def group_filter(groups: DataFrame, min_instances: int = 2) -> DataFrame:
    """F3: groups with ≥ 2 instances and non-empty norms."""
    return groups.filter(
        (F.size("instances") >= min_instances)
        & (F.length("arg1_norm") > 0)
        & (F.length("rel_norm") > 0)
        & (F.length("arg2_norm") > 0)
    )


def _layer_slice(inst, layer: str, span: str):
    """inst.<layer>[span_start:span_end] (1-based slice arithmetic)."""
    return F.slice(
        inst[layer], inst[f"{span}_start"] + 1,
        inst[f"{span}_end"] - inst[f"{span}_start"],
    )


def _definite_noun(tags):
    """DT immediately followed by NN/NNP. NOTE: the reference's scan
    (``ScoobiReVerbGroupExtremeFilter.scala:66-77``) checks
    ``tokensLeft.head`` — the DT itself — for NN/NNP after the
    dropWhile, so as written it can never fire; this implements the
    evident intent (the token AFTER the DT)."""
    return F.when(
        F.size(tags) >= 2,
        F.exists(
            F.sequence(F.lit(1), F.size(tags) - 1),
            lambda i: (F.element_at(tags, i) == "DT")
            & F.element_at(tags, i + 1).isin("NN", "NNP"),
        ),
    ).otherwise(F.lit(False))


def extreme_precision_filter(
    groups: DataFrame, min_conf: float = 0.9, min_instances: int = 2
) -> DataFrame:
    """F4 (``ScoobiReVerbGroupExtremeFilter.scala:56,65-91``): filter
    INSTANCES (not groups) — keep an instance iff conf > 0.9 strictly,
    the relation is not a single blacklisted verb, no argument token is
    blacklisted, no arg1/arg2/rel token is a pronoun, and neither
    argument contains a definite noun (DT→NN/NNP); then keep groups
    with ≥ ``min_instances`` survivors (``filterGroups :59``). All
    array expressions on the instance struct — one JVM projection, no
    shuffle, no Python."""
    inst_fields = {
        f.name for f in groups.schema["instances"].dataType.elementType.fields
    }
    has_layers = "tokens" in inst_fields and "pos_tags" in inst_fields

    def keep(inst):
        cond = inst["confidence"] > min_conf
        if not has_layers:
            # slim pipelines carry no token layers; degrade to the
            # text-level checks (definite-noun scan needs POS)
            for txt in ("arg1_text", "arg2_text"):
                cond = cond & ~F.exists(
                    F.split(F.lower(inst[txt]), " "),
                    lambda w: w.isin(*EXTREME_STOP_ARGS) | w.isin(*PRONOUNS),
                )
            cond = cond & ~F.lower(inst["rel_text"]).isin(*EXTREME_STOP_RELS)
            return cond
        a1t = _layer_slice(inst, "tokens", "arg1")
        a2t = _layer_slice(inst, "tokens", "arg2")
        rlt = _layer_slice(inst, "tokens", "rel")
        a1p = _layer_slice(inst, "pos_tags", "arg1")
        a2p = _layer_slice(inst, "pos_tags", "arg2")
        single_black_rel = (F.size(rlt) == 1) & F.lower(
            F.element_at(rlt, 1)
        ).isin(*EXTREME_STOP_RELS)
        def any_in(arr, words):
            return F.exists(arr, lambda t: F.lower(t).isin(*words))
        return (
            cond
            & ~single_black_rel
            & ~any_in(a1t, EXTREME_STOP_ARGS)
            & ~any_in(a2t, EXTREME_STOP_ARGS)
            & ~any_in(a1t, PRONOUNS)
            & ~any_in(a2t, PRONOUNS)
            & ~any_in(rlt, PRONOUNS)
            & ~_definite_noun(a1p)
            & ~_definite_noun(a2p)
        )

    out = groups.withColumn("instances", F.filter("instances", keep)).withColumn(
        "size", F.size("instances").cast("long")
    )
    return out.filter(F.col("size") >= min_instances)


def frequency_filter(groups: DataFrame, min_freq: int = 1, max_freq: int = 100000) -> DataFrame:
    """F5: pre-linking cost control by group size."""
    return groups.filter(F.col("size").between(min_freq, max_freq))
