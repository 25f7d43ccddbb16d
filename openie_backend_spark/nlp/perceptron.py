"""Averaged-perceptron POS tagger and chunker (pure Python, plus a numpy
decode table for the unconstrained path).

The reference tags raw sentences with shipped OpenNLP maxent models
(``hadoop/.../ScoobiSentenceChunker.scala:19,35-52``); binary model
files are out of scope here, so the raw-text path trains its own
tagger on the tagged sentence layers the reference DOES ship —
``test-groups.txt`` (≈3.8k distinct web sentences with OpenNLP
POS/chunk layers) and ``TestReVerbExtractions.txt`` (WSJ-style) — via
``scripts/train_tagger.py``, which writes
``openie_backend_spark/nlp/tagger_model.json.gz``.

The algorithm is the classic averaged perceptron for tagging
(Collins 2002, EMNLP; feature template set popularized by Honnibal's
"A Good Part-of-Speech Tagger in about 200 Lines of Python"):

* greedy left-to-right decoding, features over (word, prev tag,
  prev2 tag, neighbors, prefixes/suffixes, digit/hyphen/case shape);
* on error, +1 the gold-tag weights and -1 the predicted-tag weights;
* final weights are the average over all updates (stabilizes the
  online estimates);
* a "single-tag" dictionary short-circuits frequent unambiguous words
  (≥ 97 % one tag in training), which covers most tokens and keeps
  the raw-text extraction path fast inside the Arrow-batched UDFs.

Inference is deterministic: score ties break on the tag string.
"""

from __future__ import annotations

import gzip
import json
import os
import random
from collections import defaultdict

MODEL_PATH = os.path.join(os.path.dirname(__file__), "tagger_model.json.gz")


def _normalize(word: str) -> str:
    if word and word[0].isdigit():
        return "!DIGIT"
    return word.lower()


def _shape(word: str) -> str:
    """Collapsed character-class shape: 'McRae-1' → 'XxXx-d'."""
    out = []
    last = ""
    for ch in word[:12]:
        c = "X" if ch.isupper() else "x" if ch.islower() else \
            "d" if ch.isdigit() else ch
        if c != last:
            out.append(c)
            last = c
    return "".join(out)


def _features(i: int, word: str, context: list[str], prev: str, prev2: str):
    """Feature template (Collins/Honnibal, plus suffix-4/prefix-2/3 and
    a collapsed word-shape feature). ``context`` is the normalized
    token list padded with two boundary markers each side, so
    ``context[i+2]`` is the current word."""
    j = i + 2
    w = context[j]
    feats = [
        "b",  # bias
        "s4 " + w[-4:],
        "s3 " + w[-3:],
        "s2 " + w[-2:],
        "p1 " + w[:1],
        "p2 " + w[:2],
        "p3 " + w[:3],
        "t1 " + prev,
        "t2 " + prev2,
        "t12 " + prev + " " + prev2,
        "w " + w,
        "sh " + _shape(word),
        "t1w " + prev + " " + w,
        "t1s3 " + prev + " " + w[-3:],
        "-1w " + context[j - 1],
        "-1s3 " + context[j - 1][-3:],
        "-2w " + context[j - 2],
        "+1w " + context[j + 1],
        "+1s3 " + context[j + 1][-3:],
        "+2w " + context[j + 2],
        "w+1w " + w + " " + context[j + 1],
        "t1+1w " + prev + " " + context[j + 1],
    ]
    if word and word[0].isupper():
        feats.append("cap" if i > 0 else "cap0")
    if "-" in word:
        feats.append("hyp")
    return feats


def _argmax_tag(scores: dict[str, float], tags_desc: list[str], default: str) -> str:
    """max over ALL tags where unscored tags compete at exactly 0.0,
    ties broken by tag string — identical to
    ``max(tags, key=lambda t: (scores.get(t, 0.0), t))`` but touching
    only the ~8 scored tags in the common case (hot inference path)."""
    if not scores:
        return default
    bt = None
    bv = None
    for tag, v in scores.items():
        if bv is None or v > bv or (v == bv and tag > bt):
            bv, bt = v, tag
    if bv <= 0.0:
        for tag in tags_desc:  # largest unscored tag, scoring 0.0
            if tag not in scores:
                if bv < 0.0 or (bv == 0.0 and tag > bt):
                    bv, bt = 0.0, tag
                break
    return bt


class _AveragedPerceptron:
    """Shared averaged-perceptron core (sparse weights, on-error
    update with lazily-propagated averaging, constrained argmax).
    Subclasses own the feature templates, the decode loop, and model
    io; they drive training through ``_begin_training`` /
    ``_update`` / ``_finalize_training``."""

    default_tag = "NN"

    def __init__(self):
        self.weights: dict[str, dict[str, float]] = {}
        self.tags: list[str] = []
        self._tags_desc: list[str] = []
        # dense float64 row per feature over tags_desc, for the
        # UNCONSTRAINED decode of FINAL weights (see _predict); None
        # while the weights still move (training) or were set by hand
        self._dense = None

    # ------------------------------------------------------ inference

    def _build_dense(self) -> None:
        """Dense rows for the unconstrained path, built once the
        weights are final (``_finalize_training`` / ``load``). Vector
        adds replace the per-(feature, tag) dict accumulation: the
        per-tag addition SEQUENCE (feature order, skipping absent rows,
        +0.0 for tags a row lacks — exact in IEEE) is unchanged, and
        argmax-first over the DESCENDING tag order reproduces
        _argmax_tag's (score, tag) tie-break including the all-zero
        case, so predictions are bit-identical to the dict decode.
        Built at load, so the warm daemon builds it pre-fork and
        workers inherit one shared copy."""
        import numpy as np

        self._tags_desc = sorted(self.tags, reverse=True)
        idx = {t: i for i, t in enumerate(self._tags_desc)}
        dense = {}
        n = len(self._tags_desc)
        for f, row in self.weights.items():
            arr = np.zeros(n)
            for t, v in row.items():
                arr[idx[t]] = v
            dense[f] = arr
        self._dense = dense

    def _predict(self, feats, allowed: list[str] | None = None) -> str:
        weights = self.weights
        if allowed:
            # tag-dictionary constraint: a frequent word can only take
            # tags it was ever seen with (classic dictionary decode) —
            # impossible tags never compete. Score ONLY the allowed
            # tags: |feats|·|allowed| lookups instead of accumulating
            # every tag of every feature row (the hot-path win —
            # exact same argmax as scoring everything then filtering).
            rows = [w for f in feats if (w := weights.get(f))]
            bt = None
            bv = 0.0
            for t in allowed:
                v = 0.0
                for w in rows:
                    wv = w.get(t)
                    if wv is not None:
                        v += wv
                if bt is None or v > bv or (v == bv and t > bt):
                    bv, bt = v, t
            return bt
        dense = self._dense
        if dense is not None:
            rows = [r for f in feats if (r := dense.get(f)) is not None]
            if not rows:
                return self.default_tag
            acc = rows[0]
            if len(rows) > 1:
                acc = acc + rows[1]
                for r in rows[2:]:
                    acc += r
            return self._tags_desc[int(acc.argmax())]
        # weights still moving (training): score from the dicts
        scores: dict[str, float] = {}
        for f in feats:
            w = weights.get(f)
            if w:
                for tag, v in w.items():
                    scores[tag] = scores.get(tag, 0.0) + v
        if not self._tags_desc:
            self._tags_desc = sorted(self.tags, reverse=True)
        return _argmax_tag(scores, self._tags_desc, self.default_tag)

    # ------------------------------------------------------- training

    def _begin_training(self, tagset) -> None:
        # the default tag is a possible prediction, so it is a tag
        self.tags = sorted(set(tagset) | {self.default_tag})
        self._tags_desc = []
        self._dense = None
        self._totals = defaultdict(lambda: defaultdict(float))
        self._stamps = defaultdict(lambda: defaultdict(int))
        self.weights = defaultdict(lambda: defaultdict(float))
        self._instance = 0

    def _update(self, gold: str, pred: str, feats) -> None:
        """On-error perceptron update with the lazy-averaging trick:
        each touched (feature, tag) cell first banks its current value
        over the instances since it last changed."""
        if pred == gold:
            return
        for f in feats:
            for tag, delta in ((gold, 1.0), (pred, -1.0)):
                self._totals[f][tag] += (
                    self._instance - self._stamps[f][tag]
                ) * self.weights[f][tag]
                self._stamps[f][tag] = self._instance
                self.weights[f][tag] += delta

    def _finalize_training(self) -> None:
        averaged: dict[str, dict[str, float]] = {}
        for f, tw in self.weights.items():
            row = {}
            for tag, w in tw.items():
                total = self._totals[f][tag] + (
                    self._instance - self._stamps[f][tag]
                ) * w
                avg = round(total / self._instance, 4)
                if avg:
                    row[tag] = avg
            if row:
                averaged[f] = row
        self.weights = averaged
        del self._totals, self._stamps, self._instance
        self._build_dense()


class PerceptronTagger(_AveragedPerceptron):
    default_tag = "NN"

    def __init__(self):
        super().__init__()
        self.single_tag: dict[str, str] = {}
        self.tag_dict: dict[str, list[str]] = {}

    # ------------------------------------------------------ inference

    def tag(self, tokens: list[str]) -> list[str]:
        out: list[str] = []
        norms = [_normalize(t) for t in tokens]
        context = ["_S2", "_S1"] + norms + ["_E1", "_E2"]
        prev, prev2 = "-START-", "-START2-"
        for i, word in enumerate(tokens):
            norm = norms[i]
            t = self.single_tag.get(norm)
            if t is None:
                allowed = self.tag_dict.get(norm)
                if allowed is None and i > 0 and word[:1].isupper() \
                        and word[1:].islower():
                    # OOV capitalized mid-sentence word: closed classes
                    # are closed — an unseen Titlecase word cannot be a
                    # preposition/determiner, so constrain the decode to
                    # open-class tags ("Prize" -> IN error class; held-
                    # out POS 0.9249 vs 0.9248 unconstrained, R +0.001)
                    allowed = self._open_class_tags()
                elif allowed is not None and prev == "TO" and "VB" not in allowed:
                    # the tag dict is a frequency prior over OBSERVED
                    # tags; after TO the infinitive reading is live even
                    # for words never seen as verbs in the ~80k-token
                    # corpus ("to close the plant": dict has only
                    # JJ/NN/NNP/RB). Widening (never narrowing) lets the
                    # model score VB; held-out neutral (POS -0.0008,
                    # triple P +0.0007 / R -0.001)
                    allowed = allowed + ["VB"]
                t = self._predict(
                    _features(i, word, context, prev, prev2), allowed
                )
            out.append(t)
            prev2, prev = prev, t
        return out

    def _open_class_tags(self) -> list[str]:
        cached = getattr(self, "_open_cache", None)
        if cached is None:
            cached = [
                t for t in self.tags
                if t[:2] in ("NN", "VB", "JJ", "RB", "CD", "FW", "UH", "SY")
                or t == "LS"
            ]
            self._open_cache = cached
        return cached

    # ------------------------------------------------------- training

    def train(
        self,
        sentences: list[tuple[list[str], list[str]]],
        epochs: int = 8,
        seed: int = 13,
        min_freq: int = 5,
        ambiguity: float = 0.97,
        history: str = "gold",
    ) -> None:
        """``history='pred'`` feeds the model's own prediction into the
        prev/prev2 features during training (the canonical Collins/
        Honnibal recipe — no train/decode exposure mismatch);
        ``'gold'`` conditions on gold tags. Measured on the held-out
        web split (ADVICE r3): pred 0.9267 POS / 0.9764 chunk vs gold
        0.9261 / 0.9757, but the end-to-end raw-path triple gate is
        P/R 0.8328/0.8287 (pred) vs 0.8363/0.8396 (gold) — neither
        measurably wins, and the downstream gate favors gold, so gold
        stays the default the shipped models are trained with."""
        counts: dict[str, dict[str, int]] = defaultdict(lambda: defaultdict(int))
        tagset = set()
        for toks, tags in sentences:
            for w, t in zip(toks, tags):
                counts[_normalize(w)][t] += 1
                tagset.add(t)
        self.single_tag = {}
        self.tag_dict = {}
        for w, tc in counts.items():
            total = sum(tc.values())
            tag, n = max(tc.items(), key=lambda kv: (kv[1], kv[0]))
            if total >= min_freq and n / total >= ambiguity:
                self.single_tag[w] = tag
            elif total >= min_freq:
                # ambiguous but frequent: decode over observed tags only
                self.tag_dict[w] = sorted(tc)

        self._begin_training(tagset)
        rng = random.Random(seed)
        order = list(range(len(sentences)))
        for _ in range(epochs):
            rng.shuffle(order)
            for si in order:
                toks, gold = sentences[si]
                context = (
                    ["_S2", "_S1"] + [_normalize(t) for t in toks] + ["_E1", "_E2"]
                )
                prev, prev2 = "-START-", "-START2-"
                for i, word in enumerate(toks):
                    self._instance += 1
                    norm = _normalize(word)
                    t = self.single_tag.get(norm)
                    if t is None:
                        feats = _features(i, word, context, prev, prev2)
                        t = self._predict(feats, self.tag_dict.get(norm))
                        self._update(gold[i], t, feats)
                    prev2, prev = prev, (t if history == "pred" else gold[i])
        self._finalize_training()

    # ----------------------------------------------------------- io

    def save(self, path: str = MODEL_PATH) -> None:
        blob = {
            "tags": self.tags,
            "single_tag": self.single_tag,
            "tag_dict": self.tag_dict,
            "weights": self.weights,
        }
        with gzip.open(path, "wt", encoding="utf-8") as fh:
            json.dump(blob, fh, separators=(",", ":"), sort_keys=True)

    @classmethod
    def load(cls, path: str = MODEL_PATH) -> "PerceptronTagger":
        with gzip.open(path, "rt", encoding="utf-8") as fh:
            blob = json.load(fh)
        t = cls()
        t.tags = blob["tags"]
        t.single_tag = blob["single_tag"]
        t.tag_dict = blob.get("tag_dict", {})
        t.weights = blob["weights"]
        t._build_dense()
        return t


CHUNKER_MODEL_PATH = os.path.join(
    os.path.dirname(__file__), "chunker_model.json.gz"
)


def _chunk_features(i: int, words: list[str], pos: list[str], prev: str):
    """IOB chunking features over the word/POS context (CoNLL-2000
    style: Kudo & Matsumoto 2001 window features, greedy decoding)."""
    j = i + 2
    feats = [
        "b",
        "p " + pos[j],
        "p-1 " + pos[j - 1],
        "p-2 " + pos[j - 2],
        "p+1 " + pos[j + 1],
        "p+2 " + pos[j + 2],
        "pp-1 " + pos[j - 1] + " " + pos[j],
        "pp+1 " + pos[j] + " " + pos[j + 1],
        "ppp " + pos[j - 1] + " " + pos[j] + " " + pos[j + 1],
        "w " + words[j],
        "w-1 " + words[j - 1],
        "w+1 " + words[j + 1],
        "wp " + words[j] + " " + pos[j],
        "c-1 " + prev,
        "c-1p " + prev + " " + pos[j],
        # NP-boundary discriminators (B-NP vs I-NP is the dominant
        # error class): the word pair across the boundary and the
        # previous chunk with the POS bigram
        "w-1w " + words[j - 1] + " " + words[j],
        "c-1pp " + prev + " " + pos[j - 1] + " " + pos[j],
        "p-1w " + pos[j - 1] + " " + words[j],
        "pw+1 " + pos[j] + " " + words[j + 1],
    ]
    return feats


class PerceptronChunker(_AveragedPerceptron):
    """Same averaged-perceptron core as the tagger, emitting IOB
    chunk tags from (tokens, POS). Trained on the reference's gold
    chunk layers (OpenNLP output), so the raw path reproduces the
    chunking behavior the extractor's patterns were built against.

    ``pos_dict`` is the chunker's dictionary constraint: for each POS
    tag, the chunk tags ever observed with it in training (a '.' never
    chunks as I-NP). Decode scores only those — faster AND it rules
    out never-seen (pos, chunk) pairs, which are errors with
    probability ~1."""

    default_tag = "O"

    def __init__(self):
        super().__init__()
        self.pos_dict: dict[str, list[str]] = {}

    def chunk(self, tokens: list[str], pos: list[str]) -> list[str]:
        words = ["_S2", "_S1"] + [_normalize(t) for t in tokens] + ["_E1", "_E2"]
        ptags = ["_S2", "_S1"] + list(pos) + ["_E1", "_E2"]
        out: list[str] = []
        prev = "-START-"
        pos_dict = self.pos_dict
        for i in range(len(tokens)):
            allowed = pos_dict.get(pos[i])
            t = self._predict(_chunk_features(i, words, ptags, prev), allowed)
            out.append(t)
            prev = t
        return out

    def train(
        self,
        sentences: list[tuple[list[str], list[str], list[str]]],
        epochs: int = 8,
        seed: int = 29,
        history: str = "gold",
    ) -> None:
        """``history`` semantics as in PerceptronTagger.train (same
        ADVICE-r3 A/B; gold default, measured slightly better
        end-to-end)."""
        tagset = set()
        pos_chunks: dict[str, dict[str, int]] = {}
        for _, pos, chunks in sentences:
            tagset.update(chunks)
            for p, c in zip(pos, chunks):
                row = pos_chunks.setdefault(p, {})
                row[c] = row.get(c, 0) + 1
        # coverage-pruned dict (round 5): keep the most frequent chunk
        # tags per POS until 99.9% of its training occurrences are
        # covered — the dropped tail is annotation noise (NNP observed
        # once as B-PP truncates "the Nobel Prize" at decode). Held-out
        # chunk accuracy 0.9752 -> 0.9760 with the prune; triple P/R
        # moves within noise (-0.002).
        self.pos_dict = {}
        for p, cc in pos_chunks.items():
            total = sum(cc.values())
            keep: list[str] = []
            acc = 0
            for tag, n in sorted(cc.items(), key=lambda kv: (-kv[1], kv[0])):
                keep.append(tag)
                acc += n
                if acc / total >= 0.999:
                    break
            self.pos_dict[p] = sorted(keep)
        self._begin_training(tagset)
        rng = random.Random(seed)
        order = list(range(len(sentences)))
        for _ in range(epochs):
            rng.shuffle(order)
            for si in order:
                toks, pos, gold = sentences[si]
                words = ["_S2", "_S1"] + [_normalize(t) for t in toks] + ["_E1", "_E2"]
                ptags = ["_S2", "_S1"] + list(pos) + ["_E1", "_E2"]
                prev = "-START-"
                for i in range(len(toks)):
                    self._instance += 1
                    feats = _chunk_features(i, words, ptags, prev)
                    t = self._predict(feats, self.pos_dict.get(pos[i]))
                    self._update(gold[i], t, feats)
                    prev = t if history == "pred" else gold[i]
        self._finalize_training()

    def save(self, path: str = CHUNKER_MODEL_PATH) -> None:
        blob = {"tags": self.tags, "pos_dict": self.pos_dict,
                "weights": self.weights}
        with gzip.open(path, "wt", encoding="utf-8") as fh:
            json.dump(blob, fh, separators=(",", ":"), sort_keys=True)

    @classmethod
    def load(cls, path: str = CHUNKER_MODEL_PATH) -> "PerceptronChunker":
        with gzip.open(path, "rt", encoding="utf-8") as fh:
            blob = json.load(fh)
        c = cls()
        c.tags = blob["tags"]
        c.pos_dict = blob.get("pos_dict", {})
        c.weights = blob["weights"]
        c._build_dense()
        return c


_CACHED: PerceptronTagger | None = None
_CACHED_CHUNKER: PerceptronChunker | None = None


def get_tagger() -> PerceptronTagger:
    """Process-wide cached POS model, loaded from ``MODEL_PATH`` on
    first use. The model is required: a missing file raises
    ``FileNotFoundError`` naming the path."""
    global _CACHED
    if _CACHED is None:
        _CACHED = PerceptronTagger.load(MODEL_PATH)
    return _CACHED


def get_chunker() -> PerceptronChunker:
    """Process-wide cached chunk model from ``CHUNKER_MODEL_PATH``;
    raises ``FileNotFoundError`` like ``get_tagger``."""
    global _CACHED_CHUNKER
    if _CACHED_CHUNKER is None:
        _CACHED_CHUNKER = PerceptronChunker.load(CHUNKER_MODEL_PATH)
    return _CACHED_CHUNKER
