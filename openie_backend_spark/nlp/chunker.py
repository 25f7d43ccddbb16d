"""Sentence splitting, tokenization, POS tagging and NP/VP/PP chunking
for raw web-page text.

The reference runs OpenNLP models inside a map-only Hadoop job
(``hadoop/.../ScoobiSentenceChunker.scala:19,35-52``, one lazy model
instance per JVM). Here the POS and chunk layers come from the two
averaged-perceptron models shipped beside this module
(``nlp/perceptron.py``, trained by ``scripts/train_tagger.py`` on the
reference's tagged layers), also loaded once per process. The models
are required: a missing model file raises, there is no fallback
tagger. The output has the reference's interface (three aligned
layers); for the golden-fixture parity path the layers are given, so
extractor parity does not depend on this tagger (SURVEY.md §7.4-1).

Pure Python; wrapped once-per-executor inside the Arrow-batched UDFs of
``openie_backend_spark.operators.extract``.
"""

from __future__ import annotations

import re

# The exact character set Python's \\s / str.strip() treat as
# whitespace, spelled out so the JVM regexes in operators/extract.py
# match Python semantics char-for-char: Java's \\s is ASCII-only (the
# literal NBSP previously patched the most common HTML case, but thin
# spaces, U+2028/29 and the U+001C-1F separators still split on one
# path and not the other). A pytest asserts this class stays equal to
# Python's \\s over all codepoints.
_WS_CHARS = (
    "\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f \x85\xa0\u1680"
    "\u2000\u2001\u2002\u2003\u2004\u2005\u2006\u2007\u2008\u2009\u200a"
    "\u2028\u2029\u202f\u205f\u3000"
)
_WS_CLASS = "[" + _WS_CHARS + "]"
_SENT_SPLIT = re.compile(rf"(?<=[.!?]){_WS_CLASS}+(?=[A-Z\"'(0-9])")
_TOKEN = re.compile(
    r"n't|'s|'re|'ve|'ll|'d|'m|[A-Za-z]+(?:[-.][A-Za-z]+)*\.?|\$|[0-9][0-9,.%-]*|[^\sA-Za-z0-9]"
)
# verb lemmas the finite-verb repair accepts as a VBZ base form
_COMMON_VB = frozenset(
    "say make take come give go find tell become get keep hold meet "
    "lead pay sell buy build send win grow rise fall leave feel lose "
    "run see write speak bring begin acquire announce report launch "
    "found create develop establish own sign join visit study receive "
    "produce discover invent publish direct compose design use have "
    "work live play teach serve manage operate supply provide include "
    "contain employ support represent border locate".split()
)


def split_sentences(text: str) -> list[str]:
    return [s.strip() for s in _SENT_SPLIT.split(text or "") if s.strip()]


def tokenize(sentence: str) -> list[str]:
    return _TOKEN.findall(sentence)


_WH_WORDS = frozenset({"who", "which", "whom", "whose"})
_FINITE_TAGS = frozenset({"VBD", "VBZ", "VBP", "MD"})


def skip_appositive_commas(tokens: list[str], j: int) -> int:
    """Extend a candidate clause-closing comma at ``j`` across commas
    that are internal to the clause: a short (1-3 token) run of
    capitalized tokens between this comma and the next one is a
    place-name / appositive continuation ("born in Sandringham ,
    England ,"), not a matrix resumption. Surface-only, shared with
    nary._comma_brackets so tagging and extraction bracket the same
    span. Returns the extended closing-comma index (== ``j`` when no
    extension applies)."""
    n = len(tokens)
    while j < n - 1:
        k, run = j + 1, 0
        while k < n and run < 3 and tokens[k] != "," \
                and tokens[k][:1].isupper():
            k, run = k + 1, run + 1
        if run >= 1 and k < n and tokens[k] == ",":
            j = k
        else:
            break
    return j


def _wh_bracket_spans(tokens: list[str]) -> list[tuple[int, int]]:
    """Inclusive spans ``[i, j]`` of non-restrictive relative clauses
    ``, who/which/whom/whose <body> ,`` whose closing comma is not
    sentence-final. Surface-only detection — runs BEFORE tagging."""
    spans: list[tuple[int, int]] = []
    n = len(tokens)
    i = 0
    while i < n - 2:
        if tokens[i] == "," and tokens[i + 1].lower() in _WH_WORDS:
            j = i + 2
            while j < n and tokens[j] != ",":
                j += 1
            if j < n:
                j = skip_appositive_commas(tokens, j)
            if j < n - 1:
                spans.append((i, j))
                i = j + 1
                continue
        i += 1
    return spans


def _finite_verb_repair(tokens: list[str], tags: list[str],
                        matrix: list[int]) -> None:
    """If the matrix clause has no finite verb, retag the first
    subject-adjacent NNS whose base form is a known verb as VBZ
    (in place). Every main clause needs a finite verb; suffix features
    bias OOV third-person-singular forms ('lives', 'heads') toward
    NNS, and the ~80k-token gold corpus cannot teach them all."""
    if any(tags[k] in _FINITE_TAGS for k in matrix):
        return
    for pos, k in enumerate(matrix):
        if pos == 0 or tags[k] != "NNS":
            continue
        if tags[matrix[pos - 1]] not in ("NNP", "NNPS", "PRP", "NN", "NNS"):
            continue
        lw = tokens[k].lower()
        base = lw[:-2] if lw.endswith("es") and lw[:-2] in _COMMON_VB \
            else lw[:-1]
        if base in _COMMON_VB:
            tags[k] = "VBZ"
            return


def pos_tag(tokens: list[str]) -> list[str]:
    """POS layer: the averaged-perceptron model trained on the
    reference's shipped tagged layers (held-out web POS acc ≈0.89 —
    scripts/train_tagger.py). Raises ``FileNotFoundError`` when the
    model file is absent.

    Two clause-level repairs wrap the tagger (sequence taggers are
    local; these constraints are not):

    * **relative-clause splice** — for ``X , who ... , <verb> ...``
      the matrix verb's left context is the clause's closing comma,
      which the gold corpus offers no resumption evidence for (OOV
      'won' after ',' scored DT). Tag the bracket-stripped sequence
      too and take its tags for the matrix tokens; the clause keeps
      its full-context tags.
    * **finite-verb repair** — see `_finite_verb_repair`.
    """
    from openie_backend_spark.nlp import perceptron

    tag_fn = perceptron.get_tagger().tag
    tags = tag_fn(tokens)
    spans = _wh_bracket_spans(tokens)
    if spans:
        matrix = [k for k in range(len(tokens))
                  if not any(i <= k <= j for i, j in spans)]
        for k, t in zip(matrix, tag_fn([tokens[k] for k in matrix])):
            tags[k] = t
    else:
        matrix = list(range(len(tokens)))
    _finite_verb_repair(tokens, tags, matrix)
    return tags


def chunk(tokens: list[str], tags: list[str]) -> list[str]:
    """IOB chunk layer: the averaged-perceptron chunker trained on the
    reference's gold OpenNLP chunk layers (held-out accuracy ≈0.98 on
    gold POS, jackknife-trained against predicted POS). Raises
    ``FileNotFoundError`` when the model file is absent."""
    from openie_backend_spark.nlp import perceptron

    return perceptron.get_chunker().chunk(tokens, tags)


def chunk_sentence(sentence: str) -> tuple[list[str], list[str], list[str]]:
    toks = tokenize(sentence)
    tags = pos_tag(toks)
    return toks, tags, chunk(toks, tags)
