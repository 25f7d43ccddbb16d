"""Readers for the reference repo's golden fixture files.

The reference stores golden extractions as 7-column tab-delimited lines
(``models/.../ReVerbExtraction.scala:137-147``): arg1/rel/arg2 intervals
(``[start, end)``), three space-delimited aligned token layers (words,
POS tags, IOB chunk tags) and a source url. We read the files directly
from the read-only reference checkout when present; tests skip
gracefully when it is absent so the repo stays standalone.
"""

from __future__ import annotations

import os
import re
from typing import Iterator, NamedTuple

REFERENCE_ROOT = os.environ.get("OPENIE_REFERENCE_ROOT", "/root/reference")

GOLD_EXTRACTIONS = os.path.join(
    REFERENCE_ROOT,
    "models/src/main/resources/edu/knowitall/openie/models/TestReVerbExtractions.txt",
)
GOLD_GROUPS = os.path.join(
    REFERENCE_ROOT,
    "models/src/main/resources/edu/knowitall/openie/models/test-groups.txt",
)

_NUM_RE = re.compile(r"\d+")


class GoldExtraction(NamedTuple):
    arg1: tuple[int, int]
    rel: tuple[int, int]
    arg2: tuple[int, int]
    tokens: list[str]
    pos: list[str]
    chunks: list[str]
    url: str | None


def parse_interval(text: str) -> tuple[int, int]:
    """All three serialized forms of ``intervalFromString``
    (``ReVerbExtraction.scala:180-196``): ``[a, b)`` open, ``[a, b]``
    closed end-inclusive, ``{n}`` singleton."""
    text = text.strip()
    if re.search(r"\d{10}", text):
        raise ValueError(f"oversized number in interval: {text!r}")
    nums = _NUM_RE.findall(text)
    if len(nums) == 2:
        start, end = int(nums[0]), int(nums[1])
        out = (start, end) if text.endswith(")") else (start, end + 1)
    elif len(nums) == 1:
        n = int(nums[0])
        out = (n, n + 1)
    else:
        raise ValueError(f"bad interval: {text!r}")
    if out[1] <= out[0]:  # Interval.open/closed throws on inversion
        raise ValueError(f"inverted interval: {text!r}")
    return out


def available() -> bool:
    return os.path.exists(GOLD_EXTRACTIONS)


def iter_gold_extractions(path: str = GOLD_EXTRACTIONS) -> Iterator[GoldExtraction]:
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            line = line.rstrip("\r\n")
            if not line:
                continue
            cols = line.split("\t")
            if len(cols) != 7:
                continue
            a1, rel, a2, toks, pos, chunks, url = cols
            yield GoldExtraction(
                parse_interval(a1),
                parse_interval(rel),
                parse_interval(a2),
                toks.split(" "),
                pos.split(" "),
                chunks.split(" "),
                None if url == "None" else url,
            )
