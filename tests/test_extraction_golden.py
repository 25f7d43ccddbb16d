"""Extraction golden: the NLP gate that runs without the reference fixtures.

``mirror.extractions_pdf`` (the exact batch function ``extract_pages``
wraps) runs single-process over two fixed inputs: the sf0.001
``documents`` table and the 150-page synth corpus. Every
``(url, sent_id)`` that yields extractions gets one digest over all
``EXTRACTION_SCHEMA`` fields of its rows, in emitted order; the
golden file also keeps each sentence's ``arg1 | rel | arg2`` triples
so a mismatch can be reported as triples added and removed.

After an intended NLP change, report the triple delta the test prints,
then regenerate the golden from the repository root::

    python -m tests.test_extraction_golden --regen
"""

from __future__ import annotations

import gzip
import hashlib
import json
import os
import sys

import pytest

from openie_backend_spark import mirror, synth

GOLDEN = os.path.join(os.path.dirname(__file__), "data",
                      "extraction_golden.json.gz")
# the sf0.001 sibling of the mirror's default sf0.01 input
SF_DIR = os.path.join(os.path.dirname(mirror.ensure.__defaults__[0]), "sf0.001")


def _inputs():
    yield mirror._docs_as_pages(SF_DIR)
    yield synth.generate_pages(synth.DEFAULT_N_PAGES)


def _row_value(v):
    return v.tolist() if hasattr(v, "tolist") else v


def snapshot() -> dict[str, dict]:
    """``{"<url>\\t<sent_id>": {"digest": ..., "triples": [...]}}``."""
    from openie_backend_spark.operators.extract import EXTRACTION_SCHEMA

    cols = [f.name for f in EXTRACTION_SCHEMA.fields]
    out: dict[str, dict] = {}
    for pages in _inputs():
        ext = mirror.extractions_pdf(pages)
        assert list(ext.columns) == cols
        for row in ext.itertuples(index=False):
            key = f"{row.url}\t{int(row.sent_id)}"
            ent = out.setdefault(key, {"h": hashlib.sha256(), "triples": []})
            values = [_row_value(v) for v in row]
            ent["h"].update(json.dumps(values).encode() + b"\n")
            ent["triples"].append(
                f"{row.arg1_text} | {row.rel_text} | {row.arg2_text}")
    return {k: {"digest": v["h"].hexdigest()[:16], "triples": v["triples"]}
            for k, v in sorted(out.items())}


def diff(golden: dict, current: dict) -> tuple[list[str], list[str], list[str]]:
    """(added triples, removed triples, keys whose fields changed with
    the same triples), each entry prefixed by its ``url\\tsent_id``."""
    added, removed, changed = [], [], []
    for key in sorted(set(golden) | set(current)):
        g, c = golden.get(key), current.get(key)
        if g is not None and c is not None and g["digest"] == c["digest"]:
            continue
        g_tr = g["triples"] if g else []
        c_tr = c["triples"] if c else []
        added += [f"{key}\t{t}" for t in c_tr if t not in g_tr]
        removed += [f"{key}\t{t}" for t in g_tr if t not in c_tr]
        if g_tr == c_tr:
            changed.append(key)
    return added, removed, changed


def _load_golden() -> dict:
    with gzip.open(GOLDEN, "rt", encoding="utf-8") as fh:
        return json.load(fh)


def test_extractions_match_golden():
    if not os.path.exists(os.path.join(SF_DIR, "documents.parquet")):
        pytest.fail(f"extraction golden input missing: {SF_DIR}")
    golden = _load_golden()
    current = snapshot()
    added, removed, changed = diff(golden, current)
    if added or removed or changed:
        lines = [f"{len(added)} triples added, {len(removed)} removed, "
                 f"{len(changed)} sentences with changed fields only"]
        lines += ["+ " + t for t in added[:20]]
        lines += ["- " + t for t in removed[:20]]
        lines += ["~ " + k for k in changed[:20]]
        pytest.fail("\n".join(lines))


if __name__ == "__main__":
    if "--regen" not in sys.argv:
        sys.exit("usage: python -m tests.test_extraction_golden --regen")
    snap = snapshot()
    os.makedirs(os.path.dirname(GOLDEN), exist_ok=True)
    with gzip.GzipFile(GOLDEN, "wb", mtime=0) as fh:
        fh.write(json.dumps(snap, indent=0, sort_keys=True).encode())
    print(f"{len(snap)} sentences, "
          f"{sum(len(v['triples']) for v in snap.values())} rows -> {GOLDEN}")
