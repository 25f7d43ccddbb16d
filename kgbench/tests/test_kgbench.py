"""Tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest kgbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
import time

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from kgbench import gen, metrics  # noqa: E402
from kgbench.trace import (  # noqa: E402
    Sampler, Span, Tracer, jit_cpu_seconds, percentile, self_times,
    tail_percentile,
)


def test_build_pages_deterministic_per_seed():
    a, b = gen.build_pages(3, n_pages=200), gen.build_pages(3, n_pages=200)
    assert a.equals(b)
    assert not a["text"].equals(gen.build_pages(4, n_pages=200)["text"])


def test_ingest_batches_deterministic_and_fresh():
    a, b = gen.ingest_batch(3, 1, n_pages=50), gen.ingest_batch(3, 1, n_pages=50)
    assert a.equals(b)
    other = gen.ingest_batch(3, 2, n_pages=50)
    assert not set(a["url"]) & set(other["url"])


def test_documents_deterministic_with_planted_near_duplicates():
    docs, planted = gen.documents(5, n_docs=400)
    again, planted_again = gen.documents(5, n_docs=400)
    assert docs.equals(again) and planted == planted_again
    assert len(planted) == int(400 * gen.PLANTED_SHARE)
    text = dict(zip(docs["doc_id"], docs["text"]))

    def trigrams(t):
        w = t.split()
        return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}

    for a, b in planted:
        sa, sb = trigrams(text[a]), trigrams(text[b])
        assert text[a] != text[b]
        assert len(sa & sb) / len(sa | sb) >= 0.8


def test_documents_same_lengths_on_every_seed():
    def lengths(seed):
        docs, _ = gen.documents(seed, n_docs=400)
        return sorted(docs["text"].str.split().str.len()[:400])

    assert lengths(1) == lengths(2) == lengths(3)


def test_jit_and_sampler_cpu_without_a_jvm():
    assert jit_cpu_seconds() == 0.0
    with Sampler(interval=0.01) as s:
        deadline = time.time() + 0.2
        while time.time() < deadline:
            pass
    assert s.peak_mem > 0
    assert 0.0 <= s.cpu_s < 0.2


def test_distinct_ratio_build_shares_work_ingest_does_not():
    build = gen.page_properties(gen.build_pages(1))
    ingest = gen.page_properties(gen.ingest_batch(1, 0))
    assert build["distinct_sentence_ratio"] < 0.7
    assert ingest["distinct_sentence_ratio"] > 0.98
    # the hot head entity stays hot in both
    assert build["head_key_share"] > 0.15 and ingest["head_key_share"] > 0.15


def test_percentile_median_and_interpolation():
    assert percentile([3.0], 50) == 3.0
    assert percentile([1.0, 2.0, 3.0, 4.0], 50) == 2.5
    assert percentile(list(range(1, 101)), 50) == 50.5
    with pytest.raises(ValueError):
        percentile([], 50)


def test_tail_percentile_keeps_ten_samples_beyond():
    assert tail_percentile([1.0] * 10) is None
    assert tail_percentile([float(x) for x in range(11)]) == (0.0, 0.0)
    xs = [float(x) for x in range(100)]
    q, v = tail_percentile(xs)
    assert v == 89.0 and sum(x > v for x in xs) == 10
    assert q == pytest.approx(100 * 89 / 99)


def _span(i, parent, start, end, layer="l"):
    return Span(i, layer, layer, parent, 0, start, end)


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 4.0),
        _span(3, 1, 3.0, 6.0),   # overlaps span 2: union is [1, 6]
        _span(4, 1, 8.0, 12.0),  # runs past its parent: clipped to [8, 10]
        _span(5, 2, 1.5, 2.0),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 5.0 - 2.0)
    assert st[2] == pytest.approx(3.0 - 0.5)
    assert st[3] == pytest.approx(3.0)
    assert st[5] == pytest.approx(0.5)


def test_tracer_layers_and_cpu_attribution():
    tr = Tracer(None, "w")
    with tr.span("outer"):
        with tr.span("inner") as s:
            s.rows_out = 7
            tr.attribute({"jvm": 1.0, "py": 0.5, "main": 0.25})
        tr.attribute({"jvm": 2.0, "py": 0.0, "main": 0.0})
    tr.attribute({"jvm": 0.1, "py": 0.2, "main": 0.0})
    tr.pause(True)
    with tr.span("dropped"):
        tr.attribute({"jvm": 9.0, "py": 9.0, "main": 9.0})
    tr.pause(False)
    layers = tr.layers()
    assert set(layers) == {"outer", "inner"}
    assert layers["inner"]["rows_out"] == 7
    assert layers["inner"]["jvm_cpu_s"] == 1.0
    assert layers["inner"]["py_cpu_s"] == 0.75
    assert layers["outer"]["jvm_cpu_s"] == 2.0
    assert tr.unaccounted == {"jvm": 0.1, "py": 0.2, "main": 0.0}


def test_benchmark_json_mirrors_metric_definitions():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert bench["command"][:2] == ["python3", "kgbench/run.py"]
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["end_to_end"]} \
        == metrics.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]} \
        == metrics.PER_LAYER
    assert max(m["bound"] for m in bench["end_to_end"]) == next(
        m["bound"] for m in bench["end_to_end"] if m["name"] == "setup_s")
    from kgbench.workloads import WORKLOADS

    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)
