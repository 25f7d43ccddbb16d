"""Metric names, units and directions — the single source that
``BENCHMARK.json`` mirrors (a test keeps the two equal) — and the
assembly of the traced run's per-layer values."""

from __future__ import annotations

from kgbench.trace import percentile

# name -> (unit, better)
# The wall time of an operation is printed but not bounded: on a shared
# 4-core host one build's wall time spread 0.23 of its median across ten
# runs, against 0.11 for its CPU. op_cpu_s is the median over the run's
# operations of the CPU each used; jit.cpu_s is the JIT compiler's part.
END_TO_END = {
    "setup_s": ("s", "lower"),
    "op_cpu_s": ("cpu-s", "lower"),
    "pss_peak_mb": ("MB", "lower"),
}

_GENERIC = {
    "wall_s": ("s", "lower"),
    "jvm_cpu_s": ("cpu-s", "lower"),
    "py_cpu_s": ("cpu-s", "lower"),
    "rows_out": ("rows", "higher"),
    "jobs": ("count", "lower"),
    "tasks": ("count", "lower"),
}
# span layers (this repo's modules) -> the generic metrics they report.
# pipeline's self time is reported as pipeline.overhead_s; nlp runs in
# this process on one thread, so it has no JVM CPU, jobs or tasks.
LAYERS = {
    "nlp": ("wall_s", "py_cpu_s", "rows_out"),
    "extract": tuple(_GENERIC),
    "filters": tuple(_GENERIC),
    "group": tuple(_GENERIC),
    "link": tuple(_GENERIC),
    "typer": tuple(_GENERIC),
    "materialize": tuple(_GENERIC),
    "pipeline": ("jvm_cpu_s", "py_cpu_s", "jobs", "tasks"),
    "query": tuple(_GENERIC),
    "lookup": tuple(_GENERIC),
    "ingest": tuple(_GENERIC),
    "dedup": tuple(_GENERIC),
}
SHAPES = ("arg1", "rel", "arg2", "arg1_rel", "rel_arg2", "arg1_arg2")
_EXTRA = {
    "session.get_spark_s": ("s", "lower"),
    "jit.cpu_s": ("cpu-s", "lower"),
    **{f"nlp.{k}_us": ("us", "lower") for k in
       ("tokenize", "pos_tag", "chunk", "reverb", "stem", "confidence")},
    "extract.sentences_per_cpu_s": ("1/cpu-s", "higher"),
    "filters.keep_ratio": ("ratio", "higher"),
    "group.max_file_rows": ("rows", "lower"),
    "link.linked_ratio": ("ratio", "higher"),
    "typer.typed_ratio": ("ratio", "higher"),
    "materialize.files_written": ("count", "lower"),
    "lookup.point_ms": ("ms", "lower"),
    "lookup.files_read": ("count", "lower"),
    "lookup.partitions_read": ("count", "lower"),
    "pipeline.overhead_s": ("s", "lower"),
    "query.predicate_ms": ("ms", "lower"),
    **{f"query.topk_ms.{s}": ("ms", "lower") for s in SHAPES},
    "ingest.buckets_touched_ratio": ("ratio", "lower"),
    "ingest.bytes_rewritten": ("bytes", "lower"),
    "ingest.groups_after": ("count", "higher"),
    "dedup.candidate_pairs": ("count", "lower"),
    "dedup.verified_ratio": ("ratio", "higher"),
    "dedup.planted_recall": ("ratio", "higher"),
    "unaccounted.jvm_cpu_s": ("cpu-s", "lower"),
    "unaccounted.py_cpu_s": ("cpu-s", "lower"),
    "trace.overhead_ms": ("ms", "lower"),
}
PER_LAYER = {
    **{f"{layer}.{m}": _GENERIC[m] for layer, ms in LAYERS.items() for m in ms},
    **_EXTRA,
}


def _median_ms(tracer, pred) -> float:
    xs = [(s.end - s.start) * 1e3 for s in tracer.spans if s.end and pred(s)]
    return percentile(xs, 50) if xs else 0.0


def per_layer(w, tracer, traced_ms: list[float], untraced_ms: list[float],
              session_s: float, nlp: dict[str, float],
              jit_cpu_s: float) -> dict[str, float]:
    """Every PER_LAYER metric for one traced run. Span totals are per
    operation that reached the layer (a timed operation unless
    ``w.layer_ops`` says otherwise); a layer the workload does not call
    reports 0."""
    n = len(traced_ms)
    layers = tracer.layers()
    out = dict.fromkeys(PER_LAYER, 0.0)
    for layer, names in LAYERS.items():
        agg = layers.get(layer, {})
        ops = w.layer_ops.get(layer, n) or 1
        for m in names:
            out[f"{layer}.{m}"] = agg.get(m, 0.0) / ops
    out.update(nlp)
    out["session.get_spark_s"] = session_s
    out["jit.cpu_s"] = jit_cpu_s
    out["pipeline.overhead_s"] = layers.get("pipeline", {}).get("wall_s", 0.0) / n
    extract = layers.get("extract")
    sentences = w.properties().get("en_sentences")
    if extract and sentences:
        cpu = extract["jvm_cpu_s"] + extract["py_cpu_s"]
        out["extract.sentences_per_cpu_s"] = sentences * n / cpu if cpu else 0.0
    out["query.predicate_ms"] = _median_ms(tracer, lambda s: s.name == "predicate")
    for shape in SHAPES:
        out[f"query.topk_ms.{shape}"] = _median_ms(
            tracer, lambda s: s.name == f"topk:{shape}")
    out["lookup.point_ms"] = _median_ms(
        tracer, lambda s: s.name.startswith("lookup_"))
    out.update(w.extra)
    out["unaccounted.jvm_cpu_s"] = tracer.unaccounted["jvm"] / n
    out["unaccounted.py_cpu_s"] = (
        tracer.unaccounted["py"] + tracer.unaccounted["main"]) / n
    out["trace.overhead_ms"] = percentile(traced_ms, 50) - percentile(untraced_ms, 50)
    return out
