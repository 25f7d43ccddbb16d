"""The benchmark's workloads. Each drives the engine only through its
public functions, on inputs generated from the seed.

A workload has an untimed ``setup`` (inputs plus warm passes), a timed
operation ``op`` (a build pass or a dedup pass), and untimed output
``checks`` that run on every run. The serving and ingest layers are
reached by the traced run's probes on the kg_build output.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import time

import pandas as pd
import pyarrow.parquet as pq

from pyspark.sql import functions as F

from openie_backend_spark import synth
from openie_backend_spark.nlp import chunker, confidence, reverb, stemmer
from openie_backend_spark.operators import dedup
from openie_backend_spark.operators.extract import extract_pages
from openie_backend_spark.operators.group import GROUP_KEY, group_extractions
from openie_backend_spark.operators.materialize import lookup_object, lookup_subject
from openie_backend_spark.operators.query import (
    QuerySpec, fetch_groups, normalize_query_text,
)
from openie_backend_spark.plans.pipeline import Pipeline
from openie_backend_spark.streaming.ingest import N_BUCKETS, run_incremental

from kgbench import gen
from kgbench.metrics import SHAPES
from kgbench.trace import percentile

# Pipeline stage name -> the operator module (layer) that computes it
STAGE_LAYER = {
    "extractions": "extract",
    "extractions_filtered": "filters",
    "groups": "group",
    "groups_filtered": "filters",
    "groups_linked": "link",
    "groups_typed": "typer",
    "spo": "materialize",
    "ops": "materialize",
    "edges": "materialize",
    "nodes": "materialize",
}
MATERIALIZED = ("spo", "ops", "edges", "nodes")
NLP_SAMPLE = 300
# serving probe: requests in the traced run, and every answer is checked
PROBE_REQUESTS = 24
CHECK_URLS = 40
RECALL_FLOOR = 0.9


class Workload:
    name = ""
    # untimed passes before timing. A dedup pass's CPU, most of the
    # excess in the JIT compiler, falls until about the sixth pass: the
    # first costs 3.4 times the later ones, the third to fifth 1.25 to
    # 1.5 times. A host slow enough to fit fewer passes in the window would
    # otherwise also time costlier ones. A second build pass would cost
    # as much as the timed window.
    warm = 1

    def __init__(self, spark, seed: int, work: str, tracer):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tr = tracer
        # layer-specific per-layer metrics, filled by checks()
        self.extra: dict[str, float] = {}
        # layer -> operations its span totals are divided by, where that
        # is not the number of timed operations
        self.layer_ops: dict[str, int] = {}

    def setup(self) -> None:
        raise NotImplementedError

    def op(self, i: int) -> None:
        raise NotImplementedError

    def checks(self) -> list[str]:
        """Failure messages; empty when every output check passes."""
        raise NotImplementedError

    def probes(self) -> None:
        """Traced run only: extra traced calls into layers the timed
        operation does not reach."""

    def properties(self) -> dict:
        raise NotImplementedError

    def nlp_sentences(self) -> list[str]:
        return []

    def report(self, wall_ms: list[float], cpu_per_op: float) -> list[str]:
        raise NotImplementedError

    def _dir(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def nlp_layer(sentences: list[str], seed: int, tracer) -> dict[str, float]:
    """Mean microseconds per sentence of each NLP step, on one thread,
    over a seeded sample of the workload's own sentences, plus the
    sample's wall, CPU and extraction count."""
    rng = random.Random(f"nlp:{seed}")
    sample = rng.sample(sentences, min(NLP_SAMPLE, len(sentences)))
    t = dict.fromkeys(("tokenize", "pos_tag", "chunk", "reverb", "stem",
                       "confidence"), 0.0)
    clock = time.perf_counter
    cpu0 = time.thread_time()
    with tracer.span("nlp") as span:
        for s in sample:
            c0 = clock()
            toks = chunker.tokenize(s)
            c1 = clock()
            tags = chunker.pos_tag(toks)
            c2 = clock()
            chks = chunker.chunk(toks, tags)
            c3 = clock()
            exts = reverb.extract(toks, tags, chks)
            c4 = clock()
            for e in exts:
                for a, b in (e.arg1, e.rel, e.arg2):
                    stemmer.index_key_part(toks[a:b], tags[a:b])
                    stemmer.frontend_key_part(toks[a:b], tags[a:b])
                for a, b in (e.arg1, e.arg2):
                    stemmer.head_phrase(toks[a:b], tags[a:b])
            c5 = clock()
            for e in exts:
                confidence.reverb_confidence(toks, tags, chks, e.arg1, e.rel, e.arg2)
            c6 = clock()
            t["tokenize"] += c1 - c0
            t["pos_tag"] += c2 - c1
            t["chunk"] += c3 - c2
            t["reverb"] += c4 - c3
            t["stem"] += c5 - c4
            t["confidence"] += c6 - c5
            span.rows_out += len(exts)
    out = {f"nlp.{k}_us": v / max(len(sample), 1) * 1e6 for k, v in t.items()}
    out["nlp.wall_s"] = span.end - span.start
    out["nlp.py_cpu_s"] = time.thread_time() - cpu0
    out["nlp.rows_out"] = span.rows_out
    return out


# ---------------------------------------------------------------- kg_build


class KgBuild(Workload):
    """One ``Pipeline.run(pages, dims, run_typer=True)`` per operation,
    each into a fresh work dir."""

    name = "kg_build"

    def setup(self) -> None:
        self.pages_pdf = gen.build_pages(self.seed)
        gen.write_pages(self.pages_pdf, self._dir("in", "pages"), gen.BUILD_FILES)
        os.makedirs(self._dir("in", "dims"), exist_ok=True)
        names = gen.write_dims(self.seed, self._dir("in", "dims"))
        read = self.spark.read.parquet
        self.pages = read(self._dir("in", "pages"))
        self.dims = {n: read(self._dir("in", "dims", f"{n}.parquet")) for n in names}
        self.last = None
        self.probed = None
        for i in range(self.warm):
            self.build(f"warm{i}")

    def build(self, tag) -> Pipeline:
        wd = self._dir(f"build-{tag}")
        shutil.rmtree(wd, ignore_errors=True)
        p = Pipeline(self.spark, wd)
        stage = p.stage

        def traced_stage(name, fn, **kw):
            with self.tr.span(STAGE_LAYER[name], name) as s:
                df = stage(name, fn, **kw)
                s.rows_out = p.results[-1].rows
            return df

        p.stage = traced_stage
        with self.tr.span("pipeline", "Pipeline.run"):
            p.run(self.pages, self.dims, run_typer=True)
        if self.last is not None:
            shutil.rmtree(self.last.work_dir, ignore_errors=True)
        self.last = p
        return p

    def op(self, i: int) -> None:
        self.build(i)

    def _rows(self, stage: str) -> int:
        return self.last.manifest[stage]["rows"]

    def checks(self) -> list[str]:
        fails = []
        p = self.last
        rng = random.Random(f"check:{self.seed}")
        en = self.pages_pdf[self.pages_pdf["lang"] == "en"]
        urls = sorted(rng.sample(list(en["url"]), min(CHECK_URLS, len(en))))
        expect = synth.expected_triples(en[en["url"].isin(urls)])
        cols = ["url", "arg1_norm", "rel_norm", "arg2_norm"]
        got = (
            self.spark.read.parquet(os.path.join(p.work_dir, "extractions"))
            .filter(F.col("url").isin(urls)).select(*cols).toPandas()
        )
        if sorted(map(tuple, got[cols].values)) != sorted(map(tuple, expect[cols].values)):
            fails.append(f"extractions differ from expected_triples on {len(urls)} urls")
        if self._rows("groups_typed") != self._rows("groups_filtered"):
            fails.append("typed group count != filtered group count")
        if self.probed is None:
            return fails
        # traced run: layer ratios, read off the last build's tables
        linked = self.spark.read.parquet(os.path.join(p.work_dir, "groups_linked"))
        typed = self.spark.read.parquet(os.path.join(p.work_dir, "groups_typed"))
        n = max(self._rows("groups_linked"), 1)
        self.extra.update({
            "filters.keep_ratio":
                self._rows("extractions_filtered") / max(self._rows("extractions"), 1),
            "group.max_file_rows": p.manifest["groups"]["max_file_rows"],
            "link.linked_ratio": linked.filter(
                F.col("arg1_entity").isNotNull() | F.col("arg2_entity").isNotNull()
            ).count() / n,
            "typer.typed_ratio": typed.filter(
                (F.size("arg1_types") > 0) | (F.size("arg2_types") > 0)
            ).count() / n,
            "materialize.files_written":
                sum(p.manifest[s]["partitions"] for s in MATERIALIZED),
        })
        serve, ingest = self.probed
        fails += serve.checks() + ingest.checks()
        self.extra.update({**serve.metrics(), **ingest.metrics()})
        self.layer_ops.update({**serve.calls, "ingest": IngestProbe.BATCHES})
        return fails

    def probes(self) -> None:
        """The serving layers on this build's output and the ingest layer
        on seeded landing batches."""
        serve = ServeProbe(self.spark, self.seed, self.last.work_dir, self.tr)
        serve.run()
        ingest = IngestProbe(self.spark, self.seed, self._dir("probe-ingest"), self.tr)
        ingest.run()
        self.probed = (serve, ingest)

    def properties(self) -> dict:
        return {**gen.page_properties(self.pages_pdf), "files": gen.BUILD_FILES}

    def nlp_sentences(self) -> list[str]:
        return gen.sentences(self.pages_pdf)

    def report(self, wall_ms, cpu_per_op):
        return [f"build_s {percentile(wall_ms, 50) / 1e3:.4f} s (n={len(wall_ms)})",
                f"build_cpu_s {cpu_per_op:.4f} cpu-s (n={len(wall_ms)})"]


# ------------------------------------------- serving and ingest probes


def _scan_metrics(df) -> tuple[int, int]:
    """(files, partitions) read by the executed plan's scans."""
    files = parts = 0
    leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
    for i in range(leaves.size()):
        it = leaves.apply(i).metrics().iterator()
        while it.hasNext():
            kv = it.next()
            if kv._1() == "numFiles":
                files += int(kv._2().value())
            elif kv._1() == "numPartitions":
                parts += int(kv._2().value())
    return files, parts


class ServeProbe:
    """The serving request mix on one build's tables, read from its
    files: ``fetch_groups`` over the six field-mask shapes plus
    ``lookup_subject`` / ``lookup_object`` point reads, keys drawn in
    proportion to group size so the head entity is hot."""

    def __init__(self, spark, seed: int, wd: str, tracer):
        self.spark = spark
        self.seed = seed
        self.tr = tracer
        read = spark.read.parquet
        self.groups = read(os.path.join(wd, "groups_typed"))
        self.spo_dir = os.path.join(wd, "spo")
        self.ops_dir = os.path.join(wd, "ops")
        self.table = self.groups.select(
            *GROUP_KEY, "size",
            F.col("arg1_entity.fbid").alias("a1_fbid"), "arg2_types",
            F.col("instances")[0]["arg1_text"].alias("t1"),
            F.col("instances")[0]["rel_text"].alias("t2"),
            F.col("instances")[0]["arg2_text"].alias("t3"),
        ).toPandas()
        subj = read(self.spo_dir).groupBy("subject_id").agg(
            F.sum("group_size").alias("w")).toPandas()
        obj = read(self.ops_dir).groupBy("object_id").agg(
            F.sum("group_size").alias("w")).toPandas()
        self.requests = self._requests(subj, obj)
        self.answers: dict[int, list] = {}
        self.point_fail: list[str] = []
        self.files_read: list[int] = []
        self.parts_read: list[int] = []
        self.calls = {"query": 0, "lookup": 0}

    def _requests(self, subj, obj) -> list[tuple]:
        rng = random.Random(f"serve:{self.seed}")
        n = PROBE_REQUESTS
        rows = rng.choices(self.table.to_dict("records"),
                           list(self.table["size"]), k=n)
        subjects = rng.choices(list(subj["subject_id"]), list(subj["w"]), k=n)
        objects = rng.choices(list(obj["object_id"]), list(obj["w"]), k=n)
        out = []
        for i in range(n):
            kind = i % 4
            if kind == 2:
                out.append(("subject", subjects[i]))
                continue
            if kind == 3:
                out.append(("object", objects[i]))
                continue
            shape = SHAPES[(i // 4 * 2 + kind) % len(SHAPES)]
            r = rows[i]
            fields = shape.split("_")
            spec = QuerySpec(
                arg1=r["t1"] if "arg1" in fields else None,
                rel=r["t2"] if "rel" in fields else None,
                arg2=r["t3"] if "arg2" in fields else None,
                arg1_entity_id=(r["a1_fbid"] if "arg1" in fields and r["a1_fbid"]
                                and rng.random() < 0.3 else None),
                arg2_types=([r["arg2_types"][0]] if len(r["arg2_types"])
                            and rng.random() < 0.3 else []),
            )
            out.append(("fetch", shape, spec))
        return out

    def run(self) -> None:
        for i, req in enumerate(self.requests):
            if req[0] == "fetch":
                self.calls["query"] += 1
                _, shape, spec = req
                with self.tr.span("query", "predicate"):
                    spec.predicate()
                with self.tr.span("query", f"topk:{shape}") as s:
                    rows = fetch_groups(self.groups, spec).collect()
                    s.rows_out = len(rows)
                self.answers[i] = [(r["arg1_norm"], r["rel_norm"], r["arg2_norm"],
                                    r["size"]) for r in rows]
                continue
            self.calls["lookup"] += 1
            kind, key_id = req
            fn, table = ((lookup_subject, self.spo_dir) if kind == "subject"
                         else (lookup_object, self.ops_dir))
            with self.tr.span("lookup", f"lookup_{kind}") as s:
                df = fn(self.spark, table, key_id)
                s.rows_out = len(df.collect())
            files, parts = _scan_metrics(df)
            self.files_read.append(files)
            self.parts_read.append(parts)
            if not s.rows_out or parts != 1:
                self.point_fail.append(
                    f"{kind} lookup {key_id}: {s.rows_out} rows, {parts} partitions")

    def _expected(self, spec: QuerySpec) -> list[tuple]:
        t = self.table
        keep = pd.Series(True, index=t.index)
        for col, raw in (("arg1_norm", spec.arg1), ("rel_norm", spec.rel),
                         ("arg2_norm", spec.arg2)):
            if raw:
                keep &= t[col] == normalize_query_text(raw)
        if spec.arg1_entity_id:
            keep &= t["a1_fbid"] == spec.arg1_entity_id
        for ty in spec.arg2_types:
            keep &= t["arg2_types"].map(lambda ts: ty in list(ts))
        hit = t[keep].sort_values(["size", *GROUP_KEY],
                                  ascending=[False, True, True, True])
        return [(a, b, c, int(s)) for a, b, c, s in
                hit[[*GROUP_KEY, "size"]].head(spec.max_groups).values]

    def checks(self) -> list[str]:
        """Every answer equals the same predicate evaluated in pandas over
        the collected table; every point read returns rows from exactly
        one bucket partition."""
        fails = list(self.point_fail[:5])
        for i, got in sorted(self.answers.items()):
            if got != self._expected(self.requests[i][2]):
                fails.append(f"request {i}: answer differs from pandas evaluation")
        return fails

    def metrics(self) -> dict[str, float]:
        return {
            "lookup.files_read": sum(self.files_read) / len(self.files_read),
            "lookup.partitions_read": sum(self.parts_read) / len(self.parts_read),
        }


def _listing(d: str) -> dict[str, tuple[int, int]]:
    out = {}
    for root, _dirs, files in os.walk(d):
        for f in files:
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(root, f))
                out[os.path.join(root, f)] = (st.st_size, st.st_mtime_ns)
    return out


class IngestProbe:
    """Two seeded landing batches whose sentences are all distinct, each
    ingested with one ``run_incremental`` (AvailableNow) call; the second
    merges into the groups table the first created."""

    BATCHES = 2

    def __init__(self, spark, seed: int, work: str, tracer):
        self.spark = spark
        self.seed = seed
        self.tr = tracer
        self.landing = os.path.join(work, "landing")
        self.groups_dir = os.path.join(work, "groups")
        self.ckpt = os.path.join(work, "checkpoint")
        os.makedirs(self.landing, exist_ok=True)

    def run(self) -> None:
        for b in range(self.BATCHES):
            gen.ingest_batch(self.seed, b).to_parquet(
                os.path.join(self.landing, f"batch-{b:04d}.parquet"), index=False)
            if b == 0:
                schema = self.spark.read.parquet(self.landing).schema
            before = _listing(self.groups_dir)
            with self.tr.span("ingest", "run_incremental") as span:
                run_incremental(self.spark, self.landing, self.groups_dir,
                                self.ckpt, schema)
            after = _listing(self.groups_dir)
            changed = {p: v for p, v in after.items() if before.get(p) != v}
            span.rows_out = sum(pq.ParquetFile(f).metadata.num_rows for f in changed)
        # the merge batch: share of buckets and bytes it rewrote
        self.touched = len({os.path.dirname(p) for p in changed}) / N_BUCKETS
        self.rewritten = sum(size for size, _ in changed.values())

    def checks(self) -> list[str]:
        """The groups table equals one-shot grouping over every landed
        page, sizes and instance counts per key included, so a lost or
        doubled merge fails."""
        pages = self.spark.read.parquet(self.landing)
        oneshot = group_extractions(extract_pages(pages), corpus="stream")
        cols = [*GROUP_KEY, "size", F.size("instances").alias("n")]
        want = sorted(map(tuple, oneshot.select(*cols).toPandas().values))
        self.got = sorted(map(tuple, self.spark.read.parquet(self.groups_dir)
                              .select(*cols).toPandas().values))
        if self.got != want:
            return [f"groups table ({len(self.got)} keys) != one-shot grouping "
                    f"({len(want)} keys) over all landed pages"]
        return []

    def metrics(self) -> dict[str, float]:
        return {
            "ingest.buckets_touched_ratio": self.touched,
            "ingest.bytes_rewritten": self.rewritten,
            "ingest.groups_after": len(self.got),
        }


# ------------------------------------------------------------ corpus_dedup


class CorpusDedup(Workload):
    """minhash_lsh_pairs -> ngram_jaccard_pairs(threshold=0.8) ->
    dup_clusters_twostar over documents with planted near-duplicates."""

    name = "corpus_dedup"
    warm = 5

    def setup(self) -> None:
        self.docs_pdf, self.planted = gen.documents(self.seed)
        d = self._dir("in", "documents")
        os.makedirs(d, exist_ok=True)
        for i in range(4):
            self.docs_pdf.iloc[i::4].to_parquet(
                os.path.join(d, f"part-{i:02d}.parquet"), index=False)
        self.docs = self.spark.read.parquet(d)
        self.digests: list[str] = []
        for i in range(self.warm):
            self.op(i)

    def _pipeline(self):
        with self.tr.span("dedup", "minhash_lsh_pairs"):
            cand = dedup.minhash_lsh_pairs(self.docs)
        with self.tr.span("dedup", "ngram_jaccard_pairs"):
            verified = dedup.ngram_jaccard_pairs(
                self.docs, threshold=0.8, candidates=cand)
        with self.tr.span("dedup", "dup_clusters_twostar"):
            clusters = dedup.dup_clusters_twostar(verified)
        return cand, verified, clusters

    def op(self, i) -> None:
        _, _, clusters = self._pipeline()
        with self.tr.span("dedup", "collect") as s:
            rows = clusters.collect()
            s.rows_out = len(rows)
        self.labels = {r["doc_id"]: r["cluster_id"] for r in rows}
        self.digests.append(hashlib.md5(
            repr(sorted(self.labels.items())).encode()).hexdigest())

    def checks(self) -> list[str]:
        fails = []
        if len(set(self.digests)) != 1:
            fails.append(f"cluster labels differ across passes: {set(self.digests)}")
        lab = self.labels
        hits = sum(1 for a, b in self.planted
                   if a in lab and lab.get(a) == lab.get(b))
        recall = hits / max(len(self.planted), 1)
        if recall < RECALL_FLOOR:
            fails.append(f"planted-pair recall {recall:.3f} < {RECALL_FLOOR}")
        if self.tr.traced:
            cand = dedup.minhash_lsh_pairs(self.docs)
            n_cand = cand.count()
            n_ver = dedup.ngram_jaccard_pairs(
                self.docs, threshold=0.8, candidates=cand).count()
            self.extra.update({
                "dedup.candidate_pairs": n_cand,
                "dedup.verified_ratio": n_ver / max(n_cand, 1),
                "dedup.planted_recall": recall,
            })
        return fails

    def properties(self) -> dict:
        return {"documents": len(self.docs_pdf),
                "planted_share": len(self.planted) / len(self.docs_pdf)}

    def report(self, wall_ms, cpu_per_op):
        return [f"dedup_s {percentile(wall_ms, 50) / 1e3:.4f} s (n={len(wall_ms)})",
                f"dedup_cpu_s {cpu_per_op:.4f} cpu-s (n={len(wall_ms)})"]


WORKLOADS = {w.name: w for w in (KgBuild, CorpusDedup)}
