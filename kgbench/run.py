"""Seeded KG benchmark.

    python3 kgbench/run.py --workload kg_build --seed 1 --seconds 20 --trace 0

Generates the workload's inputs from the seed, creates the Spark session,
runs the untimed warm passes, times operations for ``--seconds``, checks the
outputs, and prints the workload's metrics; the last stdout line is one JSON
object. ``--trace 1`` adds spans around every call into a layer and prints
the per-layer metrics instead; the spans go to ``.kgbench_out/``.

Runs from any cwd: the repository root (this file's parent directory) is
put on this process's and the Python workers' path before Spark starts, and
every file the run writes stays under that root.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = 4
HEAP = "2g"


def bootstrap(work: str) -> None:
    """Put the repo on this process's and the workers' path; keep every Spark,
    JVM and Python temp file inside ``work``."""
    for need in ("openie_backend_spark", "bench.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            sys.exit(f"kgbench: {need} not found next to kgbench/ in {ROOT}")
    sys.path[:0] = [ROOT]
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # a fixed-size heap: peak memory and GC work then do not depend on
    # when the JVM decides to grow its heap. Compiler threads that never
    # exit keep the JIT's CPU readable per thread (see jit_cpu_seconds).
    os.environ["SPARK_DRIVER_MEM"] = HEAP
    os.environ["SPARK_GRAFT_JVM_OPTS"] = (
        os.environ.get("SPARK_GRAFT_JVM_OPTS", "")
        + f" -Xms{HEAP} -XX:-UseDynamicNumberOfCompilerThreads"
        + f" -Djava.io.tmpdir={tmp}"
    ).strip()


def start_session(app: str, work: str):
    from openie_backend_spark.session import get_spark

    spark = get_spark(
        app_name=app, parallelism=min(CPUS, os.cpu_count() or CPUS),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the gateway JVM (and with it the Python worker
    daemon) and wait for every child process to exit."""
    from kgbench.trace import descendants

    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while descendants() and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants():
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    while descendants() and time.time() < deadline + 10:
        time.sleep(0.2)


def timed_phase(w, seconds: float, tracer=None):
    """Run operations back to back for ``seconds``: the next one starts
    only if, taking as long as the last, it ends inside the window (at
    least one runs). With a tracer, even operations are traced and odd
    ones not (at least one of each), so the two sets measure the tracing
    overhead side by side. Returns (wall ms of untraced ops, wall ms of
    traced ops, CPU-s per op, JIT CPU-s per op, peak tree PSS bytes,
    failed ops).

    An operation's CPU is the cgroup CPU it used minus that of the
    memory sampler. The JIT compiler's share of it is also listed on its
    own: every dedup pass has Spark generate some 130 new classes, whose
    compilation took 3 to 9 CPU-s a pass. It stays in the operation's
    CPU because the two parts trade off: code the JIT compiles late runs
    longer uncompiled. Over ten runs on a shared 4-core host, the spread
    of the sum was 0.06 of its median, against 0.08-0.12 for the CPU
    without the JIT."""
    from bench import cgroup_cpu_seconds, tree_cpu_seconds
    from kgbench.trace import Sampler, jit_cpu_seconds

    def cpu_now() -> float:
        cpu = cgroup_cpu_seconds()
        return cpu if cpu is not None else tree_cpu_seconds()

    lat: list[float] = []
    traced_lat: list[float] = []
    op_cpu: list[float] = []
    jit_cpu: list[float] = []
    min_ops = 1 if tracer is None else 2
    failed = 0
    deadline = time.perf_counter() + seconds
    last_s = 0.0
    with Sampler(tracer=tracer) as sampler:
        i = 0
        while (time.perf_counter() + last_s <= deadline
               or len(lat) + len(traced_lat) < min_ops):
            traced = tracer is not None and i % 2 == 0
            if tracer is not None:
                tracer.pause(not traced)
            t0 = time.perf_counter()
            j0 = jit_cpu_seconds()
            c0, s0 = cpu_now(), sampler.cpu_s
            try:
                w.op(i)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                failed += 1
            op_cpu.append(cpu_now() - c0 - (sampler.cpu_s - s0))
            jit_cpu.append(jit_cpu_seconds() - j0)
            last_s = time.perf_counter() - t0
            (traced_lat if traced else lat).append(last_s * 1e3)
            i += 1
        if tracer is not None:
            tracer.pause(False)
    return lat, traced_lat, op_cpu, jit_cpu, sampler.peak_mem, failed


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".kgbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        bootstrap(work)
        from kgbench import metrics
        from kgbench.trace import (
            NullTracer, Sampler, Tracer, percentile, tail_percentile,
        )
        from kgbench.workloads import WORKLOADS, nlp_layer

        if args.workload not in WORKLOADS:
            sys.exit(f"kgbench: unknown workload {args.workload!r}; "
                     f"choose from {sorted(WORKLOADS)}")
        t = time.perf_counter()
        spark = start_session(f"kgbench-{args.workload}", work)
        session_s = time.perf_counter() - t
        w = WORKLOADS[args.workload](spark, args.seed, work, NullTracer())
        w.setup()
        setup_s = time.perf_counter() - T0

        tracer = Tracer(spark.sparkContext, args.workload) if args.trace else None
        if tracer:
            w.tr = tracer
        lat, traced_lat, cpus, jit_cpu, mem, failed = timed_phase(
            w, args.seconds, tracer)
        n_ops = len(lat) + len(traced_lat)
        op_cpu = percentile(cpus, 50)
        if tracer:
            with Sampler(tracer=tracer):
                w.probes()
        # the output checks count as one more operation
        fails = w.checks()
        for f in fails:
            print(f"CHECK FAILED: {f}", file=sys.stderr)
        attempted = n_ops + 1
        failed += bool(fails)
        props = w.properties()

        print(f"workload {args.workload} seed {args.seed} inputs "
              + json.dumps(props, sort_keys=True))
        print(f"setup_s {setup_s:.4f} s (session {session_s:.4f} s)")
        for line in w.report(lat or traced_lat, op_cpu):
            print(line)
        print("op_cpu_s per op", [round(x, 3) for x in cpus],
              "jit_cpu_s per op", [round(x, 3) for x in jit_cpu])
        print(f"failed_ratio {failed / attempted:.4f} ({failed}/{attempted})")
        print("op_ms untraced", [round(x) for x in lat],
              "traced", [round(x) for x in traced_lat])
        tail = tail_percentile(lat)
        print(f"op_ms p50 {percentile(lat or traced_lat, 50):.1f} "
              f"n={len(lat or traced_lat)}; "
              + (f"p{tail[0]:.1f} {tail[1]:.1f}" if tail else
                 "no tail percentile: fewer than 11 untraced ops"))
        if args.trace:
            sents = w.nlp_sentences()
            nlp = nlp_layer(sents, args.seed, tracer) if sents else {}
            values = metrics.per_layer(w, tracer, traced_lat, lat, session_s, nlp,
                                       percentile(jit_cpu, 50))
            out_dir = os.path.join(ROOT, ".kgbench_out")
            os.makedirs(out_dir, exist_ok=True)
            path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-spans.json")
            with open(path, "w") as fh:
                json.dump({"workload": args.workload, "seed": args.seed,
                           "inputs": props, "spans": tracer.to_json(),
                           "per_layer": values}, fh, indent=1)
            print(f"spans written to {os.path.relpath(path, ROOT)}; "
                  f"trace overhead {values['trace.overhead_ms']:.1f} ms per op")
            spec = metrics.PER_LAYER
        else:
            values = {
                "setup_s": setup_s,
                "op_cpu_s": op_cpu,
                "pss_peak_mb": mem / 2**20,
            }
            spec = metrics.END_TO_END
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": spec[k][0]} for k, v in values.items()},
        }
        stop_session(spark)
        spark = None
        print(json.dumps(result))
        return 0 if failed == 0 else 1
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
