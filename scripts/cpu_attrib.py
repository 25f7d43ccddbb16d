"""Diagnostic: run ONE named query from __spark_entry__ and attribute
CPU between the JVM and the Python workers, with stage-level wall times
from the event log. Guide §1: measure first, isolate with noop sink.

Each run also prints how many classes Spark generated and compiled for
it, and the milliseconds the compiles took, from Spark's codegen
metrics: a run that hits the codegen cache compiles none.

Usage: python scripts/cpu_attrib.py <query_name> [sf_dir]   (any cwd)
"""

from __future__ import annotations

import glob
import gzip
import json
import os
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def bootstrap() -> None:
    """Put the repo root on this process's and the Python workers' path."""
    sys.path[:0] = [ROOT]
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")


def codegen_totals(spark) -> tuple[int, float]:
    """(classes compiled, compile milliseconds) since the JVM started."""
    jvm = spark.sparkContext._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME().getCount()
    ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen \
        .CodeGenerator.compileTime()
    return compiles, ns / 1e6


def pid_cmd_cpu() -> dict[int, tuple[str, float]]:
    clk = os.sysconf("SC_CLK_TCK")
    out = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                raw = fh.read()
            name = raw.split("(", 1)[1].rsplit(")", 1)[0]
            parts = raw.rsplit(")", 1)[1].split()
            cpu = (int(parts[11]) + int(parts[12])) / clk
            out[int(pid)] = (name, cpu)
        except (OSError, IndexError, ValueError):
            continue
    return out


def main() -> None:
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    evdir = "/tmp/spark-events"
    os.makedirs(evdir, exist_ok=True)
    import shutil
    for f in glob.glob(evdir + "/*"):
        shutil.rmtree(f) if os.path.isdir(f) else os.remove(f)

    bootstrap()
    import __spark_entry__ as entrymod
    from openie_backend_spark.session import get_spark

    spark = get_spark(
        app_name=f"attrib-{name}", parallelism=cpus,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = {**entrymod.queries(), **entrymod.extra_queries()}

    repeats = int(os.environ.get("ATTRIB_REPEATS", "2"))
    for r in range(repeats):
        base0 = pid_cmd_cpu()
        cg0 = codegen_totals(spark)
        t0 = time.time()
        spark.sparkContext.setJobDescription(f"query:{name}:run{r}")
        df = qs[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        wall = time.time() - t0
        base1 = pid_cmd_cpu()
        cg1 = codegen_totals(spark)

        agg: dict[str, float] = {}
        for pid, (pname, cpu) in base1.items():
            prev = base0.get(pid, (pname, 0.0))[1]
            d = cpu - prev
            if d > 0.01:
                key = "java" if pname == "java" else (
                    "python" if pname.startswith("python") else pname)
                agg[key] = agg.get(key, 0.0) + d
        npy = sum(1 for pid, (pname, cpu) in base1.items()
                  if pname.startswith("python")
                  and cpu - base0.get(pid, (pname, 0.0))[1] > 0.01)
        print(json.dumps({"query": name, "run": r, "wall_s": round(wall, 2),
                          "n_python_procs": npy,
                          "cpu_by_proc": {k: round(v, 1)
                                          for k, v in agg.items()},
                          "codegen_compiles": cg1[0] - cg0[0],
                          "codegen_compile_ms": round(cg1[1] - cg0[1], 1)}))

    spark.stop()
    time.sleep(1)
    # stage-level breakdown from the event log
    stages = {}
    pyspark_metrics = {}
    paths = []
    for p in glob.glob(evdir + "/*"):
        paths.extend(sorted(glob.glob(p + "/*")) if os.path.isdir(p) else [p])
    for path in paths:
        if os.path.basename(path).startswith("appstatus"):
            continue
        op = gzip.open if path.endswith(".gz") else open
        with op(path, "rt") as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                if ev.get("Event") == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    stages[si["Stage ID"]] = {
                        "name": si["Stage Name"].split("\n")[0][:80],
                        "tasks": si["Number of Tasks"],
                        "wall_s": round((si.get("Completion Time", 0)
                                         - si.get("Submission Time", 0)) / 1e3, 2),
                    }
                elif ev.get("Event") == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    tm = ev.get("Task Metrics") or {}
                    acc = pyspark_metrics.setdefault(sid, {
                        "run_ms": 0, "cpu_ms": 0, "deser_ms": 0,
                        "shuffle_fetch_ms": 0, "shuffle_write_ms": 0,
                        "gc_ms": 0})
                    acc["run_ms"] += tm.get("Executor Run Time", 0)
                    acc["cpu_ms"] += tm.get("Executor CPU Time", 0) // 1000000
                    acc["deser_ms"] += tm.get("Executor Deserialize Time", 0)
                    acc["gc_ms"] += tm.get("JVM GC Time", 0)
                    sm = tm.get("Shuffle Read Metrics") or {}
                    acc["shuffle_fetch_ms"] += sm.get("Fetch Wait Time", 0)
                    wm = tm.get("Shuffle Write Metrics") or {}
                    acc["shuffle_write_ms"] += wm.get("Shuffle Write Time", 0) // 1000000
    for sid in sorted(stages):
        s = stages[sid]
        m = pyspark_metrics.get(sid, {})
        print(f"stage {sid:3d} wall={s['wall_s']:7.2f}s tasks={s['tasks']:3d} "
              f"taskrun={m.get('run_ms', 0)/1e3:7.1f}s "
              f"taskcpu={m.get('cpu_ms', 0)/1e3:7.1f}s "
              f"gc={m.get('gc_ms', 0)/1e3:5.1f}s "
              f"fetchwait={m.get('shuffle_fetch_ms', 0)/1e3:5.1f}s  {s['name']}")


if __name__ == "__main__":
    main()
