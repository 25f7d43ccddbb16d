"""Driver-contract smoke (entry/queries/oracle_sql shape) and the
Structured-Streaming incremental ingest end-to-end."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


def test_entry_contract(spark):
    import __spark_entry__ as m

    df = m.entry(spark)
    rows = df.limit(5).collect()
    assert df.columns == [
        "subject_id", "subject", "predicate", "object_id", "object", "group_size"
    ]
    assert len(rows) >= 0  # driver checks runs + stable schema
    qs = m.queries()
    extras = m.extra_queries()
    oracles = m.oracle_sql()
    assert set(oracles) <= set(qs) | set(extras), "oracle for unknown query"
    # the driver records exactly the first 50 queries() entries — the
    # registry is FROZEN at 50 so every entry gets a hard driver row
    assert len(qs) == 50, "driver window is FROZEN at 50 entries"
    assert not (set(qs) & set(extras))
    assert set(oracles) >= set(qs), "every driver-window query needs an oracle"


def test_streaming_incremental_ingest(spark, tmp_path):
    from openie_backend_spark.streaming.ingest import run_incremental

    landing = tmp_path / "landing"
    groups_dir = str(tmp_path / "groups")
    ckpt = str(tmp_path / "ckpt")
    landing.mkdir()

    schema = "url string, text string, lang string"
    batch1 = spark.createDataFrame(
        [
            ("u1", "Acme Corp acquired Globex Inc. .", "en"),
            # extra groups batch 2 does NOT touch — their bucket files
            # must survive the second merge byte-identical
            ("u0a", "Initech is located in Springfield .", "en"),
            ("u0b", "Marie Curie invented the widget .", "en"),
            ("u0c", "Hooli announced a partnership with Oscorp .", "en"),
            ("u0d", "Rosa Parks moved to Gotham .", "en"),
        ],
        schema,
    )
    batch1.write.parquet(str(landing / "b1"))
    run_incremental(spark, str(landing) + "/*", groups_dir, ckpt, batch1.schema)
    g1 = spark.read.parquet(groups_dir)
    assert g1.filter(F.col("rel_norm") == "acquire").first()["size"] == 1

    # second landing file: same triple again + a new one → merge grows
    batch2 = spark.createDataFrame(
        [
            ("u2", "Acme Corp acquired Globex Inc. .", "en"),
            ("u3", "Initech was founded by Grace Hopper .", "en"),
        ],
        schema,
    )
    # snapshot every bucket file before batch 2 so we can verify the
    # merge rewrote ONLY the buckets batch 2 touched (o(table) ingest)
    import hashlib

    def bucket_state():
        state = {}
        for root, _, files in os.walk(groups_dir):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    with open(p, "rb") as fh:
                        state[p] = hashlib.md5(fh.read()).hexdigest()
        return state

    before = bucket_state()
    batch2.write.parquet(str(landing / "b2"))
    run_incremental(spark, str(landing) + "/*", groups_dir, ckpt, batch2.schema)
    g2 = spark.read.parquet(groups_dir)
    acq = g2.filter(F.col("rel_norm") == "acquire").first()
    assert acq["size"] == 2 and acq["needs_relink"]
    assert g2.filter(F.col("rel_norm") == "be found by").count() == 1

    after = bucket_state()
    from openie_backend_spark.streaming.ingest import bucket_col

    touched = {
        r["b"]
        for r in g2.filter(
            F.col("rel_norm").isin("acquire", "be found by")
        ).select(bucket_col().alias("b")).collect()
    }
    untouched_before = {
        p: h for p, h in before.items()
        if not any(f"bucket={b}/" in p for b in touched)
    }
    assert untouched_before, "test needs at least one untouched bucket"
    for p, h in untouched_before.items():
        assert p in after and after[p] == h, f"untouched bucket rewritten: {p}"

    # idempotence: re-running with no new files changes nothing
    run_incremental(spark, str(landing) + "/*", groups_dir, ckpt, batch2.schema)
    g3 = spark.read.parquet(groups_dir)
    assert g3.filter(F.col("rel_norm") == "acquire").first()["size"] == 2

    # DuckDB oracle on the final state (VERDICT r2 #6): the
    # incrementally merged groups table must VALUE-match (key + size,
    # modulo needs_relink) a single-pass grouping of the full input,
    # re-derived outside Spark — single-process extraction mirror +
    # independent SQL grouping (instance-set dedup + F1 empty-key).
    import duckdb
    import pandas as pd

    from openie_backend_spark import mirror

    all_rows = batch1.collect() + batch2.collect()
    pages_pdf = pd.DataFrame(
        {"url": [r["url"] for r in all_rows],
         "text": [r["text"] for r in all_rows],
         "lang": [r["lang"] for r in all_rows]}
    )
    ext_pdf = mirror.extractions_pdf(pages_pdf)  # noqa: F841 (duckdb scans it)
    con = duckdb.connect()
    expected = con.sql("""
        SELECT arg1_norm, rel_norm, arg2_norm, count(*) AS size FROM (
            SELECT DISTINCT arg1_norm, rel_norm, arg2_norm, url, sent_id,
                   arg1_start, arg1_end, rel_start, rel_end,
                   arg2_start, arg2_end, arg1_text, rel_text, arg2_text,
                   round(confidence, 3) AS confidence
            FROM ext_pdf
            WHERE length(trim(arg1_norm)) > 0 AND length(trim(rel_norm)) > 0
              AND length(trim(arg2_norm)) > 0
        ) GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """).fetchall()
    got = con.sql(f"""
        SELECT arg1_norm, rel_norm, arg2_norm, CAST(size AS BIGINT) AS size
        FROM read_parquet('{groups_dir}/bucket=*/*.parquet',
                          hive_partitioning=true)
        ORDER BY 1, 2, 3
    """).fetchall()
    assert got == expected, (
        f"incremental merge diverged from full-input grouping:\n"
        f"got {got}\nexpected {expected}"
    )


def test_ingest_replay_guard_survives_checkpoint_reset(spark, tmp_path):
    """Regression: batch ids restart at 0 when a checkpoint is deleted
    or replaced; a marker keyed only by batch id would then silently
    skip the new run's first batch. Markers are namespaced by a run id
    stored inside the checkpoint dir, so a fresh checkpoint must
    reprocess everything."""
    import shutil

    from openie_backend_spark.streaming.ingest import run_incremental

    landing = tmp_path / "landing"
    groups_dir = str(tmp_path / "groups")
    ckpt = str(tmp_path / "ckpt")
    landing.mkdir()
    schema = "url string, text string, lang string"
    batch = spark.createDataFrame(
        [("u1", "Acme Corp acquired Globex Inc. .", "en")], schema
    )
    batch.write.parquet(str(landing / "b1"))
    run_incremental(spark, str(landing) + "/*", groups_dir, ckpt, batch.schema)
    assert spark.read.parquet(groups_dir).filter(
        F.col("rel_norm") == "acquire").first()["size"] == 1

    # wipe checkpoint AND groups (a reprocess-from-scratch): stale
    # _batch_<run>_0.done markers from run 1 still sit next to the
    # groups dir location but the new run id must not match them
    shutil.rmtree(ckpt)
    shutil.rmtree(groups_dir)
    # keep a stale marker from the OLD naming scheme too (plain batch
    # id): it must be ignored by the namespaced guard
    import os as _os
    _os.makedirs(groups_dir, exist_ok=True)
    open(_os.path.join(groups_dir, "_batch_0.done"), "w").write("stale")
    run_incremental(spark, str(landing) + "/*", groups_dir, ckpt, batch.schema)
    g = spark.read.parquet(groups_dir)
    assert g.filter(F.col("rel_norm") == "acquire").first()["size"] == 1, \
        "fresh checkpoint must reprocess data despite stale markers"


def test_ingest_first_batch_without_groups_leaves_marker(spark, tmp_path):
    """A first micro-batch that yields no groups writes only its replay
    marker; the groups table directory does not exist yet and must be
    created for it. A later batch then merges as usual."""
    import glob

    from openie_backend_spark.streaming.ingest import run_incremental

    landing = tmp_path / "landing"
    groups_dir = str(tmp_path / "groups")
    ckpt = str(tmp_path / "ckpt")
    landing.mkdir()
    schema = "url string, text string, lang string"
    junk = spark.createDataFrame([("j1", "12345", "en"), ("j2", "!!!", "en")], schema)
    junk.write.parquet(str(landing / "b1"))
    run_incremental(spark, str(landing) + "/*", groups_dir, ckpt, junk.schema)
    assert len(glob.glob(os.path.join(groups_dir, "_batch_*_0.done"))) == 1
    assert not glob.glob(os.path.join(groups_dir, "bucket=*"))

    real = spark.createDataFrame(
        [("u1", "Acme Corp acquired Globex Inc. .", "en")], schema)
    real.write.parquet(str(landing / "b2"))
    run_incremental(spark, str(landing) + "/*", groups_dir, ckpt, real.schema)
    assert spark.read.parquet(groups_dir).filter(
        F.col("rel_norm") == "acquire").first()["size"] == 1


def test_cli_extract_roundtrips_through_tab_reader(spark, tmp_path):
    """S8 stdin/stdout CLI: its 7-column output is the reference's
    ReVerbExtraction tab format, read back losslessly by the S1
    reader (M12 writer+reader round-trip)."""
    import subprocess
    import sys as _sys

    from openie_backend_spark.sources.tab import read_extractions_tab

    sentences = (
        "Acme Corp acquired Globex Inc. in 2006 .\n"
        "Marie Curie invented the widget .\n"
    )
    proc = subprocess.run(
        [_sys.executable, "-m", "openie_backend_spark", "extract",
         "--url", "http://t.test/1"],
        input=sentences, capture_output=True, text=True,
        cwd="/root/repo", env={"PYTHONPATH": "/root/repo", "PATH": "/usr/bin:/bin"},
    )
    assert proc.returncode == 0, proc.stderr[-500:]
    out_file = tmp_path / "cli.tab"
    out_file.write_text(proc.stdout)
    df = read_extractions_tab(spark, str(out_file))
    rows = df.collect()
    assert len(rows) == 2
    by_tok = {tuple(r["tokens"]): r for r in rows}
    acme = by_tok[tuple("Acme Corp acquired Globex Inc. in 2006 .".split())]
    assert (acme["arg1_start"], acme["arg1_end"]) == (0, 2)
    assert (acme["rel_start"], acme["rel_end"]) == (2, 3)
    assert acme["url"] == "http://t.test/1"
    assert len(acme["tokens"]) == len(acme["pos_tags"]) == len(acme["chunk_tags"])


def test_py_files_zip_is_self_contained():
    """The --py-files package must carry everything executors need:
    code AND the trained model artifacts (scripts/submit_pipeline.py;
    the north-rule deployment shape is spark-submit --py-files)."""
    import sys
    import zipfile

    sys.path.insert(0, "/root/repo/scripts")
    from submit_pipeline import build_zip

    path = build_zip("/tmp/openie_pkg_test.zip")
    names = zipfile.ZipFile(path).namelist()
    assert "openie_backend_spark/__init__.py" in names
    assert "openie_backend_spark/nlp/tagger_model.json.gz" in names
    assert "openie_backend_spark/nlp/chunker_model.json.gz" in names
    assert any(n.endswith("plans/pipeline.py") for n in names)
    assert not any("__pycache__" in n for n in names)


def test_windowed_counts_drop_late_rows_across_passes(spark, tmp_path):
    """Watermark semantics across AvailableNow passes: pass 1 advances
    the persisted watermark; a pass-2 file whose rows fall before it is
    dropped entirely (its window was finalized), while rows in a still-
    open window aggregate normally."""
    from datetime import datetime

    from openie_backend_spark.streaming.windows import (
        read_windowed_counts, windowed_event_counts)

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")

    def ev(eid, ts, etype, value):
        return (eid, datetime.fromisoformat(ts), 1, etype, float(value), "{}")

    cols = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
    batch1 = spark.createDataFrame(
        [
            ev(1, "2024-06-01 01:10:00", "click", 1.0),
            ev(2, "2024-06-01 01:20:00", "click", 2.0),
            ev(3, "2024-06-01 02:30:00", "view", 1.0),
            # max ts 10:00 -> watermark 08:00: windows ending <= 08:00 final
            ev(4, "2024-06-01 10:00:00", "view", 1.0),
        ],
        cols,
    )
    batch1.coalesce(1).write.mode("append").parquet(landing)
    windowed_event_counts(spark, landing, out, ck)
    first = {
        (str(r["window_start"]), r["event_type"]): (r["n_events"], r["total_value"])
        for r in read_windowed_counts(spark, out).collect()
    }
    assert first[("2024-06-01 01:00:00", "click")] == (2, 3.0)
    assert first[("2024-06-01 02:00:00", "view")] == (1, 1.0)
    assert ("2024-06-01 10:00:00", "view") not in first  # window still open

    batch2 = spark.createDataFrame(
        [
            # LATE: window [01:00, 02:00) finalized in pass 1 -> dropped
            ev(5, "2024-06-01 01:40:00", "click", 100.0),
            # open window: aggregates; also pushes watermark to 11:00
            ev(6, "2024-06-01 10:15:00", "view", 2.0),
            ev(7, "2024-06-01 13:00:00", "view", 1.0),
        ],
        cols,
    )
    batch2.coalesce(1).write.mode("append").parquet(landing)
    windowed_event_counts(spark, landing, out, ck)
    second = {
        (str(r["window_start"]), r["event_type"]): (r["n_events"], r["total_value"])
        for r in read_windowed_counts(spark, out).collect()
    }
    # the late click row changed NOTHING: same finalized aggregate
    assert second[("2024-06-01 01:00:00", "click")] == (2, 3.0)
    assert sum(1 for (w, t) in second if w == "2024-06-01 01:00:00" and t == "click") == 1
    # the 10:00 window finalized with BOTH its rows (watermark now 11:00)
    assert second[("2024-06-01 10:00:00", "view")] == (2, 3.0)


def test_stateful_sessionize_stream_matches_batch(spark, tmp_path):
    """applyInPandasWithState sessionizer == batch window sessionizer
    on the same data, minus each user's final (still-open) session.
    Two AvailableNow passes split at a time boundary prove the
    GroupState survives the checkpoint across runs."""
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F

    from openie_backend_spark.operators.sessions import (
        SESSION_OUT_SCHEMA, sessionize, sessionize_stream)

    t0 = datetime(2024, 6, 1, 8, 0, 0)

    def ev(eid, user, minutes, value):
        return (eid, t0 + timedelta(minutes=minutes), user, "click",
                float(value), "{}")

    cols = ("event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double, props string")
    # user 1: sessions [0,10], [60,65], [180] ; user 2: [0], [200,205]
    early = [ev(1, 1, 0, 1), ev(2, 1, 10, 2), ev(3, 1, 60, 4),
             ev(4, 1, 65, 8), ev(5, 2, 0, 1)]
    late = [ev(6, 1, 180, 16), ev(7, 2, 200, 2), ev(8, 2, 205, 4)]

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    spark.createDataFrame(early, cols).coalesce(1).write.mode(
        "append").parquet(landing)
    sessionize_stream(spark, landing, out, ck)
    spark.createDataFrame(late, cols).coalesce(1).write.mode(
        "append").parquet(landing)
    sessionize_stream(spark, landing, out, ck)

    streamed = spark.read.schema(SESSION_OUT_SCHEMA).parquet(out)
    batch = sessionize(spark.createDataFrame(early + late, cols))

    key = lambda r: (r["user_id"], r["session_id"], str(r["session_start"]),
                     str(r["session_end"]), r["n_events"], r["total_value"])
    got = sorted(key(r) for r in streamed.collect())
    # drop each user's LAST session from the batch truth (still open)
    w_last = batch.withColumn(
        "_last", F.max("session_start").over(
            __import__("pyspark.sql.window", fromlist=["Window"]).Window
            .partitionBy("user_id"))
    ).filter(F.col("session_start") != F.col("_last")).drop("_last")
    want = sorted(key(r) for r in w_last.collect())
    assert got == want
    assert len(got) == 3  # user1 x2 closed, user2 x1 closed
