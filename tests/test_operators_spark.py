"""Spark-side operator tests: grouping caps, filters, linking, typer,
instance dedup, regroup, tab source, incremental merge, multimodal."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from openie_backend_spark.operators import (
    dedup as D,
    filters,
    group,
    instance_dedup,
    link,
    materialize,
    multimodal,
    regroup,
    similarity,
    typer,
)
from openie_backend_spark.operators.extract import extract_chunked, extract_pages
from openie_backend_spark.sources import tab


@pytest.fixture(scope="module")
def pipeline_tables(spark, synth_dir):
    pages = spark.read.parquet(os.path.join(synth_dir, "pages.parquet"))
    dims = {
        n[:-8]: spark.read.parquet(os.path.join(synth_dir, f))
        for f in os.listdir(synth_dir)
        if f.startswith("dim_") and f.endswith(".parquet")
        for n in [f]
    }
    dims = {k.replace(".parquet", ""): v for k, v in
            ((f[:-8], spark.read.parquet(os.path.join(synth_dir, f)))
             for f in os.listdir(synth_dir) if f.startswith("dim_"))}
    extractions = extract_pages(pages)
    groups = group.group_extractions(
        filters.instance_quality_filter(extractions, min_conf=0.0)
    )
    linked = link.link_groups(groups, dims)
    return {"pages": pages, "dims": dims, "extractions": extractions,
            "groups": groups, "linked": linked}


def test_group_caps(spark):
    rows = [("a", "rel", "b", f"u{i}", i, 0.9 - (i % 3) * 0.1) for i in range(30)]
    df = spark.createDataFrame(
        rows, "arg1_norm string, rel_norm string, arg2_norm string, url string, sent_id long, confidence double"
    ).withColumn("arg1_frontend", F.col("arg1_norm")) \
     .withColumn("rel_frontend", F.col("rel_norm")) \
     .withColumn("arg2_frontend", F.col("arg2_norm")) \
     .withColumn("arg1_head", F.col("arg1_norm")) \
     .withColumn("arg2_head", F.col("arg2_norm")) \
     .withColumn("arg1_start", F.lit(0)) \
     .withColumn("arg1_end", F.lit(1)) \
     .withColumn("rel_start", F.lit(1)) \
     .withColumn("rel_end", F.lit(2)) \
     .withColumn("arg2_start", F.lit(2)) \
     .withColumn("arg2_end", F.lit(3)) \
     .withColumn("arg1_text", F.col("arg1_norm")) \
     .withColumn("rel_text", F.col("rel_norm")) \
     .withColumn("arg2_text", F.col("arg2_norm"))
    out = group.group_extractions(df, max_instances=10).collect()
    assert len(out) == 1
    row = out[0]
    assert row["size"] == 10  # capped deterministically
    confs = [i["confidence"] for i in row["instances"]]
    assert confs == sorted(confs, reverse=True)  # best-first ordering


def test_instance_quality_filter(spark):
    df = spark.createDataFrame(
        [
            ("good co", "acquire", "other co", "Good Co", "acquired", "Other Co", 0.9),
            ("good co", "never buy", "other co", "Good Co", "never bought", "Other Co", 0.9),
            ("it", "acquire", "other co", "It", "acquired", "Other Co", 0.9),
            ("good co", "acquire", "other co", "Good Co", "acquired", "Other Co", 0.3),
        ],
        "arg1_norm string, rel_norm string, arg2_norm string, arg1_text string, rel_text string, arg2_text string, confidence double",
    )
    kept = filters.instance_quality_filter(df).collect()
    assert len(kept) == 1 and kept[0]["confidence"] == 0.9


def test_linking_resolves_entities(pipeline_tables):
    linked = pipeline_tables["linked"]
    hit = linked.filter(F.col("arg1_norm") == "acme corp").first()
    assert hit is not None
    assert hit["arg1_entity"]["name"] == "Acme Corp"
    assert "/business/company" in hit["arg1_types"]


def test_typer_predicts_types(spark, pipeline_tables):
    linked = pipeline_tables["linked"]
    # blank out links for one subject so the typer must predict it
    unlinked = linked.withColumn(
        "arg1_entity",
        F.when(F.col("arg1_norm") == "acme corp", F.lit(None)).otherwise(F.col("arg1_entity")),
    ).withColumn(
        "arg1_types",
        F.when(F.col("arg1_norm") == "acme corp", F.array().cast("array<string>")).otherwise(F.col("arg1_types")),
    )
    typed = typer.type_unlinkable(unlinked, side="arg1", min_share_score=2, min_rel_weight=0.05)
    row = typed.filter(F.col("arg1_norm") == "acme corp").first()
    assert row is not None
    assert len(row["arg1_types"]) > 0  # types recovered from relation signature


def test_instance_dedup_drops_repeats(spark):
    toks = ["Acme", "acquired", "Globex", "."]
    rows = [
        ("acme", "acquire", "globex", f"u{i}", 0, toks, ["NNP", "VBD", "NNP", "."],
         ["B-NP", "B-VP", "B-NP", "O"], 0, 1, 1, 2, 2, 3, "Acme", "acquired", "Globex",
         0.9, "cc")
        for i in range(6)
    ]
    df = spark.createDataFrame(
        rows,
        "arg1_norm string, rel_norm string, arg2_norm string, url string, sent_id long,"
        "tokens array<string>, pos_tags array<string>, chunk_tags array<string>,"
        "arg1_start int, arg1_end int, rel_start int, rel_end int, arg2_start int,"
        "arg2_end int, arg1_text string, rel_text string, arg2_text string,"
        "confidence double, corpus string",
    )
    out = instance_dedup.dedup_instances(df).collect()
    assert len(out) == 1  # identical sentences collapse


def test_entity_merge_regroup(spark, pipeline_tables):
    linked = pipeline_tables["linked"]
    merged = regroup.entity_merge_regroup(linked.drop("instances"))
    assert merged.count() <= linked.count()
    assert "merged_groups" in merged.columns


def test_inlink_ratio(pipeline_tables):
    out = regroup.inlink_ratio(
        pipeline_tables["linked"], pipeline_tables["dims"]["dim_fbid_title_inlinks"]
    )
    assert out.filter(F.col("ratio") <= 0).count() == 0


def test_tab_source_roundtrip(spark, tmp_path):
    line = "[0, 2)\t[2, 3)\t[3, 5)\tAcme Corp acquired Globex Inc. .\tNNP NNP VBD NNP NNP .\tB-NP I-NP B-VP B-NP I-NP O\thttp://x"
    p = tmp_path / "ext.txt"
    p.write_text(line + "\n")
    df = tab.read_extractions_tab(spark, str(p))
    row = df.first()
    assert row["arg1_start"] == 0 and row["arg1_end"] == 2
    assert row["tokens"][2] == "acquired"
    ex = extract_chunked(
        df.select("url", "tokens", "pos_tags", "chunk_tags")
    ).first()
    assert ex["rel_text"] == "acquired"


def test_tab_source_interval_forms(spark, tmp_path):
    """intervalFromString accepts open '[a, b)', closed end-inclusive
    '[a, b]' and singleton '{n}' forms, and drops the line unless ALL
    three intervals parse (ReVerbExtraction.scala:160,180-196)."""
    layers = "a b c d e\tNNP NN VBZ NN NN\tB-NP I-NP B-VP B-NP I-NP\thttp://x"
    lines = [
        "[0, 2)\t{2}\t[3, 4]\t" + layers,      # singleton rel, closed arg2
        "[0, 1]\t[2, 3)\t[3, 5)\t" + layers,   # closed arg1
        "[0, 2)\tgarbage\t[3, 5)\t" + layers,  # rel unparseable -> dropped
    ]
    p = tmp_path / "forms.txt"
    p.write_text("\n".join(lines) + "\n")
    rows = sorted(
        tab.read_extractions_tab(spark, str(p)).collect(),
        key=lambda r: r["arg1_end"],
    )
    assert len(rows) == 2
    singleton = rows[1]
    assert (singleton["rel_start"], singleton["rel_end"]) == (2, 3)
    assert (singleton["arg2_start"], singleton["arg2_end"]) == (3, 5)
    closed = rows[0]
    assert (closed["arg1_start"], closed["arg1_end"]) == (0, 2)


def test_incremental_merge(spark):
    from openie_backend_spark.streaming.ingest import merge_groups

    schema = "arg1_norm string, rel_norm string, arg2_norm string, size long, instances array<struct<url:string>>"
    existing = spark.createDataFrame(
        [("a", "r", "b", 2, [{"url": "u1"}, {"url": "u2"}])], schema
    )
    incoming = spark.createDataFrame(
        [("a", "r", "b", 1, [{"url": "u3"}]), ("x", "r", "y", 1, [{"url": "u4"}])], schema
    )
    merged = {r["arg1_norm"]: r for r in merge_groups(existing, incoming).collect()}
    assert merged["a"]["size"] == 3 and len(merged["a"]["instances"]) == 3
    assert merged["x"]["size"] == 1
    assert merged["a"]["needs_relink"] and merged["x"]["needs_relink"]


def test_multimodal_features(spark):
    media = multimodal.synthetic_media(spark, 12)
    feats = multimodal.extract_features(media).collect()
    assert len(feats) == 12
    assert all(len(r["feature"]) == 16 for r in feats)
    # deterministic: same payload → same features
    again = multimodal.extract_features(media).collect()
    assert {r["media_id"]: r["feature"] for r in feats} == {
        r["media_id"]: r["feature"] for r in again
    }


def test_similarity_lsh_subset_of_bruteforce(spark, synth_dir):
    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j * 3) % 13 - 6) for j in range(8)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    bf = similarity.brute_force_topk(emb, q, k=5)
    ls = similarity.lsh_topk(emb, q, k=5, dim=8, n_planes=2)
    bf_ids = {r["vec_id"] for r in bf.collect()}
    ls_rows = ls.collect()
    assert 0 < len(ls_rows) <= 5
    # rank-1 of LSH must be the query itself (cosine 1 with itself)
    assert ls_rows[0]["vec_id"] == 0 or 0 in {r["vec_id"] for r in ls_rows}
    assert len(bf_ids) == 5


def test_salted_join_matches_plain_join(spark):
    from openie_backend_spark.functions.skew import salted_join

    left = spark.createDataFrame(
        [("hot", i) for i in range(200)] + [("cold", i) for i in range(5)],
        "k string, v long",
    )
    right = spark.createDataFrame([("hot", "H"), ("cold", "C")], "k string, tag string")
    plain = left.join(right, "k", "left")
    salted = salted_join(left, right, "k", buckets=8)
    assert salted.count() == plain.count() == 205
    assert {r["tag"] for r in salted.select("tag").distinct().collect()} == {"H", "C"}


def test_nary_and_relnoun(spark):
    from openie_backend_spark.operators.nary import extract_nary, split_streams

    pages = spark.createDataFrame(
        [
            ("u1", "Acme Corp acquired Globex Inc. in 2006 for $ 1.65 billion .", "en"),
            ("u2", "Initech CEO Grace Hopper said it will merge with Hooli .", "en"),
        ],
        "url string, text string, lang string",
    )
    ex = extract_nary(pages)
    triples, nouns = split_streams(ex)
    t = triples.filter(F.col("rel_text") == "acquired").first()
    assert t["arg2_texts"] == ["Globex Inc.", "in 2006", "for $ 1.65 billion"]
    n = nouns.first()
    assert n["rel_text"] == "be ceo of" and n["arg1_text"] == "Grace Hopper"


def test_extreme_precision_filter_per_instance(spark):
    """F4 (ScoobiReVerbGroupExtremeFilter.scala:56,65-91): instances
    filtered individually — definite noun (DT→NN), blacklisted args,
    pronoun rel tokens and conf ≤ 0.9 all drop the instance, and groups
    need ≥ 2 survivors."""
    from openie_backend_spark.operators.extract import extract_pages
    from openie_backend_spark.operators.filters import extreme_precision_filter
    from openie_backend_spark.operators.group import group_extractions

    pages = spark.createDataFrame(
        [
            # two clean high-conf instances → group survives
            ("u1", "Acme Corp acquired Globex Inc. .", "en"),
            ("u2", "Acme Corp acquired Globex Inc. .", "en"),
            # definite noun in arg2 → instances dropped
            ("u3", "Karen Page visited the museum .", "en"),
            ("u4", "Karen Page visited the museum .", "en"),
            # blacklisted arg token ("today")
            ("u5", "Bob Smith arrived at Gotham today .", "en"),
            ("u6", "Bob Smith arrived at Gotham today .", "en"),
        ],
        "url string, text string, lang string",
    )
    groups = group_extractions(extract_pages(pages))
    out = extreme_precision_filter(groups)
    kept = {(r["arg1_norm"], r["rel_norm"], r["arg2_norm"]): r["size"]
            for r in out.collect()}
    assert ("acme corp", "acquire", "globex inc.") in kept
    assert kept[("acme corp", "acquire", "globex inc.")] == 2
    assert not any("museum" in k[2] for k in kept)
    assert not any("today" in k[2] for k in kept)


def test_frontend_regroup_branches(spark):
    """ReVerbExtractionGroup.scala:139-168 semantics: per frontend key,
    ≤1 linked group → merge all; >1 linked → merge only the unlinked
    together and pass linked groups through untouched."""
    ent_t = "struct<name:string,fbid:string,score:double,inlink_ratio:double>"
    rows = [
        # key (A,R,B): 1 linked + 2 unlinked → one merged group
        ("a1", "r", "b", "A", "R", "B", 3, "f1"),
        ("a2", "r", "b", "A", "R", "B", 1, None),
        ("a3", "r", "b", "A", "R", "B", 2, None),
        # key (C,R,D): 2 linked + 1 unlinked → unlinked-merge + 2 passthru
        ("c1", "r", "d", "C", "R", "D", 5, "f2"),
        ("c2", "r", "d", "C", "R", "D", 4, "f3"),
        ("c3", "r", "d", "C", "R", "D", 1, None),
        # key (E,R,F): single unlinked group
        ("e1", "r", "f", "E", "R", "F", 7, None),
    ]
    df = spark.createDataFrame(
        rows,
        "arg1_norm string, rel_norm string, arg2_norm string, "
        "arg1_frontend string, rel_frontend string, arg2_frontend string, "
        "size long, fbid string",
    )
    df = (
        df.withColumn(
            "arg1_entity",
            F.when(
                F.col("fbid").isNotNull(),
                F.struct(
                    F.col("fbid").alias("name"), F.col("fbid").alias("fbid"),
                    F.lit(1.0).alias("score"), F.lit(0.1).alias("inlink_ratio"),
                ),
            ).otherwise(F.lit(None).cast(ent_t)),
        )
        .withColumn("arg2_entity", F.lit(None).cast(ent_t))
        .drop("fbid")
    )
    out = {
        (r["arg1_frontend"], r["arg1_fbid"]): (r["size"], r["merged_groups"])
        for r in regroup.frontend_regroup(df).collect()
    }
    assert out[("A", "f1")] == (6, 3)          # full merge, linked survives
    assert out[("C", None)] == (1, 1)          # unlinked-merge row
    assert out[("C", "f2")] == (5, 1)          # linked passthrough
    assert out[("C", "f3")] == (4, 1)
    assert out[("E", None)] == (7, 1)
    assert len(out) == 5


def test_real_image_decode_with_pil(spark):
    """Real-decode path: auto-skips in this container (no PIL). On a
    PIL-enabled build, a generated PNG must decode to its normalized
    pixel grid, not the md5 fallback."""
    PIL = pytest.importorskip("PIL")
    import io

    import numpy as np
    from PIL import Image

    img = Image.new("L", (8, 8))
    img.putdata([(x * 8 + y) * 4 for x in range(8) for y in range(8)])
    buf = io.BytesIO()
    img.save(buf, format="PNG")
    feat = multimodal._decode_image(buf.getvalue(), dim=16)
    assert feat.shape == (16,) and feat.dtype == np.float32
    assert 0.0 <= float(feat.min()) and float(feat.max()) <= 1.0
    # decoded from pixels (monotone grid), not the md5 fake
    assert float(feat[0]) < float(feat[-1])


def test_html_to_text_strips_boilerplate(spark):
    from openie_backend_spark.functions.text import html_to_text

    html = (
        "<html><head><style>body{x:1}</style><script>var a=2;</script>"
        "</head><body><!-- c --><nav>Home &amp; About</nav>"
        "<p>Acme Corp acquired Globex .</p>"
        "<div>&quot;quoted&quot;&nbsp;&#39;s &lt;tag&gt;</div></body></html>"
    )
    df = spark.createDataFrame([(html.encode(),)], "html binary")
    out = df.select(html_to_text("html").alias("t")).first()["t"]
    assert "Acme Corp acquired Globex ." in out
    assert "var a=2" not in out and "body{x:1}" not in out  # script/style gone
    assert "<" not in out.replace("<tag>", "")              # tags stripped
    assert "Home & About" in out                            # entity decoded
    assert '"quoted" \'s <tag>' in out                      # full decode chain


@pytest.mark.parametrize("side", ["subject", "object"])
def test_point_lookup_prunes_partitions(spark, tmp_path, side):
    """Both sort orders: the bucket predicate must appear as a
    PartitionFilter (one directory read), not a post-scan filter."""
    from openie_backend_spark.operators import materialize as M

    key_col = f"{side}_id"
    lookup = M.lookup_subject if side == "subject" else M.lookup_object
    table = spark.createDataFrame(
        [(f"n:{i:04d}", f"subj {i}", "acquired", f"o:{i:04d}", f"obj {i}", 1)
         for i in range(64)],
        "subject_id string, subject string, predicate string, "
        "object_id string, object string, group_size long",
    ).withColumn("_bucket", M.bucket_expr(F.col(key_col), 16))
    out = str(tmp_path / side)
    table.write.partitionBy("_bucket").parquet(out)

    key = "n:0007" if side == "subject" else "o:0007"
    hit = lookup(spark, out, key, n_buckets=16)
    rows = hit.collect()
    assert len(rows) == 1 and rows[0]["subject"] == "subj 7"
    plan = hit._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "_bucket" in plan.split(
        "PartitionFilters", 1)[1][:200]


def test_query_empty_phrase_list_matches_nothing(spark):
    from openie_backend_spark.operators.query import QuerySpec, fetch_groups

    groups = spark.createDataFrame(
        [("acme", "acquir", "globex", 3), ("bob", "found", "initech", 2)],
        "arg1_norm string, rel_norm string, arg2_norm string, size long",
    )
    # None = unconstrained field; [] = explicit empty disjunction
    assert fetch_groups(groups, QuerySpec(arg1=None)).count() == 2
    assert fetch_groups(groups, QuerySpec(arg1=[])).count() == 0
    # and an empty list doesn't reach isin() with zero values (no raise)
    assert fetch_groups(groups, QuerySpec(arg1=[], rel="found", stem=False,
                                          conjunction=False)).count() == 1


def test_link_min_score_floor(spark, pipeline_tables):
    from openie_backend_spark.operators import link

    dims = pipeline_tables["dims"]
    groups = pipeline_tables["groups"]
    base = link.link_groups(groups, dims)
    floored = link.link_groups(groups, dims, min_score=1e9)
    assert base.filter(F.col("arg1_entity").isNotNull()).count() > 0
    # an impossible floor converts every link to a no-link, never drops rows
    assert floored.filter(F.col("arg1_entity").isNotNull()).count() == 0
    assert floored.count() == base.count()


def test_link_min_score_rejects_after_argmax(spark):
    """The floor must apply AFTER the longest-suffix argmax: when the
    longest-suffix winner scores below min_score the group gets NO
    link — never the shorter-suffix runner-up (filter-before-argmax
    would silently link a different entity)."""
    from pyspark.sql import Row

    groups = spark.createDataFrame([Row(
        arg1_norm="acme corp", rel_norm="won", arg2_norm="prizes",
        arg1_head="acme corp", arg2_head="prizes", size=1,
        instances=[Row(tokens=["acme", "corp", "won", "prizes"])],
    )])
    dims = {
        "dim_anchor_prior": spark.createDataFrame(
            [("acmecorp", "FullEnt", 0.9, 1000),
             ("corp", "CorpEnt", 0.9, 1000)],
            "anchor_lnrm string, entity_title string, cprob double, count long"),
        "dim_title_fbid": spark.createDataFrame(
            [("FullEnt", "fa"), ("CorpEnt", "fb")], "title string, fbid string"),
        "dim_fbid_title_inlinks": spark.createDataFrame(
            [("fa", "FullEnt", 100), ("fb", "CorpEnt", 100)],
            "fbid string, title string, inlinks long"),
        "dim_fbid_types": spark.createDataFrame(
            [("fa", ["t"]), ("fb", ["t"])], "fbid string, types array<string>"),
        # FullEnt's context never matches (score 0.0); CorpEnt's fully
        # matches (score >> 0) — the shorter-suffix runner-up
        "dim_context_terms": spark.createDataFrame(
            [("fa", "nomatch", 1.0), ("fb", "corp", 1.0), ("fb", "won", 1.0)],
            "fbid string, term string, weight double"),
    }
    from openie_backend_spark.operators.link import link_groups

    floor = link_groups(groups, dims, min_score=0.05).first()
    assert floor["arg1_entity"] is None, (
        f"sub-threshold longest-suffix winner must be a no-link, got "
        f"{floor['arg1_entity']}")
    free = link_groups(groups, dims, min_score=0.0).first()
    assert free["arg1_entity"]["name"] == "FullEnt"  # longest suffix wins


def test_two_hop_hub_degree_cap(spark):
    """A hub mid node must not square its degree through the mid-join
    (VERDICT r4 #3): 50 in-edges x 50 out-edges on one hub = 2500
    uncapped pairs; max_fanout=10 bounds it to 10x10, taking the
    deterministically smallest srcs / hop2s."""
    hub_in = [(f"s{i:03d}", ["hub"]) for i in range(50)]
    hub_out = [("hub", [f"d{i:03d}" for i in range(50)])]
    edges = spark.createDataFrame(
        hub_in + hub_out, "subject_id string, dst_ids array<string>")
    uncapped = materialize.two_hop(edges, max_fanout=None)
    assert uncapped.count() == 2500
    capped = materialize.two_hop(edges, max_fanout=10)
    rows = capped.collect()
    assert len(rows) == 100
    assert {r["src"] for r in rows} == {f"s{i:03d}" for i in range(10)}
    assert {r["hop2"] for r in rows} == {f"d{i:03d}" for i in range(10)}


def test_banded_pairs_cap_is_linear(spark):
    """The shared star-of-groups cap (dedup.bucketed_pairs) must make
    pair growth linear, not quadratic, on a planted identical-content
    cluster — for BOTH previously-uncapped paths (VERDICT r4 #2)."""
    docs = spark.createDataFrame(
        [(i, "the same boilerplate page text repeated here") for i in range(40)],
        "doc_id long, text string")
    capped = D.simhash_banded_pairs(docs, max_hamming=None, max_full_bucket=16)
    assert capped.count() == 39  # one identical-sig group: star onto its rep
    full = D.simhash_banded_pairs(docs, max_hamming=None, max_full_bucket=None)
    assert full.count() == 40 * 39 // 2

    vecs = spark.createDataFrame(
        [(i, [1.0] * 64) for i in range(40)], "vec_id long, embedding array<double>")
    vcap = D.embedding_neardup_pairs(vecs, threshold=0.0, max_full_bucket=16)
    assert vcap.count() == 39
    # star pairs keep the cluster connected: one component, min-id label
    labels = D.dup_clusters_twostar(vcap.select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")))
    assert labels.select("cluster_id").distinct().count() == 1


def test_group_star_cap_survives_exact_rerank(spark):
    """Review r5: the old star-cap lost whole true-dup clusters to the
    exact rerank when neither member matched the bucket's arbitrary
    min-id representative. Plant an over-cap bucket of mostly-noise
    docs plus an identical-content group whose ids are NOT the bucket
    minimum: the group stars onto its own rep with Hamming-0 edges, so
    after the rerank it must still be one connected component."""
    # 30 noise docs (distinct texts) + 6 identical docs with high ids
    noise = [(i, f"noise page number {i} with filler words alpha beta")
             for i in range(30)]
    dups = [(100 + i, "identical duplicated content block for the chain test")
            for i in range(6)]
    docs = spark.createDataFrame(noise + dups, "doc_id long, text string")
    # tiny cap forces EVERY bucket over the cap -> star-of-groups path
    pairs = D.simhash_banded_pairs(docs, bits=16, bands=4, max_hamming=0,
                                   max_full_bucket=4)
    surviving = pairs.filter((F.col("doc_a") >= 100) & (F.col("doc_b") >= 100))
    labels = D.dup_clusters_twostar(surviving)
    dup_labels = labels.filter(F.col("doc_id") >= 100).collect()
    assert len(dup_labels) == 6  # every duplicate doc kept an edge
    assert {r["cluster_id"] for r in dup_labels} == {100}


def test_banded_pairs_band_guards():
    """bits/bands mismatches must be rejected, not silently mis-banded
    (ADVICE r4: bands>bits gave width 0 = every signature colliding)."""
    import pyspark.sql as _  # spark not needed; validation is eager
    with pytest.raises(ValueError):
        D.simhash_banded_pairs(None, bits=16, bands=5)
    with pytest.raises(ValueError):
        D.simhash_banded_pairs(None, bits=16, bands=0)
    with pytest.raises(ValueError):
        D.embedding_neardup_pairs(None, n_planes=32, bands=5)
    with pytest.raises(ValueError):
        D.minhash_lsh_pairs(None, num_hashes=8, bands=3)


def _one_anchor_dims(spark, anchor_lnrm):
    """Minimal candidate dim resolving ``anchor_lnrm`` to one entity
    whose context always matches (score > 0)."""
    return {
        "dim_anchor_prior": spark.createDataFrame(
            [(anchor_lnrm, "Ent", 0.9, 1000)],
            "anchor_lnrm string, entity_title string, cprob double, count long"),
        "dim_title_fbid": spark.createDataFrame(
            [("Ent", "fe")], "title string, fbid string"),
        "dim_fbid_title_inlinks": spark.createDataFrame(
            [("fe", "Ent", 100)], "fbid string, title string, inlinks long"),
        "dim_fbid_types": spark.createDataFrame(
            [("fe", ["t"])], "fbid string, types array<string>"),
        "dim_context_terms": spark.createDataFrame(
            [("fe", "visited", 1.0)], "fbid string, term string, weight double"),
    }


def _head_group(spark, head):
    from pyspark.sql import Row

    return spark.createDataFrame([Row(
        arg1_norm=head.lower(), rel_norm="visit", arg2_norm="paris",
        arg1_head=head, arg2_head="paris", size=1,
        instances=[Row(tokens=[head.lower(), "visited", "paris"])],
    )])


def test_junk_anchor_acronym_exemption(spark):
    """ADVICE r4: all-caps multi-letter anchors (US, WHO, IT) are
    acronym mentions, not the closed-class words their lowercase
    spells — they must link; the lowercase form stays refused, and
    pure-digit anchors are refused regardless of the exemption."""
    from openie_backend_spark.operators.link import link_groups

    dims = _one_anchor_dims(spark, "us")
    got = link_groups(_head_group(spark, "US"), dims).first()
    assert got["arg1_entity"] is not None and got["arg1_entity"]["name"] == "Ent"
    refused = link_groups(_head_group(spark, "us"), dims).first()
    assert refused["arg1_entity"] is None
    # refusal can be turned off entirely
    free = link_groups(_head_group(spark, "us"), dims,
                       refuse_junk_anchors=False).first()
    assert free["arg1_entity"] is not None
    # digits: upper == lower, so the acronym exemption never applies
    dig = link_groups(_head_group(spark, "77"), _one_anchor_dims(spark, "77")).first()
    assert dig["arg1_entity"] is None


def test_junk_anchor_dim_override(spark):
    """The refusal list is a data-driven dim table (reference
    entity-stoplist shape): supplying dims["dim_junk_anchors"]
    replaces the built-in closed-class set without code changes."""
    from openie_backend_spark.operators.link import link_groups

    dims = _one_anchor_dims(spark, "zorp")
    # "zorp" is not in the built-in list -> links by default
    assert link_groups(_head_group(spark, "zorp"), dims).first()["arg1_entity"]
    # a custom one-word stoplist refuses it
    dims2 = dict(dims)
    dims2["dim_junk_anchors"] = spark.createDataFrame(
        [("ZORP",)], "word string")  # lowercased by junk_anchor_dim
    assert link_groups(_head_group(spark, "zorp"), dims2).first()["arg1_entity"] is None
    # and the custom list REPLACES the default: "us" now links
    got = link_groups(_head_group(spark, "us"),
                      {**_one_anchor_dims(spark, "us"),
                       "dim_junk_anchors": dims2["dim_junk_anchors"]}).first()
    assert got["arg1_entity"] is not None


def test_dedup_sentences_extract_row_identical(spark, synth_dir):
    """The distinct-sentence plan (JVM split -> distinct -> NLP once
    per distinct sentence -> provenance join) must be row-identical to
    the direct per-occurrence path — the NLP is sentence-deterministic
    so only the execution shape differs."""
    pages = spark.read.parquet(os.path.join(synth_dir, "pages.parquet"))
    key_cols = ["url", "sent_id", "arg1_start", "rel_start", "arg2_start",
                "arg1_end", "rel_end", "arg2_end"]

    def rows(df):
        return sorted(
            (tuple(r[c] for c in key_cols), r["arg1_norm"], r["rel_norm"],
             r["arg2_norm"], round(r["confidence"], 9))
            for r in df.collect()
        )

    direct = extract_pages(pages, include_layers=False)
    deduped = extract_pages(pages, include_layers=False,
                            dedup_sentences=True)
    assert rows(direct) == rows(deduped)
    assert [f.name for f in direct.schema.fields] == \
        [f.name for f in deduped.schema.fields]
    # the distinct side is genuinely smaller on a duplicate-bearing
    # corpus: replicate pages 3x -> distinct sentence count unchanged
    from openie_backend_spark.operators.extract import sentence_occurrences
    tripled = pages.unionAll(pages).unionAll(pages)
    occ = sentence_occurrences(tripled)
    assert occ.count() == 3 * sentence_occurrences(pages).count()
    n_distinct = occ.select("sentence").distinct().count()
    assert n_distinct == (sentence_occurrences(pages)
                          .select("sentence").distinct().count())
    trip_rows = rows(extract_pages(tripled, include_layers=False,
                                   dedup_sentences=True))
    assert len(trip_rows) == 3 * len(rows(direct))


def test_jvm_sentence_split_parity(spark):
    """sentence_occurrences' JVM regex split must equal
    chunker.split_sentences on real corpus text (same pattern string;
    this pins the Java-vs-Python regex semantics)."""
    sf = "/root/testdata/sf0.01/documents.parquet"
    if not os.path.exists(sf):
        pytest.skip("testdata not present")
    from openie_backend_spark.nlp import chunker
    from openie_backend_spark.operators.extract import sentence_occurrences
    docs = spark.read.parquet(sf).select(
        F.col("doc_id").alias("url"), F.col("text"),
        F.lit("en").alias("lang"))
    got = {}
    for r in sentence_occurrences(docs).collect():
        got.setdefault(r["url"], []).append((r["sent_id"], r["sentence"]))
    for r in docs.collect():
        want = chunker.split_sentences(r["text"])
        have = [s for _, s in sorted(got.get(r["url"], []))]
        assert have == want, r["url"]


def test_jvm_split_parity_unicode_whitespace(spark):
    """The JVM split/trim must agree with Python on NON-ASCII
    whitespace: Java's \\s is ASCII-only, so the explicit _WS_CLASS is
    what keeps NBSP / thin-space / U+2028 / U+001C-separated sentences
    splitting identically on both paths (review finding, round 5)."""
    from openie_backend_spark.nlp import chunker
    from openie_backend_spark.operators.extract import sentence_occurrences

    texts = [
        "Alice won the prize.\xa0Bob lost the bet.",        # NBSP
        "It rained.\u2009Then it stopped.",                 # thin space
        "One ended.\u2028Two began.",                       # LS
        "A happened.\u2029\u2029B followed.",              # PS run
        "X shipped.\x1c\x1dY paused.",                     # FS/GS
        "\xa0\u3000Lead trimmed. Tail trimmed too.\u202f", # trim ends
        "Mix one.\xa0 \u2009Mix two.\t\u2028Mix three.", # mixed runs
        "No split here,\xa0just a clause.",                 # no [.!?] before
    ]
    rows = [(f"u{i}", t, "en") for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, ["url", "text", "lang"])
    got = {}
    for r in sentence_occurrences(docs).collect():
        got.setdefault(r["url"], []).append((r["sent_id"], r["sentence"]))
    for i, t in enumerate(texts):
        want = chunker.split_sentences(t)
        have = [s for _, s in sorted(got.get(f"u{i}", []))]
        assert have == want, (t, have, want)


def test_ws_class_equals_python_whitespace():
    """_WS_CHARS must stay exactly Python's \\s set — the JVM regexes
    are built from it, so drift would silently fork the two paths."""
    import re as _re
    from openie_backend_spark.nlp import chunker

    explicit = set(chunker._WS_CHARS)
    python_ws = {chr(c) for c in range(0x110000) if _re.match(r"\s", chr(c))}
    assert explicit == python_ws
    strip_ws = {chr(c) for c in range(0x110000)
                if ("a" + chr(c)).strip() == "a"}
    assert explicit == strip_ws


def test_relclause_bracket_spans_internal_comma():
    """', who was born in Sandringham , England ,' — the place-name
    comma is clause-internal; the bracket must close at the comma
    after 'England', so matrix re-tagging sees 'Diana died in 1997 .'
    and not the ungrammatical 'Diana England , died in 1997 .'"""
    from openie_backend_spark.nlp import chunker, nary

    toks = ("Diana , who was born in Sandringham , England , "
            "died in 1997 .").split()
    spans = chunker._wh_bracket_spans(toks)
    assert spans == [(1, 9)]  # comma before 'who' .. comma after 'England'
    matrix = [k for k in range(len(toks))
              if not any(i <= k <= j for i, j in spans)]
    assert [toks[k] for k in matrix] == ["Diana", "died", "in", "1997", "."]
    # multi-token run ('New Jersey') and the non-extension case: a
    # lowercase continuation means the matrix really resumes there
    toks2 = ("Bob , who lives in Newark , New Jersey , retired .").split()
    assert chunker._wh_bracket_spans(toks2) == [(1, 9)]
    toks3 = ("Bob , who lives in Paris , Mary said , laughing .").split()
    assert chunker._wh_bracket_spans(toks3) == [(1, 6)]
    # nary's bracket close must extend identically (shared helper)
    pos = ["NNP", ",", "WP", "VBD", "VBN", "IN", "NNP", ",", "NNP", ",",
           "VBD", "IN", "CD", "."]
    chunks = ["B-NP", "O", "B-NP", "B-VP", "I-VP", "B-PP", "B-NP", "O",
              "B-NP", "O", "B-VP", "B-PP", "B-NP", "O"]
    brackets = nary._comma_brackets(toks, pos, chunks)
    assert [(o, c) for _, o, c in brackets] == [(1, 9)]


def _pairs_df(spark, pairs):
    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType([
        StructField("doc_a", StringType()), StructField("doc_b", StringType()),
    ])
    return spark.createDataFrame([tuple(p) for p in pairs], schema)


def _chain(n):
    return [(f"w{i:02d}", f"w{i + 1:02d}") for i in range(n - 1)]


def _labels(df):
    return {r["doc_id"]: r["cluster_id"] for r in df.collect()}


def _union_find_labels(pairs):
    """doc -> component minimum, by union-find over ``pairs``."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_twostar_matches_union_find_on_chain(spark):
    """A transitive near-dup CHAIN (diameter = n) still gets one label,
    the component minimum, in O(log n) rounds."""
    from openie_backend_spark.operators import dedup as D

    chain = _chain(12)
    labels = _labels(D.dup_clusters_twostar(_pairs_df(spark, chain)))
    assert labels == _union_find_labels(chain)
    assert set(labels.values()) == {"w00"}


def test_twostar_matches_union_find_random_graphs(spark):
    import random

    from openie_backend_spark.operators import dedup as D

    rng = random.Random(42)
    for trial in range(3):
        n = 30
        # both orientations, sometimes of the same edge
        edges = {
            (f"n{a:02d}", f"n{b:02d}")
            for a, b in (
                (rng.randrange(n), rng.randrange(n)) for _ in range(25)
            )
            if a != b
        }
        pairs = sorted(edges)
        labels = _labels(D.dup_clusters_twostar(_pairs_df(spark, pairs)))
        assert labels == _union_find_labels(pairs), f"trial {trial}"


def test_twostar_empty_and_single_pair(spark):
    from openie_backend_spark.operators import dedup as D

    rows = {tuple(r) for r in D.dup_clusters_twostar(_pairs_df(spark, [("a", "b")])).collect()}
    assert rows == {("a", "a"), ("b", "a")}
    empty = _pairs_df(spark, [])
    assert D.dup_clusters_twostar(empty).count() == 0


def test_pagerank_hand_computed(spark):
    """3-node graph a→b, b→c, c→a (plus a→c): verify one unrolled
    iteration by hand and the damping base for dangling nodes."""
    from pyspark.sql import functions as F

    from openie_backend_spark.operators.materialize import pagerank

    edges = spark.createDataFrame(
        [("a", ["b", "c"], 2), ("b", ["c"], 1)],
        "subject_id string, dst_ids array<string>, out_degree bigint",
    )
    got = {r["node_id"]: r["pagerank"] for r in pagerank(edges, iterations=1).collect()}
    # start 1.0: a gets no in-edges -> 0.15; b <- a/2 -> 0.15+0.85*0.5
    # c <- a/2 + b/1 -> 0.15 + 0.85*1.5
    assert got == {
        "a": 0.15,
        "b": round(0.15 + 0.85 * 0.5, 6),
        "c": round(0.15 + 0.85 * 1.5, 6),
    }
    # more iterations keep the total finite and deterministic
    got3 = {r["node_id"]: r["pagerank"] for r in pagerank(edges, iterations=3).collect()}
    assert set(got3) == {"a", "b", "c"} and got3["a"] == 0.15


def test_degree_stats(spark):
    from openie_backend_spark.operators.materialize import degree_stats

    edges = spark.createDataFrame(
        [("a", ["b", "c"], 2), ("b", ["c"], 1), ("d", ["c"], 1)],
        "subject_id string, dst_ids array<string>, out_degree bigint",
    )
    rows = {(r["side"], r["degree"]): r["n_nodes"] for r in degree_stats(edges).collect()}
    assert rows == {
        ("out", 2): 1, ("out", 1): 2,   # a has 2, b and d have 1
        ("in", 1): 1, ("in", 3): 1,     # b in-deg 1, c in-deg 3
    }


def test_triangle_counts_k4_and_star(spark):
    """K4 has 4 triangles, each node in 3; a star has none (orientation
    makes the hub emit zero wedges)."""
    from openie_backend_spark.operators.materialize import triangle_counts

    def adj(pairs):
        from collections import defaultdict

        d = defaultdict(set)
        for a, b in pairs:
            d[a].add(b)
        return spark.createDataFrame(
            [(k, sorted(v), len(v)) for k, v in d.items()],
            "subject_id string, dst_ids array<string>, out_degree bigint",
        )

    k4 = [(a, b) for a in "abcd" for b in "abcd" if a < b]
    got = {r["node_id"]: r["n_triangles"] for r in triangle_counts(adj(k4)).collect()}
    assert got == {"a": 3, "b": 3, "c": 3, "d": 3}

    star = [("hub", x) for x in ("s1", "s2", "s3", "s4", "s5")]
    assert triangle_counts(adj(star)).count() == 0

    # triangle + pendant edge: pendant node participates in none
    tri = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")]
    got2 = {r["node_id"]: r["n_triangles"] for r in triangle_counts(adj(tri)).collect()}
    assert got2 == {"a": 1, "b": 1, "c": 1}


def test_tfidf_keywords_ranks_distinctive_terms(spark):
    from openie_backend_spark.operators.curation import tfidf_keywords

    docs = spark.createDataFrame(
        [
            (1, "spark spark engine common"),
            (2, "duck duck oracle common"),
            (3, "graph common"),
        ],
        "doc_id bigint, text string",
    )
    rows = tfidf_keywords(docs, k=2).collect()
    top = {r["doc_id"]: r["term"] for r in rows if r["rank"] == 1}
    # the repeated distinctive term wins; 'common' (df=3 -> idf=0) never ranks first
    assert top == {1: "spark", 2: "duck", 3: "graph"}
    import math

    spark_row = [r for r in rows if r["doc_id"] == 1 and r["term"] == "spark"][0]
    assert spark_row["tf"] == 2
    assert spark_row["score"] == round(2 * math.log(4 / 2), 6)
    assert all(r["rank"] <= 2 for r in rows)


def test_relation_synonyms_cap_and_witness_counts(spark):
    from openie_backend_spark.operators.kg_analytics import relation_synonyms

    rows = [
        # two arg-pairs both connected by buy+acquire -> 2 witnesses
        ("buy", "a", "b"), ("acquire", "a", "b"),
        ("buy", "c", "d"), ("acquire", "c", "d"),
        # one shared pair for buy+purchase
        ("buy", "a", "b"),  # duplicate group row must not double-count
        ("purchase", "a", "b"),
    ]
    groups = spark.createDataFrame(
        [(r, a1, a2, 1) for r, a1, a2 in rows],
        "rel_norm string, arg1_norm string, arg2_norm string, size bigint",
    )
    got = {
        (r["rel_a"], r["rel_b"]): r["n_shared_pairs"]
        for r in relation_synonyms(groups, min_shared=1).collect()
    }
    assert got == {
        ("acquire", "buy"): 2,
        ("buy", "purchase"): 1,
        ("acquire", "purchase"): 1,
    }
    # hot-pair cap: 10 relations on one pair, cap 3 -> C(3,2)=3 rows
    hot = spark.createDataFrame(
        [(f"rel{i:02d}", "x", "y", 1) for i in range(10)],
        "rel_norm string, arg1_norm string, arg2_norm string, size bigint",
    )
    capped = relation_synonyms(hot, min_shared=1, max_rels_per_pair=3).collect()
    assert len(capped) == 3
    assert {r["rel_a"] for r in capped} <= {"rel00", "rel01"}  # deterministic prefix


def test_snapshot_diff_statuses(spark):
    from openie_backend_spark.operators.kg_analytics import snapshot_diff

    def g(rows):
        return spark.createDataFrame(
            rows, "arg1_norm string, rel_norm string, arg2_norm string, size bigint")

    old = g([("a", "r", "b", 2), ("c", "r", "d", 5), ("e", "r", "f", 1),
             ("g", "r", "h", 3)])
    new = g([("a", "r", "b", 4), ("c", "r", "d", 2), ("e", "r", "f", 1),
             ("i", "r", "j", 7)])
    got = {(r["arg1_norm"], r["status"]): (r["old_size"], r["new_size"])
           for r in snapshot_diff(old, new).collect()}
    assert got == {
        ("a", "grown"): (2, 4),
        ("c", "shrunk"): (5, 2),
        ("g", "removed"): (3, None),
        ("i", "added"): (None, 7),
    }  # ("e", unchanged) dropped


def test_twostar_raises_at_round_cap(spark, monkeypatch):
    """A 17-node chain needs 4 rounds; with 2 allowed, the unconverged
    edges would give some documents two labels, so it raises."""
    from openie_backend_spark.operators import dedup as D

    monkeypatch.setattr(D, "MAX_STAR_ROUNDS", 2)
    with pytest.raises(RuntimeError, match="no star forest"):
        D.dup_clusters_twostar(_pairs_df(spark, _chain(17)))


def test_twostar_chain_converges_in_log_rounds(spark, monkeypatch):
    """A 64-node chain reaches a star forest in 6 rounds."""
    from openie_backend_spark.operators import dedup as D

    monkeypatch.setattr(D, "MAX_STAR_ROUNDS", 6)
    labels = _labels(D.dup_clusters_twostar(_pairs_df(spark, _chain(64))))
    assert len(labels) == 64
    assert set(labels.values()) == {"w00"}


def test_quantize_embeddings_bounds_and_roundtrip(spark):
    from openie_backend_spark.operators.similarity import quantize_embeddings

    embs = spark.createDataFrame(
        [
            (0, [0.0, 1.0, 0.5]),
            (1, [2.0, 2.0, 2.0]),     # constant vector: scale 0
            (2, [-1.0, 1.0, 0.0]),
        ],
        "vec_id bigint, embedding array<double>",
    )
    rows = {r["vec_id"]: r for r in quantize_embeddings(embs).collect()}
    assert rows[0]["codes"] == [0, 255, 128]
    assert rows[0]["qmin"] == 0.0 and rows[0]["qmax"] == 1.0
    assert rows[1]["codes"] == [0, 0, 0] and rows[1]["max_abs_err"] == 0.0
    assert rows[2]["codes"] == [0, 255, 128]
    # worst-case error <= half a quantization step (+ the 6-decimal
    # rounding of the err column itself)
    for vid, r in rows.items():
        step = (r["qmax"] - r["qmin"]) / 255.0
        assert r["max_abs_err"] <= step / 2 + 5e-7
