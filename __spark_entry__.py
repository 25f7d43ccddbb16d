"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes every implemented operator family from
SURVEY.md §2 — grouping/aggregation (G1-G12), joins (J3-J9), filters
(F2-F9), top-k (T7-T9), set ops, the serving query layer — plus the
training-data operators (dedup family, similarity search, text
analysis, multimodal plumbing) and the KG pipeline itself.
SQL-expressible operators carry a DuckDB oracle in ``oracle_sql()``
(identical md5-based hashing on both sides so value-hashes match);
UDF-backed ops (extraction, LSH planes, multimodal) are rows-only.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from openie_backend_spark.functions import text as T
from openie_backend_spark.functions import web as WB
from openie_backend_spark.operators import curation as CU
from openie_backend_spark.operators import dedup as D
from openie_backend_spark.operators import multimodal as MM
from openie_backend_spark.operators import similarity as SIM
from openie_backend_spark.operators.extract import extract_pages
from openie_backend_spark.operators.filters import instance_quality_filter
from openie_backend_spark.operators.group import group_extractions
from openie_backend_spark.operators.materialize import spo_table


def _prune_stale_workdirs(prefix: str, keep: str, max_age_s: int = 3600) -> None:
    """Remove pid-suffixed oracle workdirs left by dead harness runs.
    Liveness comes from the pid suffix, not the directory mtime: POSIX
    dir mtime does not advance on nested writes, so a long-lived
    concurrent run's top-level dir can look hours old while its
    checkpoints are hot. A dir whose pid is still alive is never
    touched; a dead pid's dir is reclaimed immediately (pid reuse just
    defers cleanup to the next pass). Non-pid-suffixed dirs (older
    layouts) fall back to the mtime age gate."""
    import glob
    import shutil
    import time

    for old in glob.glob(prefix + "*"):
        if old == keep:
            continue
        suffix = old.rsplit(".", 1)[-1]
        if suffix.isdigit():
            try:
                os.kill(int(suffix), 0)
                continue  # owner still running — never race it
            except ProcessLookupError:
                pass  # dead owner: safe to reclaim now
            except PermissionError:
                continue  # someone else's live process
            shutil.rmtree(old, ignore_errors=True)
            continue
        try:
            if time.time() - os.path.getmtime(old) > max_age_s:
                shutil.rmtree(old, ignore_errors=True)
        except OSError:
            pass


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    # sandbox parquet files are single-row-group (unsplittable), so the
    # scan yields one partition and the map side runs single-threaded;
    # redistribute small inputs. At production scale inputs arrive in
    # many files/row-groups and this branch never triggers.
    #
    # Only the documents table is worth the extra exchange: its
    # consumers run ~10^3 CPU per scanned byte (NLP, shingle+md5,
    # regex quality signals), so a serial scan starves 31 cores.
    # Every other table feeds shuffle-first relational queries
    # (agg/window/join) where a round-robin pre-exchange is a pure
    # extra pass — measured r6 A/B (warm, sf0.1): t9 1.42→0.83 s,
    # g1 0.81→0.18 s, j3 0.78→0.31 s walls and 5-8× CPU cuts with
    # the repartition dropped, while dedup_minhash over documents
    # NEEDS it (1.46 s vs 6.14 s serial).
    if name == "documents":
        target = spark.sparkContext.defaultParallelism
        if len(df.inputFiles()) < target:
            df = df.repartition(target)
    return df


# ---------------------------------------------------------------- entry

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: KG construction over sf0.001 documents treated as a
    pages table — extract → quality-filter → group → SPO."""
    sf_dir = "/root/testdata/sf0.001"
    docs = _t(spark, sf_dir, "documents")
    pages = docs.select(
        F.concat(F.lit("doc://"), F.col("doc_id")).alias("url"),
        F.col("text"),
        F.col("lang"),
    )
    extractions = extract_pages(pages, include_layers=False)
    groups = group_extractions(instance_quality_filter(extractions, min_conf=0.0))
    return spo_table(groups).select(
        "subject_id", "subject", "predicate", "object_id", "object", "group_size"
    )


# ------------------------------------------------------------- queries

def _g1_group_agg(spark, sf):
    li = _t(spark, sf, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
        )
    )


def _g2_regroup_hist(spark, sf):
    o = _t(spark, sf, "orders")
    per_cust = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("order_count"))
    return per_cust.groupBy("order_count").agg(F.count(F.lit(1)).alias("num_customers"))


def _g4_ratio(spark, sf):
    c = _t(spark, sf, "customer").groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("cust_cnt"))
    s = _t(spark, sf, "supplier").groupBy("s_nationkey").agg(F.count(F.lit(1)).alias("supp_cnt"))
    return (
        c.join(s, c["c_nationkey"] == s["s_nationkey"], "inner")
        .select(
            F.col("c_nationkey").alias("nationkey"),
            "cust_cnt",
            "supp_cnt",
            F.round(F.col("cust_cnt") / F.col("supp_cnt"), 4).alias("ratio"),
        )
    )


def _g5_argpair_cap(spark, sf):
    li = _t(spark, sf, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.concat_ws(
                ",",
                F.slice(F.array_sort(F.collect_set("l_orderkey")), 1, 5),
            ).alias("first_orderkeys"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )


def _t7_topk(spark, sf):
    o = _t(spark, sf, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("total_spend"))
        .orderBy(F.desc("total_spend"), F.asc("o_custkey"))
        .limit(10)
    )


def _t9_per_key_cap(spark, sf):
    li = _t(spark, sf, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey", "l_suppkey")
    capped = li.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 2)
    return capped.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("cnt"), F.round(F.sum("l_quantity"), 2).alias("sum_qty")
    )


def _j3_broadcast_dim(spark, sf):
    li = _t(spark, sf, "lineitem")
    p = _t(spark, sf, "part").filter(F.col("p_size") < 10)
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("cnt"), F.round(F.sum("l_extendedprice"), 2).alias("revenue"))
    )


def _j_left_anti(spark, sf):
    s = _t(spark, sf, "supplier")
    n = _t(spark, sf, "nation").filter(F.col("n_regionkey") == 0).select("n_nationkey")
    return (
        s.join(n, s["s_nationkey"] == n["n_nationkey"], "left_anti")
        .groupBy("s_nationkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _j9_upsert(spark, sf):
    o = _t(spark, sf, "orders")
    base = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", F.col("o_totalprice").alias("price")
    )
    updates = o.filter(F.col("o_orderkey") % 4 == 0).select(
        "o_orderkey", (F.col("o_totalprice") * 2).alias("price")
    )
    merged = (
        base.join(updates.withColumnRenamed("price", "new_price"), "o_orderkey", "full_outer")
        .select("o_orderkey", F.coalesce("new_price", "price").alias("price"))
    )
    return merged.agg(
        F.count(F.lit(1)).alias("cnt"), F.round(F.sum("price"), 2).alias("total")
    )


def _f2_doc_filters(spark, sf):
    d = _t(spark, sf, "documents")
    kept = d.filter(
        (F.col("n_chars").between(100, 450))
        # equivalent to rlike(".*(http|\\().*") — the unanchored-.*
        # java regex backtracks O(len²) per doc (measured ~4 s serial
        # in the scan task at sf0.1); substring search is linear
        & ~(F.col("text").contains("http") | F.col("text").contains("("))
        & (F.length(F.trim("text")) > 0)
    )
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("n_chars").alias("total_chars")
    )


def _f9_hash_sample(spark, sf):
    d = _t(spark, sf, "documents")
    sampled = d.filter(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) == "a")
    return sampled.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


def _g12_projections(spark, sf):
    li = _t(spark, sf, "lineitem")
    g = li.groupBy("l_returnflag", "l_linestatus").agg(F.count(F.lit(1)).alias("size"))
    proj = g.selectExpr(
        "stack(3, 'X_', CAST(NULL AS STRING), l_linestatus, "
        "'_X', l_returnflag, CAST(NULL AS STRING), "
        "'XX', CAST(NULL AS STRING), CAST(NULL AS STRING)) AS (mask, a1, a2)",
        "size",
    )
    return proj.groupBy("mask", "a1", "a2").agg(F.sum("size").alias("total"))


def _set_union_distinct(spark, sf):
    c = _t(spark, sf, "customer")
    a = c.filter(F.col("c_acctbal") > 5000).select("c_nationkey", "c_custkey")
    b = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_nationkey", "c_custkey")
    return (
        a.unionByName(b).distinct().groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("cnt"))
    )


def _q_conjunctive_topk(spark, sf):
    o = _t(spark, sf, "orders")
    return (
        o.filter((F.col("o_orderstatus") == "F") & (F.col("o_orderpriority") == "1-URGENT"))
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("price"))
        .orderBy(F.desc("price"), F.asc("o_orderkey"))
        .limit(20)
    )


def _w_t1_events_top2(spark, sf):
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.asc("event_id"))
    top2 = e.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 2)
    return top2.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt"), F.round(F.sum("value"), 2).alias("total_value")
    )


# ---- text analysis over documents ----

def _txt_token_count(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select("doc_id", T.token_count("text").alias("n_tokens"))


def _txt_bpe_count(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select("doc_id", T.bpe_token_count("text").alias("n_bpe"))


def _txt_lang_id(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select("doc_id", T.lang_id("text").alias("pred_lang"))


def _txt_quality(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select("doc_id", T.quality_score("text").alias("quality"))


def _txt_fingerprint(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select("doc_id", T.fingerprint("text", 5).alias("fingerprint"))


def _txt_repetition(spark, sf):
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1) — pure
    codegen, no shuffle; the bigram scan is capped at REP_GRAM_CAP."""
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        T.distinct_word_ratio("text").alias("distinct_word_ratio"),
        T.top_bigram_frac("text").alias("top_bigram_frac"),
        T.dup_bigram_frac("text").alias("dup_bigram_frac"),
    )


def _pii_planted_text():
    """Deterministic PII planted per doc (the synthetic corpus carries
    none): one email, one US phone, one IPv4, then a text prefix. The
    SAME arithmetic is inlined in the oracle SQL so both engines mask
    identical strings."""
    did = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    return F.concat(
        F.lit("Contact user"), s(did), F.lit("@mail"), s(did % 5),
        F.lit(".example.com or call 555-"), s(did % 900 + 100),
        F.lit("-"), s(did % 9000 + 1000),
        F.lit(" from 10.0."), s(did % 256), F.lit(".7 re: "),
        F.substring("text", 1, 160),
    )


_PII_PLANT_SQL = (
    "'Contact user' || doc_id || '@mail' || (doc_id % 5)"
    " || '.example.com or call 555-' || (doc_id % 900 + 100)"
    " || '-' || (doc_id % 9000 + 1000)"
    " || ' from 10.0.' || (doc_id % 256) || '.7 re: '"
    " || substr(text, 1, 160)"
)


def _web_pii_mask(spark, sf):
    """PII scrub over web text: typed placeholder masking + per-category
    counts (functions/web.pii_mask). Row-local regexp chain, zero
    shuffle."""
    d = _t(spark, sf, "documents")
    planted = d.select("doc_id", _pii_planted_text().alias("t"))
    return planted.select(
        "doc_id",
        *WB.pii_counts("t"),
        F.md5(WB.pii_mask("t")).alias("masked_md5"),
    )


def _url_planted():
    """Deterministic messy absolute URL per doc: uppercase scheme/host,
    default port on evens, trailing slash on multiples of 3, two
    tracking params, a fragment. Mirrored verbatim in the oracle SQL."""
    did = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    return F.concat(
        F.lit("HTTPS://WWW.Site"), s(did % 7), F.lit(".COM"),
        F.when(did % 2 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/Dir"), s(did % 5),
        F.when(did % 3 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?utm_source=feed&id="), s(did % 11),
        F.lit("&utm_medium=m"), s(did % 4),
        F.lit("#sec"), s(did % 3),
    )


_URL_PLANT_SQL = (
    "'HTTPS://WWW.Site' || (doc_id % 7) || '.COM'"
    " || (CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE '' END)"
    " || '/Dir' || (doc_id % 5)"
    " || (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END)"
    " || '?utm_source=feed&id=' || (doc_id % 11)"
    " || '&utm_medium=m' || (doc_id % 4)"
    " || '#sec' || (doc_id % 3)"
)


def _web_url_canon(spark, sf):
    """URL canonicalization + collapse: the planted port/slash/fragment/
    utm variants of the same logical URL group to one canonical row.
    Per-row regexp chain, then one groupBy on the canonical string."""
    d = _t(spark, sf, "documents")
    u = d.select("doc_id", _url_planted().alias("url"))
    canon = u.select(
        "doc_id",
        WB.url_canonicalize("url").alias("canon_url"),
        WB.url_host("url").alias("host"),
    )
    return canon.groupBy("canon_url", "host").agg(
        F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("first_doc")
    )


def _dedup_lines(spark, sf):
    """CCNet-style line-level inter-document dedup (12-word pseudo-lines
    — the synthetic corpus is single-line; real web text uses the
    newline mode of the same operator)."""
    return D.duplicate_lines(_t(spark, sf, "documents"), chunk_words=12)


def _web_decontaminate(spark, sf):
    """Benchmark decontamination (5-gram overlap): flag corpus docs
    sharing a shingle with an eval set. The benchmark is planted
    deterministically — an internal 200-char span of every doc whose
    md5(doc_id) starts with '0' — simulating an eval set leaked from
    the corpus; flagged rows are those source docs plus true near-dups.
    The benchmark side is broadcast; the corpus is never shuffled."""
    d = _t(spark, sf, "documents")
    bench = d.filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) == "0"
    ).select(F.substring("text", 41, 200).alias("text"))
    return CU.contaminated_docs(d, bench, n=5, max_shingles=512)


def _pack_sequences(spark, sf):
    """Deterministic concat-then-chunk sequence packing into
    1024-token packs across 8 md5-salt buckets; doc-level assignment
    rows so the oracle hashes every placement decision."""
    return CU.pack_sequences(
        _t(spark, sf, "documents"), max_tokens=1024, n_buckets=8
    )


def _web_host_stats(spark, sf):
    """Domain-level curation stats (RefinedWeb-style host filtering
    needs per-host aggregates): docs, distinct canonical URLs, and
    token volume per host of the planted URL. One groupBy on host;
    integer columns only so the value hash is float-free."""
    d = _t(spark, sf, "documents")
    u = d.select(
        "doc_id",
        T.token_count("text").alias("n_tokens"),
        _url_planted().alias("url"),
    )
    canon = u.select(
        "doc_id",
        "n_tokens",
        WB.url_canonicalize("url").alias("canon_url"),
        WB.url_host("url").alias("host"),
    )
    # two-level aggregate (host,url) → host instead of count(*) +
    # count(DISTINCT) in one agg: sidesteps Spark's 2×-row Expand plan
    # for mixed distinct aggregates (same move as dedup_lines), keeps
    # every stage map-side combinable
    per_url = canon.groupBy("host", "canon_url").agg(
        F.count(F.lit(1)).alias("n_docs_u"),
        F.sum("n_tokens").alias("sum_tokens_u"),
        F.min("doc_id").alias("first_doc_u"),
    )
    return per_url.groupBy("host").agg(
        F.sum("n_docs_u").alias("n_docs"),
        F.count(F.lit(1)).alias("n_urls"),
        F.sum("sum_tokens_u").alias("sum_tokens"),
        F.min("first_doc_u").alias("first_doc"),
    )


def _dsir_importance(spark, sf):
    """DSIR-style importance scores (curation.importance_weights):
    target distribution = the doc_id%20==0 slice of the corpus, raw =
    the full corpus; hashed-bigram log-ratio scores in integer
    milli-nats so the value hash is summation-order-proof."""
    d = _t(spark, sf, "documents")
    return CU.importance_weights(
        d, d.filter(F.col("doc_id") % 20 == 0), n=2, n_buckets=4096
    )


def _host_quota_sample(spark, sf):
    """Per-host quota sampling (curation.host_quota_sample): at most 3
    docs per host of the planted URL, exact two-stage salted top-k.
    The oracle is the SINGLE-window ideal — matching it proves the
    salted decomposition exact, not just self-consistent."""
    d = _t(spark, sf, "documents").select(
        "doc_id", _url_planted().alias("url")
    )
    return CU.host_quota_sample(d, quota=3, n_salt=8)


# ---- dedup family over documents ----

def _dedup_exact(spark, sf):
    return D.exact_dedup(_t(spark, sf, "documents"))


def _dedup_minhash_lsh(spark, sf):
    return D.minhash_lsh_pairs(_t(spark, sf, "documents"), num_hashes=8, bands=4)


def _dedup_ngram_jaccard(spark, sf):
    # scale path: exact Jaccard verified only over LSH candidate pairs
    docs = _t(spark, sf, "documents")
    cands = D.minhash_lsh_pairs(docs, num_hashes=8, bands=4)
    return D.ngram_jaccard_pairs(docs, threshold=0.8, candidates=cands)


def _dedup_clusters(spark, sf):
    pairs = D.minhash_lsh_pairs(_t(spark, sf, "documents"), num_hashes=8, bands=4)
    return D.dup_clusters_twostar(pairs)


def _dedup_simhash(spark, sf):
    return D.simhash(_t(spark, sf, "documents"), bits=16)


def _dedup_simhash_banded(spark, sf):
    """Hamming-tolerant SimHash pairs: 4 bands of 4 bits, pigeonhole
    candidates, exact-Hamming rerank <= 1 (dedup.simhash_banded_pairs; the
    synth corpus's tiny vocabulary saturates 16-bit simhash, so the
    demo threshold is 1 — production would use 64 bits, Hamming 3).
    The oracle mirrors the capped banded candidate set itself
    (_capped_pairs_sql): at 4-bit bands the 64-cap BINDS at sandbox
    scale, so candidate generation — including chain order — is part
    of the checked contract, NOT re-derived from exhaustive pairs."""
    return D.simhash_banded_pairs(_t(spark, sf, "documents"), bits=16,
                                  bands=4, max_hamming=1)


def _dedup_embedding(spark, sf):
    # synthetic embeddings are near-orthogonal (max cosine ≈ 0.46), so
    # the demo threshold is 0.3; production near-dup would use ≥ 0.95
    return D.embedding_neardup_pairs(_t(spark, sf, "embeddings"), threshold=0.3)


# ---- similarity search over embeddings ----

def _queries_vec(spark, sf, n=3):
    e = _t(spark, sf, "embeddings")
    return e.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def _ann_bruteforce(spark, sf):
    e = _t(spark, sf, "embeddings")
    return SIM.brute_force_topk(e, _queries_vec(spark, sf), k=10)


def _ann_lsh(spark, sf):
    e = _t(spark, sf, "embeddings")
    return SIM.lsh_topk(e, _queries_vec(spark, sf), k=10, dim=64)


def _ann_ivf(spark, sf):
    """IVF coarse-quantizer ANN (similarity.ivf_topk): deterministic
    md5-sampled centroids, map-only cell assignment, nprobe=4 of 16
    cells probed, exact rerank — the partition-pruned scale path."""
    e = _t(spark, sf, "embeddings")
    return SIM.ivf_topk(e, _queries_vec(spark, sf), k=10,
                        n_centroids=16, nprobe=4)


def _dedup_bloom(spark, sf):
    """Bloom-filter incremental membership (dedup.bloom_membership):
    history = the full corpus; the probe batch is every doc_id%4==0
    document, half of them verbatim re-crawls (doc_id%8==0 keeps the
    exact text → MUST flag; no false negatives) and half perturbed
    (+' bloomnovel' suffix → flagged only by an md5-position
    collision, ~1.5e-6 at these settings)."""
    d = _t(spark, sf, "documents")
    probe = d.filter(F.col("doc_id") % 4 == 0).select(
        "doc_id",
        F.when(F.col("doc_id") % 8 == 0, F.col("text"))
        .otherwise(F.concat(F.col("text"), F.lit(" bloomnovel")))
        .alias("text"),
    )
    return D.bloom_membership(d, probe)


def _mix_temperature(spark, sf):
    """τ=2 temperature sampling of the corpus by lang
    (curation.temperature_sample): IEEE-exact sqrt thresholds, kept
    docs with their group rate in ppm."""
    return CU.temperature_sample(_t(spark, sf, "documents"), "lang")


def _dedup_passages(spark, sf):
    """Exact substring dedup (dedup.duplicate_passages): maximal word
    spans whose 8-grams recur in >= 2 distinct documents."""
    return D.duplicate_passages(_t(spark, sf, "documents"), ngram=8)


def _txt_repeated_spans(spark, sf):
    """Within-doc repetition spans (dedup.repeated_spans): the synth
    corpus has no natural self-repeats, so every doc_id%10==0 document
    is planted with its own text doubled — those MUST yield spans
    (every 5-gram of copy one recurs in copy two), all others none."""
    d = _t(spark, sf, "documents")
    planted = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 10 == 0,
            F.concat(F.col("text"), F.lit(" "), F.col("text")),
        ).otherwise(F.col("text")).alias("text"),
    )
    return D.repeated_spans(planted, ngram=5)


def _dedup_canonical(spark, sf):
    """Survivor selection over MinHash-LSH duplicate clusters
    (dedup.canonical_docs): keep the longest member per cluster,
    doc_id tiebreak — clusters in, deduplicated-corpus decision out."""
    docs = _t(spark, sf, "documents")
    pairs = D.minhash_lsh_pairs(docs, num_hashes=8, bands=4)
    return D.canonical_docs(docs, D.dup_clusters_twostar(pairs))


def _kg_entity_aliases(spark, sf):
    """Alias table per linked entity (kg_analytics.entity_aliases):
    top-5 surface forms per fbid by instance support, both arg sides."""
    from openie_backend_spark.operators.kg_analytics import entity_aliases

    linked, _ = _synth_linked(spark)
    return entity_aliases(linked)


def _txt_lm_ce(spark, sf):
    """CCNet-style unigram-LM cross-entropy per document
    (curation.lm_cross_entropy), vocab capped at 256 so the UNK
    bucket is exercised at synth scale."""
    return CU.lm_cross_entropy(_t(spark, sf, "documents"), vocab_size=256)


def _txt_profile(spark, sf):
    """Corpus datasheet (curation.corpus_profile): one (metric, value)
    table per snapshot — doc counts, dup rate, token mass, quality,
    language mix."""
    return CU.corpus_profile(_t(spark, sf, "documents"))


def _mix_split(spark, sf):
    """Deterministic train/val/test hash split (curation.hash_split):
    every doc assigned by salted-md5 threshold, stable under growth."""
    return CU.hash_split(_t(spark, sf, "documents"))


def _kg_rel_signature(spark, sf):
    """Relation type-signature induction over the linked KG
    (kg_analytics.relation_type_signature): top-3 (arg1_type,
    arg2_type) pairs per relation by instance support."""
    from openie_backend_spark.operators.kg_analytics import (
        relation_type_signature)

    linked, _ = _synth_linked(spark)
    return relation_type_signature(linked)


# ---- KG pipeline (UDF-backed; rows-only checks) ----

def _doc_pages(spark, sf):
    return _t(spark, sf, "documents").select(
        F.concat(F.lit("doc://"), F.col("doc_id")).alias("url"), "text", "lang"
    )


def _kg_extractions(spark, sf):
    return extract_pages(_doc_pages(spark, sf)).select(
        "url", "sent_id", "arg1_text", "rel_text", "arg2_text",
        "arg1_norm", "rel_norm", "arg2_norm", "confidence",
    )


def _kg_groups(spark, sf):
    ex = instance_quality_filter(
        extract_pages(_doc_pages(spark, sf), include_layers=False), min_conf=0.0)
    return group_extractions(ex).select(
        "arg1_norm", "rel_norm", "arg2_norm", "size"
    )


def _kg_spo(spark, sf):
    ex = instance_quality_filter(
        extract_pages(_doc_pages(spark, sf), include_layers=False), min_conf=0.0)
    return spo_table(group_extractions(ex)).select(
        "subject_id", "subject", "predicate", "object_id", "object", "group_size"
    )


def _kg_nary(spark, sf):
    from openie_backend_spark.operators.nary import extract_nary

    pages, _ = _synth(spark)
    return extract_nary(pages).select(
        "url", "sent_id", "kind", "arg1_norm", "rel_norm", "arg2_norm",
        F.concat_ws(" | ", "arg2_texts").alias("arg2s"),
    )


def _mm_features(spark, sf):
    media = MM.synthetic_media(spark, 64)
    feats = MM.extract_features(media)
    return feats.select(
        "media_id",
        "payload_bytes",
        F.round(F.aggregate("feature", F.lit(0.0), lambda a, x: a + x), 4).alias("feat_sum"),
    )



# ---- reference-pipeline operators over the synthetic corpus (rows-only:
# the extraction UDF is not SQL-expressible; the driver records counts) ----

def _synth(spark):
    import glob as _glob
    from openie_backend_spark import synth as _synth_mod

    cache = _synth_mod.ensure_corpus()
    # deliberately NOT fanned out like _t("documents"): the synth
    # corpus is 150 pages — a repartition would add an exchange plus
    # 32 Arrow task setups to save ~0.2 s of single-core NLP (r6 A/B)
    pages = spark.read.parquet(os.path.join(cache, "pages.parquet"))
    dims = {
        os.path.basename(f)[:-8]: spark.read.parquet(f)
        for f in _glob.glob(os.path.join(cache, "dim_*.parquet"))
    }
    return pages, dims


def _synth_linked(spark):
    from openie_backend_spark.operators.link import link_groups

    pages, dims = _synth(spark)
    ex = instance_quality_filter(extract_pages(pages), min_conf=0.0)
    return link_groups(group_extractions(ex), dims), dims


def _kg_linked(spark, sf):
    linked, _ = _synth_linked(spark)
    return linked.select(
        "arg1_norm", "rel_norm", "arg2_norm", "size",
        F.col("arg1_entity.fbid").alias("arg1_fbid"),
        F.col("arg2_entity.fbid").alias("arg2_fbid"),
        F.concat_ws(",", "arg1_types").alias("arg1_types_csv"),
    )


def _kg_typed(spark, sf):
    from openie_backend_spark.operators import typer as _typer

    linked, dims = _synth_linked(spark)
    unlinked = linked.withColumn(
        "arg1_entity",
        F.when(F.col("arg1_norm") == "acme corp", F.lit(None)).otherwise(F.col("arg1_entity")),
    ).withColumn(
        "arg1_types",
        F.when(F.col("arg1_norm") == "acme corp", F.array().cast("array<string>"))
        .otherwise(F.col("arg1_types")),
    )
    typed = _typer.type_unlinkable(
        unlinked, side="arg1", stoplist=dims.get("dim_entity_stoplist"),
        min_rel_weight=0.05, min_share_score=2,
    )
    return typed.select(
        "arg1_norm", "rel_norm", "arg2_norm",
        F.concat_ws(",", "arg1_types").alias("arg1_types_csv"),
    )


def _kg_regroup_entity(spark, sf):
    from openie_backend_spark.operators.regroup import entity_merge_regroup

    linked, _ = _synth_linked(spark)
    return entity_merge_regroup(linked.drop("instances")).select(
        "arg1_norm", "rel_norm", "arg2_norm", "size", "merged_groups"
    )


def _kg_inlink_ratio(spark, sf):
    from openie_backend_spark.operators.regroup import inlink_ratio

    linked, dims = _synth_linked(spark)
    return inlink_ratio(linked, dims["dim_fbid_title_inlinks"])


def _kg_instance_dedup(spark, sf):
    from openie_backend_spark.operators.instance_dedup import dedup_instances

    pages, _ = _synth(spark)
    ex = extract_pages(pages)
    return dedup_instances(ex).select(
        "url", "arg1_norm", "rel_norm", "arg2_norm", "confidence"
    )


def _kg_serving_query(spark, sf):
    from openie_backend_spark.operators.query import QuerySpec, fetch_groups

    linked, _ = _synth_linked(spark)
    return fetch_groups(linked, QuerySpec(rel="acquired")).select(
        "arg1_norm", "rel_norm", "arg2_norm", "size"
    )


def _kg_notable_rels(spark, sf):
    """T4: top-4 notable relations per typed arg (same mutated-linked
    chain as kg_typed so the oracle SQL is shared)."""
    from openie_backend_spark.operators import typer as _typer

    linked, dims = _synth_linked(spark)
    unlinked = linked.withColumn(
        "arg1_entity",
        F.when(F.col("arg1_norm") == "acme corp", F.lit(None)).otherwise(F.col("arg1_entity")),
    ).withColumn(
        "arg1_types",
        F.when(F.col("arg1_norm") == "acme corp", F.array().cast("array<string>"))
        .otherwise(F.col("arg1_types")),
    )
    ri = _typer.rel_infos(
        unlinked, "arg1", dims.get("dim_entity_stoplist"), min_rel_weight=0.05
    )
    pairs = _typer.arg_relinfos(unlinked, ri, "arg1")
    preds = _typer.type_predictions(pairs, min_share_score=2)
    return preds.select(
        "arg_norm",
        F.concat_ws(",", "notable_rels").alias("notable_rels_csv"),
        F.concat_ws(",", "top_similar_fbids").alias("top_fbids_csv"),
    )


def _kg_serving_budget(spark, sf):
    from openie_backend_spark.operators.query import QuerySpec, fetch_groups

    linked, _ = _synth_linked(spark)
    # budget chosen so the 5%-tolerance cut bites at this corpus size
    return fetch_groups(
        linked, QuerySpec(), max_instances_total=60
    ).select("arg1_norm", "rel_norm", "arg2_norm", "size")


def _kg_extreme_filter(spark, sf):
    from openie_backend_spark.operators.filters import extreme_precision_filter

    pages, _ = _synth(spark)
    ex = instance_quality_filter(extract_pages(pages), min_conf=0.0)
    return extreme_precision_filter(group_extractions(ex)).select(
        "arg1_norm", "rel_norm", "arg2_norm", "size"
    )


def _kg_serving_query_or(spark, sf):
    from openie_backend_spark.operators.query import QuerySpec, fetch_groups

    linked, _ = _synth_linked(spark)
    spec = QuerySpec(rel="acquired", arg1="Acme Corp", conjunction=False)
    return fetch_groups(linked, spec).select(
        "arg1_norm", "rel_norm", "arg2_norm", "size"
    )


def _kg_regroup_merge(spark, sf):
    """G2 on the real chain: extractions split by url hash into two
    group tables, merged back with regroup_merge — sizes, instance
    counts and the min provenance url must equal single-pass grouping."""
    from openie_backend_spark.operators.group import group_extractions as _ge
    from openie_backend_spark.operators.group import regroup_merge

    pages, _ = _synth(spark)
    ex = instance_quality_filter(
        extract_pages(pages, include_layers=False), min_conf=0.0)
    half_a = ex.filter(F.substring(F.md5("url"), 1, 1) < "8")
    half_b = ex.filter(F.substring(F.md5("url"), 1, 1) >= "8")
    merged = regroup_merge(_ge(half_a), _ge(half_b))
    return merged.select(
        "arg1_norm", "rel_norm", "arg2_norm", "size",
        F.size("instances").cast("long").alias("inst_cnt"),
        F.array_min(F.transform("instances", lambda i: i["url"])).alias("min_url"),
    )


def _kg_freq_filter(spark, sf):
    """F3 (≥2 instances) + F5 (size band) on the real chain."""
    from openie_backend_spark.operators.filters import (
        frequency_filter, group_filter)

    pages, _ = _synth(spark)
    ex = instance_quality_filter(
        extract_pages(pages, include_layers=False), min_conf=0.0)
    g = frequency_filter(
        group_filter(group_extractions(ex), min_instances=2),
        min_freq=2, max_freq=4,
    )
    return g.select("arg1_norm", "rel_norm", "arg2_norm", "size")


def _kg_fracture(spark, sf):
    """G11: explode instances and re-group on a recomputed key (rel
    only) — heals normalization drift (ExtractionGroup.scala:69-86)."""
    from openie_backend_spark.operators.materialize import fracture

    pages, _ = _synth(spark)
    ex = instance_quality_filter(
        extract_pages(pages, include_layers=False), min_conf=0.0)
    g = fracture(group_extractions(ex), key_cols=["rel_norm"])
    return g.select(
        "rel_norm", "size",
        F.array_min(F.transform("instances", lambda i: i["url"])).alias("min_url"),
    )


def _kg_frontend_regroup(spark, sf):
    """G3 stage 2 + M6: regroup linked groups by the FRONTEND key,
    merging unlinked groups into at most one linked group per key
    (ReVerbExtractionGroup.scala:139-168)."""
    from openie_backend_spark.operators.regroup import frontend_regroup

    linked, _ = _synth_linked(spark)
    return frontend_regroup(linked).select(
        "arg1_frontend", "rel_frontend", "arg2_frontend",
        "size", "merged_groups", "arg1_fbid",
    )


def _kg_serving_query_multi(spark, sf):
    """T8 with per-field phrase lists: OR within the rel field
    (QuerySpec.scala:81-134 SHOULD phrase clauses)."""
    from openie_backend_spark.operators.query import QuerySpec, fetch_groups

    linked, _ = _synth_linked(spark)
    spec = QuerySpec(rel=["acquired", "invented"])
    return fetch_groups(linked, spec).select(
        "arg1_norm", "rel_norm", "arg2_norm", "size"
    )


def _kg_answer_projections(spark, sf):
    from openie_backend_spark.operators.materialize import answer_projections

    linked, _ = _synth_linked(spark)
    return answer_projections(linked).groupBy("mask").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("size").alias("total_size")
    )


def _kg_edges(spark, sf):
    from openie_backend_spark.operators.materialize import edge_table

    linked, _ = _synth_linked(spark)
    return edge_table(spo_table(linked)).select(
        "subject_id", F.concat_ws(",", "dst_ids").alias("dst_csv"), "out_degree"
    )

def _kg_two_hop(spark, sf):
    """Two-hop neighborhood rollup on the materialized edge table
    (operators/materialize.two_hop): per source node, how many
    distinct nodes its neighbors connect to."""
    from openie_backend_spark.operators.materialize import edge_table, two_hop

    linked, _ = _synth_linked(spark)
    pairs = two_hop(edge_table(spo_table(linked)))
    return pairs.groupBy(F.col("src").alias("subject_id")).agg(
        F.count(F.lit(1)).alias("n_hop2"),
        F.min("hop2").alias("min_hop2"),
        F.max("hop2").alias("max_hop2"),
    )


def _kg_degree_stats(spark, sf):
    """Degree distribution of the KG (materialize.degree_stats): the
    skew monitor whose tail is the hub set that makes the fan-out caps
    and salted joins load-bearing."""
    from openie_backend_spark.operators.materialize import degree_stats, edge_table

    linked, _ = _synth_linked(spark)
    return degree_stats(edge_table(spo_table(linked)))


def _kg_pagerank(spark, sf):
    """Fixed-iteration PageRank over the KG adjacency list
    (materialize.pagerank, GraphX convention) — graph-native
    notability for entities the inlink dim can't cover; oracle is the
    same three iterations unrolled as DuckDB CTEs."""
    from openie_backend_spark.operators.materialize import edge_table, pagerank

    linked, _ = _synth_linked(spark)
    return pagerank(edge_table(spo_table(linked)), iterations=3)


def _kg_components(spark, sf):
    """Weakly connected components of the KG (two-star over the spo
    edge set) — the graph-hygiene report that finds disconnected
    extraction islands; oracle is the recursive-CTE closure."""
    linked, _ = _synth_linked(spark)
    spo = spo_table(linked)
    pairs = spo.select(
        F.col("subject_id").alias("doc_a"), F.col("object_id").alias("doc_b"))
    return D.dup_clusters_twostar(pairs).select(
        F.col("doc_id").alias("node_id"), F.col("cluster_id").alias("component_id"))


def _kg_triangles(spark, sf):
    """Per-node triangle participation (materialize.triangle_counts,
    compact-forward with degree-ordered orientation — the O(√m)
    wedge-fan-out bound is the skew defense)."""
    from openie_backend_spark.operators.materialize import edge_table, triangle_counts

    linked, _ = _synth_linked(spark)
    return triangle_counts(edge_table(spo_table(linked)))


def _emb_quantize(spark, sf):
    """int8 scalar quantization of the embeddings table
    (similarity.quantize_embeddings): per-vector min/max codes + a
    reconstruction-error audit column, pure codegen (no shuffle, no
    Python); codes emitted as csv for the cross-engine hash."""
    from openie_backend_spark.operators.similarity import quantize_embeddings

    q = quantize_embeddings(_t(spark, sf, "embeddings"))
    return q.select(
        "vec_id", "qmin", "qmax",
        F.concat_ws(",", F.col("codes").cast("array<string>")).alias("codes_csv"),
        "max_abs_err",
    )


def _evt_sessionize(spark, sf):
    """30-minute-gap sessionization over the events table
    (operators/sessions.sessionize): lag + running sum + aggregate, all
    sharing ONE user_id exchange; exact-micros gap rule and md5 session
    ids so the DuckDB oracle value-hashes."""
    from openie_backend_spark.operators.sessions import sessionize

    return sessionize(_t(spark, sf, "events"))


def _stream_windowed_counts(spark, sf):
    """Event-time windowed aggregation with a 2-hour watermark
    (streaming/windows.windowed_event_counts) over the events table as
    an AvailableNow file stream: append mode emits each (hour window,
    event_type) aggregate exactly once, when the watermark passes the
    window end. The emitted set is exactly the windows with
    end ≤ max(ts) − 2h — a batch predicate the DuckDB oracle
    re-derives; the late-row DROP behavior needs two passes and is
    pytest-gated (test_entry_and_streaming)."""
    import shutil

    from openie_backend_spark import mirror
    from openie_backend_spark.streaming.windows import (
        read_windowed_counts, windowed_event_counts)

    work = f"/tmp/openie_win_oracle_{mirror.source_version()}.{os.getpid()}"
    _prune_stale_workdirs("/tmp/openie_win_oracle_", work)
    shutil.rmtree(work, ignore_errors=True)
    landing = os.path.join(work, "landing")
    out = os.path.join(work, "out")
    ck = os.path.join(work, "ck")
    events = _t(spark, sf, "events")
    events.repartition(4, F.pmod("event_id", F.lit(4))).write.parquet(landing)
    # state partitions sized to this stream's key cardinality
    # (hours × event types, a few hundred keys): the session-wide
    # batch shuffle sizing would pin 64 state stores to the
    # checkpoint and pay 64 snapshot files per micro-batch
    windowed_event_counts(spark, landing, out, ck, state_partitions=8)
    return read_windowed_counts(spark, out)


def _kg_rel_synonyms(spark, sf):
    """DIRT-style relation-synonym candidates
    (kg_analytics.relation_synonyms): relations sharing (arg1, arg2)
    witness pairs, hot-pair fan-out capped with the engine's standard
    windowed top-k. min_shared=1 at synth scale (the corpus is tiny)."""
    from openie_backend_spark.operators.kg_analytics import relation_synonyms

    pages, _ = _synth(spark)
    ex = instance_quality_filter(
        extract_pages(pages, include_layers=False), min_conf=0.0)
    return relation_synonyms(group_extractions(ex), min_shared=1)


def _kg_rel_inverses(spark, sf):
    """Converse/symmetric-relation candidates
    (kg_analytics.relation_inverses): relations sharing SWAPPED
    (arg1, arg2) witness pairs. min_shared=1 at synth scale."""
    from openie_backend_spark.operators.kg_analytics import relation_inverses

    pages, _ = _synth(spark)
    ex = instance_quality_filter(
        extract_pages(pages, include_layers=False), min_conf=0.0)
    return relation_inverses(group_extractions(ex), min_shared=1)


def _kg_snapshot_diff(spark, sf):
    """Snapshot diff (kg_analytics.snapshot_diff): groups built from a
    deterministic 8/16 url-hash subset of the corpus vs groups from the
    full corpus — added/grown rows only (old ⊂ new), value-hashed
    against a DuckDB full-outer re-derivation."""
    from openie_backend_spark.operators.kg_analytics import snapshot_diff

    pages, _ = _synth(spark)
    ex = instance_quality_filter(
        extract_pages(pages, include_layers=False), min_conf=0.0)
    old = group_extractions(ex.filter(F.substring(F.md5("url"), 1, 1) < "8"))
    new = group_extractions(ex)
    return snapshot_diff(old, new)


def _txt_tfidf_keywords(spark, sf):
    """Top-5 tf-idf keywords per document (curation.tfidf_keywords):
    two map-side-combined aggregations + broadcast N + WindowGroupLimit
    top-k, no Python."""
    return CU.tfidf_keywords(_t(spark, sf, "documents"), k=5)


def _s4_point_lookup(spark, sf):
    """S4: bucketed point reads on BOTH sort orders — materialize the
    synth SPO + OPS tables, look up one subject and one object through
    the partition-pruned paths (materialize.lookup_subject/_object),
    return the union. The oracle re-derives both rows from the
    grouping chain; pruning itself is plan-asserted in pytest and
    measured in BENCH/SERVING.md. The KG chain runs ONCE (the spo
    parquet is written, then reread for ids and the ops copy), and the
    workdir is staged pid-suffixed + atomically renamed so concurrent
    harness runs never read a half-deleted table."""
    import shutil

    from openie_backend_spark import mirror
    from openie_backend_spark.operators.materialize import (
        bucket_expr, lookup_object, lookup_subject,
    )

    import hashlib

    # mirror.source_version covers nlp+extract; the cached spo also
    # depends on the downstream chain, so fold those sources in too
    pkg = os.path.dirname(os.path.abspath(mirror.__file__))
    h = hashlib.md5(mirror.source_version().encode())
    for rel in ("operators/link.py", "operators/group.py",
                "operators/filters.py", "operators/materialize.py"):
        with open(os.path.join(pkg, rel), "rb") as fh:
            h.update(fh.read())
    work = f"/tmp/openie_pointread_oracle_{h.hexdigest()[:12]}"
    n_buckets = 16
    spo_dir, ops_dir = f"{work}/spo", f"{work}/ops"
    if not os.path.isdir(work):
        tmp = f"{work}.tmp.{os.getpid()}"
        # build the linked KG only on a cache miss (r6): link_groups
        # materializes its input eagerly, so constructing it on the
        # cached path re-ran the whole extraction chain for nothing
        linked, _ = _synth_linked(spark)
        spo = spo_table(linked)
        spo.withColumn("_bucket", bucket_expr(F.col("subject_id"), n_buckets)) \
           .write.mode("overwrite").partitionBy("_bucket") \
           .parquet(f"{tmp}/spo")
        # reread the materialized table: no second run of the KG chain
        spark.read.parquet(f"{tmp}/spo").drop("_bucket") \
            .withColumn("_bucket", bucket_expr(F.col("object_id"), n_buckets)) \
            .write.mode("overwrite").partitionBy("_bucket") \
            .parquet(f"{tmp}/ops")
        try:
            os.rename(tmp, work)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)  # lost the race
    spo_read = spark.read.parquet(spo_dir)
    # min() mirrors the oracle exactly (first() would be
    # partition-order-dependent if the norm ever maps to several ids)
    sid = spo_read.filter(F.col("subject") == "acme corp") \
                  .agg(F.min("subject_id")).first()[0]
    oid = spo_read.filter(F.col("object") == "acme corp") \
                  .agg(F.min("object_id")).first()[0]
    hit_s = lookup_subject(spark, spo_dir, sid, n_buckets).withColumn(
        "side", F.lit("subject"))
    hit_o = lookup_object(spark, ops_dir, oid, n_buckets).withColumn(
        "side", F.lit("object"))
    return hit_s.unionByName(hit_o).select(
        "side", "subject", "predicate", "object",
        F.col("group_size").cast("long").alias("group_size"),
    )


_TAB_FIXTURE = "/tmp/openie_tab_fixture_v1.tab"
def _tab_iv_sql(col: str, which: str) -> str:
    """DuckDB expression for one bound of a serialized interval,
    mirroring ``intervalFromString`` (ReVerbExtraction.scala:180-196)
    and sources/tab._interval_bounds: the TRIMMED literal's digit
    runs — two -> open unless it ends with ']' or '}' (then end+1);
    one -> singleton [n, n+1); zero/3+ runs or any 10+-digit run ->
    NULL (cross-engine overflow guard, see _interval_bounds)."""
    t = f"trim({col})"
    nums = rf"regexp_extract_all({t}, '\d+')"
    n = f"len({nums})"
    guard = rf"NOT regexp_matches({t}, '\d{{10}}')"
    if which == "s":
        return (f"CAST(CASE WHEN {guard} AND {n} IN (1, 2) "
                f"THEN CAST({nums}[1] AS INTEGER) END AS INTEGER)")
    bump = f"(CASE WHEN {t} LIKE '%)' THEN 0 ELSE 1 END)"
    return (f"CAST(CASE WHEN {guard} AND {n} = 2 "
            f"THEN CAST({nums}[2] AS INTEGER) + {bump} "
            f"WHEN {guard} AND {n} = 1 "
            f"THEN CAST({nums}[1] AS INTEGER) + 1 END AS INTEGER)")


def _ensure_tab_fixture() -> str:
    """Deterministic tab-serialized ReVerbExtraction lines in the
    reference's 7-column on-disk format (three ``[start, end)``
    intervals, three space-joined aligned token layers, url —
    ``models/.../ReVerbExtraction.scala:137-147``), for the S1/M12
    source oracle. Covers all three interval literal forms the
    reference's ``intervalFromString`` accepts
    (``ReVerbExtraction.scala:180-196``): open ``[a, b)``, closed
    end-inclusive ``[a, b]``, singleton ``{n}``. Includes a ``None``
    url row plus two lines both readers must drop: one with no tabs
    and one whose rel interval is garbage (reference fails the whole
    line unless ALL three intervals parse). Regenerated
    unconditionally on every call (an exists-check would let an
    edited generator silently serve the stale /tmp file, the
    ADVICE-r2 synth cache bug class)."""
    words = ["alpha", "beta", "gamma", "delta",
             "epsilon", "zeta", "eta", "theta"]
    lines = []
    for i in range(40):
        n = 5 + i % 4
        toks = [words[(i + j) % 8] for j in range(n)]
        tags = ["NNP" if j == 0 else ("VBZ" if j == 2 else "NN")
                for j in range(n)]
        chks = ["B-NP" if j in (0, 3) else ("B-VP" if j == 2 else "I-NP")
                for j in range(n)]
        url = "None" if i % 7 == 0 else f"http://example.org/page/{i}"
        # rotate through the three serialized interval forms the
        # reference accepts: open / closed end-inclusive / singleton
        if i % 5 == 3:
            rel_iv = "[2, 2]"          # closed == [2, 3)
        elif i % 5 == 4:
            rel_iv = "{2}"             # singleton == [2, 3)
        else:
            rel_iv = "[2, 3)"
        arg2_iv = f"[3, {n - 1}]" if i % 6 == 5 else f"[3, {n})"
        lines.append("\t".join([
            "[0, 2)", rel_iv, arg2_iv,
            " ".join(toks), " ".join(tags), " ".join(chks), url,
        ]))
    lines.append("malformed line without tabs")
    # valid arg1/arg2 but unparseable rel -> whole line must drop
    lines.append("\t".join([
        "[0, 2)", "nonsense", "[3, 5)",
        "alpha beta gamma delta epsilon", "NNP NN VBZ NN NN",
        "B-NP I-NP B-VP B-NP I-NP", "http://example.org/bad",
    ]))
    # inverted span (Interval.open throws in the reference) -> drop
    lines.append("\t".join([
        "[0, 2)", "[2, 3)", "[5, 3)",
        "alpha beta gamma delta epsilon", "NNP NN VBZ NN NN",
        "B-NP I-NP B-VP B-NP I-NP", "http://example.org/inverted",
    ]))
    tmp = f"{_TAB_FIXTURE}.tmp.{os.getpid()}"
    with open(tmp, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    os.replace(tmp, _TAB_FIXTURE)
    return _TAB_FIXTURE


def _src_tab_extractions(spark, sf):
    """S1/M12: the reference's tab-serialized extraction dump parsed
    JVM-side (sources/tab.py), malformed lines dropped."""
    from openie_backend_spark.sources.tab import read_extractions_tab

    df = read_extractions_tab(spark, _ensure_tab_fixture())
    return df.select(
        "arg1_start", "arg1_end", "rel_start", "rel_end",
        "arg2_start", "arg2_end",
        F.concat_ws(" ", "tokens").alias("token_str"),
        F.concat_ws(" ", "pos_tags").alias("tag_str"),
        F.coalesce("url", F.lit("")).alias("url"),
    )


def _m4_split_streams(spark, sf):
    """M4: route the second-extractor output by kind tag — verb-mediated
    ('T' n-ary, 'R' relclause) vs noun-mediated ('N') streams
    (hadoop/.../scoobi splitter stage)."""
    from openie_backend_spark.operators.nary import extract_nary, split_streams

    pages, _ = _synth(spark)
    verb, noun = split_streams(extract_nary(pages))
    both = verb.withColumn("stream", F.lit("verb")).unionByName(
        noun.withColumn("stream", F.lit("noun")))
    return both.groupBy("stream").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.countDistinct("rel_norm").alias("n_rels"),
    )


def _src_html_to_text(spark, sf):
    """S-layer boilerplate stripping: visible text from raw ``html``
    bytes (script/style/comment removal, tag strip, entity decode) —
    pure JVM regexp chain, no Python (functions/text.html_to_text)."""
    pages, _ = _synth(spark)
    return pages.select(
        "url", T.html_to_text("html").alias("clean_text")
    ).withColumn("n_chars", F.length("clean_text"))


def _html_to_text_oracle_sql() -> str:
    """DuckDB mirror of the html_to_text regexp chain over the same
    synth pages parquet (both engines accept the inline-flag
    patterns; the chain itself IS the operator, like the LSH planes)."""
    from openie_backend_spark import synth as _s
    from openie_backend_spark.functions.text import HTML_STRIP_STEPS

    pages = os.path.join(_s.ensure_corpus(), "pages.parquet")
    expr = "decode(html)"
    for pat, rep in HTML_STRIP_STEPS:
        p = pat.replace("'", "''")
        r = rep.replace("'", "''")
        expr = f"regexp_replace({expr}, '{p}', '{r}', 'g')"
    return f"""
        SELECT url, trim({expr}) AS clean_text,
               CAST(length(trim({expr})) AS INTEGER) AS n_chars
        FROM read_parquet('{pages}')
    """


def _stream_incremental_merge(spark, sf):
    """Streaming ingest as a value-hash oracle (SURVEY §2.9,
    ``hadoop/.../Ingester.scala:75,110-120``): split the synth corpus
    into three deterministic micro-batches (md5-of-url mod 3 — both
    engines compute md5 identically), run three AvailableNow
    ``run_incremental`` catch-up passes into a bucketed groups table,
    and return the final (group key, size) state. The oracle is a
    single-pass DuckDB grouping of the FULL input — incremental merge
    must equal batch recompute. ``needs_relink`` stays pytest-gated
    (bucket residency uses Spark murmur3, not DuckDB-expressible)."""
    import shutil

    from openie_backend_spark import mirror
    from openie_backend_spark.streaming.ingest import run_incremental

    pages, _ = _synth(spark)
    # pid-suffixed: rebuilt per run, and two concurrent harness runs
    # must not clobber each other's checkpoints (ADVICE r4)
    work = f"/tmp/openie_stream_oracle_{mirror.source_version()}.{os.getpid()}"
    _prune_stale_workdirs("/tmp/openie_stream_oracle_", work)
    shutil.rmtree(work, ignore_errors=True)
    landing = os.path.join(work, "landing")
    groups_dir = os.path.join(work, "groups")
    ckpt = os.path.join(work, "ckpt")
    os.makedirs(landing)
    slim = pages.select("url", "text", "lang")
    batch_of = F.conv(F.substring(F.md5("url"), 1, 4), 16, 10).cast("int") % 3
    for b in range(3):
        slim.filter(batch_of == b).write.parquet(os.path.join(landing, f"b{b}"))
        run_incremental(spark, landing + "/*", groups_dir, ckpt, slim.schema)
    return spark.read.parquet(groups_dir).select(
        "arg1_norm", "rel_norm", "arg2_norm",
        F.col("size").cast("long").alias("size"),
    )


def _stream_incremental_merge_oracle_sql() -> str:
    """Single-pass grouping of the full input over the mirror
    extractions — the instance-set dedup + F1 empty-key filter
    ``group_extractions`` applies (no F2: the ingest path groups raw
    extractions, ``streaming/ingest.py:148``). Confidence is rounded
    to 3 digits inside the DISTINCT so float repr differences between
    the single-process mirror and Spark cannot split instance sets."""
    from openie_backend_spark import mirror

    ext_synth = mirror.ensure()["ext_synth"]
    return f"""
        SELECT arg1_norm, rel_norm, arg2_norm,
               CAST(count(*) AS BIGINT) AS size
        FROM (
            SELECT DISTINCT arg1_norm, rel_norm, arg2_norm, url, sent_id,
                   arg1_start, arg1_end, rel_start, rel_end,
                   arg2_start, arg2_end, arg1_text, rel_text, arg2_text,
                   round(confidence, 3) AS confidence
            FROM read_parquet('{ext_synth}')
            WHERE length(trim(arg1_norm)) > 0
              AND length(trim(rel_norm)) > 0
              AND length(trim(arg2_norm)) > 0
        ) GROUP BY 1, 2, 3
    """


def _s5_pipeline_resume(spark, sf):
    """S3/S5: the staged parquet sink with manifest resume
    (plans/pipeline.py; reference restarts by line offset,
    ``docs/reverb-cluster-extraction-indexing.txt:92-94``). Cold-run
    the full KG DAG into a fresh workdir, then re-run: every stage
    must RESUME from its manifest entry (resumed=TRUE) with row
    counts matching a DuckDB re-derivation of each stage's semantics
    over the mirror extractions — manifest counters must equal
    materialized reality."""
    import shutil

    from openie_backend_spark import mirror
    from openie_backend_spark.plans.pipeline import Pipeline

    pages, _ = _synth(spark)
    # pid-suffixed: resume is exercised by the two runs WITHIN this
    # function, so no cross-run cache is wanted (ADVICE r4)
    work = f"/tmp/openie_pipeline_oracle_{mirror.source_version()}.{os.getpid()}"
    _prune_stale_workdirs("/tmp/openie_pipeline_oracle_", work)
    shutil.rmtree(work, ignore_errors=True)
    Pipeline(spark, work).run(pages)   # cold run: materialize all stages
    p2 = Pipeline(spark, work)         # fresh driver, same workdir
    p2.run(pages)                      # must skip every stage via manifest
    rows = [(r.name, int(r.rows), bool(r.resumed)) for r in p2.results]
    return spark.createDataFrame(rows, "stage string, n_rows long, resumed boolean")


def _s5_pipeline_resume_oracle_sql() -> str:
    """Per-stage expected row counts, re-derived in DuckDB from the
    mirror extractions: F2@0.5 filter -> instance-set dedup -> group
    -> spo/edges/nodes id math (sha256 node ids, materialize.py:20)."""
    from openie_backend_spark import mirror
    from openie_backend_spark.kg_oracles import _F2, _INST_SLIM

    ext_synth = mirror.ensure()["ext_synth"]
    return f"""
        WITH ext AS (SELECT * FROM read_parquet('{ext_synth}')),
        flt AS (SELECT * FROM ext WHERE ({_F2}) AND confidence >= 0.5),
        ded AS (SELECT DISTINCT arg1_norm, rel_norm, arg2_norm,
                {_INST_SLIM.replace('confidence',
                                    'round(confidence, 3) AS confidence')}
                FROM flt),
        grp AS (SELECT arg1_norm, rel_norm, arg2_norm, count(*) AS size
                FROM ded GROUP BY 1, 2, 3),
        spo AS (SELECT 'n:' || substr(sha256(arg1_norm), 1, 16) AS sid,
                       'n:' || substr(sha256(arg2_norm), 1, 16) AS oid
                FROM grp)
        SELECT 'extractions' AS stage,
               CAST((SELECT count(*) FROM ext) AS BIGINT) AS n_rows,
               TRUE AS resumed
        UNION ALL SELECT 'extractions_filtered',
               (SELECT count(*) FROM flt), TRUE
        UNION ALL SELECT 'groups', (SELECT count(*) FROM grp), TRUE
        UNION ALL SELECT 'groups_filtered', (SELECT count(*) FROM grp), TRUE
        UNION ALL SELECT 'spo', (SELECT count(*) FROM grp), TRUE
        UNION ALL SELECT 'ops', (SELECT count(*) FROM grp), TRUE
        UNION ALL SELECT 'edges', (SELECT count(DISTINCT sid) FROM spo), TRUE
        UNION ALL SELECT 'nodes',
               (SELECT count(*) FROM
                   (SELECT sid FROM spo UNION SELECT oid FROM spo)), TRUE
    """


_SENT_FIXTURE = "/tmp/openie_sent_fixture_v1.tab"


def _ensure_sent_fixture() -> str:
    """``sentence \\t url`` lines for the S2 chunker-input source
    (regenerated unconditionally, same policy as the S1 fixture)."""
    words = ["alpha", "beta", "gamma", "delta", "epsilon"]
    lines = [
        f"{' '.join(words[(i + j) % 5] for j in range(4 + i % 3))} ."
        f"\thttp://example.org/sent/{i}"
        for i in range(30)
    ]
    tmp = f"{_SENT_FIXTURE}.tmp.{os.getpid()}"
    with open(tmp, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    os.replace(tmp, _SENT_FIXTURE)
    return _SENT_FIXTURE


def _src_tab_sentences(spark, sf):
    """S2: the reference's sentence+url chunker-input lines parsed
    JVM-side (sources/tab.read_sentences_tab)."""
    from openie_backend_spark.sources.tab import read_sentences_tab

    df = read_sentences_tab(spark, _ensure_sent_fixture())
    return df.select("text", "url", F.length("text").alias("n_chars"))


def _j2_salted_join(spark, sf):
    """J2: deterministic salted equi-join (functions/skew.salted_join,
    the TypeAttacher.scala:20-25 hot-key spread) — aggregate result is
    salt-invariant, so the oracle is a plain join."""
    from openie_backend_spark.functions.skew import salted_join

    o = _t(spark, sf, "orders").withColumnRenamed("o_custkey", "custkey")
    c = _t(spark, sf, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment")
    joined = salted_join(o, c, "custkey", buckets=8, how="left")
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """FROZEN at exactly 50 entries (round 5): the driver records the
    first 50 dict entries, so every real-chain operator must live
    inside that window (VERDICT r4 'Next round' #1). Ten TPC-H analog
    rows whose §2 primitive is duplicated by a driver-green kg row
    moved to ``extra_queries()`` (still run by scripts/check_oracles.py
    and bench.py, just not competing for driver rows):

      g1_group_agg → kg_groups/kg_spo (G1), g2_regroup_hist →
      kg_regroup_merge (G2), g4_ratio → kg_inlink_ratio (G4),
      t7_topk → kg_serving_budget (T7), t9 kept (only T9 row),
      j9_upsert → stream_incremental_merge (J9 real chain),
      f2_doc_filters → kg chains (F2), g12_projections →
      kg_answer_projections (G12), set_union_distinct →
      dedup_clusters' edge union + kg distinct (set ops),
      q_conjunctive_topk → kg_serving_query* (T8),
      w_t1_events_top2 → t9_per_key_cap (same window primitive).

    Do NOT append here — add new operators to ``extra_queries()``
    unless a window slot is freed deliberately."""
    return {
        "g5_argpair_cap": _g5_argpair_cap,
        "t9_per_key_cap": _t9_per_key_cap,
        "j3_broadcast_dim": _j3_broadcast_dim,
        "j_left_anti": _j_left_anti,
        "f9_hash_sample": _f9_hash_sample,
        "txt_token_count": _txt_token_count,
        "txt_bpe_count": _txt_bpe_count,
        "txt_lang_id": _txt_lang_id,
        "txt_quality": _txt_quality,
        "txt_fingerprint": _txt_fingerprint,
        "dedup_exact": _dedup_exact,
        "dedup_minhash_lsh": _dedup_minhash_lsh,
        "dedup_ngram_jaccard": _dedup_ngram_jaccard,
        "dedup_clusters": _dedup_clusters,
        "dedup_simhash": _dedup_simhash,
        "dedup_simhash_banded": _dedup_simhash_banded,
        "dedup_embedding": _dedup_embedding,
        "ann_bruteforce": _ann_bruteforce,
        "ann_lsh": _ann_lsh,
        "kg_extractions": _kg_extractions,
        "kg_groups": _kg_groups,
        "kg_spo": _kg_spo,
        "kg_linked": _kg_linked,
        "kg_typed": _kg_typed,
        "kg_regroup_entity": _kg_regroup_entity,
        "kg_inlink_ratio": _kg_inlink_ratio,
        "kg_instance_dedup": _kg_instance_dedup,
        "kg_serving_query": _kg_serving_query,
        "kg_serving_query_or": _kg_serving_query_or,
        "kg_serving_query_multi": _kg_serving_query_multi,
        "kg_regroup_merge": _kg_regroup_merge,
        "kg_freq_filter": _kg_freq_filter,
        "kg_fracture": _kg_fracture,
        "kg_frontend_regroup": _kg_frontend_regroup,
        "kg_extreme_filter": _kg_extreme_filter,
        "kg_serving_budget": _kg_serving_budget,
        "kg_notable_rels": _kg_notable_rels,
        "kg_answer_projections": _kg_answer_projections,
        "kg_edges": _kg_edges,
        "kg_two_hop": _kg_two_hop,
        "kg_nary": _kg_nary,
        "mm_features": _mm_features,
        "src_tab_extractions": _src_tab_extractions,
        "src_html_to_text": _src_html_to_text,
        "m4_split_streams": _m4_split_streams,
        "j2_salted_join": _j2_salted_join,
        "stream_incremental_merge": _stream_incremental_merge,
        "s5_pipeline_resume": _s5_pipeline_resume,
        "s4_point_lookup": _s4_point_lookup,
        "src_tab_sentences": _src_tab_sentences,
    }


def extra_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """TPC-H analog demos OUTSIDE the driver's 50-row window (see
    queries() docstring). Verified locally by scripts/check_oracles.py
    against the same oracle_sql() entries; g1/t9-style rows also serve
    as bench-suite tells (bench.py)."""
    return {
        "g1_group_agg": _g1_group_agg,
        "g2_regroup_hist": _g2_regroup_hist,
        "g4_ratio": _g4_ratio,
        "t7_topk": _t7_topk,
        "j9_upsert": _j9_upsert,
        "f2_doc_filters": _f2_doc_filters,
        "g12_projections": _g12_projections,
        "set_union_distinct": _set_union_distinct,
        "q_conjunctive_topk": _q_conjunctive_topk,
        "w_t1_events_top2": _w_t1_events_top2,
        # round-5 additions (window is frozen, so these live here):
        "txt_repetition": _txt_repetition,
        "web_pii_mask": _web_pii_mask,
        "web_url_canon": _web_url_canon,
        "dedup_lines": _dedup_lines,
        "web_decontaminate": _web_decontaminate,
        "pack_sequences": _pack_sequences,
        "web_host_stats": _web_host_stats,
        "dsir_importance": _dsir_importance,
        "host_quota_sample": _host_quota_sample,
        "kg_degree_stats": _kg_degree_stats,
        "kg_pagerank": _kg_pagerank,
        "kg_components": _kg_components,
        "kg_triangles": _kg_triangles,
        "txt_tfidf_keywords": _txt_tfidf_keywords,
        "kg_rel_synonyms": _kg_rel_synonyms,
        "kg_rel_inverses": _kg_rel_inverses,
        "kg_snapshot_diff": _kg_snapshot_diff,
        "stream_windowed_counts": _stream_windowed_counts,
        "evt_sessionize": _evt_sessionize,
        "emb_quantize": _emb_quantize,
        "ann_ivf": _ann_ivf,
        "dedup_bloom": _dedup_bloom,
        "mix_temperature": _mix_temperature,
        "kg_rel_signature": _kg_rel_signature,
        "dedup_canonical": _dedup_canonical,
        "kg_entity_aliases": _kg_entity_aliases,
        "dedup_passages": _dedup_passages,
        "mix_split": _mix_split,
        "txt_profile": _txt_profile,
        "txt_lm_ce": _txt_lm_ce,
        "txt_repeated_spans": _txt_repeated_spans,
    }


# ---------------------------------------------------------- oracle SQL

_WS = r"'\s+'"


def _sql_regexp_chain(expr: str, steps) -> str:
    """Nested DuckDB regexp_replace chain over (pattern, replacement)
    steps — the SAME tuples the Spark column functions consume
    (functions/web.py), so the two engines cannot drift. Plain
    concatenation (not f-strings): the patterns contain ``{m,n}``
    quantifiers."""
    for pat, rep in steps:
        expr = "regexp_replace(" + expr + ", '" + pat + "', '" + rep + "', 'g')"
    return expr


def _pii_oracle_sql() -> str:
    """Staged CTE mirror of functions/web.pii_counts + pii_mask:
    counts on the progressively-masked text, in PII_STEPS order."""
    from openie_backend_spark.functions.web import PII_STEPS

    (_, e_pat, e_rep), (_, i_pat, i_rep), (_, p_pat, p_rep) = PII_STEPS
    return (
        "WITH planted AS (SELECT doc_id, " + _PII_PLANT_SQL + " AS t FROM documents),\n"
        "s1 AS (SELECT doc_id,\n"
        "       len(regexp_extract_all(t, '" + e_pat + "')) AS n_email,\n"
        "       regexp_replace(t, '" + e_pat + "', '" + e_rep + "', 'g') AS t1 FROM planted),\n"
        "s2 AS (SELECT doc_id, n_email,\n"
        "       len(regexp_extract_all(t1, '" + i_pat + "')) AS n_ipv4,\n"
        "       regexp_replace(t1, '" + i_pat + "', '" + i_rep + "', 'g') AS t2 FROM s1)\n"
        "SELECT doc_id, n_email, n_ipv4,\n"
        "       len(regexp_extract_all(t2, '" + p_pat + "')) AS n_phone,\n"
        "       md5(regexp_replace(t2, '" + p_pat + "', '" + p_rep + "', 'g')) AS masked_md5\n"
        "FROM s2"
    )


# Shared SQL mirror fragments of functions/web.url_canonicalize /
# url_host, used by BOTH _url_canon_oracle_sql and
# _host_stats_oracle_sql (hoisted so a semantics fix cannot silently
# fork the two oracles). `c` is the step-chained URL, `u` the raw one.
_SQL_SCHEME = r"lower(regexp_extract(c, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))"
_SQL_HOST_LOWER = (
    r"lower(regexp_extract(c, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1))"
)
# only the scheme's OWN default port is redundant (http:80 / https:443)
_SQL_CANON_HOST = (
    "(CASE WHEN " + _SQL_SCHEME + " = 'http' THEN regexp_replace("
    + _SQL_HOST_LOWER + ", ':80$', '', 'g')"
    " WHEN " + _SQL_SCHEME + " = 'https' THEN regexp_replace("
    + _SQL_HOST_LOWER + ", ':443$', '', 'g')"
    " ELSE " + _SQL_HOST_LOWER + " END)"
)
_SQL_REST = r"regexp_extract(c, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$', 1)"
_SQL_RAW_HOST = (
    r"regexp_replace(lower(regexp_extract(u, "
    r"'^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)), ':\d+$', '', 'g')"
)
_SQL_CANON_URL = (
    "CASE WHEN " + _SQL_SCHEME + " = '' THEN c\n"
    "         ELSE " + _SQL_SCHEME + " || '://' || " + _SQL_CANON_HOST
    + " || " + _SQL_REST + " END"
)


def _url_canon_oracle_sql() -> str:
    """Mirror of functions/web.url_canonicalize + url_host over the
    planted URL: shared step chain, then scheme/host lowering."""
    from openie_backend_spark.functions.web import URL_CANON_STEPS

    chain = _sql_regexp_chain("u", URL_CANON_STEPS)
    return (
        "WITH raw AS (SELECT doc_id, " + _URL_PLANT_SQL + " AS u FROM documents),\n"
        "c0 AS (SELECT doc_id, u, " + chain + " AS c FROM raw),\n"
        "canon AS (SELECT doc_id,\n"
        "    " + _SQL_CANON_URL + " AS canon_url,\n"
        "    " + _SQL_RAW_HOST + " AS host\n"
        "  FROM c0)\n"
        "SELECT canon_url, host, count(*) AS n_docs, min(doc_id) AS first_doc\n"
        "FROM canon GROUP BY 1, 2"
    )

def _host_stats_oracle_sql() -> str:
    """Mirror of _web_host_stats: the SAME hoisted canon-URL fragments
    as _url_canon_oracle_sql plus whitespace token counts, one GROUP BY
    host (all-integer measures, float-free hash)."""
    from openie_backend_spark.functions.web import URL_CANON_STEPS

    chain = _sql_regexp_chain("u", URL_CANON_STEPS)
    return (
        "WITH raw AS (SELECT doc_id,\n"
        "    CASE WHEN length(trim(text)) = 0 THEN 0\n"
        "         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,\n"
        "    " + _URL_PLANT_SQL + " AS u FROM documents),\n"
        "c0 AS (SELECT doc_id, n_tokens, u, " + chain + " AS c FROM raw),\n"
        "canon AS (SELECT doc_id, n_tokens,\n"
        "    " + _SQL_CANON_URL + " AS canon_url,\n"
        "    " + _SQL_RAW_HOST + " AS host\n"
        "  FROM c0)\n"
        "SELECT host, count(*) AS n_docs, count(DISTINCT canon_url) AS n_urls,\n"
        "       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens, min(doc_id) AS first_doc\n"
        "FROM canon GROUP BY 1"
    )


_SHINGLES3 = (
    "list_sort(list_distinct(list_transform("
    "  range(1, greatest(len(regexp_split_to_array(trim(lower(text)), {ws})) - 1, 1)),"
    "  i -> array_to_string(regexp_split_to_array(trim(lower(text)), {ws})[i:i+2], ' ')"
    ")))"
).format(ws=_WS)

def _shingles5_over(expr: str) -> str:
    """DuckDB mirror of functions/text.shingles(expr, 5) over an
    arbitrary text expression (distinct sorted word 5-grams; DuckDB
    list slices are INCLUSIVE so [i:i+4] is five tokens)."""
    w = f"regexp_split_to_array(trim(lower({expr})), {_WS})"
    return (
        "list_sort(list_distinct(list_transform("
        f"  range(1, greatest(len({w}) - 3, 1)),"
        f"  i -> array_to_string({w}[i:i+4], ' ')"
        ")))"
    )


_SHINGLES5 = _shingles5_over("text")


def _shingles2_over(expr: str) -> str:
    """DuckDB mirror of functions/text.shingles(expr, 2) (distinct
    sorted word bigrams; DuckDB list slices are INCLUSIVE so [i:i+1]
    is two tokens, and range(a,b) is half-open so i runs 1..len-1)."""
    w = f"regexp_split_to_array(trim(lower({expr})), {_WS})"
    return (
        "list_sort(list_distinct(list_transform("
        f"  range(1, greatest(len({w}), 1)),"
        f"  i -> array_to_string({w}[i:i+1], ' ')"
        ")))"
    )


def _dsir_oracle_sql(n_buckets: int = 4096) -> str:
    """Mirror of curation.importance_weights over the doc_id%20==0
    target slice: md5-prefix bucket hashing, Laplace-smoothed
    double-ratio, ONE ln per bucket floored to integer milli-nats,
    integer document sums (summation-order-proof; see the operator
    docstring)."""
    b = n_buckets
    bucket = "CAST(('0x' || substr(md5(gram), 1, 6)) AS BIGINT) % " + str(b)
    return f"""
        WITH doc_sh AS (
            SELECT doc_id, {_shingles2_over('text')}[1:512] AS sh FROM documents
        ), db AS (
            SELECT doc_id, {bucket} AS bucket
            FROM (SELECT doc_id, unnest(sh) AS gram FROM doc_sh)
        ), tb AS (
            SELECT {bucket} AS bucket
            FROM (SELECT unnest(sh) AS gram FROM doc_sh WHERE doc_id % 20 = 0)
        ), th AS (SELECT bucket, count(*) AS ct FROM tb GROUP BY 1),
        rh AS (SELECT bucket, count(*) AS cr FROM db GROUP BY 1),
        tot AS (SELECT (SELECT sum(ct) FROM th) AS nt,
                       (SELECT sum(cr) FROM rh) AS nr),
        wts AS (
            SELECT coalesce(rh.bucket, th.bucket) AS bucket,
                   CAST(floor(1000.0 * ln(
                       (CAST(coalesce(ct, 0) + 1 AS DOUBLE)
                        * CAST(nr + {b} AS DOUBLE))
                       / (CAST(coalesce(cr, 0) + 1 AS DOUBLE)
                          * CAST(nt + {b} AS DOUBLE))
                   )) AS BIGINT) AS w
            FROM rh FULL JOIN th ON rh.bucket = th.bucket, tot
        )
        SELECT doc_id, count(*) AS n_grams,
               CAST(sum(w) AS BIGINT) AS score_milli
        FROM db JOIN wts USING (bucket) GROUP BY 1
    """

# Banded-LSH candidate pairs with the star-cap (mirror of
# operators/dedup.minhash_lsh_pairs with max_full_bucket=64): buckets
# over the cap emit representative→member star pairs, not all pairs.
def _capped_pairs_sql(src: str, id_col: str = "doc_id", cap: int = 64) -> str:
    """Mirror of dedup.bucketed_pairs (star-of-groups cap): ``src`` is
    a CTE name exposing (``id_col``, ord, band_idx, band_key). In-cap
    buckets emit all pairs from the (ord, id)-sorted member list;
    over-cap buckets emit per-member star pairs — member → its ord
    group's min-id rep, group rep → the bucket's (ord, id)-first
    member — identical semantics to the Spark helper, including the
    least/greatest doc_a<doc_b normalization."""
    return f"""
            annotated_{src} AS (
                SELECT band_idx, band_key, ord AS o, {id_col} AS i,
                       count(*) OVER (PARTITION BY band_idx, band_key) AS n,
                       min({id_col}) OVER (PARTITION BY band_idx, band_key, ord) AS grp_rep,
                       min(struct_pack(o := ord, i := {id_col}))
                           OVER (PARTITION BY band_idx, band_key) AS frst
                FROM {src}
            ), buckets_{src} AS (
                SELECT band_idx, band_key,
                       list_sort(list(struct_pack(o := o, i := i))
                                 FILTER (WHERE n <= {cap})) AS ms,
                       list(struct_pack(
                           a := least(CASE WHEN i <> grp_rep THEN grp_rep
                                           ELSE frst.i END, i),
                           b := greatest(CASE WHEN i <> grp_rep THEN grp_rep
                                              ELSE frst.i END, i)))
                         FILTER (WHERE n > {cap}
                                 AND NOT (i = grp_rep AND i = frst.i)) AS caps
                FROM annotated_{src} GROUP BY 1, 2
            ), expanded_{src} AS (
                SELECT coalesce(flatten(list_transform(range(1, len(ms)), j ->
                           list_transform(ms[j+1:len(ms)], m ->
                               struct_pack(a := least(ms[j].i, m.i),
                                           b := greatest(ms[j].i, m.i))))), []) ||
                       coalesce(caps, []) AS ps
                FROM buckets_{src}
            ), un_{src} AS (SELECT unnest(ps) AS p FROM expanded_{src}),
            pairs_{src} AS (SELECT DISTINCT p.a AS doc_a, p.b AS doc_b FROM un_{src})
    """


_MINHASH_PAIRS_SQL = f"""
            WITH sigs AS (
                SELECT doc_id, {_SHINGLES3}[1:512] AS sh FROM documents
            ), mh AS (
                SELECT doc_id,
                       [list_min(list_transform(sh, g -> md5(CAST(j AS VARCHAR) || ':' || g)) )
                        FOR j IN [0,1,2,3,4,5,6,7]] AS sig
                FROM sigs WHERE len(sh) > 0
            ), bands AS (
                SELECT doc_id, array_to_string(sig, ',') AS ord, b AS band_idx,
                       md5(sig[2*b+1] || ',' || sig[2*b+2]) AS band_key
                FROM mh, (SELECT unnest([0,1,2,3]) AS b)
            ), {_capped_pairs_sql('bands')}
            SELECT doc_a, doc_b FROM pairs_bands
"""

# Connected-components ground truth over the MinHash candidate pairs
# for dedup_clusters and dedup_canonical (dedup.dup_clusters_twostar):
# (doc_id, cluster_id = component minimum).
_CLUSTERS_SQL = f"""
    WITH RECURSIVE pairs AS (
    {_MINHASH_PAIRS_SQL}
),
    sym AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach AS (
        SELECT a, b FROM sym
        UNION
        SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    )
    SELECT a AS doc_id, least(a, min(b)) AS cluster_id
    FROM reach GROUP BY a
"""

def _dedup_passages_sql(ngram: int = 8, min_docs: int = 2,
                        max_positions: int = 2048) -> str:
    """Mirror of dedup.duplicate_passages: same md5 word-n-grams, same
    distinct-doc threshold, same gaps-and-islands span merge."""
    return f"""
        WITH toks AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(lower(text)), {_WS}) AS ws
            FROM documents
        ), pos AS (
            SELECT doc_id, CAST(t.s AS BIGINT) AS start,
                   md5(array_to_string(ws[t.s : t.s + {ngram - 1}], ' ')) AS gh
            FROM toks,
                 unnest(range(1, least(len(ws) - {ngram - 1},
                                       {max_positions}) + 1)) AS t(s)
            WHERE len(ws) >= {ngram}
        ), dup AS (
            SELECT gh FROM (
                SELECT gh, count(DISTINCT doc_id) AS n_docs
                FROM pos GROUP BY gh
            ) WHERE n_docs >= {min_docs}
        ), flagged AS (
            SELECT doc_id, start, start + {ngram - 1} AS e
            FROM pos WHERE gh IN (SELECT gh FROM dup)
        ), brks AS (
            SELECT doc_id, start, e,
                   CASE WHEN start > coalesce(max(e) OVER (
                            PARTITION BY doc_id ORDER BY start
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), -1) + 1
                        THEN 1 ELSE 0 END AS brk
            FROM flagged
        ), isl AS (
            SELECT doc_id, start, e,
                   sum(brk) OVER (PARTITION BY doc_id ORDER BY start
                       ROWS UNBOUNDED PRECEDING) AS island
            FROM brks
        )
        SELECT doc_id, min(start) AS span_start, max(e) AS span_end,
               max(e) - min(start) + 1 AS span_words
        FROM isl GROUP BY doc_id, island
    """


def _repeated_spans_sql(ngram: int = 5, min_repeats: int = 2,
                        max_positions: int = 2048) -> str:
    """Mirror of dedup.repeated_spans: same md5 n-grams, per-(doc,
    gram) repeat threshold, same gaps-and-islands merge."""
    return f"""
        WITH planted AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 10 = 0 THEN text || ' ' || text
                        ELSE text END AS text
            FROM documents
        ), toks AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(lower(text)), {_WS}) AS ws
            FROM planted
        ), pos AS (
            SELECT doc_id, CAST(t.s AS BIGINT) AS start,
                   md5(array_to_string(ws[t.s : t.s + {ngram - 1}], ' ')) AS gh
            FROM toks,
                 unnest(range(1, least(len(ws) - {ngram - 1},
                                       {max_positions}) + 1)) AS t(s)
            WHERE len(ws) >= {ngram}
        ), rep AS (
            SELECT doc_id, gh FROM pos
            GROUP BY doc_id, gh HAVING count(*) >= {min_repeats}
        ), flagged AS (
            SELECT p.doc_id, p.start, p.start + {ngram - 1} AS e
            FROM pos p JOIN rep USING (doc_id, gh)
        ), brks AS (
            SELECT doc_id, start, e,
                   CASE WHEN start > coalesce(max(e) OVER (
                            PARTITION BY doc_id ORDER BY start
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), -1) + 1
                        THEN 1 ELSE 0 END AS brk
            FROM flagged
        ), isl AS (
            SELECT doc_id, start, e,
                   sum(brk) OVER (PARTITION BY doc_id ORDER BY start
                       ROWS UNBOUNDED PRECEDING) AS island
            FROM brks
        )
        SELECT doc_id, min(start) AS span_start, max(e) AS span_end,
               max(e) - min(start) + 1 AS span_words
        FROM isl GROUP BY doc_id, island
    """


# survivor selection over the same clusters: longest member wins,
# doc_id tiebreak (mirror of dedup.canonical_docs)
_CANONICAL_SQL = f"""
    WITH RECURSIVE pairs AS (
    {_MINHASH_PAIRS_SQL}
),
    sym AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach AS (
        SELECT a, b FROM sym
        UNION
        SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    ),
    clus AS (
        SELECT a AS doc_id, least(a, min(b)) AS cluster_id
        FROM reach GROUP BY a
    ),
    mem AS (
        SELECT c.doc_id, c.cluster_id,
               CAST(length(d.text) AS BIGINT) AS text_len
        FROM clus c JOIN documents d USING (doc_id)
    )
    SELECT doc_id, cluster_id,
           CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
               AS n_members,
           text_len,
           (row_number() OVER (PARTITION BY cluster_id
                ORDER BY text_len DESC, doc_id ASC)) = 1 AS keep
    FROM mem
"""


def _embedding_neardup_sql(threshold: float, n_planes: int = 32, bands: int = 4) -> str:
    """Mirror of operators/dedup.embedding_neardup_pairs: the same
    seeded hyperplanes (similarity._hyperplanes), banded sign blocking,
    exact cosine on candidates."""
    from openie_backend_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(64, n_planes, 7)
    rpb = n_planes // bands
    bitexpr = " || ".join(
        "(CASE WHEN list_dot_product(v, ["
        + ",".join(repr(w) for w in plane)
        + "]::DOUBLE[]) >= 0 THEN '1' ELSE '0' END)"
        for plane in planes
    )
    band_list = ",".join(str(b) for b in range(bands))
    return f"""
        WITH b AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                   sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                         CAST(embedding AS DOUBLE[]))) AS nrm
            FROM embeddings
        ), bb AS (
            SELECT vec_id, v, nrm, ({bitexpr}) AS bits FROM b WHERE nrm > 0
        ), banded AS (
            SELECT vec_id, bits AS ord, band_idx,
                   substr(bits, band_idx * {rpb} + 1, {rpb}) AS band_key
            FROM bb, (SELECT unnest([{band_list}]) AS band_idx)
        ), {_capped_pairs_sql('banded', id_col='vec_id')}
        SELECT c.doc_a AS vec_a, c.doc_b AS vec_b,
               round(list_dot_product(x.v, y.v) / (x.nrm * y.nrm), 4) AS cosine
        FROM pairs_banded c
        JOIN bb x ON x.vec_id = c.doc_a JOIN bb y ON y.vec_id = c.doc_b
        WHERE round(list_dot_product(x.v, y.v) / (x.nrm * y.nrm), 4) >= {threshold}
    """


def _ann_lsh_sql() -> str:
    """Mirror of similarity.lsh_topk at the query defaults (6 planes,
    dim 64, Hamming-1 multi-probe): bucket bits from the same LCG
    hyperplanes, query side expanded to n_planes+1 probe buckets."""
    from openie_backend_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(64, 6)
    n = len(planes)
    bucket = " || ".join(
        "(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), "
        f"{plane}::DOUBLE[]) >= 0 THEN '1' ELSE '0' END)"
        for plane in planes
    )
    flips = "\n                UNION ALL ".join(
        "SELECT query_id, qvec, qnrm, "
        f"substr(bucket, 1, {i}) || "
        f"(CASE WHEN substr(bucket, {i + 1}, 1) = '1' THEN '0' ELSE '1' END)"
        f" || substr(bucket, {i + 2}) AS bucket FROM q"
        for i in range(n)
    )
    return f"""
            WITH c AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                       sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                            CAST(embedding AS DOUBLE[]))) AS nrm,
                       {bucket} AS bucket
                FROM embeddings
            ), q AS (
                SELECT vec_id AS query_id, v AS qvec, nrm AS qnrm, bucket
                FROM c WHERE vec_id < 3
            ), qp AS (
                SELECT query_id, qvec, qnrm, bucket FROM q
                UNION ALL {flips}
            ), scored AS (
                SELECT qp.query_id, c.vec_id,
                       round(list_dot_product(c.v, qp.qvec) / (c.nrm * qp.qnrm), 4) AS cosine
                FROM c JOIN qp USING (bucket)
                WHERE c.nrm > 0 AND qp.qnrm > 0
            )
            SELECT query_id, vec_id, cosine, rank FROM (
                SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank
                FROM scored
            ) WHERE rank <= 10
    """


def _ann_ivf_sql(n_centroids: int = 16, nprobe: int = 4, k: int = 10) -> str:
    """Mirror of similarity.ivf_topk: same (md5(vec_id), vec_id)
    centroid sample, same argmax assignment (cosine rounded 6,
    centroid-id tiebreak), same nprobe probe set and exact rerank."""
    return f"""
        WITH v AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                   sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                        CAST(embedding AS DOUBLE[]))) AS nrm
            FROM embeddings
        ), nz AS (SELECT * FROM v WHERE nrm > 0),
        cent AS (
            SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM nz
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
            LIMIT {n_centroids}
        ), asg AS (
            SELECT vec_id, v, nrm, cid FROM (
                SELECT nz.vec_id, nz.v, nz.nrm, cent.cid,
                       row_number() OVER (PARTITION BY nz.vec_id
                           ORDER BY round(list_dot_product(nz.v, cent.cv)
                                          / (nz.nrm * cent.cnrm), 6) DESC,
                                    cent.cid ASC) AS rn
                FROM nz CROSS JOIN cent
            ) WHERE rn = 1
        ), q AS (
            SELECT vec_id AS query_id, v AS qv, nrm AS qnrm
            FROM nz WHERE vec_id < 3
        ), probes AS (
            SELECT query_id, qv, qnrm, cid FROM (
                SELECT q.query_id, q.qv, q.qnrm, cent.cid,
                       row_number() OVER (PARTITION BY q.query_id
                           ORDER BY round(list_dot_product(q.qv, cent.cv)
                                          / (q.qnrm * cent.cnrm), 6) DESC,
                                    cent.cid ASC) AS rn
                FROM q CROSS JOIN cent
            ) WHERE rn <= {nprobe}
        ), scored AS (
            SELECT p.query_id, a.vec_id,
                   round(list_dot_product(a.v, p.qv) / (a.nrm * p.qnrm), 4)
                       AS cosine
            FROM asg a JOIN probes p USING (cid)
        )
        SELECT query_id, vec_id, cosine, rank FROM (
            SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank
            FROM scored
        ) WHERE rank <= {k}
    """


def _dedup_bloom_sql(m_bits: int = 1 << 18, k_hashes: int = 3) -> str:
    """Mirror of dedup.bloom_membership over the planted probe batch:
    identical md5 position arithmetic on both sides."""
    js = ",".join(str(j) for j in range(k_hashes))
    pos = ("CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || md5(text)),"
           f" 1, 8)) AS BIGINT) % {m_bits}")
    return f"""
        WITH hist AS (
            SELECT DISTINCT {pos} AS bit_pos
            FROM documents, (SELECT unnest([{js}]) AS j)
        ), probe AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 8 = 0 THEN text
                        ELSE text || ' bloomnovel' END AS text
            FROM documents WHERE doc_id % 4 = 0
        ), ppos AS (
            SELECT doc_id, {pos} AS bit_pos
            FROM probe, (SELECT unnest([{js}]) AS j)
        ), hits AS (
            SELECT doc_id, count(*) AS n_hits
            FROM ppos JOIN hist USING (bit_pos) GROUP BY 1
        )
        SELECT p.doc_id,
               CAST(coalesce(h.n_hits, 0) AS INT) AS n_hits,
               coalesce(h.n_hits, 0) = {k_hashes} AS maybe_dup
        FROM (SELECT DISTINCT doc_id FROM probe) p
        LEFT JOIN hits h USING (doc_id)
    """


def _mix_split_sql(fractions: dict[str, float] | None = None,
                   salt: str = "split") -> str:
    """Mirror of curation.hash_split: boundary constants computed by
    the SAME Python accumulation, embedded via repr so the doubles are
    bit-identical on both engines."""
    fractions = fractions or {"train": 0.9, "val": 0.05, "test": 0.05}
    names = sorted(fractions)
    u = (f"CAST(('0x' || substr(md5('{salt}:' || CAST(doc_id AS VARCHAR)),"
         " 1, 8)) AS BIGINT) / 4294967296.0")
    case = "CASE"
    cum = 0.0
    for name in names[:-1]:
        cum += fractions[name]
        case += f" WHEN {u} < {cum!r} THEN '{name}'"
    case += f" ELSE '{names[-1]}' END"
    return f"SELECT doc_id, {case} AS split FROM documents"


_MIX_TEMPERATURE_SQL = """
    WITH counts AS (
        SELECT lang AS grp, count(*) AS n_l FROM documents GROUP BY 1
    ), rates AS (
        SELECT grp, sqrt((SELECT min(n_l) FROM counts)) / sqrt(n_l) AS rate
        FROM counts
    )
    SELECT d.doc_id, d.lang,
           CAST(floor(1000000.0 * r.rate) AS BIGINT) AS rate_ppm
    FROM documents d JOIN rates r ON r.grp = d.lang
    WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
               AS BIGINT) / 4294967296.0 < r.rate
"""


def oracle_sql() -> dict[str, str]:
    # KG-pipeline oracles: DuckDB SQL over single-process mirror parquet
    # (see openie_backend_spark/kg_oracles.py). Built first so a mirror
    # failure surfaces immediately; the driver compares at sf0.01.
    from openie_backend_spark import kg_oracles

    kg = kg_oracles.build(os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01"))
    stop_en = "('the','a','of','and','to','in','is','that','for','it')"
    stop_de = "('der','die','das','und','ist','nicht','ein','zu','mit','von')"
    stop_fr = "('le','la','les','et','est','un','une','pour','dans','que')"
    stop_es = "('el','la','los','y','es','un','una','para','en','que')"
    wsplit = f"regexp_split_to_array(trim(lower(text)), {_WS})"

    simhash_select = (
            "WITH w AS ("
            f"  SELECT doc_id, md5(t.x) AS h FROM documents, unnest(list_distinct({wsplit})) AS t(x)"
            "), v AS ("
            "  SELECT doc_id, "
            + ", ".join(
                f"sum(CASE WHEN strpos('0123456789abcdef', substr(h, {i + 1}, 1)) - 1 >= 8 "
                f"THEN 1 ELSE -1 END) AS v{i}"
                for i in range(16)
            )
            + "  FROM w GROUP BY doc_id)"
            "SELECT doc_id, CAST("
            + " + ".join(f"(CASE WHEN v{i} > 0 THEN {2 ** i} ELSE 0 END)" for i in range(16))
            + " AS BIGINT) AS simhash FROM v"
    )


    return kg | {
        "g1_group_agg": """
            SELECT l_returnflag, l_linestatus, count(*) AS cnt,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_price,
                   round(avg(l_discount), 4) AS avg_disc
            FROM lineitem GROUP BY 1, 2
        """,
        "g2_regroup_hist": """
            SELECT order_count, count(*) AS num_customers FROM (
                SELECT o_custkey, count(*) AS order_count FROM orders GROUP BY 1
            ) GROUP BY 1
        """,
        "g4_ratio": """
            SELECT c.nationkey AS nationkey, cust_cnt, supp_cnt,
                   round(cust_cnt / supp_cnt, 4) AS ratio
            FROM (SELECT c_nationkey AS nationkey, count(*) AS cust_cnt FROM customer GROUP BY 1) c
            JOIN (SELECT s_nationkey AS nationkey, count(*) AS supp_cnt FROM supplier GROUP BY 1) s
              USING (nationkey)
        """,
        "g5_argpair_cap": """
            SELECT l_returnflag,
                   array_to_string(list_sort(list(DISTINCT l_orderkey))[1:5], ',') AS first_orderkeys,
                   count(*) AS cnt
            FROM lineitem GROUP BY 1
        """,
        "t7_topk": """
            SELECT o_custkey, round(sum(o_totalprice), 2) AS total_spend
            FROM orders GROUP BY 1
            ORDER BY total_spend DESC, o_custkey ASC LIMIT 10
        """,
        "t9_per_key_cap": """
            SELECT l_returnflag, count(*) AS cnt, round(sum(l_quantity), 2) AS sum_qty
            FROM (
                SELECT *, row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey, l_suppkey) AS rn
                FROM lineitem
            ) WHERE rn <= 2 GROUP BY 1
        """,
        "j3_broadcast_dim": """
            SELECT p_brand, count(*) AS cnt, round(sum(l_extendedprice), 2) AS revenue
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_size < 10 GROUP BY 1
        """,
        "j_left_anti": """
            SELECT s_nationkey, count(*) AS cnt FROM supplier
            WHERE s_nationkey NOT IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 0)
            GROUP BY 1
        """,
        "j9_upsert": """
            WITH base AS (
                SELECT o_orderkey, o_totalprice AS price FROM orders WHERE o_orderkey % 2 = 0
            ), updates AS (
                SELECT o_orderkey, o_totalprice * 2 AS new_price FROM orders WHERE o_orderkey % 4 = 0
            )
            SELECT count(*) AS cnt, round(sum(coalesce(new_price, price)), 2) AS total
            FROM base FULL OUTER JOIN updates USING (o_orderkey)
        """,
        "f2_doc_filters": """
            SELECT lang, count(*) AS cnt, CAST(sum(n_chars) AS BIGINT) AS total_chars
            FROM documents
            WHERE n_chars BETWEEN 100 AND 450
              AND NOT regexp_matches(text, '.*(http|\\().*')
              AND length(trim(text)) > 0
            GROUP BY 1
        """,
        "f9_hash_sample": """
            SELECT count(*) AS cnt, min(doc_id) AS min_id, max(doc_id) AS max_id
            FROM documents
            WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = 'a'
        """,
        "g12_projections": """
            WITH g AS (
                SELECT l_returnflag, l_linestatus, count(*) AS size
                FROM lineitem GROUP BY 1, 2
            ), proj AS (
                SELECT 'X_' AS mask, CAST(NULL AS VARCHAR) AS a1, l_linestatus AS a2, size FROM g
                UNION ALL
                SELECT '_X', l_returnflag, CAST(NULL AS VARCHAR), size FROM g
                UNION ALL
                SELECT 'XX', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), size FROM g
            )
            SELECT mask, a1, a2, CAST(sum(size) AS BIGINT) AS total FROM proj GROUP BY 1, 2, 3
        """,
        "set_union_distinct": """
            SELECT c_nationkey, count(*) AS cnt FROM (
                SELECT c_nationkey, c_custkey FROM customer WHERE c_acctbal > 5000
                UNION
                SELECT c_nationkey, c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
            ) GROUP BY 1
        """,
        "q_conjunctive_topk": """
            SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price
            FROM orders
            WHERE o_orderstatus = 'F' AND o_orderpriority = '1-URGENT'
            ORDER BY price DESC, o_orderkey ASC LIMIT 20
        """,
        "w_t1_events_top2": """
            SELECT event_type, count(*) AS cnt, round(sum(value), 2) AS total_value
            FROM (
                SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id ASC) AS rn
                FROM events
            ) WHERE rn <= 2 GROUP BY 1
        """,
        "txt_token_count": f"""
            SELECT doc_id,
                   CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len({wsplit}) END AS n_tokens
            FROM documents
        """,
        "txt_bpe_count": r"""
            SELECT doc_id,
                   len(regexp_extract_all(text, '(''s|''t|''re|''ve|''m|''ll|''d| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+)')) AS n_bpe
            FROM documents
        """,
        "txt_lang_id": f"""
            WITH scored AS (
                SELECT doc_id,
                       len(list_filter({wsplit}, w -> w IN {stop_en})) / greatest(len({wsplit}), 1) AS s_en,
                       len(list_filter({wsplit}, w -> w IN {stop_de})) / greatest(len({wsplit}), 1) AS s_de,
                       len(list_filter({wsplit}, w -> w IN {stop_fr})) / greatest(len({wsplit}), 1) AS s_fr,
                       len(list_filter({wsplit}, w -> w IN {stop_es})) / greatest(len({wsplit}), 1) AS s_es
                FROM documents
            )
            SELECT doc_id,
                   CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
                        WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
                        WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
                        WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
                        ELSE 'es' END AS pred_lang
            FROM scored
        """,
        "txt_quality": f"""
            SELECT doc_id, round(
                (CASE WHEN len({wsplit}) BETWEEN 10 AND 100000 THEN 0.25 ELSE 0.0 END)
              + (CASE WHEN length(text) / greatest(len({wsplit}), 1) BETWEEN 3 AND 12 THEN 0.25 ELSE 0.0 END)
              + (CASE WHEN len(list_filter({wsplit}, w -> w IN {stop_en})) / greatest(len({wsplit}), 1) >= 0.05 THEN 0.25 ELSE 0.0 END)
              + 0.25 * (length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) / greatest(length(text), 1))
            , 4) AS quality
            FROM documents
        """,
        "txt_fingerprint": f"""
            SELECT doc_id, list_min(list_transform({_SHINGLES5}, g -> md5(g))) AS fingerprint
            FROM documents
        """,
        # unigram-LM cross-entropy (curation.lm_cross_entropy):
        # per-token log-probs quantized to integer micro-nats ONCE per
        # distinct token, then exact integer sums per doc
        "txt_lm_ce": f"""
            WITH toks AS (
                SELECT doc_id, tt.x AS token
                FROM documents,
                     unnest(regexp_split_to_array(trim(lower(text)), {_WS})) AS tt(x)
                WHERE tt.x <> ''
            ),
            counts AS (SELECT token, count(*) AS c FROM toks GROUP BY 1),
            vocab AS (SELECT token, c FROM counts
                      ORDER BY c DESC, token ASC LIMIT 256),
            tot AS (
                SELECT (SELECT sum(c) FROM counts) AS n_total,
                       (SELECT sum(c) FROM vocab) AS n_vocab,
                       (SELECT count(*) FROM vocab) AS k
            ),
            vlp AS (
                SELECT v.token,
                       CAST(round(ln((v.c + 1.0) / (t.n_total + t.k + 1.0))
                            * 1000000) AS BIGINT) AS lp_micro
                FROM vocab v, tot t
            ),
            unk AS (
                SELECT CAST(round(ln((t.n_total - t.n_vocab + 1.0)
                            / (t.n_total + t.k + 1.0)) * 1000000) AS BIGINT)
                       AS unk_lp
                FROM tot t
            )
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                   CAST(-sum(coalesce(v.lp_micro, u.unk_lp)) AS BIGINT)
                       AS ce_micro,
                   round(CAST(-sum(coalesce(v.lp_micro, u.unk_lp)) AS DOUBLE)
                         / (1000000.0 * count(*)), 6) AS cross_entropy
            FROM toks LEFT JOIN vlp v USING (token), unk u
            GROUP BY doc_id
        """,
        # corpus datasheet (curation.corpus_profile): quality summed as
        # exact integers (x 10^4) so the mean is ONE correctly-rounded
        # division — a double sum would hash-diverge on addition order
        "txt_profile": f"""
            WITH base AS (
                SELECT
                    CASE WHEN length(trim(text)) = 0 THEN 0
                         ELSE len({wsplit}) END AS toks,
                    len(regexp_extract_all(text, '(''s|''t|''re|''ve|''m|''ll|''d| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+)')) AS bpe,
                    CAST(round(round(
                        (CASE WHEN len({wsplit}) BETWEEN 10 AND 100000 THEN 0.25 ELSE 0.0 END)
                      + (CASE WHEN length(text) / greatest(len({wsplit}), 1) BETWEEN 3 AND 12 THEN 0.25 ELSE 0.0 END)
                      + (CASE WHEN len(list_filter({wsplit}, w -> w IN {stop_en})) / greatest(len({wsplit}), 1) >= 0.05 THEN 0.25 ELSE 0.0 END)
                      + 0.25 * (length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) / greatest(length(text), 1))
                    , 4) * 10000) AS BIGINT) AS q4,
                    md5(text) AS h,
                    lang
                FROM documents
            ),
            g AS (SELECT count(*) AS n, sum(toks) AS st, sum(bpe) AS sb,
                         sum(q4) AS sq FROM base),
            d AS (SELECT count(*) AS nd FROM (SELECT DISTINCT h FROM base))
            SELECT 'n_docs' AS metric, CAST(n AS DOUBLE) AS value FROM g
            UNION ALL SELECT 'distinct_texts', CAST(nd AS DOUBLE) FROM d
            UNION ALL SELECT 'dup_rate',
                round(1.0 - CAST(nd AS DOUBLE) / n, 6) FROM g, d
            UNION ALL SELECT 'total_tokens', CAST(st AS DOUBLE) FROM g
            UNION ALL SELECT 'mean_tokens',
                round(CAST(st AS DOUBLE) / n, 6) FROM g
            UNION ALL SELECT 'total_bpe_tokens', CAST(sb AS DOUBLE) FROM g
            UNION ALL SELECT 'mean_quality',
                round(sq / 10000.0 / n, 6) FROM g
            UNION ALL SELECT 'lang_share:' || lang,
                round(CAST(count(*) AS DOUBLE) / (SELECT n FROM g), 6)
            FROM base GROUP BY lang
        """,
        "txt_tfidf_keywords": f"""
            WITH t AS (
                SELECT doc_id, tt.x AS term
                FROM documents,
                     unnest(regexp_split_to_array(trim(lower(text)), {_WS})) AS tt(x)
                WHERE tt.x <> ''
            ),
            tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
            df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
            n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
            s AS (
                SELECT tf.doc_id, tf.term, tf.tf,
                       round(tf.tf * ln((n.n_docs + 1) / (df.df + 1)), 6) AS score
                FROM tf JOIN df USING (term) CROSS JOIN n
            )
            SELECT doc_id, term, tf, score, rank FROM (
                SELECT *, CAST(row_number() OVER (
                    PARTITION BY doc_id ORDER BY score DESC, term ASC
                ) AS INT) AS rank FROM s
            ) WHERE rank <= 5
        """,
        "txt_repetition": f"""
            WITH ws AS (
                SELECT doc_id, regexp_split_to_array(trim(lower(text)), {_WS}) AS w
                FROM documents
            ), g AS (
                SELECT doc_id, w,
                       (CASE WHEN len(w) >= 2
                             THEN list_transform(range(1, len(w)),
                                                 i -> array_to_string(w[i:i+1], ' '))[1:512]
                             ELSE CAST([] AS VARCHAR[]) END) AS bg
                FROM ws
            )
            SELECT doc_id,
                   round(len(list_distinct(w)) / greatest(len(w), 1), 4) AS distinct_word_ratio,
                   round(coalesce(list_max(list_transform(list_distinct(bg),
                                  x -> len(list_filter(bg, y -> y = x)))), 0)
                         / greatest(len(bg), 1), 4) AS top_bigram_frac,
                   (CASE WHEN len(bg) = 0 THEN 0.0
                         ELSE round(1.0 - len(list_distinct(bg)) / len(bg), 4) END) AS dup_bigram_frac
            FROM g
        """,
        "web_pii_mask": _pii_oracle_sql(),
        "web_url_canon": _url_canon_oracle_sql(),
        "dedup_lines": f"""
            WITH ws AS (
                SELECT doc_id, regexp_split_to_array(trim(lower(text)), {_WS}) AS w
                FROM documents
            ), lines AS (
                SELECT doc_id, trim(l) AS line FROM (
                    SELECT doc_id,
                           unnest(list_transform(
                               range(1, greatest(CAST(ceil(len(w)/12.0) AS INT), 1) + 1),
                               i -> array_to_string(w[((i-1)*12+1):((i-1)*12+12)], ' '))) AS l
                    FROM ws) t
                WHERE length(trim(l)) > 0
            )
            SELECT md5(line) AS line_md5, count(*) AS n_occurrences,
                   count(DISTINCT doc_id) AS n_docs, min(doc_id) AS first_doc
            FROM lines GROUP BY 1 HAVING count(*) >= 2
        """,
        "web_decontaminate": f"""
            WITH bench AS (
                SELECT substr(text, 41, 200) AS btext FROM documents
                WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'
            ), bsh AS (
                SELECT DISTINCT unnest({_shingles5_over('btext')}[1:512]) AS gram
                FROM bench
            ), dsh AS (
                SELECT doc_id, {_SHINGLES5}[1:512] AS sh FROM documents
            ), dex AS (
                SELECT doc_id, len(sh) AS n_shingles, unnest(sh) AS gram
                FROM dsh WHERE len(sh) > 0
            )
            SELECT doc_id, n_shingles, count(*) AS n_hits,
                   CAST(floor(10000.0 * count(*) / n_shingles) AS INT)
                       AS contamination_bp
            FROM dex JOIN bsh USING (gram) GROUP BY 1, 2
        """,
        "pack_sequences": r"""
            WITH t AS (
                SELECT doc_id,
                       CASE WHEN length(trim(text)) = 0 THEN 0
                            ELSE len(regexp_split_to_array(trim(text), '\s+')) END
                           AS n_tokens,
                       md5(CAST(doc_id AS VARCHAR)) AS k,
                       CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                            AS BIGINT) % 8 AS bucket
                FROM documents
            )
            SELECT doc_id, n_tokens, bucket,
                   CAST(floor(coalesce(sum(n_tokens) OVER (
                        PARTITION BY bucket ORDER BY k, doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) / 1024.0) AS INT) AS pack_id
            FROM t
        """,
        "web_host_stats": _host_stats_oracle_sql(),
        "dsir_importance": _dsir_oracle_sql(),
        # single-window ideal: matching the Spark two-stage salted
        # top-k against THIS proves the decomposition exact
        "host_quota_sample": f"""
            WITH t AS (
                SELECT doc_id, {_URL_PLANT_SQL} AS u FROM documents
            ), k AS (
                SELECT doc_id, {_SQL_RAW_HOST} AS host, md5(u) AS sort_key
                FROM t
            ), r AS (
                SELECT doc_id, host,
                       row_number() OVER (PARTITION BY host
                                          ORDER BY sort_key, doc_id)
                           AS host_rank
                FROM k
            )
            SELECT doc_id, host, CAST(host_rank AS INT) AS host_rank
            FROM r WHERE host_rank <= 3
        """,
        "dedup_exact": """
            SELECT md5(text) AS content_md5, min(doc_id) AS keep_id, count(*) AS dup_count
            FROM documents GROUP BY 1
        """,
        "dedup_minhash_lsh": _MINHASH_PAIRS_SQL,
        "dedup_ngram_jaccard": f"""
            WITH cand AS ( {_MINHASH_PAIRS_SQL} ),
            sh AS (SELECT doc_id, {_SHINGLES3}[1:512] AS sh FROM documents),
            j AS (
                SELECT c.doc_a, c.doc_b,
                       round(len(list_intersect(a.sh, b.sh)) /
                             (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))),
                             4) AS jaccard
                FROM cand c
                JOIN sh a ON a.doc_id = c.doc_a
                JOIN sh b ON b.doc_id = c.doc_b
            )
            SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.8
        """,
        # similarity.quantize_embeddings mirror: same double-widened
        # min/max scalar quantization, same (c·(qmax−qmin))/255
        # reconstruction, csv codes for the hash
        "emb_quantize": """
            WITH v AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            ),
            s AS (
                SELECT vec_id, v, list_min(v) AS qmin, list_max(v) AS qmax,
                       (list_max(v) - list_min(v)) / 255.0 AS scale
                FROM v
            ),
            c AS (
                SELECT vec_id, v, qmin, qmax,
                       CASE WHEN scale = 0
                            THEN list_transform(v, x -> 0)
                            ELSE list_transform(
                                v, x -> CAST(round((x - qmin) / scale) AS INT))
                       END AS codes
                FROM s
            )
            SELECT vec_id,
                   round(qmin, 6) AS qmin, round(qmax, 6) AS qmax,
                   array_to_string(codes, ',') AS codes_csv,
                   round(list_max(list_transform(
                       range(1, len(v) + 1),
                       i -> abs(v[i] - (qmin + CAST(codes[i] AS DOUBLE)
                                        * (qmax - qmin) / 255.0)))), 6)
                       AS max_abs_err
            FROM c
        """,
        # sessions.sessionize mirror: same exact-micros gap rule, same
        # md5(user:epoch_us) session identity
        "evt_sessionize": """
            WITH g AS (
                SELECT user_id, ts, value,
                       CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                                 > 1800 * 1000000
                            OR lag(ts) OVER w IS NULL
                            THEN 1 ELSE 0 END AS new_session
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            n AS (
                SELECT *, sum(new_session) OVER (
                    PARTITION BY user_id ORDER BY ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                ) AS session_no
                FROM g
            )
            SELECT user_id,
                   md5(CAST(user_id AS VARCHAR) || ':' ||
                       CAST(epoch_us(min(ts)) AS VARCHAR)) AS session_id,
                   min(ts) AS session_start,
                   max(ts) AS session_end,
                   count(*) AS n_events,
                   round(sum(value), 6) AS total_value
            FROM n GROUP BY user_id, session_no
        """,
        # Append-mode watermark semantics as a batch predicate: the
        # final watermark of an AvailableNow run is max(ts) - delay (a
        # running max, independent of file batching), so the emitted
        # set is exactly the windows with end <= that cutoff
        "stream_windowed_counts": """
            WITH m AS (SELECT max(ts) - INTERVAL 2 HOUR AS wm FROM events),
            w AS (
                SELECT date_trunc('hour', ts) AS window_start, event_type,
                       count(*) AS n_events, round(sum(value), 6) AS total_value
                FROM events GROUP BY 1, 2
            )
            SELECT w.window_start, w.event_type, w.n_events, w.total_value
            FROM w, m WHERE w.window_start + INTERVAL 1 HOUR <= m.wm
        """,
        "dedup_clusters": _CLUSTERS_SQL,
        "dedup_simhash": simhash_select,
        # Full mirror of dedup.simhash_banded_pairs incl. the shared
        # star-cap (r4 VERDICT #2): 4-bit bands have only 16 values, so
        # the 64-cap BINDS at sandbox scale — the oracle must model the
        # exact candidate set (capped banding), not exhaustive pairs.
        "dedup_simhash_banded": (
            "WITH sig AS (" + simhash_select + """),
            banded AS (
                SELECT doc_id, simhash AS ord, b AS band_idx,
                       (simhash >> (b * 4)) & 15 AS band_key
                FROM sig, (SELECT unnest([0,1,2,3]) AS b)
            ), """ + _capped_pairs_sql("banded") + """
            SELECT c.doc_a, c.doc_b,
                   CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
            FROM pairs_banded c
            JOIN sig a ON a.doc_id = c.doc_a
            JOIN sig b ON b.doc_id = c.doc_b
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
        """
        ),
        "dedup_embedding": _embedding_neardup_sql(threshold=0.3),
        "ann_lsh": _ann_lsh_sql(),
        "ann_ivf": _ann_ivf_sql(),
        "dedup_bloom": _dedup_bloom_sql(),
        "mix_temperature": _MIX_TEMPERATURE_SQL,
        "mix_split": _mix_split_sql(),
        "dedup_canonical": _CANONICAL_SQL,
        "dedup_passages": _dedup_passages_sql(),
        "txt_repeated_spans": _repeated_spans_sql(),
        "ann_bruteforce": """
            WITH q AS (
                SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 3
            ), scored AS (
                SELECT q.query_id, e.vec_id,
                       round(list_dot_product(e.embedding, q.qvec) /
                             (sqrt(list_dot_product(e.embedding, e.embedding)) *
                              sqrt(list_dot_product(q.qvec, q.qvec))), 4) AS cosine
                FROM embeddings e CROSS JOIN q
                WHERE list_dot_product(e.embedding, e.embedding) > 0
            )
            SELECT query_id, vec_id, cosine, rank FROM (
                SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank
                FROM scored
            ) WHERE rank <= 10
        """,
        "src_tab_extractions": f"""
            WITH raw AS (
                SELECT * FROM read_csv('{_ensure_tab_fixture()}',
                    delim='\t', header=false, quote='',
                    auto_detect=false, null_padding=true,
                    columns={{'c0':'VARCHAR','c1':'VARCHAR','c2':'VARCHAR',
                              'c3':'VARCHAR','c4':'VARCHAR','c5':'VARCHAR',
                              'c6':'VARCHAR'}})
            )
            SELECT {_tab_iv_sql('c0', 's')} AS arg1_start,
                   {_tab_iv_sql('c0', 'e')} AS arg1_end,
                   {_tab_iv_sql('c1', 's')} AS rel_start,
                   {_tab_iv_sql('c1', 'e')} AS rel_end,
                   {_tab_iv_sql('c2', 's')} AS arg2_start,
                   {_tab_iv_sql('c2', 'e')} AS arg2_end,
                   c3 AS token_str, c4 AS tag_str,
                   CASE WHEN c6 = 'None' THEN '' ELSE c6 END AS url
            FROM raw
            WHERE {_tab_iv_sql('c0', 'e')} > {_tab_iv_sql('c0', 's')}
              AND {_tab_iv_sql('c1', 'e')} > {_tab_iv_sql('c1', 's')}
              AND {_tab_iv_sql('c2', 'e')} > {_tab_iv_sql('c2', 's')}
        """,
        "j2_salted_join": """
            SELECT c_mktsegment, count(*) AS cnt,
                   round(sum(o_totalprice), 2) AS total
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY 1
        """,
        "src_html_to_text": _html_to_text_oracle_sql(),
        "stream_incremental_merge": _stream_incremental_merge_oracle_sql(),
        "s5_pipeline_resume": _s5_pipeline_resume_oracle_sql(),
        "src_tab_sentences": f"""
            SELECT c0 AS text, c1 AS url,
                   CAST(length(c0) AS INTEGER) AS n_chars
            FROM read_csv('{_ensure_sent_fixture()}', delim='\t',
                header=false, quote='', auto_detect=false,
                columns={{'c0':'VARCHAR','c1':'VARCHAR'}})
        """,
    }


if __name__ == "__main__":
    from openie_backend_spark.session import get_spark

    spark = get_spark()
    df = entry(spark)
    print("entry rows:", df.count())
    df.show(10, truncate=40)
