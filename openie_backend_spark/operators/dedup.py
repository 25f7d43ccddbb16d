"""Deduplication operators over a documents table — exact, MinHash+LSH,
SimHash, n-gram Jaccard, and embedding-cosine near-dup.

Scale notes (the whole point of these operators):

* every variant avoids the O(n²) all-pairs comparison — candidates are
  generated by equality joins on content keys (hash, band signature,
  shared shingle, sign bucket), which Spark executes as shuffle
  hash-joins with AQE skew splitting;
* hashing is md5 (byte-identical across engines) so each operator has
  a DuckDB oracle; engine-native ``hash()`` would not cross-check;
* shingle explosion is bounded: ``max_shingles`` caps per-document
  fan-out (deterministically — sorted prefix) so a pathological
  mega-document cannot explode the shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from openie_backend_spark.functions.text import _word_ngrams, shingles, words


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate clusters by content hash: one row per distinct
    text with the representative (minimum) id and the duplicate count."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("content_md5"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    shingle_n: int = 3,
    max_shingles: int = 512,
) -> DataFrame:
    """Per-document MinHash signature: component j = min over shingles
    of md5(j || ':' || shingle). String-min over hex digests is a valid
    uniform min-hash and is engine-portable."""
    # explode + per-component min aggregates: map-side partial combine
    # keeps the shuffle tiny (num_hashes values per doc per mapper) and
    # the generated code flat — an order of magnitude faster than the
    # equivalent nested-array-transform expression at equal semantics
    exploded = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.slice(shingles(F.col(text_col), shingle_n), 1, max_shingles)
        ).alias("_g"),
    )
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{j}:"), F.col("_g")))).alias(f"mh{j}")
        for j in range(num_hashes)
    ]
    return (
        exploded.groupBy("doc_id")
        .agg(*aggs)
        .select(
            "doc_id",
            F.array(*[F.col(f"mh{j}") for j in range(num_hashes)]).alias("signature"),
        )
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    max_full_bucket: int | None = 64,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded LSH over the MinHash
    signature: documents sharing any band signature are candidates.
    Join is equality on (band_idx, band_key) — no all-pairs.

    ``max_full_bucket``: buckets larger than this emit a star-of-groups
    keyed by the FULL signature (see ``bucketed_pairs``) — O(k) per
    bucket instead of O(k²), connectivity preserved at diameter ≤ 4,
    and identical-signature members stay connected by signature-equal
    edges so an exact-similarity rerank (ngram_jaccard_pairs) keeps
    their clusters. Essential at web scale where boilerplate pages
    form million-document buckets."""
    if bands <= 0 or num_hashes % bands:
        raise ValueError(f"bands must divide num_hashes ({num_hashes} % {bands})")
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(docs, text_col, id_col, num_hashes, shingle_n)
    bands_df = sigs.select(
        "doc_id",
        F.concat_ws(",", F.col("signature")).alias("ord"),
        F.posexplode(
            F.array(
                *[
                    F.md5(
                        F.concat_ws(
                            ",", *[F.col("signature")[b * rows_per_band + r]
                                   for r in range(rows_per_band)]
                        )
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band_idx", "band_key"),
    )
    return bucketed_pairs(bands_df, key_col="band_key",
                          max_full_bucket=max_full_bucket, order_col="ord")


def bucketed_pairs(
    banded: DataFrame,
    id_col: str = "doc_id",
    key_col: str = "band_key",
    max_full_bucket: int | None = 64,
    order_col: str | None = None,
    emit_order: bool = False,
) -> DataFrame:
    """Candidate-pair expansion shared by every banded-LSH variant
    (MinHash, banded SimHash, embedding hyperplane bands): given one
    row per (id, band_idx, band key), emit distinct unordered candidate
    pairs (doc_a < doc_b) from every bucket of ≥2 members.

    Pair generation WITHOUT a self-join: bucket by (band_idx, key) —
    one shuffle — then expand in-bucket pairs with array combinatorics,
    so the upstream signature pipeline is evaluated once, not twice.

    ``max_full_bucket`` is the skew defense (VERDICT r4 #2): buckets
    larger than this emit a STAR-OF-GROUPS — members with identical
    ``order_col`` values (identical full signatures) star onto their
    group's min-id representative, and each group representative stars
    onto the bucket's (order, id)-first member — k−1 pairs per bucket
    instead of O(k²). At web scale a hot band key (boilerplate pages,
    near-empty docs, zero vectors) would otherwise square its bucket
    size through the join.

    Why this exact shape (review r5): the earlier single-star
    (min-id representative → member) lost whole true-dup clusters to a
    downstream exact rerank — a near-dup pair whose members both
    differed from the arbitrary representative lost BOTH its edges to
    the Hamming/Jaccard filter. In the star-of-groups every
    identical-signature group is internally connected by
    signature-equal edges (distance 0 — rerank-proof); only the
    cross-group rep edges are speculative. And unlike a similarity-
    sorted CHAIN (the other O(k) candidate), the graph diameter stays
    ≤ 4 even on a million-member boilerplate bucket, where a chain's
    diameter would grow with the bucket; ``dup_clusters_twostar``
    labels it in a few rounds either way.

    ``order_col`` should be the full signature (callers pass the
    simhash long, the concatenated MinHash signature, the hyperplane
    sign string). ``emit_order=True`` adds ord_a/ord_b columns
    carrying each side's ``order_col`` value, letting signature-only
    rerankers (banded SimHash Hamming) avoid re-joining the signature
    pipeline.

    Plan shape: ONE hash exchange on (band_idx, key) serves the window
    pass (bucket size, group rep, bucket first) AND the bucket
    aggregate; in-cap buckets collect ≤ ``max_full_bucket`` member
    structs (bounded arrays), over-cap buckets collect their k−1
    pre-built star pairs (the same linear bound the id-array had).
    """
    ocol = (F.col(order_col) if order_col else F.col(id_col)).alias("o")
    icol = F.col(id_col).alias("i")
    wb = Window.partitionBy("band_idx", key_col)
    wg = Window.partitionBy("band_idx", key_col, "o")

    annotated = banded.select(F.col("band_idx"), F.col(key_col), ocol, icol).select(
        "*",
        F.count(F.lit(1)).over(wb).alias("n"),
        F.min("i").over(wg).alias("grp_rep"),
        F.min(F.struct(F.col("o"), F.col("i"))).over(wb).alias("first"),
    )

    def _norm(ia, oa, ib, ob):
        swap = ia <= ib
        return F.struct(
            F.least(ia, ib).alias("doc_a"),
            F.greatest(ia, ib).alias("doc_b"),
            F.when(swap, oa).otherwise(ob).alias("ord_a"),
            F.when(swap, ob).otherwise(oa).alias("ord_b"),
        )

    i, o = F.col("i"), F.col("o")
    star_pair = F.when(
        i != F.col("grp_rep"), _norm(F.col("grp_rep"), o, i, o)
    ).when(
        i != F.col("first")["i"], _norm(F.col("first")["i"], F.col("first")["o"], i, o)
    )  # bucket-first member itself emits nothing (NULL)

    cap = max_full_bucket if max_full_bucket is not None else 2**62
    buckets = (
        annotated.groupBy("band_idx", key_col)
        .agg(
            F.array_sort(
                F.collect_list(F.when(F.col("n") <= cap, F.struct(o, i)))
            ).alias("ms"),
            F.collect_list(F.when(F.col("n") > cap, star_pair)).alias("caps"),
        )
        .filter((F.size("ms") > 1) | (F.size("caps") > 0))
    )
    ms = F.col("ms")
    all_pairs = F.flatten(
        F.transform(
            ms,
            lambda a, idx: F.transform(
                F.slice(ms, idx + 2, F.greatest(F.size(ms) - idx - 1, F.lit(0))),
                lambda b: _norm(a["i"], a["o"], b["i"], b["o"]),
            ),
        )
    )
    out = buckets.select(F.explode(F.concat(all_pairs, F.col("caps"))).alias("p"))
    cols = [F.col("p.doc_a"), F.col("p.doc_b")]
    if emit_order:
        cols += [F.col("p.ord_a"), F.col("p.ord_b")]
    return out.select(*cols).distinct()


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.8,
    max_shingles: int = 512,
    candidates: DataFrame | None = None,
    max_shingle_df: int | None = 1024,
) -> DataFrame:
    """Exact n-gram Jaccard.

    Scale path (``candidates`` given, e.g. from ``minhash_lsh_pairs``):
    verify only the candidate pairs — the corpus is first pruned to
    pair MEMBERS (a narrow id semi-join AQE turns into a broadcast, so
    the corpus is never shuffled for it), the expensive shingle
    expression (md5 + sort per gram) runs only on those members, and
    two id-equality joins attach each side's (bounded,
    ≤ ``max_shingles``) shingle array; the intersection is
    ``array_intersect`` inside codegen. Work is
    O(pair members · max_shingles), independent of corpus size beyond
    the one pruning scan; no shingle self-join exists, so a
    boilerplate shingle shared by a million docs costs nothing beyond
    its LSH bucket (which the star-cap bounds).

    Exhaustive path (``candidates=None``): the classic shared-shingle
    self-join, with a document-frequency cap on shingles
    (``max_shingle_df``) so a hot shingle cannot emit O(k²) rows — at
    web scale a stopword trigram appears in ~every page. Only the JOIN
    side is DF-pruned; document sizes (the Jaccard denominator) come
    from the UNPRUNED shingle sets, so pruning can only undercount the
    intersection — Jaccard is underestimated, never inflated. That
    makes DF-pruning a pure recall tradeoff (pairs whose every common
    shingle is hot are missed; near-dup pairs at threshold ≥ 0.8 share
    many shingles, almost all of them rare), with no false positives.
    """
    def _sets(frame: DataFrame) -> DataFrame:
        return frame.select(
            "doc_id",
            F.slice(shingles(F.col(text_col), shingle_n), 1, max_shingles).alias("sh"),
        )

    if candidates is not None:
        # the candidate subtree is referenced TWICE below (member-id
        # derivation + the pair join), and Spark evaluates each
        # reference independently — for LSH candidates that recomputes
        # the whole signature/banding pipeline. Materialize the (small:
        # two ids per row) pair list once and let both branches read it
        # back (guide §3.3: truncate duplicated subtrees). Measured on
        # sf0.1: one signature stage (~12 CPU-s) and one bucketed-pairs
        # pass disappear from the plan.
        candidates = candidates.select("doc_a", "doc_b").localCheckpoint(eager=True)
        # compute the (expensive: md5 + sort per gram) shingle arrays
        # ONLY for pair members: prune the corpus by the candidate id
        # set first — O(pair members) shingle work instead of
        # O(corpus) on each join side. member_ids is narrow and
        # runtime-sized, so AQE broadcasts it and the corpus is never
        # shuffled for the prune.
        member_ids = (
            candidates.select(
                F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
            ).distinct()
        )
        sets_small = _sets(
            docs.select(F.col(id_col).alias("doc_id"), F.col(text_col))
            .join(member_ids, "doc_id")
        )
        a = sets_small.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
        b = sets_small.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
        inter = F.size(F.array_intersect("sh_a", "sh_b"))
        return (
            candidates.select("doc_a", "doc_b")
            .join(a, "doc_a")
            .join(b, "doc_b")
            .withColumn(
                "jaccard",
                F.round(inter / (F.size("sh_a") + F.size("sh_b") - inter), 4),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b", "jaccard")
        )
    # denominator sizes from the UNPRUNED sets (see docstring)
    sets_df = _sets(docs.select(F.col(id_col).alias("doc_id"), F.col(text_col)))
    sizes = sets_df.select("doc_id", F.size("sh").alias("n_shingles"))
    sh = sets_df.select("doc_id", F.explode("sh").alias("shingle"))
    if max_shingle_df is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_shingle_df)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("nb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 4),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            bits: int = 16) -> DataFrame:
    """Per-document SimHash over word features: bit i is the majority
    vote of bit i of md5(word) across the document's distinct words.
    md5 hex nibbles give portable bits (nibble ≥ 8 ⇒ leading bit 1)."""
    ws = F.array_distinct(words(F.col(text_col)))
    hashed = F.transform(ws, lambda w: F.md5(w))
    # ONE aggregate with an array-of-counters accumulator (r6): the
    # earlier per-bit ``_votes(i)`` built ``bits`` separate aggregates,
    # and each re-evaluated the whole split→distinct→md5 array
    # (higher-order lambdas re-execute referenced subtrees) — O(bits ×
    # words) md5 calls per row. Vote math per (word, bit) is unchanged
    # (hex nibble i ≥ 8 ⇒ +1 else −1), so the signature is
    # bit-identical; measured ~16.5 → ~3 CPU-s on sf0.1.
    votes = F.aggregate(
        hashed,
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                F.sequence(F.lit(1), F.lit(bits)),
                lambda j: F.when(
                    F.conv(h.substr(j, F.lit(1)), 16, 10).cast("int") >= 8,
                    F.lit(1),
                ).otherwise(F.lit(-1)),
            ),
            lambda a, v: a + v,
        ),
    )
    sig = F.aggregate(
        F.zip_with(
            votes,
            F.sequence(F.lit(0), F.lit(bits - 1)),
            lambda v, i: F.when(
                # 2^i as an exact double→long cast (shiftleft's numBits
                # param is python-int-only); exact for any i ≤ 52
                v > 0, F.pow(F.lit(2.0), i.cast("double")).cast("long")
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    return docs.select(F.col(id_col).alias("doc_id"), sig.alias("simhash"))


def simhash_dup_pairs(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", bits: int = 16) -> DataFrame:
    """Near-dup candidates = identical simhash (exact bucket join; at
    16 bits identical-signature collision is the candidate criterion;
    ``simhash_banded_pairs`` below is the Hamming-tolerant variant)."""
    sigs = simhash(docs, text_col, id_col, bits)
    a, b = sigs.alias("a"), sigs.alias("b")
    return (
        a.join(b, (F.col("a.simhash") == F.col("b.simhash"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"),
                F.col("a.simhash").alias("simhash"))
    )


def simhash_banded_pairs(docs: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id", bits: int = 16,
                         bands: int = 4, max_hamming: int | None = 3,
                         max_full_bucket: int | None = 64,
                         ) -> DataFrame:
    """Hamming-tolerant SimHash near-dup pairs (Charikar/Manku-style
    banding): split the ``bits``-bit signature into ``bands`` equal
    bands; two signatures within Hamming distance < ``bands`` must
    agree EXACTLY on at least one band (pigeonhole), so candidates
    come from band-equality bucketing — no quadratic signature scan.
    Candidates are then reranked by exact Hamming distance and kept
    when ``<= max_hamming``. Scale shape identical to MinHash banding:
    explode ×bands, bucket-collect with the shared ``bucketed_pairs``
    star-of-groups cap (a boilerplate-heavy corpus concentrates
    signatures into a handful of band values — at 4-bit bands a band
    key has only 16 possible values, so the cap is load-bearing, not
    theoretical). Over-cap buckets star equal-signature groups onto
    their rep, so every group survives the Hamming filter as a
    connected star. The banded rows CARRY the signature
    (``emit_order``), so the exact rerank is a per-pair bit_count —
    the signature pipeline runs once, with no re-join."""
    if bands <= 0 or bits % bands:
        raise ValueError(f"bands must divide bits ({bits} % {bands})")
    band_width = bits // bands
    sigs = simhash(docs, text_col, id_col, bits)
    banded = sigs.select(
        "doc_id",
        F.col("simhash").alias("ord"),
        F.posexplode(
            F.array(*[
                F.shiftright(F.col("simhash"), i * band_width)
                .bitwiseAND(F.lit((1 << band_width) - 1))
                for i in range(bands)
            ])
        ).alias("band_idx", "band_val"),
    )
    cand = bucketed_pairs(banded, key_col="band_val",
                          max_full_bucket=max_full_bucket,
                          order_col="ord", emit_order=True)
    out = cand.withColumn(
        "hamming",
        F.bit_count(F.col("ord_a").bitwiseXOR(F.col("ord_b"))).cast("int"),
    )
    if max_hamming is not None:
        out = out.filter(F.col("hamming") <= max_hamming)
    return out.select("doc_a", "doc_b", "hamming")


def embedding_neardup_pairs(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 32,
    bands: int = 4,
    dim: int = 64,
    seed: int = 7,
    max_full_bucket: int | None = 64,
) -> DataFrame:
    """Embedding-cosine near-duplicates, blocked by banded random-
    hyperplane LSH (VERDICT r1 #5: ≥16 seeded bits with multi-probe
    bands instead of 4 raw-dimension signs):

    * ``n_planes`` seeded hyperplanes (similarity._hyperplanes — the
      same deterministic planes the ANN path uses) give a sign string;
    * the string splits into ``bands`` bands; two vectors are
      candidates if ANY band matches exactly (multi-probe recall);
    * candidates get the exact cosine (zip_with/aggregate, JVM) and
      the threshold filter.

    With b bands of r bits each, a pair at cosine angle θ survives with
    1−(1−(1−θ/π)^r)^b. Defaults 4×8 bits (round 4; was 2×8): measured
    candidate recall at the 0.95 production threshold rises ~0.77 →
    ~0.89 (BENCH/NEARDUP.md curve) while random pairs still land in
    2^8-sized bucket space per band — ≤ 4·O(n²/256) worst-case, and
    exact-cosine rerank keeps precision exact.

    Bucket expansion goes through the shared ``bucketed_pairs``
    star-of-groups cap (``max_full_bucket``): zero-adjacent or
    boilerplate embeddings that collapse into one sign pattern would
    otherwise square their bucket size through a self-join; over-cap
    buckets star identical sign patterns onto their group rep so exact
    dups keep rerank-surviving edges."""
    from openie_backend_spark.operators.similarity import _hyperplanes, lsh_bucket

    if bands <= 0 or n_planes % bands:
        raise ValueError(f"bands must divide n_planes ({n_planes} % {bands})")
    planes = _hyperplanes(dim, n_planes, seed)
    rows_per_band = n_planes // bands
    v = F.col(vec_col).cast("array<double>")
    norm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    base = embeddings.select(
        F.col(id_col).alias("vec_id"), v.alias("vec"), norm.alias("nrm"),
        lsh_bucket(v, planes).alias("bits"),
    ).filter(F.col("nrm") > 0)
    banded = base.select(
        "vec_id",
        F.col("bits").alias("ord"),
        F.posexplode(
            F.array(*[
                F.substring("bits", b * rows_per_band + 1, rows_per_band)
                for b in range(bands)
            ])
        ).alias("band_idx", "band_key"),
    )
    cand = (
        bucketed_pairs(banded, id_col="vec_id", key_col="band_key",
                       max_full_bucket=max_full_bucket, order_col="ord")
        .select(F.col("doc_a").alias("vec_a"), F.col("doc_b").alias("vec_b"))
    )
    # rerank joins touch only candidate MEMBERS: prune the corpus by
    # the narrow exploded id set first (AQE broadcasts it), so the
    # full corpus's vector arrays are never shuffled into the rerank
    members = base.join(
        cand.select(F.explode(F.array("vec_a", "vec_b")).alias("vec_id"))
        .distinct(),
        "vec_id",
    )
    va = members.select(F.col("vec_id").alias("vec_a"), F.col("vec").alias("va"),
                        F.col("nrm").alias("na"))
    vb = members.select(F.col("vec_id").alias("vec_b"), F.col("vec").alias("vb"),
                        F.col("nrm").alias("nb"))
    dot = F.aggregate(
        F.zip_with(F.col("va"), F.col("vb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        cand.join(va, "vec_a").join(vb, "vec_b")
        .withColumn("cosine", F.round(dot / (F.col("na") * F.col("nb")), 4))
        .filter(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", "cosine")
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star step (Kiveris et al. 2014, Alg. 2): for every
    node u, connect each strictly-larger neighbor to the minimum of
    u's neighborhood, u included. Input: edges (u, v) oriented u > v,
    no self-loops. Output: the same orientation, possibly with
    duplicate rows (``_small_star`` removes them)."""
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    return (
        sym.withColumn("m", F.min("v").over(Window.partitionBy("u")))
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.least("u", "m").alias("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star step (Kiveris et al. 2014, Alg. 3): for every
    node u, connect its smaller neighbors, and u itself, to the
    smallest of them. Input: edges (u, v) oriented u > v, duplicates
    allowed. Output: the same orientation, distinct, no self-loops."""
    with_min = edges.withColumn("m", F.min("v").over(Window.partitionBy("u")))
    return (
        with_min.select(F.explode(F.array(
            F.struct(F.col("v").alias("u"), F.col("m").alias("v")),
            F.struct(F.col("u").alias("u"), F.col("m").alias("v")),
        )).alias("e"))
        .select("e.u", "e.v")
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


# Large-star + small-star rounds dup_clusters_twostar may run. A
# 1024-node chain, the deepest shape, needs 10 (BENCH/GRAPH.md).
MAX_STAR_ROUNDS = 20


def _non_star_nodes(edges: DataFrame) -> int:
    """Count the nodes that keep ``edges`` (oriented u > v) from being
    a star forest: a node with an out-edge and any other edge, in or
    out. Zero means every edge points from a leaf straight at its
    root. One union, one groupBy and one count, with no LIMIT, so every
    check of every pass reuses the same generated classes."""
    ends = edges.select(F.col("u").alias("node"), F.lit(1).alias("out")).union(
        edges.select(F.col("v").alias("node"), F.lit(0).alias("out"))
    )
    return (
        ends.groupBy("node")
        .agg(F.sum("out").alias("n_out"), F.count(F.lit(1)).alias("n"))
        .filter((F.col("n_out") > 0) & (F.col("n") > 1))
        .count()
    )


def dup_clusters_twostar(pairs: DataFrame) -> DataFrame:
    """Connected components over candidate-pair edges → duplicate
    clusters: (doc_id, cluster_id = minimum member id).

    Alternating large-star / small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC 2014). It converges in
    O(log² n) rounds on ANY graph shape (O(log n) in practice), so a
    transitive near-dup CHAIN (A~B~C~…, each pair just over threshold)
    costs a few rounds, not one per hop. A round is two window mins
    over each node's edges and one distinct: no join, and each step
    reads its input once. There is no driver-side graph state. A
    node's edges share one task, so a hub's degree sets the largest
    task of a round.

    The edges are oriented once, larger id → smaller, and every round
    keeps that orientation. Before each round one count
    (``_non_star_nodes``) checks the output contract directly: the
    loop stops at the first star forest. There each root is the
    smallest id of its star, and since both star operations preserve
    the input's components, it is the component minimum. LSH-verified
    pairs are usually two-node stars already and run 0 rounds.

    Raises ``RuntimeError`` after ``MAX_STAR_ROUNDS`` rounds: edges
    that are not yet a star forest can give a document two labels.
    """
    # materialize the edge set once: ``pairs`` is usually the whole LSH
    # candidate pipeline, which every check and round would re-run
    edges = (
        pairs.select(
            F.greatest("doc_a", "doc_b").alias("u"),
            F.least("doc_a", "doc_b").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    rounds = 0
    while _non_star_nodes(edges):
        if rounds == MAX_STAR_ROUNDS:
            raise RuntimeError(
                f"dup_clusters_twostar: no star forest after {rounds} rounds")
        edges = _small_star(_large_star(edges)).localCheckpoint(eager=True)
        rounds += 1
    return (
        edges.select(F.col("u").alias("doc_id"), F.col("v").alias("cluster_id"))
        .union(edges.select(F.col("v").alias("doc_id"), F.col("v").alias("cluster_id")))
        .distinct()
    )


def duplicate_lines(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
    chunk_words: int | None = None,
) -> DataFrame:
    """CCNet-style line-level inter-document dedup (Wenzek et al. 2020
    §3.1): explode each document into lines, hash each line, and return
    the lines that occur ≥ ``min_count`` times across the corpus —
    (line_md5, n_occurrences, n_docs, first_doc). Downstream, a
    left-anti join against this table strips boilerplate lines before
    extraction.

    ``chunk_words=None`` splits on newline runs (real web text);
    a positive value splits into fixed word-count pseudo-lines instead
    (the synthetic corpus is single-line, so the oracle query uses
    chunks — same operator, different line boundary).

    Scale: explode is a linear row expansion (no skew possible — each
    doc emits its own lines). Exact n_docs needs two exchanges; the
    two-level formulation below (groupBy (line_md5, doc_id) then
    line_md5) keeps both map-side-combining and avoids the 2× Expand
    node Spark plans for count+count_distinct in one aggregate. A
    corpus-wide hot line ("Home | About | Contact") collapses to ONE
    row per partition before each shuffle, so boilerplate skew never
    concentrates on a reducer.
    """
    if chunk_words is None:
        lines = F.split(F.col(text_col), r"\n+")
    else:
        ws = words(F.col(text_col))
        n_chunks = F.greatest(
            F.ceil(F.size(ws) / F.lit(chunk_words)).cast("int"), F.lit(1)
        )
        lines = F.transform(
            F.sequence(F.lit(1), n_chunks),
            lambda i: F.concat_ws(
                " ", F.slice(ws, (i - F.lit(1)) * chunk_words + 1, chunk_words)
            ),
        )
    exploded = (
        docs.select(F.col(id_col).alias("doc_id"), F.explode(lines).alias("line"))
        .withColumn("line", F.trim("line"))
        .filter(F.length("line") > 0)
    )
    per_doc = exploded.groupBy(
        F.md5("line").alias("line_md5"), "doc_id"
    ).agg(F.count(F.lit(1)).alias("occ"))
    return (
        per_doc.groupBy("line_md5")
        .agg(
            F.sum("occ").alias("n_occurrences"),
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_occurrences") >= min_count)
    )


def bloom_membership(
    history: DataFrame,
    probe: DataFrame,
    m_bits: int = 1 << 18,
    k_hashes: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Bloom-filter membership of ``probe`` documents against a
    ``history`` corpus — the incremental exact-dedup primitive: when a
    new crawl batch lands, the question is "which of these documents
    did ANY earlier batch already contain?", and at 10^12 historical
    docs an equality anti-join against all of history re-shuffles the
    entire archive per batch. A Bloom filter answers it from a
    fixed-size bit set instead: no false negatives (every true
    duplicate is flagged), false positives at a rate set by
    ``m_bits``/``k_hashes`` (classic (1-e^(-kn/m))^k; the defaults
    m=2^18, k=3 give ~1.5e-6 at n=10^3, sized up with the archive).

    Bit positions are engine-portable md5 arithmetic (position_j =
    first-8-hex-digits of md5(j || ':' || md5(text)) mod ``m_bits``),
    so the whole operator value-hash-oracles in DuckDB. The "filter"
    is represented relationally — the DISTINCT set of SET bit
    positions — which Spark evaluates as a map-side-combined
    aggregate followed by a broadcast-able equality join from the
    probe side (k rows per probe doc, never a history re-shuffle); a
    deployment would collect those positions into an actual bitmap
    broadcast variable, which changes the physical form, not the
    emitted rows. Output: (doc_id, n_hits ∈ [0, k], maybe_dup =
    all-k-bits-set).
    """
    set_bits = bloom_bits(history, m_bits, k_hashes, text_col)
    return bloom_probe(set_bits, probe, m_bits, k_hashes, text_col, id_col)


def _bloom_positions(frame: DataFrame, m_bits: int, k_hashes: int,
                     text_col: str, id_cols: list) -> DataFrame:
    content = F.md5(F.col(text_col))
    pos = F.explode(
        F.transform(
            F.sequence(F.lit(0), F.lit(k_hashes - 1)),
            lambda j: F.conv(
                F.substring(F.md5(F.concat(j.cast("string"), F.lit(":"), content)), 1, 8),
                16, 10,
            ).cast("long") % m_bits,
        )
    )
    return frame.select(*id_cols, pos.alias("bit_pos"))


def bloom_bits(
    corpus: DataFrame,
    m_bits: int = 1 << 18,
    k_hashes: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """The DISTINCT set bit positions of a corpus — the persistable
    half of ``bloom_membership``. Appending new batches' bits is set
    union, so the table is replay-idempotent (duplicate rows never
    change membership semantics); ``bloom_probe`` answers from it
    without ever re-shuffling the archive."""
    return _bloom_positions(corpus, m_bits, k_hashes, text_col, []).distinct()


def bloom_probe(
    set_bits: DataFrame,
    probe: DataFrame,
    m_bits: int = 1 << 18,
    k_hashes: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Membership of ``probe`` docs against a ``bloom_bits`` table:
    (doc_id, n_hits, maybe_dup). See ``bloom_membership``."""
    probe_pos = _bloom_positions(
        probe, m_bits, k_hashes, text_col, [F.col(id_col).alias("doc_id")]
    )
    hits = (
        probe_pos.join(set_bits.select("bit_pos").distinct(), "bit_pos")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        probe.select(F.col(id_col).alias("doc_id"))
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_hits", F.lit(0)).cast("int").alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) == k_hashes).alias("maybe_dup"),
        )
    )


def canonical_docs(
    docs: DataFrame,
    clusters: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Survivor selection — the step that turns duplicate CLUSTERS into
    an actual deduplicated corpus: per cluster, keep exactly one
    representative and mark the rest for removal. The keep rule is the
    standard "longest member" heuristic (near-dup clusters are usually
    a full document plus truncated/boilerplate-wrapped variants; the
    longest is the most complete), with ``doc_id`` as the
    deterministic tiebreak. ``clusters`` is the
    ``dup_clusters_twostar`` labeling, (doc_id, cluster_id).

    Output: one row per clustered document — (doc_id, cluster_id,
    n_members, text_len, keep); downstream drops ``keep = false`` rows
    and unions the untouched singletons (docs never in any candidate
    pair, identity-preserved by construction).

    Scale shape: one broadcast-able equality join from the cluster
    assignment (tiny: only docs that appeared in a candidate pair)
    into the corpus, then a window partitioned BY cluster_id — the
    same key the membership count groups on, so the exchange is
    shared; per-cluster fan-in is already bounded upstream by the
    banded star-caps (a cluster cannot exceed what the capped pair
    generation admits into it).
    """
    member_len = clusters.join(
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.length(F.col(text_col)).cast("long").alias("text_len"),
        ),
        "doc_id",
    )
    w_rank = Window.partitionBy("cluster_id").orderBy(
        F.desc("text_len"), F.asc("doc_id")
    )
    w_all = Window.partitionBy("cluster_id")
    return (
        member_len.withColumn("n_members", F.count(F.lit(1)).over(w_all).cast("long"))
        .withColumn("keep", F.row_number().over(w_rank) == 1)
        .select("doc_id", "cluster_id", "n_members", "text_len", "keep")
    )


def duplicate_passages(
    docs: DataFrame,
    ngram: int = 8,
    min_docs: int = 2,
    max_positions: int = 2048,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact substring dedup at passage granularity (the
    ExactSubstr idea of Lee et al. 2021, "Deduplicating Training Data
    Makes Language Models Better" — their suffix-array finds
    duplicated spans; this is the distributed n-gram formulation):
    every word ``ngram``-gram occurring in ≥ ``min_docs`` DISTINCT
    documents marks its occurrences as duplicated, and per document
    the marked [start, start+ngram) windows are merged into maximal
    spans — the exact passages a training pipeline would cut out,
    finer than whole-doc near-dup and coarser than line dedup.

    Output: (doc_id, span_start, span_end, span_words) with 1-based
    inclusive word indices; overlapping or adjacent windows merge.

    Scale shape — the crucial property is NO pairwise join anywhere:
    the duplicate decision is per-n-gram (two map-side-combinable
    aggregations, same two-level shape as ``duplicate_lines``, so a
    corpus-wide boilerplate passage collapses to one row per
    partition before each shuffle), and flagged positions come back
    via one equality join on the gram hash. Span merging is the
    gaps-and-islands window per doc — bounded by the doc's own
    position count, which ``max_positions`` caps deterministically
    (first positions win; recall-only loss on mega-docs, same
    concession as the shingle caps). A suffix array finds duplicated
    spans of ANY length ≥ threshold; the n-gram form needs length ≥
    ``ngram`` — the standard distributed trade, disclosed.
    """
    grams = _positioned_grams(docs, ngram, max_positions, text_col, id_col)
    dup_grams = (
        grams.groupBy("gh", "doc_id").agg(F.count(F.lit(1)).alias("occ"))
        .groupBy("gh")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("gh")
    )
    flagged = grams.join(dup_grams, "gh").select(
        "doc_id", "start", (F.col("start") + F.lit(ngram - 1)).alias("end")
    )
    return _merge_spans(flagged)


def _positioned_grams(docs: DataFrame, ngram: int, max_positions: int,
                      text_col: str, id_col: str) -> DataFrame:
    """(doc_id, start, gh): md5 of each word n-gram with its 1-based
    start position, capped at ``max_positions`` per doc.

    Built on the shifted-zip n-gram form (text._word_ngrams r6 note):
    the earlier ``transform(sequence, s → slice(ws, s, ngram))``
    re-evaluated the words split once per position — O(positions ×
    |text|) per row. The two-arg transform indexes the gram array
    instead; positions and hashes are unchanged."""
    ws = words(F.col(text_col))
    n_starts = F.least(
        F.size(ws) - F.lit(ngram - 1), F.lit(max_positions)
    )
    grams = F.slice(_word_ngrams(ws, ngram), 1, F.greatest(n_starts, F.lit(1)))
    positioned = F.transform(
        grams,
        lambda g, i: F.struct(
            (i + 1).cast("long").alias("start"), F.md5(g).alias("gh")
        ),
    )
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.when(n_starts >= 1, positioned)
            .otherwise(F.array().cast("array<struct<start:long,gh:string>>"))
        ).alias("g"),
    ).select("doc_id", F.col("g.start").alias("start"), F.col("g.gh").alias("gh"))


def _merge_spans(flagged: DataFrame) -> DataFrame:
    """Gaps-and-islands merge of flagged (doc_id, start, end) word
    windows into maximal (doc_id, span_start, span_end, span_words)
    spans; overlapping or adjacent windows coalesce."""
    w_ord = Window.partitionBy("doc_id").orderBy("start")
    prev_max = F.max("end").over(
        w_ord.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = flagged.withColumn(
        "brk",
        F.when(F.col("start") > F.coalesce(prev_max, F.lit(-1)) + 1, 1).otherwise(0),
    ).withColumn(
        "island",
        F.sum("brk").over(w_ord.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        islands.groupBy("doc_id", "island")
        .agg(
            F.min("start").alias("span_start"),
            F.max("end").alias("span_end"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_words"),
        )
    )


def repeated_spans(
    docs: DataFrame,
    ngram: int = 8,
    min_repeats: int = 2,
    max_positions: int = 2048,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """WITHIN-document repetition spans — the self-repetition twin of
    ``duplicate_passages``: a word ``ngram``-gram occurring ≥
    ``min_repeats`` times in the SAME document marks its occurrences,
    and the marked windows merge into maximal spans — the repeated
    boilerplate/loop regions inside one page that Gopher's doc-level
    repetition FRACTIONS (``dup_bigram_frac`` etc.) detect but cannot
    localize. Cutting these spans (keep the first occurrence) is the
    repair; dropping the whole doc on the fraction is the blunt
    alternative.

    Scale shape: the repeat decision is per (doc, gram) — ONE
    map-side-combinable aggregate, no join against other documents at
    all (strictly cheaper than duplicate_passages); the span merge is
    the same per-doc gaps-and-islands window, bounded by
    ``max_positions``.
    """
    grams = _positioned_grams(docs, ngram, max_positions, text_col, id_col)
    counts = grams.groupBy("doc_id", "gh").agg(
        F.count(F.lit(1)).alias("occ"),
        F.collect_list("start").alias("starts"),
    )
    flagged = (
        counts.filter(F.col("occ") >= min_repeats)
        .select("doc_id", F.explode("starts").alias("start"))
        .select("doc_id", "start", (F.col("start") + F.lit(ngram - 1)).alias("end"))
    )
    return _merge_spans(flagged)
