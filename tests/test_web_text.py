"""Unit tests for the round-5 web-text hygiene family: repetition
signals, PII masking, URL canonicalization, line-level dedup — plus the
short-document regression for the shared n-gram builder (``sequence(1,
0)`` in Spark is the descending [1, 0], which used to crash ``shingles``
on any document of fewer than n words)."""

import pytest
from pyspark.sql import functions as F

from openie_backend_spark.functions import text as T
from openie_backend_spark.functions import web as W
from openie_backend_spark.operators.dedup import duplicate_lines, minhash_lsh_pairs


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id int, text string")


# ---------------------------------------------------------------- grams


def test_shingles_short_docs_no_crash(spark):
    """Docs shorter than the shingle width yield EMPTY shingles (the
    DuckDB oracle's semantics) instead of a slice(…, 0) crash."""
    d = _docs(spark, [(1, "one two"), (2, ""), (3, "a"), (4, "w x y z q")])
    got = {
        r["doc_id"]: r["sh"]
        for r in d.select("doc_id", T.shingles("text", 5).alias("sh")).collect()
    }
    assert got[1] == [] and got[2] == [] and got[3] == []
    assert got[4] == ["w x y z q"]


def test_minhash_survives_short_docs(spark):
    d = _docs(spark, [(1, "a"), (2, "xx yy"), (3, "p q r s t u v w"),
                      (4, "p q r s t u v w")])
    pairs = minhash_lsh_pairs(d, num_hashes=8, bands=4).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in pairs} == {(3, 4)}


# ----------------------------------------------------------- repetition


def test_repetition_signals(spark):
    d = _docs(spark, [
        (1, "a a a a"),            # one word repeated: dwr low, tbf 1.0
        (2, "w x y z"),            # all distinct
        (3, ""),                   # degenerate
        (4, "solo"),               # no bigram
        (5, None),                 # no text
    ])
    rows = {r["doc_id"]: r for r in d.select(
        "doc_id",
        T.distinct_word_ratio("text").alias("dwr"),
        T.top_bigram_frac("text").alias("tbf"),
        T.dup_bigram_frac("text").alias("dbf"),
    ).collect()}
    assert rows[1]["dwr"] == 0.25 and rows[1]["tbf"] == 1.0
    assert rows[1]["dbf"] == pytest.approx(2 / 3, abs=1e-4)
    assert rows[2]["dwr"] == 1.0 and rows[2]["tbf"] == pytest.approx(1 / 3, abs=1e-4)
    assert rows[2]["dbf"] == 0.0
    for empty in (3, 4):
        assert rows[empty]["tbf"] == 0.0 and rows[empty]["dbf"] == 0.0
    assert rows[5]["tbf"] == 0.0


# ------------------------------------------------------------------ PII


def test_pii_mask_and_counts(spark):
    d = _docs(spark, [
        (1, "write bob.smith+x@Example.co or 555-123-4567 via 10.0.255.1"),
        (2, "clean text 123-45"),
        (3, "a@b.io then 1.2.3.4 then 999-888-7777"),
    ])
    rows = {r["doc_id"]: r for r in d.select(
        "doc_id", *W.pii_counts("text"), W.pii_mask("text").alias("m")
    ).collect()}
    assert (rows[1]["n_email"], rows[1]["n_ipv4"], rows[1]["n_phone"]) == (1, 1, 1)
    assert rows[1]["m"] == "write <EMAIL> or <PHONE> via <IP>"
    assert rows[2]["m"] == "clean text 123-45"
    assert (rows[3]["n_email"], rows[3]["n_ipv4"], rows[3]["n_phone"]) == (1, 1, 1)


def test_pii_ip_not_double_counted_as_phone(spark):
    # the IPv4 step must consume dotted quads BEFORE the phone rule
    d = _docs(spark, [(1, "ping 192.168.001.255 now")])
    r = d.select(*W.pii_counts("text"), W.pii_mask("text").alias("m")).first()
    assert (r["n_email"], r["n_ipv4"], r["n_phone"]) == (0, 1, 0)
    assert r["m"] == "ping <IP> now"


# ------------------------------------------------------------------ URL


URL_CASES = [
    ("HTTPS://WWW.Example.COM:443/Path/?utm_source=x&id=9#f",
     "https://www.example.com/Path?id=9", "www.example.com"),
    ("http://site.org:80/a?utm_campaign=only", "http://site.org/a", "site.org"),
    ("http://Host.Net/a/b/", "http://host.net/a/b", "host.net"),
    ("relative/path?gclid=z", "relative/path", ""),
    ("https://x.io/?fbclid=1&a=2&b=3", "https://x.io?a=2&b=3", "x.io"),
    ("https://x.io:8080/q", "https://x.io:8080/q", "x.io"),  # non-default port kept in URL
    # review r5: only the scheme's OWN default port is redundant —
    # http on :443 (and https on :80) is a distinct origin
    ("http://cross.org:443/p", "http://cross.org:443/p", "cross.org"),
    ("https://cross.org:80/p", "https://cross.org:80/p", "cross.org"),
]


def test_url_canonicalize(spark):
    d = spark.createDataFrame(
        [(i, u) for i, (u, _, _) in enumerate(URL_CASES)], "i int, url string"
    )
    got = {r["i"]: r for r in d.select(
        "i", W.url_canonicalize("url").alias("cu"), W.url_host("url").alias("h")
    ).collect()}
    for i, (_, want_cu, want_h) in enumerate(URL_CASES):
        assert got[i]["cu"] == want_cu, URL_CASES[i]
        assert got[i]["h"] == want_h, URL_CASES[i]


# --------------------------------------------------------------- lines


def test_duplicate_lines_newline_mode(spark):
    d = _docs(spark, [
        (1, "Home | About\nunique one"),
        (2, "Home | About\nunique two"),
        (3, "only here"),
    ])
    rows = duplicate_lines(d).collect()
    assert len(rows) == 1
    assert rows[0]["n_occurrences"] == 2 and rows[0]["n_docs"] == 2
    assert rows[0]["first_doc"] == 1


def test_duplicate_lines_chunked_counts_intra_doc(spark):
    d = _docs(spark, [(1, "p q p q"), (2, "zz ww")])
    rows = duplicate_lines(d, chunk_words=2).collect()
    # "p q" occurs twice within doc 1 → one dup line, n_docs = 1
    assert len(rows) == 1
    assert rows[0]["n_occurrences"] == 2 and rows[0]["n_docs"] == 1


def test_duplicate_lines_empty_doc_contributes_nothing(spark):
    d = _docs(spark, [(1, ""), (2, "x y")])
    assert duplicate_lines(d, chunk_words=2).count() == 0
