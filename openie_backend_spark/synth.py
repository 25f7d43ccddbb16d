"""Deterministic synthetic corpus: Common-Crawl-style pages + linker
dimension tables (FIXTURES.md tables 1 and 4).

Generates, with a fixed seed:

* ``pages(url, warc_ts, html, text, lang)`` — web pages whose text
  embeds sentences with known ReVerb-able patterns (plus negation /
  pronoun / over-long distractors that the quality filters must drop),
  so every pipeline stage has a computable expected output. ``text``
  is a pure function of ``url`` (the byte-identical-per-url invariant
  from BASELINE.json is testable by hashing).
* ``dim_anchor_prior(anchor_lnrm, entity_title, cprob, count)`` —
  CrossWikis-style priors, with one deliberately skewed head anchor.
* ``dim_title_fbid(title, fbid)``, ``dim_fbid_title_inlinks(fbid,
  title, inlinks)``, ``dim_fbid_types(fbid, types)``,
  ``dim_entity_stoplist(fbid)``, ``dim_context_terms(fbid, term,
  weight)``.
* ``expected_triples(url, arg1_norm, rel_norm, arg2_norm)`` — the
  oracle for end-to-end P/R.

Everything is plain pandas → parquet (no Spark dependency) so tests
and the DuckDB oracle can share the files.
"""

from __future__ import annotations

import hashlib
import os
import random
from datetime import datetime, timezone

import pandas as pd

from openie_backend_spark.nlp import chunker, reverb, stemmer

SEED = 20260816

COMPANIES = [
    "Acme Corp", "Globex Inc.", "Initech", "Umbrella Group", "Stark Industries",
    "Wayne Enterprises", "Tyrell Corp", "Cyberdyne Systems", "Hooli",
    "Pied Piper", "Soylent Corp", "Wonka Industries", "Gringotts Bank",
    "Duff Brewing", "Oscorp", "Massive Dynamic", "Aperture Science",
    "Black Mesa", "Vandelay Industries", "Sterling Cooper",
]
PEOPLE = [
    "Alice Johnson", "Bob Smith", "Carol Danvers", "David Lee", "Erin Brock",
    "Frank Castle", "Grace Hopper", "Henry Ford", "Irene Adler", "James Kirk",
    "Karen Page", "Louis Pasteur", "Marie Curie", "Nikola Tesla", "Olive Oyl",
    "Peter Parker", "Quentin Blake", "Rosa Parks", "Steve Rogers", "Tony Stark",
]
CITIES = [
    "Springfield", "Gotham", "Metropolis", "Riverdale", "Smallville",
    "Sunnydale", "Hill Valley", "Emerald City", "Bedrock", "Quahog",
    "Kingsport", "Arkham", "Innsmouth", "Dunwich", "Castle Rock",
]
COUNTRIES = ["Freedonia", "Latveria", "Genovia", "Wakanda", "Elbonia"]

# (template, arg1 pool, arg2 pool, relation phrase used)
# Templates are chosen so the rule chunker + ReVerb matcher parse them.
TEMPLATES = [
    ("{a} acquired {b} .", "company", "company"),
    ("{a} was founded by {b} .", "company", "person"),
    ("{a} is the capital of {b} .", "city", "country"),
    ("{a} works for {b} .", "person", "company"),
    ("{a} was born in {b} .", "person", "city"),
    ("{a} announced a partnership with {b} .", "company", "company"),
    ("{a} is located in {b} .", "company", "city"),
    ("{a} invented {b} .", "person", "invention"),
    ("{a} moved to {b} .", "person", "city"),
    ("{a} is a subsidiary of {b} .", "company", "company"),
    # noun-mediated (relnoun 'N') and relative-clause ('R')
    # constructions so the second-extractor stream splitter sees every
    # kind on the synthetic corpus, not only 'T'
    ("{a} CEO {b} announced a partnership with Omni Consumer Products .",
     "company", "person"),
    ("{b} , the founder of {a} , lives in Arkham .", "company", "person"),
    ("{a} , who works for {b} , moved to Emerald City .", "person", "company"),
    # clausal complement ('C') + coordinated subjects (conj repair)
    ("{a} announced that {b} acquired Omni Consumer Products .",
     "company", "company"),
    ("{a} and {b} announced a merger in March .", "company", "company"),
    # agentive passive (active-normalized by passive_extract)
    ("{a} was acquired by {b} in 2006 .", "company", "company"),
]
INVENTIONS = ["the widget", "the gadget", "the flux capacitor", "the sprocket",
              "the doohickey"]

# distractor sentences the quality filters (F2) must reject
DISTRACTORS = [
    "It did not buy anything .",               # negation + pronoun arg
    "He sold it .",                            # pronoun args
    "They never met them .",                   # negation + pronouns
    "The thing is http://spam.example a mess .",  # likely-error pattern
]

POOLS = {
    "company": COMPANIES,
    "person": PEOPLE,
    "city": CITIES,
    "country": COUNTRIES,
    "invention": INVENTIONS,
}


def _fbid(title: str) -> str:
    return "m." + hashlib.md5(title.encode()).hexdigest()[:8]


def _entity_universe() -> pd.DataFrame:
    rows = []
    for kind, pool in (
        ("company", COMPANIES), ("person", PEOPLE),
        ("city", CITIES), ("country", COUNTRIES),
    ):
        for name in pool:
            rows.append({"title": name, "fbid": _fbid(name), "kind": kind})
    return pd.DataFrame(rows)


_TYPES_BY_KIND = {
    "company": ["/business/company", "/organization/organization"],
    "person": ["/people/person"],
    "city": ["/location/citytown", "/location/location"],
    "country": ["/location/country", "/location/location"],
}


def generate_pages(n_pages: int, seed: int = SEED) -> pd.DataFrame:
    """Pages whose text is a deterministic function of the url."""
    rows = []
    for i in range(n_pages):
        rng = random.Random(f"{seed}:{i}")  # per-page determinism by url index
        n_sents = rng.randint(2, 6)
        sents = []
        for _ in range(n_sents):
            tmpl, k1, k2 = TEMPLATES[rng.randrange(len(TEMPLATES))]
            a = rng.choice(POOLS[k1])
            # skew: one head entity appears in a large fraction of pages
            if k1 == "company" and rng.random() < 0.35:
                a = COMPANIES[0]
            b = rng.choice(POOLS[k2])
            if k2 == "company":
                while b == a:
                    b = rng.choice(POOLS[k2])
            sents.append(tmpl.format(a=a, b=b))
        if rng.random() < 0.3:
            sents.append(rng.choice(DISTRACTORS))
        lang = "en" if rng.random() < 0.85 else rng.choice(["de", "fr", "es"])
        url = f"http://crawl.example/{i:08d}"
        text = " ".join(sents)
        # realistic page shell: script/style/comment boilerplate and
        # entities the html_to_text operator must strip / decode
        html = (
            "<html><head><title>Page " + str(i) + "</title>"
            "<style>body { margin: 0; }</style>"
            "<script>var page = " + str(i) + ";</script></head>"
            "<body><!-- header --><nav>Home &amp; About</nav>"
            "<div class=\"main\">" + text + "</div>"
            "<div class=\"footer\">&quot;footer&quot;&nbsp;text</div>"
            "</body></html>"
        )
        rows.append(
            {
                "url": url,
                "warc_ts": datetime(2026, 1, 1, tzinfo=timezone.utc)
                + pd.Timedelta(seconds=i),
                "html": html.encode(),
                "text": text,
                "lang": lang,
            }
        )
    return pd.DataFrame(rows)


def generate_dims(seed: int = SEED) -> dict[str, pd.DataFrame]:
    ents = _entity_universe()
    rng = random.Random(seed)
    anchor_rows, title_rows, inlink_rows, type_rows, ctx_rows = [], [], [], [], []
    for r in ents.itertuples():
        anchor = stemmer.lnrm(r.title)
        inlinks = rng.randint(50, 50000)
        anchor_rows.append(
            {"anchor_lnrm": anchor, "entity_title": r.title,
             "cprob": round(rng.uniform(0.6, 0.99), 3), "count": rng.randint(600, 100000)}
        )
        # ambiguity: head-word anchor also points at the entity with lower prior
        head = stemmer.lnrm(r.title.split()[0])
        if head != anchor:
            anchor_rows.append(
                {"anchor_lnrm": head, "entity_title": r.title,
                 "cprob": round(rng.uniform(0.1, 0.5), 3), "count": rng.randint(500, 5000)}
            )
        title_rows.append({"title": r.title, "fbid": r.fbid})
        inlink_rows.append({"fbid": r.fbid, "title": r.title, "inlinks": inlinks})
        type_rows.append({"fbid": r.fbid, "types": _TYPES_BY_KIND[r.kind]})
        for w in set(stemmer.lnrm(w) for w in r.title.split()):
            ctx_rows.append({"fbid": r.fbid, "term": w, "weight": round(rng.uniform(0.5, 1.0), 3)})
    stop = [{"fbid": _fbid(t)} for t in ["Duff Brewing"]]
    return {
        "dim_anchor_prior": pd.DataFrame(anchor_rows),
        "dim_title_fbid": pd.DataFrame(title_rows),
        "dim_fbid_title_inlinks": pd.DataFrame(inlink_rows),
        "dim_fbid_types": pd.DataFrame(type_rows),
        "dim_entity_stoplist": pd.DataFrame(stop),
        "dim_context_terms": pd.DataFrame(ctx_rows),
    }


def expected_triples(pages: pd.DataFrame) -> pd.DataFrame:
    """Oracle: run the same pure-Python extractor + normalizer the Spark
    UDFs wrap, single-threaded, over the pages (en only)."""
    rows = []
    for r in pages.itertuples():
        if r.lang != "en":
            continue
        for sent in chunker.split_sentences(r.text):
            toks, tags, chks = chunker.chunk_sentence(sent)
            for e in reverb.extract(toks, tags, chks):
                rows.append(
                    {
                        "url": r.url,
                        "arg1_norm": stemmer.index_key_part(
                            toks[e.arg1[0]:e.arg1[1]], tags[e.arg1[0]:e.arg1[1]]
                        ),
                        "rel_norm": stemmer.index_key_part(
                            toks[e.rel[0]:e.rel[1]], tags[e.rel[0]:e.rel[1]]
                        ),
                        "arg2_norm": stemmer.index_key_part(
                            toks[e.arg2[0]:e.arg2[1]], tags[e.arg2[0]:e.arg2[1]]
                        ),
                    }
                )
    return pd.DataFrame(rows)


# Single shared page count for the cached oracle/entry corpus — the
# mirror oracles and __spark_entry__ must read the SAME corpus.
DEFAULT_N_PAGES = 150


def corpus_cache_dir(n_pages: int = DEFAULT_N_PAGES) -> str:
    """Fixed cache path per page count; its ``VERSION`` stamp is the
    NLP+synth source hash (``mirror.source_version`` —
    ``expected_triples`` runs the live extractor, so a tagger change
    must regenerate the corpus too). Stale /tmp pages were an ADVICE
    r2 finding."""
    return f"/tmp/openie_synth_cache_n{n_pages}"


def ensure_corpus(n_pages: int = DEFAULT_N_PAGES) -> str:
    """Idempotent, race-safe corpus materialization: a stale or missing
    stamp regenerates the corpus into a pid-suffixed sibling that is
    swapped into place (``mirror.stamped_dir``)."""
    from openie_backend_spark import mirror

    return mirror.stamped_dir(
        corpus_cache_dir(n_pages),
        lambda tmp: write_corpus(tmp, n_pages=n_pages))


def write_corpus(out_dir: str, n_pages: int = 200, seed: int = SEED) -> None:
    os.makedirs(out_dir, exist_ok=True)
    pages = generate_pages(n_pages, seed)
    # Spark cannot read TIMESTAMP(NANOS); write microsecond precision
    pages["warc_ts"] = pages["warc_ts"].astype("datetime64[us, UTC]")
    pages.to_parquet(os.path.join(out_dir, "pages.parquet"), index=False)
    for name, df in generate_dims(seed).items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
    expected_triples(pages).to_parquet(
        os.path.join(out_dir, "expected_triples.parquet"), index=False
    )


if __name__ == "__main__":
    import sys

    out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/openie_synth"
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 200
    write_corpus(out, n)
    print(f"wrote corpus to {out} ({n} pages)")
