"""Seeded workload inputs. The same seed gives byte-identical inputs.

Pure pandas/stdlib: the engine sees only the files these functions
write, never the generator state.
"""

from __future__ import annotations

import os
import random

import pandas as pd

from openie_backend_spark import synth
from openie_backend_spark.nlp import chunker

# kg_build: one landed crawl, split into several files so the scan is
# parallel. A build at this size is mostly fixed per-job cost.
BUILD_PAGES = 1000
BUILD_FILES = 4

# ingest probe: landing batches of this many pages, one run_incremental each.
INGEST_BATCH_PAGES = 500

# corpus_dedup: sf0.1-shaped documents (docs of 10-100 words over a
# small technical vocabulary) plus planted near-duplicate copies.
DOC_COUNT = 1200
DOC_VOCAB = (
    "a the batch part spark line column order small sort fast value scan "
    "hash slow group agg filter query big key window row table stream merge "
    "data vector join customer index cache shard node plan task job stage "
    "file page"
).split()
PLANTED_SHARE = 0.10
PLANT_MIN_WORDS = 40


def _parquet_pages(pages: pd.DataFrame) -> pd.DataFrame:
    # Spark cannot read TIMESTAMP(NANOS)
    out = pages.copy()
    out["warc_ts"] = out["warc_ts"].astype("datetime64[us, UTC]")
    return out


def build_pages(seed: int, n_pages: int = BUILD_PAGES) -> pd.DataFrame:
    return _parquet_pages(synth.generate_pages(n_pages, seed))


def write_pages(pages: pd.DataFrame, out_dir: str, n_files: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for i in range(n_files):
        pages.iloc[i::n_files].to_parquet(
            os.path.join(out_dir, f"part-{i:02d}.parquet"), index=False
        )


def write_dims(seed: int, out_dir: str) -> list[str]:
    names = []
    for name, df in synth.generate_dims(seed).items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
        names.append(name)
    return names


def _long_tail(sentence: str, rng: random.Random) -> str:
    """Prefix a seeded, nearly unique adverbial so the sentence becomes
    distinct while its extraction keys stay those of the template."""
    return f"In {rng.randrange(10_000, 100_000)} , {sentence}"


def ingest_batch(seed: int, batch: int,
                 n_pages: int = INGEST_BATCH_PAGES) -> pd.DataFrame:
    """Landing batch ``batch``: fresh urls, every sentence made distinct
    by a long-tail token."""
    pages = synth.generate_pages(n_pages, seed * 1000 + batch)
    rng = random.Random(f"ingest:{seed}:{batch}")
    urls, texts = [], []
    for i, text in enumerate(pages["text"]):
        urls.append(f"http://landing.example/{batch:04d}/{i:06d}")
        texts.append(" ".join(_long_tail(s, rng)
                              for s in chunker.split_sentences(text)))
    pages["url"] = urls
    pages["text"] = texts
    pages["html"] = [t.encode() for t in texts]
    return _parquet_pages(pages)


def documents(seed: int, n_docs: int = DOC_COUNT,
              planted_share: float = PLANTED_SHARE
              ) -> tuple[pd.DataFrame, list[tuple[int, int]]]:
    """(docs, planted pairs). A planted copy of a document of at least
    ``PLANT_MIN_WORDS`` words differs from it by one word substitution,
    so its word-trigram Jaccard stays above 0.8."""
    rng = random.Random(f"docs:{seed}")
    # every seed gets the same document lengths in a seeded order, so the
    # corpus holds the same number of words and shingles on every seed
    lengths = [10 + i % 91 for i in range(n_docs)]
    rng.shuffle(lengths)
    texts = [[rng.choice(DOC_VOCAB) for _ in range(n)] for n in lengths]
    eligible = [i for i, t in enumerate(texts) if len(t) >= PLANT_MIN_WORDS]
    originals = sorted(rng.sample(eligible, int(n_docs * planted_share)))
    planted = []
    for orig in originals:
        words = list(texts[orig])
        pos = rng.randrange(len(words) // 4, 3 * len(words) // 4)
        words[pos] = rng.choice([w for w in DOC_VOCAB if w != words[pos]])
        planted.append((orig, len(texts)))
        texts.append(words)
    docs = pd.DataFrame({
        "doc_id": range(len(texts)),
        "text": [" ".join(t) for t in texts],
        "lang": "en",
        "source": [f"src{i % 7}" for i in range(len(texts))],
    })
    docs["n_chars"] = docs["text"].str.len()
    return docs, planted


def sentences(pages: pd.DataFrame) -> list[str]:
    """The en sentences the extraction stage sees, in page order."""
    return [s for text, lang in zip(pages["text"], pages["lang"]) if lang == "en"
            for s in chunker.split_sentences(text)]


def page_properties(pages: pd.DataFrame) -> dict:
    sents = sentences(pages)
    head = synth.COMPANIES[0]
    return {
        "pages": len(pages),
        "en_sentences": len(sents),
        "distinct_sentence_ratio": len(set(sents)) / max(len(sents), 1),
        "head_key_share": sum(head in s for s in sents) / max(len(sents), 1),
    }
