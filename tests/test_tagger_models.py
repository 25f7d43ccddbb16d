"""The shipped perceptron models are the only tagger path: they are
required, they decode the same in-process as after a save/load round
trip, and the oracle cache paths do not move when their sources do."""

from __future__ import annotations

import os

import pytest

from openie_backend_spark import mirror, synth
from openie_backend_spark.nlp import chunker, perceptron

_TOY = [
    ("The dog sat on the mat .", "DT NN VBD IN DT NN ."),
    ("A cat slept in the house .", "DT NN VBD IN DT NN ."),
    ("The man walked to the store .", "DT NN VBD TO DT NN ."),
    ("Dogs bark at night .", "NNS VBP IN NN ."),
    ("She reads the book .", "PRP VBZ DT NN ."),
    ("They played in the park .", "PRP VBD IN DT NN ."),
    ("The bird sang a song .", "DT NN VBD DT NN ."),
    ("He runs every morning .", "PRP VBZ DT NN ."),
    ("The children ate the cake .", "DT NNS VBD DT NN ."),
]


def _toy_sentences():
    return [(s.split(), t.split()) for s, t in _TOY]


def test_trained_tagger_decodes_like_its_saved_copy(tmp_path):
    # min_freq=100: no word is in the tag dictionaries, so every token
    # takes the unconstrained decode, during training and after it
    model = perceptron.PerceptronTagger()
    model.train(_toy_sentences(), epochs=5, min_freq=100)
    path = str(tmp_path / "toy_tagger.json.gz")
    model.save(path)
    loaded = perceptron.PerceptronTagger.load(path)
    for toks in (["The", "dog", "sat", "in", "the", "park", "."],
                 *(s for s, _ in _toy_sentences())):
        assert model.tag(toks) == loaded.tag(toks)
    assert set(model.tag(["The", "dog", "sat", "in", "the", "park", "."])) != {"NN"}


def test_getters_always_return_models():
    assert isinstance(perceptron.get_tagger(), perceptron.PerceptronTagger)
    assert isinstance(perceptron.get_chunker(), perceptron.PerceptronChunker)


def test_missing_model_fails_loudly(monkeypatch, tmp_path):
    missing = str(tmp_path / "absent_model.json.gz")
    monkeypatch.setattr(perceptron, "MODEL_PATH", missing)
    monkeypatch.setattr(perceptron, "CHUNKER_MODEL_PATH", missing)
    monkeypatch.setattr(perceptron, "_CACHED", None)
    monkeypatch.setattr(perceptron, "_CACHED_CHUNKER", None)
    toks = ["Acme", "bought", "Globex", "."]
    with pytest.raises(FileNotFoundError, match="absent_model"):
        chunker.pos_tag(toks)
    with pytest.raises(FileNotFoundError, match="absent_model"):
        chunker.chunk(toks, ["NNP", "VBD", "NNP", "."])


def test_cache_paths_ignore_source_version(monkeypatch):
    before = (mirror.cache_dir(), synth.corpus_cache_dir())
    monkeypatch.setattr(mirror, "source_version", lambda: "edited")
    assert (mirror.cache_dir(), synth.corpus_cache_dir()) == before


def test_stamped_dir_rebuilds_in_place(monkeypatch, tmp_path):
    path = str(tmp_path / "cache")
    builds = []

    def build(out):
        builds.append(out)
        with open(os.path.join(out, "data"), "w") as fh:
            fh.write(mirror.source_version())

    monkeypatch.setattr(mirror, "source_version", lambda: "v1")
    assert mirror.stamped_dir(path, build) == path
    assert mirror.stamped_dir(path, build) == path
    assert len(builds) == 1 and builds[0] != path

    monkeypatch.setattr(mirror, "source_version", lambda: "v2")
    assert mirror.stamped_dir(path, build) == path
    assert len(builds) == 2
    with open(os.path.join(path, "data")) as fh:
        assert fh.read() == "v2"
    with open(os.path.join(path, "VERSION")) as fh:
        assert fh.read() == "v2"
    assert sorted(os.listdir(tmp_path)) == ["cache"]
