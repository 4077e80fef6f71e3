"""Marker-gated scale-corpus reuse (ADVICE r4): a corpus dir is only
reused when its on-disk marker matches the generator version and
parameters — existence alone let stale corpora feed published scaling
numbers after a generator change. Pure decision-logic test: generate()
is stubbed, no Spark needed."""

from __future__ import annotations

import json

import pytest

import tools.scale_corpus as sc


def _stub_generate(calls):
    def gen(spark, out_dir, mult, tables=sc.ALL_TABLES):
        calls.append((out_dir, mult, tuple(tables)))
        with open(f"{out_dir}/corpus_meta.json", "w") as f:
            json.dump(sc.marker(mult, tables), f)

    return gen


def test_missing_marker_regenerates(tmp_path, monkeypatch):
    calls = []
    monkeypatch.setattr(sc, "generate", _stub_generate(calls))
    d = str(tmp_path)
    assert sc.ensure_corpus(None, d, 10) is True
    assert calls == [(d, 10, sc.ALL_TABLES)]
    # second call: marker now matches — no regeneration
    assert sc.ensure_corpus(None, d, 10) is False
    assert len(calls) == 1


def test_version_bump_regenerates(tmp_path, monkeypatch):
    calls = []
    monkeypatch.setattr(sc, "generate", _stub_generate(calls))
    d = str(tmp_path)
    stale = sc.marker(10, sc.ALL_TABLES)
    stale["generator_version"] = sc.GENERATOR_VERSION - 1
    with open(f"{d}/corpus_meta.json", "w") as f:
        json.dump(stale, f)
    assert sc.ensure_corpus(None, d, 10) is True
    assert len(calls) == 1


def test_mult_or_table_mismatch_regenerates(tmp_path, monkeypatch):
    calls = []
    monkeypatch.setattr(sc, "generate", _stub_generate(calls))
    d = str(tmp_path)
    with open(f"{d}/corpus_meta.json", "w") as f:
        json.dump(sc.marker(10, ("embeddings",)), f)
    # same mult but a table the marker doesn't cover -> regenerate
    assert sc.ensure_corpus(None, d, 10, tables=("events", "embeddings")) is True
    # covered subset of a full corpus -> reuse
    with open(f"{d}/corpus_meta.json", "w") as f:
        json.dump(sc.marker(10, sc.ALL_TABLES), f)
    assert sc.ensure_corpus(None, d, 10, tables=("embeddings",)) is False
    # different multiplier -> regenerate
    assert sc.ensure_corpus(None, d, 100) is True
    assert len(calls) == 2


def test_corrupt_marker_regenerates(tmp_path, monkeypatch):
    calls = []
    monkeypatch.setattr(sc, "generate", _stub_generate(calls))
    d = str(tmp_path)
    with open(f"{d}/corpus_meta.json", "w") as f:
        f.write("{not json")
    assert sc.ensure_corpus(None, d, 1) is True
    assert len(calls) == 1


def test_matching_marker_extends_missing_tables_only(tmp_path, monkeypatch):
    """Round 7: adding a table to an existing corpus generates ONLY the
    missing table and unions the marker — it must not throw away the
    (expensive) tables already on disk."""
    calls = []
    monkeypatch.setattr(sc, "generate", _stub_generate(calls))
    d = str(tmp_path)
    with open(f"{d}/corpus_meta.json", "w") as f:
        json.dump(sc.marker(1000, ("documents", "embeddings")), f)
    assert sc.ensure_corpus(None, d, 1000, tables=("events", "nation")) is True
    assert calls == [(d, 1000, ("events", "nation"))]
    with open(f"{d}/corpus_meta.json") as f:
        have = json.load(f)
    assert set(have["tables"]) == {"documents", "embeddings", "events", "nation"}
    # now everything is covered -> full request is a no-op
    assert sc.ensure_corpus(None, d, 1000) is False
    assert len(calls) == 1


def test_unmarked_corpus_dir_is_never_overwritten(tmp_path):
    """A directory with tables but no marker is a real corpus (a test SF
    dir passed by mistake), not a generated one: generate() refuses
    before touching it."""
    d = str(tmp_path)
    (tmp_path / "documents.parquet").write_bytes(b"real")
    with pytest.raises(ValueError, match="refusing to overwrite"):
        sc.generate(None, d, 1, tables=("documents",))
    assert (tmp_path / "documents.parquet").read_bytes() == b"real"
    assert not (tmp_path / "corpus_meta.json").exists()
