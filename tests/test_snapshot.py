"""One pinned snapshot per engine: a commit that lands while an engine
opens must not pair one version's tables with another's.

The index is built (v1), then one top-ranked doc is re-crawled with new
content. ``Catalog.current_version`` is patched to answer 1 on its first
call and the real current version after that — the view of a reader whose
open raced the update's commits. Every query path must then answer
exactly what it answers when pinned to ``version=1``.
"""

from dataclasses import replace

import pytest

from information_retrieval_spark.fixtures import corpus_rows
from information_retrieval_spark.index.build import IndexBuilder
from information_retrieval_spark.index.catalog import Catalog
from information_retrieval_spark.index.maintenance import IndexMaintenance
from information_retrieval_spark.query.boolean import boolean_search
from information_retrieval_spark.query.engine import QuerySpec, SearchEngine
from information_retrieval_spark.query.wand import WandEngine

SECTIONS = {"title": "path", "abstract": "content"}
_CURRENT_VERSION = Catalog.current_version


def _df(spark, rows):
    return spark.createDataFrame(
        [(r.doc_id, r.repo, r.path, r.commit, r.lang, r.content) for r in rows],
        "doc_id long, repo string, path string, commit string, lang string,"
        " content string",
    )


def _ranked(rows):
    return sorted((r.query_id, r.rank, r.doc_id, round(r.score, 9)) for r in rows)


def _okapi(spell):
    return [
        QuerySpec(1, "tokeniezr steram" if spell else "tokenizer stream",
                  "okapi25", 10, spell=spell, match_mode="exact"),
        QuerySpec(2, "buffer matrix parser", "okapi25", 10, spell=spell,
                  match_mode="exact"),
    ]


BOOL_QUERIES = [(0, "", "tokenizer stream", "zqnew"), (1, "", "zqnew", "")]


@pytest.fixture(scope="module")
def updated(spark, tmp_path_factory):
    """(index dir, the re-crawled doc): v1 = the build, current = after
    one update that replaces the top okapi25 hit's content with an
    unrelated term."""
    rows = corpus_rows(60)
    d = str(tmp_path_factory.mktemp("pinned"))
    IndexBuilder(spark, d, SECTIONS, tokenizer="code", stop_k=10).build(
        _df(spark, rows)
    )
    top = SearchEngine(spark, d).search(_okapi(False)[:1]).collect()
    victim = next(r.doc_id for r in top if r.rank == 1)
    row = next(r for r in rows if r.doc_id == victim)
    IndexMaintenance(spark, d).update_documents(
        _df(spark, [replace(row, content="zqnew zqnew")])
    )
    # the update's first commit bootstraps v1 from the build's tables
    assert Catalog(d).history()[0]["operation"] == "bootstrap"
    assert Catalog(d).current_version() > 1
    return d, victim


def _race_open(monkeypatch):
    """The next open sees version 1 first, then the real current one."""
    calls = []

    def current_version(self):
        calls.append(None)
        return 1 if len(calls) == 1 else _CURRENT_VERSION(self)

    monkeypatch.setattr(Catalog, "current_version", current_version)


@pytest.mark.parametrize("method", ["okapi25", "ltc-lnc"])
def test_search_engine_pins_one_snapshot(spark, updated, monkeypatch, method):
    idx, victim = updated
    specs = [replace(q, method=method) for q in _okapi(False)]
    want = _ranked(SearchEngine(spark, idx, version=1).search(specs).collect())
    assert victim in {r[2] for r in want}
    assert want != _ranked(SearchEngine(spark, idx).search(specs).collect())
    _race_open(monkeypatch)
    got = _ranked(SearchEngine(spark, idx).search(specs).collect())
    assert got == want


def test_wand_engine_pins_one_snapshot(spark, updated, monkeypatch):
    """Spell on, first search() included: the spell vocabulary and the
    bucket side frame are read after open, from the pinned version."""
    idx, victim = updated
    specs = _okapi(True)
    with WandEngine(spark, idx, version=1) as eng:
        want = _ranked(eng.search(specs).collect())
    assert victim in {r[2] for r in want}
    _race_open(monkeypatch)
    with WandEngine(spark, idx) as eng:
        got = _ranked(eng.search(specs).collect())
    assert got == want


def test_boolean_search_pins_one_snapshot(spark, updated, monkeypatch):
    idx, victim = updated

    def run(version=None):
        return sorted(
            tuple(r)
            for r in boolean_search(
                spark, idx, BOOL_QUERIES, k=100, version=version
            ).collect()
        )

    want = run(version=1)
    assert victim in {r[2] for r in want}
    assert want != run()
    _race_open(monkeypatch)
    assert run() == want
