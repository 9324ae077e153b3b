"""The ranked engine's per-bucket scorer against a brute force, no Spark.

`_Bucket.top_k` scores one doc-hash bucket: the packed blocks of the
batch's terms (`index/pack.py::_pack_batch_arrow`, one run per LSM segment) plus
the bucket's side rows (doclen, seq-scoped tombstones, categories). These
tests build such buckets in pandas and compare the scorer's answer, merged
the way `WandEngine.search` merges bucket lists, with a scorer written here
over the unpacked postings: live postings only, prefix expansions summed
per (doc, section) before BM25 saturation or tf-idf's 1 + ln tf (ltc-lnc
then divides by the norm over the query's matched lists in that doc and
section), filters applied, top-k under (-round(score, 9), doc_id).

Pruning tests count the bytes handed to the varint decoder on a skewed
bucket: the per-block bounds must let a k=3 query skip nearly every block.
"""

import math

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from information_retrieval_spark.index.catalog import GLOBAL_UPTO
from information_retrieval_spark.index.pack import _pack_batch_arrow
from information_retrieval_spark.query import wand
from information_retrieval_spark.query.engine import K1, B
from information_retrieval_spark.query.wand import _Bucket, _Plan

SECTIONS = ["title", "abstract"]


def _pack(rows: pd.DataFrame) -> pd.DataFrame:
    """Sorted (term, section, bucket, doc_id) rows → packed block rows, by
    the build's Arrow packer."""
    batches = _pack_batch_arrow(pa.Table.from_pandas(rows, preserve_index=False))
    return pa.Table.from_batches(batches).to_pandas()


def _bucket(postings: pd.DataFrame, dels=(), cats=()) -> _Bucket:
    """A bucket from unpacked ``postings`` (term, section, seq, doc_id, tf,
    dl; one segment per seq), tombstones ``(doc_id, upto)`` and category
    rows ``(doc_id, category, seq)``."""
    parts = []
    for seq, seg in postings.groupby("seq"):
        rows = seg.assign(bucket=0).sort_values(
            ["term", "section", "doc_id"]
        )
        parts.append(_pack(rows).assign(
            segment=seq, seg_seq=seq
        ))
    shard = pd.concat(parts, ignore_index=True)
    dl = postings.drop_duplicates(["doc_id", "section", "seq"])
    side = pd.concat([
        pd.DataFrame({"doc_id": dl.doc_id, "kind": "dl", "s": dl.section,
                      "v": dl.dl, "seq": dl.seq}),
        pd.DataFrame([(d, "del", None, u, 0) for d, u in dels],
                     columns=["doc_id", "kind", "s", "v", "seq"]),
        pd.DataFrame([(d, "cat", c, 0, s) for d, c, s in cats],
                     columns=["doc_id", "kind", "s", "v", "seq"]),
    ], ignore_index=True)
    return _Bucket(shard, side, SECTIONS)


def _upto(dels) -> dict[int, int]:
    """doc_id → its tombstones' max upto (a row of segment seq s is hidden
    iff upto >= s)."""
    upto: dict[int, int] = {}
    for d, u in dels:
        upto[d] = max(u, upto.get(d, -1))
    return upto


def _live(postings: pd.DataFrame, dels) -> pd.DataFrame:
    upto = _upto(dels)
    hidden = [upto.get(d, -1) >= s
              for d, s in zip(postings.doc_id, postings.seq)]
    return postings[~np.asarray(hidden, dtype=bool)]


def _brute(postings, dels, cats, meta, plan) -> list[tuple[int, float]]:
    """Top-k (doc_id, score) by scoring every live posting with the
    query's method."""
    live = _live(postings, dels)
    ok = set(live.doc_id)
    if plan.want is not None:
        upto = _upto(dels)
        ok &= {d for d, c, s in cats
               if c == plan.want and upto.get(d, -1) < s}
    for t in plan.must:
        ok &= set(live.doc_id[live.term == t])
    for t in plan.exclude:
        ok -= set(live.doc_id[live.term == t])
    score: dict[int, float] = {}
    cells: dict[tuple, list] = {}  # (doc, section) → [(weight, 1 + ln tf)]
    for (qterm, s), m in meta["terms"].items():
        hit = live[live.term.isin(plan.qterms[qterm])
                   & (live.section == s) & live.doc_id.isin(ok)]
        for doc, g in hit.groupby("doc_id"):
            tf, dl = float(g.tf.sum()), float(g.dl.iloc[0])
            if meta["method"] == "okapi25":
                score[doc] = score.get(doc, 0.0) + m["weight"] * tf * (
                    K1 + 1) / (tf + K1 * (1 - B + B * dl / m["avgdl"]))
            else:
                cells.setdefault((doc, s), []).append(
                    (m["weight"], 1.0 + math.log(tf)))
    for (doc, _), lists in cells.items():
        norm = (math.sqrt(sum(x * x for _, x in lists))
                if meta["method"] == "ltc-lnc" else 1.0)
        score[doc] = score.get(doc, 0.0) + sum(w * x / norm for w, x in lists)
    ranked = sorted(score.items(), key=lambda ds: (-round(ds[1], 9), ds[0]))
    return ranked if meta["k"] < 0 else ranked[: meta["k"]]


def _scored(bucket, meta, plan) -> list[tuple[int, float]]:
    """The bucket's answer, cut the way WandEngine.search merges it."""
    out = bucket.top_k({1: meta}, {1: plan})
    ranked = sorted(zip(out.doc_id.tolist(), out.score.tolist()),
                    key=lambda ds: (-round(ds[1], 9), ds[0]))
    return ranked if meta["k"] < 0 else ranked[: meta["k"]]


def _same(got, want):
    assert [d for d, _ in got] == [d for d, _ in want]
    np.testing.assert_allclose([s for _, s in got], [s for _, s in want],
                               rtol=0, atol=1e-9)


# ----------------------------------------------------------- random corpus

TERMS = {"tok": 0.15, "token": 0.3, "tokenizer": 0.1, "stream": 0.5,
         "buf": 0.2, "zed": 0.05, "parse": 0.02}


def _segment(rng, docs, seq) -> list[tuple]:
    rows = []
    for doc in docs:
        for s in SECTIONS:
            dl = int(rng.integers(3, 60))
            for t, p in TERMS.items():
                if rng.random() < p:
                    rows.append((t, s, seq, doc,
                                 int(rng.integers(1, 1 + min(dl, 9))), dl))
    return rows


@pytest.fixture(scope="module")
def corpus():
    """Three segments: a base of 900 docs, then two adds that bring new
    docs and re-add updated ones (doc 10 twice). Tombstones hide the
    updated docs' old versions, delete some docs outright and delete one
    doc added by the second segment."""
    rng = np.random.default_rng(7)
    rows = _segment(rng, range(900), 1)
    rows += _segment(rng, [*range(900, 1000), 10, 20, 30, 700], 2)
    rows += _segment(rng, [*range(1000, 1050), 10], 3)
    postings = pd.DataFrame(
        rows, columns=["term", "section", "seq", "doc_id", "tf", "dl"])
    dels = [(10, 2), (20, 1), (30, 1), (700, 1), (5, GLOBAL_UPTO),
            (6, 1), (950, 2), (10, 1)]
    cats = [(d, ("java", "go")[int(rng.integers(0, 2))], s)
            for d, s in postings[["doc_id", "seq"]].drop_duplicates()
            .itertuples(index=False)]
    return postings, dels, cats, _bucket(postings, dels, cats)


def _meta(k, terms, method="okapi25"):
    return {"k": k, "method": method, "terms": {
        (q, s): {"weight": w * (0.8 if s == "title" else 0.2),
                 "avgdl": 30.0 + (s == "title")}
        for q, w in terms.items() for s in SECTIONS}}


METHODS = ["okapi25", "ltn-lnn", "ltc-lnc"]


QUERIES = {
    "exact": (_Plan({"stream": ["stream"], "buf": ["buf"]}, None, (), ()),
              {"stream": 0.7, "buf": 1.9}),
    "prefix": (_Plan({"tok": ["tok", "token", "tokenizer"],
                      "stream": ["stream"]}, None, (), ()),
               {"tok": 1.1, "stream": 0.6}),
    "filtered": (_Plan({"token": ["token", "tokenizer"], "zed": ["zed"]},
                       "java", ("buf",), ("parse",)),
                 {"token": 0.9, "zed": 2.5}),
    "must_only": (_Plan({"stream": ["stream"]}, None, ("zed",), ()),
                  {"stream": 1.3}),
}


@pytest.mark.parametrize("name, k, method", [
    # okapi25 cases keep their method-less ids
    pytest.param(name, k, method, id="-".join(
        map(str, (name, k) if method == "okapi25" else (method, name, k))))
    for method in METHODS for name in sorted(QUERIES) for k in (1, 10, -1, 0)
])
def test_top_k_matches_brute_force(corpus, name, k, method):
    postings, dels, cats, bucket = corpus
    plan, terms = QUERIES[name]
    meta = _meta(k, terms, method)
    want = _brute(postings, dels, cats, meta, plan)
    assert k <= 0 or len(want) == k
    _same(_scored(bucket, meta, plan), want)


def test_updated_doc_scores_its_live_version(corpus):
    """Doc 10 was re-added twice: only its newest postings may score."""
    postings, dels, cats, bucket = corpus
    plan, terms = QUERIES["prefix"]
    for method in METHODS:
        meta = _meta(-1, terms, method)
        got = dict(_scored(bucket, meta, plan))
        want = dict(_brute(postings, dels, cats, meta, plan))
        assert 10 in want and 5 not in got and 950 not in got
        assert got[10] == pytest.approx(want[10], abs=1e-9), method


@pytest.mark.parametrize("name", ["exact", "prefix"])
def test_negative_doc_ids(name):
    """doc_id is any long: blocks of negative ids are packed in signed
    order with wrapping gaps, and must score like any others."""
    rng = np.random.default_rng(5)
    docs = np.sort(rng.choice(np.arange(-5000, 5000), 1200, replace=False))
    postings = pd.DataFrame(
        _segment(rng, docs.tolist(), 1),
        columns=["term", "section", "seq", "doc_id", "tf", "dl"])
    dels = [(int(d), 1) for d in docs[::13]]
    bucket = _bucket(postings, dels)
    plan, terms = QUERIES[name]
    for k in (10, -1):
        meta = _meta(k, terms)
        _same(_scored(bucket, meta, plan),
              _brute(postings, dels, (), meta, plan))


def test_near_ties_follow_the_rounded_order():
    """Thirty exact ties on one term and ten docs on another term whose
    scores sit 1e-12 higher: rounded to 9 places they tie, so doc_id
    decides and the low-id docs of the first term win."""
    rows = [("x", "title", 1, d, 1, 10) for d in range(30)]
    rows += [("y", "title", 1, d, 1, 10) for d in range(100, 110)]
    rows += [("x", "title", 1, d, 1, 40) for d in range(200, 400)]
    postings = pd.DataFrame(
        rows, columns=["term", "section", "seq", "doc_id", "tf", "dl"])
    bucket = _bucket(postings)
    plan = _Plan({"x": ["x"], "y": ["y"]}, None, (), ())
    for k in (1, 5, 35):
        meta = {"k": k, "method": "okapi25", "terms": {
            ("x", "title"): {"weight": 1.0, "avgdl": 20.0},
            ("y", "title"): {"weight": 1.0 + 1e-12, "avgdl": 20.0}}}
        want = _brute(postings, (), (), meta, plan)
        assert [d for d, _ in want] == [*range(min(k, 30)),
                                        *range(100, 100 + k - 30)]
        _same(_scored(bucket, meta, plan), want)


# ---------------------------------------------------------------- pruning

def test_block_bounds_skip_cold_blocks(monkeypatch):
    """Two dense terms over 12,032 docs (94 blocks each) and one hot block
    where both have large tf: a k=3 query must decode at most 5% of the
    shard's block bytes, under okapi25 and under ltn-lnn."""
    n_docs, hot = 94 * 128, range(40 * 128, 41 * 128)
    tf = np.ones(n_docs, dtype=np.int64) + np.arange(n_docs) % 2
    tf[hot.start:hot.stop] = 20 + np.arange(128) % 13
    rows = pd.DataFrame({
        "term": np.repeat(["a", "b"], n_docs), "section": "title", "seq": 1,
        "doc_id": np.tile(np.arange(n_docs), 2), "tf": np.tile(tf, 2),
        "dl": 50,
    })
    bucket = _bucket(rows)
    plan = _Plan({"a": ["a"], "b": ["b"]}, None, (), ())
    decoded = []

    def counting(fn):
        def wrapped(buf):
            decoded.append(len(buf))
            return fn(buf)
        return wrapped

    for name in ("varint_decode", "decode_doc_gaps"):
        monkeypatch.setattr(wand, name, counting(getattr(wand, name)))
    shard = _pack(rows.assign(bucket=0))
    total = sum(shard[c].map(len).sum()
                for c in ("docs_bin", "tfs_bin", "dls_bin"))
    assert len(shard) == 188
    for method in ("okapi25", "ltn-lnn"):
        meta = {"k": 3, "method": method, "terms": {
            ("a", "title"): {"weight": 1.5, "avgdl": 50.0},
            ("b", "title"): {"weight": 0.5, "avgdl": 50.0}}}
        decoded.clear()
        got = _scored(bucket, meta, plan)
        assert sum(decoded) <= 0.05 * total, (method, sum(decoded), total)
        _same(got, _brute(rows, (), (), meta, plan))


@pytest.mark.parametrize("method", METHODS)
def test_negative_section_weight_keeps_top_k_exact(method):
    """A list with a negative section weight can only lower a score, so its
    blocks must not lower an interval's bound. stream and token/title weigh
    +1.0 and +0.5; buf/abstract weighs -2.0 and covers only the lower half
    of the doc-id space, where the best docs lack it. The pruned top-k
    must equal the brute force."""
    rng = np.random.default_rng(3)
    rows = []
    for doc in range(3000):
        dl = int(rng.integers(3, 60))
        rows.append(("stream", "title", 1, doc, int(rng.integers(1, 10)), dl))
        if rng.random() < 0.3:
            rows.append(("token", "title", 1, doc, int(rng.integers(1, 10)),
                         dl))
        if doc < 1500 and rng.random() < 0.6:
            rows.append(("buf", "abstract", 1, doc, int(rng.integers(1, 10)),
                         int(rng.integers(3, 60))))
    postings = pd.DataFrame(
        rows, columns=["term", "section", "seq", "doc_id", "tf", "dl"])
    bucket = _bucket(postings)
    plan = _Plan({"stream": ["stream"], "token": ["token"], "buf": ["buf"]},
                 None, (), ())
    for k in (1, 3, 10):
        meta = {"k": k, "method": method, "terms": {
            ("stream", "title"): {"weight": 1.0, "avgdl": 30.0},
            ("token", "title"): {"weight": 0.5, "avgdl": 30.0},
            ("buf", "abstract"): {"weight": -2.0, "avgdl": 30.0}}}
        _same(_scored(bucket, meta, plan),
              _brute(postings, (), (), meta, plan))


def test_round9_matches_python_round():
    """The scorer's vectorized rounding equals ``round(v, 9)``, half steps
    and large values included."""
    from information_retrieval_spark.query.wand import _round9

    rng = np.random.default_rng(11)
    halves = (rng.integers(0, 10**12, 2000) + 0.5) / 1e9
    x = np.concatenate([
        rng.random(2000) * 30, halves, np.nextafter(halves, 0),
        np.nextafter(halves, 1), -halves, [0.0, 1e7, 3.3e9, 2.5e-9],
    ])
    assert _round9(x).tolist() == [round(v, 9) for v in x.tolist()]


def _row_sort_groups(member):
    groups, inv = np.unique(member, axis=0, return_inverse=True)
    return groups, inv.reshape(-1)


@pytest.mark.parametrize("n_terms", [10, 62, 70])
def test_stats_groups_equal_row_sort(monkeypatch, n_terms):
    """`_Bucket.stats` groups candidates by their int64-packed qterm
    masks (up to 62 qterms; a row sort past that): its rows equal the
    row-sort grouping's, in order, on batches with hundreds of masks."""
    rng = np.random.default_rng(n_terms)
    terms = [f"t{i:02d}" for i in range(n_terms)]
    postings = pd.DataFrame(
        [(t, s, 1, doc, int(rng.integers(1, 4)), 40 + doc % 7)
         for doc in range(600) for t in terms for s in SECTIONS
         if rng.random() < 0.25],
        columns=["term", "section", "seq", "doc_id", "tf", "dl"],
    )
    plans = {
        1: _Plan({t: [t] for t in terms}, None, (), ()),
        2: _Plan({t: [t] for t in terms[:9]}, None, (), ()),
        3: _Plan({terms[0]: terms[:3], terms[5]: [terms[5]]}, None, (), ()),
    }
    got = _bucket(postings).stats(plans)
    monkeypatch.setattr(wand, "_row_groups", _row_sort_groups)
    want = _bucket(postings).stats(plans)
    pd.testing.assert_frame_equal(got, want)
    assert (got.query_id == 2).sum() > 200  # many masks
