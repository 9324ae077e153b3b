"""Self-tests of the benchmark's own arithmetic and input generation (no
Spark). Run from the repository root:

    python3 -m pytest perfbench/test_harness.py -q
"""

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

from harness import (  # noqa: E402
    Span,
    Tracer,
    failed_frac,
    quartile_spread,
    same_answer,
    self_times,
    tail,
)
from inputs import DELTA_DOCS, Inputs  # noqa: E402


def test_tail_is_highest_percentile_with_ten_beyond():
    xs = [float(i) for i in range(1, 21)]  # 20 samples
    value, pct, beyond = tail(list(reversed(xs)))
    assert (value, pct, beyond) == (10.0, 50.0, 10)
    value, pct, beyond = tail([float(i) for i in range(100)])
    assert (value, pct, beyond) == (89.0, 90.0, 10)


def test_tail_needs_eleven_samples():
    assert tail([1.0] * 10) is None
    assert tail([3.0] * 10 + [1.0]) == (1.0, 100.0 / 11, 10)


def test_failed_frac_counts_against_attempted():
    assert failed_frac(8, 2) == 0.25
    assert failed_frac(3, 0) == 0.0
    with pytest.raises(ValueError):
        failed_frac(0, 0)


def test_quartile_spread():
    assert quartile_spread([10.0] * 5) == 0.0
    # quantiles([1..5], n=4) = [1.5, 3, 4.5]: (4.5 - 1.5) / 3
    assert quartile_spread([5.0, 1.0, 3.0, 2.0, 4.0]) == pytest.approx(1.0)


def test_same_answer_order_and_tolerance():
    want = [(1, 2.0), (2, 1.0)]
    assert same_answer([(1, 2.0 * (1 + 5e-10)), (2, 1.0)], want)
    assert not same_answer([(1, 2.0 * (1 + 1e-8)), (2, 1.0)], want)
    assert not same_answer([(2, 1.0), (1, 2.0)], want)
    assert not same_answer([(1, 2.0)], want)


def _span(name, start, end, parent=None):
    return Span(name, start, end, parent)


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span("op", 0.0, 10.0),
        _span("a", 1.0, 4.0, 0),
        _span("b", 3.0, 6.0, 0),  # overlaps a: union 1..6
        _span("c", 8.0, 12.0, 0),  # runs past its parent: clipped to 8..10
        _span("a.child", 2.0, 3.0, 1),
    ]
    assert self_times(spans) == pytest.approx([3.0, 2.0, 3.0, 4.0, 1.0])


def test_tracer_nests_spans_without_spark():
    tr = Tracer()
    with tr.span("op", op_id=7):
        with tr.span("inner"):
            pass
    op, inner = tr.spans
    assert inner.parent == 0 and inner.op_id == 7 and op.parent is None
    assert op.start <= inner.start <= inner.end <= op.end
    rec = tr.dump()
    assert rec[0]["self_s"] == pytest.approx(op.wall - inner.wall)


def test_inputs_are_a_function_of_the_seed():
    a, b, c = (Inputs(s, n_docs=400) for s in (5, 5, 6))
    assert a.offset == b.offset and a.rows == b.rows
    assert a.broad_pool == b.broad_pool and a.selective_pool == b.selective_pool
    for stream in ("broad_batches", "ingest_batches", "selective_batches",
                   "deltas"):
        ga, gb = getattr(a, stream)(), getattr(b, stream)()
        assert [next(ga) for _ in range(3)] == [next(gb) for _ in range(3)]
    assert (a.offset, a.broad_pool) != (c.offset, c.broad_pool)


def test_deltas_recrawl_existing_docs():
    inp = Inputs(9, n_docs=400)
    by_id = {r.doc_id: r for r in inp.rows}
    delta = next(inp.deltas())
    assert len({r.doc_id for r in delta}) == DELTA_DOCS
    for r in delta:
        old = by_id[r.doc_id]
        assert (r.path, r.lang) == (old.path, old.lang)
        assert r.content != old.content


def test_pinned_stop_oracle_keeps_the_given_stop_list():
    from run import PinnedStopOracle
    from tests.oracle import Oracle

    docs = {1: {"title": "a", "abstract": "alpha beta beta"},
            2: {"title": "b", "abstract": "beta gamma"}}
    kw = {"sections": ("title", "abstract"), "tokenizer": "code", "stop_k": 1}
    assert Oracle(docs, **kw).stop_tokens == {"beta"}
    pinned = PinnedStopOracle(docs, {"gamma"}, **kw)
    assert pinned.stop_tokens == {"gamma"}
    assert "gamma" not in pinned.postings and "beta" in pinned.postings
    assert pinned.doclen[2]["abstract"] == 1
