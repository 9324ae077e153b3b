"""Force the ranked engine's placement (query/wand.py) or a compaction's
(index/maintenance.py): their gate constants set to ∞ place every batch
or merge on the driver, set to 0 on the executors."""

import math
from contextlib import contextmanager

from information_retrieval_spark.index import maintenance
from information_retrieval_spark.query import wand

PLACEMENTS = ("local", "distributed")
_GATE = ("LOCAL_MAX_DOCS", "LOCAL_MAX_SHARD_BYTES")


@contextmanager
def _set(module, names, placement: str):
    saved = {n: getattr(module, n) for n in names}
    for n in names:
        setattr(module, n, math.inf if placement == "local" else 0)
    try:
        yield
    finally:
        for n, v in saved.items():
            setattr(module, n, v)


def forced(placement: str):
    """Every search batch runs in ``placement``."""
    return _set(wand, _GATE, placement)


def merge_forced(placement: str):
    """Every single-output merge runs in ``placement`` (a hash-split merge
    always runs distributed)."""
    return _set(maintenance, ("LOCAL_MAX_MERGE_BYTES",), placement)


def each_placement(run):
    """``run()`` under each forced placement: both answers must be equal.
    Returns that answer."""
    got = {}
    for p in PLACEMENTS:
        with forced(p):
            got[p] = run()
    assert got["local"] == got["distributed"]
    return got["local"]
