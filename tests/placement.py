"""Force the ranked engine's placement (query/wand.py): its gate constants
set to ∞ place every batch on the driver, set to 0 on the executors."""

import math
from contextlib import contextmanager

from information_retrieval_spark.query import wand

PLACEMENTS = ("local", "distributed")
_GATE = ("LOCAL_MAX_DOCS", "LOCAL_MAX_SHARD_BYTES")


@contextmanager
def forced(placement: str):
    saved = {n: getattr(wand, n) for n in _GATE}
    for n in _GATE:
        setattr(wand, n, math.inf if placement == "local" else 0)
    try:
        yield
    finally:
        for n, v in saved.items():
            setattr(wand, n, v)


def each_placement(run):
    """``run()`` under each forced placement: both answers must be equal.
    Returns that answer."""
    got = {}
    for p in PLACEMENTS:
        with forced(p):
            got[p] = run()
    assert got["local"] == got["distributed"]
    return got["local"]
