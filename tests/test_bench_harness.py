"""Keep the measurement harnesses from rotting: the codec A/B aggregator
in scripts/bench_index_size.py must report exactly the bytes the codec
functions produce, and the shared dir_bytes helper must count real
bytes (four call sites depend on it)."""

import os

import numpy as np

from information_retrieval_spark.index.codec import (
    gamma_encode,
    varint_encode,
)
from information_retrieval_spark.index.fsck import dir_bytes


def test_codec_ab_totals_match_direct_encode(spark):
    from scripts.bench_index_size import codec_ab

    rows = [
        # two groups: ("a","t") docs 0,5,7 tf 1,2,3 ; ("b","t") doc 9 tf 4
        ("a", "t", 0, 1), ("a", "t", 5, 2), ("a", "t", 7, 3),
        ("b", "t", 9, 4),
    ]
    df = spark.createDataFrame(
        rows, "term string, section string, doc_id long, tf int"
    )
    n, raw, var_b, gam_b = codec_ab(df)
    assert n == 4 and raw == 4 * 16
    ga = np.array([0, 5, 2], dtype=np.uint64)   # gaps of 0,5,7
    ta = np.array([1, 2, 3], dtype=np.uint64)
    gb = np.array([9], dtype=np.uint64)
    tb = np.array([4], dtype=np.uint64)
    want_var = sum(len(varint_encode(x)) for x in (ga, ta, gb, tb))
    want_gam = (
        len(gamma_encode(ga + np.uint64(1))) + len(gamma_encode(ta))
        + len(gamma_encode(gb + np.uint64(1))) + len(gamma_encode(tb))
    )
    assert var_b == want_var
    assert gam_b == want_gam


def test_codec_ab_pairs_tf_with_its_doc_id(spark):
    """Rows arrive in any order; each tf must stay with its doc_id when
    the doc_ids are sorted into 128-posting blocks. Docs 128 and 129 (tf 2,
    a 3-bit γ code) come first: blocked in arrival order their tfs would
    land in the first block and change its γ byte padding."""
    from scripts.bench_index_size import codec_ab

    docs = [129, 128] + list(range(128))
    rows = [("a", "t", d, 2 if d >= 128 else 1) for d in docs]
    df = spark.createDataFrame(
        rows, "term string, section string, doc_id long, tf int"
    ).coalesce(1)
    _, _, _, gam_b = codec_ab(df)
    gaps = np.array([0] + [1] * 129, dtype=np.uint64)
    tfs = np.array([1] * 128 + [2, 2], dtype=np.uint64)
    want = sum(
        len(gamma_encode(gaps[lo:lo + 128] + np.uint64(1)))
        + len(gamma_encode(tfs[lo:lo + 128]))
        for lo in (0, 128)
    )
    assert gam_b == want


def test_dir_bytes_counts_nested_files(tmp_path):
    (tmp_path / "sub").mkdir()
    (tmp_path / "a.bin").write_bytes(b"x" * 100)
    (tmp_path / "sub" / "b.bin").write_bytes(b"y" * 23)
    assert dir_bytes(str(tmp_path)) == 123
