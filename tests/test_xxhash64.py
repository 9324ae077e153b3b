"""The numpy ``xxhash64`` (index/xxhash64.py) equals Spark's
``F.xxhash64`` on random rows: strings of 0-100 UTF-8 bytes with
multi-byte characters, int/long extremes and nulls, and every column list
the lineage log hashes (`build.LINEAGE_SPECS`)."""

import random

import pyarrow as pa
from pyspark.sql import functions as F

from information_retrieval_spark.index.build import (
    LINEAGE_SPECS,
    lineage_arrow,
    lineage_hash,
)
from information_retrieval_spark.index.xxhash64 import xxh64_bytes, xxhash64

_ALPHABET = "abcxyz_09 /é€中😀"
_I32 = (-(1 << 31), (1 << 31) - 1, -1, 0, 1)
_I64 = (-(1 << 63), (1 << 63) - 1, -1, 0, 1, 1 << 32)


def _text(rng):
    """A random string of at most 100 UTF-8 bytes."""
    s = ""
    for _ in range(rng.randrange(0, 60)):
        c = rng.choice(_ALPHABET)
        if len((s + c).encode()) > 100:
            break
        s += c
    return s


def _rows(rng, n):
    """(s1, s2, i, l) rows; a few values repeat, a few are null."""
    words = [_text(rng) for _ in range(12)]
    out = []
    for _ in range(n):
        out.append((
            rng.choice(words) if rng.random() < 0.5 else _text(rng),
            None if rng.random() < 0.05 else rng.choice(words),
            rng.choice(_I32) if rng.random() < 0.3
            else rng.randrange(-(1 << 31), 1 << 31),
            None if rng.random() < 0.05 else (
                rng.choice(_I64) if rng.random() < 0.3
                else rng.randrange(-(1 << 63), 1 << 63)
            ),
        ))
    return out


def test_xxh64_bytes_reference_vectors():
    """Published XXH64 vectors (seed 0)."""
    assert xxh64_bytes(b"", 0) == 0xEF46DB3751D8E999
    assert xxh64_bytes(b"a", 0) == 0xD24EC4F1A98C6E5B
    assert xxh64_bytes(b"abc", 0) == 0x44BC2CF5AD770999


def test_numpy_xxhash64_equals_spark(spark):
    rng = random.Random(20261021)
    rows = _rows(rng, 400)
    schema = "s1 string, s2 string, i int, l bigint"
    types = {"s1": "string", "s2": "string", "i": "int", "l": "bigint"}
    tb = pa.table(
        {c: pa.array([r[j] for r in rows], t) for j, (c, t) in enumerate(
            [("s1", pa.string()), ("s2", pa.string()), ("i", pa.int32()),
             ("l", pa.int64())]
        )}
    )
    col_lists = [("s1",), ("s2",), ("i",), ("l",), ("s1", "s2", "i", "l"),
                 ("l", "s2", "i"), ("i", "s1", "l", "s2")]
    df = spark.createDataFrame(rows, schema).withColumn(
        "rid", F.monotonically_increasing_id()
    )
    got = df.orderBy("rid").select(
        *[F.xxhash64(*c).alias(f"h{k}") for k, c in enumerate(col_lists)]
    ).collect()
    for k, c in enumerate(col_lists):
        want = [r[f"h{k}"] for r in got]
        assert xxhash64(tb, c, types).tolist() == want, c


def test_lineage_specs_hash_like_spark(spark):
    """Every lineage table's column list: the numpy row hash and the XOR
    total equal Spark's over the same rows."""
    from information_retrieval_spark.index.catalog import TABLE_SCHEMAS

    rng = random.Random(7)
    for table, cols in LINEAGE_SPECS.items():
        schema = TABLE_SCHEMAS[table]
        rows = []
        for _ in range(200):
            row = []
            for f in schema.fields:
                t = f.dataType.simpleString()
                if t == "string":
                    row.append(_text(rng))
                elif t == "int":
                    row.append(rng.choice(_I32 + (rng.randrange(1 << 20),)))
                elif t == "bigint":
                    row.append(rng.choice(_I64 + (rng.randrange(1 << 40),)))
                elif t == "binary":
                    row.append(bytes(rng.randrange(256) for _ in range(3)))
                else:  # array<int> positions
                    row.append([rng.randrange(100) for _ in range(2)])
            rows.append(tuple(row))
        df = spark.createDataFrame(rows, schema)
        want = df.selectExpr(
            "count(*) AS n", f"bit_xor({lineage_hash(table)}) AS x"
        ).collect()[0]
        tb = pa.Table.from_pandas(df.toPandas(), preserve_index=False)
        lin = lineage_arrow({table: tb}).to_pylist()
        assert lin == [{"table": table, "part_id": 0, "rows": want.n,
                        "content_hash": want.x}], table
        types = {f.name: f.dataType.simpleString() for f in schema.fields}
        assert xxhash64(tb, cols, types).tolist() == [
            r[0] for r in df.select(F.xxhash64(*cols)).collect()
        ], table
