"""Differential test: the driver-side router `bucket_of` against Spark's
own `pmod(hash(...), n)`, value by value, for every type it covers.

A key the router sends to any other bucket than Spark's writers did
would read an empty directory, so equality must be exact — including
NULLs, multi-column chains, the integer extremes, non-ASCII strings,
the 1-3 byte tails Spark mixes one signed byte at a time, and bytes
>= 0x80."""

from __future__ import annotations

import datetime
import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fluss_spark.bucketing import bucket_expr, bucket_of

NS = (1, 7, 8, 16)


def _ints(rng, lo, hi, k):
    edges = [0, 1, -1, 2, -2, lo, lo + 1, hi - 1, hi - 2, 42]
    return edges + [rng.randrange(lo, hi) for _ in range(k)] + [None]


def _strings(rng, k):
    alphabet = "ab\x00é日😀\x7f~"
    fixed = ["", "a", "ab", "abc", "abcd", "abcde", "é", "日本", "😀", "a\x00b", "\U0010ffff"]
    rand = ["".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 8))) for _ in range(k)]
    return [s for s in fixed + rand if len(s.encode()) <= 13] + [None]


def _binaries(rng, k):
    fixed = [b"", b"\x80", b"\xff\xfe", b"\x00\x81\xff", b"\x7f\x80\x81\x82", b"\xff" * 5]
    rand = [bytes(rng.randrange(256) for _ in range(rng.randrange(0, 14))) for _ in range(k)]
    return fixed + rand + [None]


def _dates(rng, k):
    fixed = [
        datetime.date(1970, 1, 1), datetime.date(1969, 12, 31), datetime.date(2024, 2, 29),
        datetime.date(1582, 10, 15), datetime.date(1582, 10, 4), datetime.date(1000, 1, 1),
        datetime.date(9999, 12, 31), datetime.date(1900, 3, 1),
    ]
    lo = datetime.date(1000, 1, 1).toordinal()
    rand = [datetime.date.fromordinal(rng.randrange(lo, 3652059)) for _ in range(k)]
    return fixed + rand + [None]


def _cases():
    rng = random.Random(20260)
    return {
        "int": (T.IntegerType(), _ints(rng, -(1 << 31), 1 << 31, 300)),
        "bigint": (T.LongType(), _ints(rng, -(1 << 63), 1 << 63, 300)),
        "smallint": (T.ShortType(), _ints(rng, -(1 << 15), 1 << 15, 100)),
        "tinyint": (T.ByteType(), list(range(-128, 128)) + [None]),
        "boolean": (T.BooleanType(), [True, False, None]),
        "date": (T.DateType(), _dates(rng, 200)),
        "string": (T.StringType(), _strings(rng, 300)),
        "binary": (T.BinaryType(), _binaries(rng, 300)),
    }


CASES = _cases()


def _spark_buckets(spark, rows, schema):
    """Spark's bucket of every row for every n, computed over a DataFrame."""
    df = spark.createDataFrame(rows, schema)
    keys = [f.name for f in schema.fields]
    out = df.select(
        F.monotonically_increasing_id().alias("__i"),
        *[bucket_expr(keys, n).alias(f"b{n}") for n in NS],
    )
    got = sorted(out.collect(), key=lambda r: r["__i"])
    return [[r[f"b{n}"] for n in NS] for r in got]


@pytest.mark.parametrize("name", sorted(CASES))
def test_single_column_matches_spark(spark, name):
    dt, values = CASES[name]
    schema = T.StructType([T.StructField("c", dt)])
    want = _spark_buckets(spark, [(v,) for v in values], schema)
    for v, w in zip(values, want, strict=True):
        assert [bucket_of([v], [dt], n) for n in NS] == w, f"{name} {v!r}"


def test_multi_column_chain_matches_spark(spark):
    """hash(c1, c2, c3) chains: each column's hash seeds the next, a
    NULL leaves the running hash unchanged."""
    rng = random.Random(7)
    ints, strs, longs = (CASES[k][1] for k in ("int", "string", "bigint"))
    rows = [(rng.choice(ints), rng.choice(strs), rng.choice(longs)) for _ in range(400)]
    rows += [(None, None, None), (1, None, None), (None, "a", None), (None, None, 1)]
    dts = [T.IntegerType(), T.StringType(), T.LongType()]
    schema = T.StructType([T.StructField(f"c{i}", dt) for i, dt in enumerate(dts)])
    want = _spark_buckets(spark, rows, schema)
    for row, w in zip(rows, want, strict=True):
        assert [bucket_of(list(row), dts, n) for n in NS] == w, f"{row!r}"


def test_literal_probe_matches_spark(spark):
    """The path the router replaces: `F.lit(v).cast(type)` hashed on a
    1-row relation. Python literals reach the JVM through py4j (dates as
    java.sql.Date, strings as UTF-16), so they are checked on their own."""
    rng = random.Random(11)
    probes = []
    for _, (dt, values) in sorted(CASES.items()):
        # every hand-picked edge (listed first) plus a random sample
        sample = values[:12] + rng.sample(values[12:], min(len(values[12:]), 30))
        probes += [(v, dt) for v in sample + [None]]
    probes += [(bytearray(b"\x80\x01"), T.BinaryType())]
    cols = [
        bucket_expr([F.lit(v).cast(dt)], 16).alias(f"p{i}") for i, (v, dt) in enumerate(probes)
    ]
    row = spark.range(1).select(*cols).first()
    for i, (v, dt) in enumerate(probes):
        assert bucket_of([v], [dt], 16) == row[f"p{i}"], f"{dt.simpleString()} {v!r}"


@pytest.mark.parametrize(
    "value,dt",
    [
        (True, T.IntegerType()),  # bool is an int subclass, but not an INT value
        ("7", T.LongType()),
        (7.0, T.IntegerType()),
        (1 << 40, T.IntegerType()),
        (128, T.ByteType()),
        (1 << 63, T.LongType()),
        (1, T.BooleanType()),
        (7, T.StringType()),
        ("ab", T.BinaryType()),
        (datetime.datetime(2024, 1, 1), T.DateType()),
        ("2024-01-01", T.DateType()),
        (datetime.date(999, 12, 31), T.DateType()),  # no 4-digit year literal
        ("\ud800", T.StringType()),  # lone surrogate
        ("a", T.StringType("UTF8_LCASE")),  # collations hash a collation key
        (1.5, T.DoubleType()),
        (None, T.DoubleType()),
        (datetime.datetime(2024, 1, 1), T.TimestampNTZType()),
        (1, T.DecimalType(10, 0)),
    ],
)
def test_uncovered_inputs_return_none(value, dt):
    """Anything the router cannot reproduce exactly is left to Spark."""
    assert bucket_of([value], [dt], 8) is None
    assert bucket_of([1, value], [T.IntegerType(), dt], 8) is None


def test_nonpositive_bucket_count_is_uncovered():
    assert bucket_of([1], [T.IntegerType()], 0) is None
