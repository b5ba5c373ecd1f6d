"""Bucket routing: the one owner of the bucket function.

A row of a bucketed table lives in bucket `pmod(hash(k1, ..., kn), n)`
of its bucket-key columns, where `hash` is Spark's Murmur3 `hash()`
(the reference's FlussBucketingFunction.java:27-45 routes by a hash of
the bucket key the same way; which hash does not matter, only that
every writer, reader and rebucket agrees). Three forms live here side
by side:

  - `bucket_expr` — the Spark Column every writer stamps `__bucket` with;
  - `bucket_sql`  — the same expression as SQL text, for plans built as
                    one `spark.sql` statement;
  - `bucket_of`   — a pure-Python copy of it for literal keys, so a
                    keyed read resolves its bucket on the driver without
                    a Spark job.

`bucket_of` must equal Spark bit for bit: a key routed to any other
bucket reads an empty directory. It reproduces
`org.apache.spark.unsafe.hash.Murmur3_x86_32` (seed 42, chained over
the columns, a NULL leaving the running hash unchanged) for the types
it covers and returns None for everything else, so callers fall back
to evaluating `bucket_expr` in Spark. tests/test_bucketing.py checks it
against Spark value by value.
"""

from __future__ import annotations

import datetime
import struct

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

_M32 = 0xFFFFFFFF
_SEED = 42
_EPOCH_ORDINAL = datetime.date(1970, 1, 1).toordinal()
_INT_RANGE = {
    T.ByteType: (-(1 << 7), 1 << 7),
    T.ShortType: (-(1 << 15), 1 << 15),
    T.IntegerType: (-(1 << 31), 1 << 31),
    T.LongType: (-(1 << 63), 1 << 63),
}
_COVERED = {*_INT_RANGE, T.BooleanType, T.DateType, T.StringType, T.BinaryType}


def bucket_expr(keys: list, num_buckets: int) -> Column:
    """`__bucket` of a row: keys are column names or Columns."""
    return F.pmod(F.hash(*keys), F.lit(num_buckets)).cast("int")


def bucket_sql(keys_sql: list[str], num_buckets: int) -> str:
    """SQL text of `bucket_expr`; keys are SQL expressions (quoted
    column names or typed casts)."""
    return f"CAST(pmod(hash({', '.join(keys_sql)}), {num_buckets}) AS INT)"


def bucket_of(values: list, types: list[T.DataType], num_buckets: int) -> int | None:
    """The bucket Spark's `bucket_expr` gives the literal key `values`
    cast to the declared `types`, computed on the driver. None when the
    key is not covered exactly — a bucket-key type outside
    BOOLEAN/TINYINT/SMALLINT/INT/BIGINT/STRING/BINARY/DATE, a value
    whose Python type does not match the declared one (`True` or `"7"`
    for an integer column), or an integer outside the type's range —
    where only Spark's own cast knows the answer (or the error)."""
    if num_buckets <= 0:
        return None
    h = _SEED
    for v, dt in zip(values, types, strict=True):
        h = _hash_value(v, dt, h)
        if h is None:
            return None
    signed = h - (1 << 32) if h & 0x80000000 else h
    return signed % num_buckets  # Python's % by a positive n == pmod


def _hash_value(v, dt: T.DataType, seed: int) -> int | None:
    """Murmur3Hash's per-column step (HashExpression.computeHash):
    the running hash after `v`, unsigned 32-bit, or None if uncovered."""
    t = type(dt)
    if t not in _COVERED or getattr(dt, "collation", "UTF8_BINARY") != "UTF8_BINARY":
        return None
    if v is None:
        return seed
    if t in _INT_RANGE:
        lo, hi = _INT_RANGE[t]
        if type(v) is not int or not lo <= v < hi:
            return None
        return _hash_long(v, seed) if t is T.LongType else _hash_int(v, seed)
    if t is T.BooleanType:
        return _hash_int(int(v), seed) if type(v) is bool else None
    if t is T.DateType:
        # a datetime is a date subclass; a year below 1000 makes
        # PySpark's literal converter (Date.valueOf of strftime) raise
        if type(v) is not datetime.date or v.year < 1000:
            return None
        return _hash_int(v.toordinal() - _EPOCH_ORDINAL, seed)
    if t is T.StringType:
        if type(v) is not str:
            return None
        try:
            return _hash_bytes(v.encode("utf-8"), seed)
        except UnicodeEncodeError:  # lone surrogates have no UTF-8 form
            return None
    return _hash_bytes(v, seed) if type(v) in (bytes, bytearray) else None


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def _mix_k1(k1: int) -> int:
    k1 = (k1 * 0xCC9E2D51) & _M32
    return (_rotl(k1, 15) * 0x1B873593) & _M32


def _mix_h1(h1: int, k1: int) -> int:
    return (_rotl(h1 ^ k1, 13) * 5 + 0xE6546B64) & _M32


def _fmix(h1: int, length: int) -> int:
    h1 ^= length
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & _M32
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & _M32
    return h1 ^ (h1 >> 16)


def _hash_int(v: int, seed: int) -> int:
    return _fmix(_mix_h1(seed, _mix_k1(v & _M32)), 4)


def _hash_long(v: int, seed: int) -> int:
    h1 = _mix_h1(seed, _mix_k1(v & _M32))
    return _fmix(_mix_h1(h1, _mix_k1((v >> 32) & _M32)), 8)


def _hash_bytes(b: bytes | bytearray, seed: int) -> int:
    """hashUnsafeBytes: little-endian 4-byte words, then each tail byte
    mixed on its own as a SIGNED byte (Spark's pre-2.3 layout, not
    canonical Murmur3's packed tail)."""
    n = len(b)
    aligned = n - n % 4
    h1 = seed
    for (word,) in struct.iter_unpack("<I", b[:aligned]):
        h1 = _mix_h1(h1, _mix_k1(word))
    for x in b[aligned:]:
        h1 = _mix_h1(h1, _mix_k1((x - 256 if x >= 128 else x) & _M32))
    return _fmix(h1, n)
