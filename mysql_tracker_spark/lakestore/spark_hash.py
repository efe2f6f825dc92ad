"""Pure-Python twin of Spark's ``F.hash()`` (Murmur3 x86-32, seed 42)
— the engine's bucket placement (``table._bucket_expr``) computed
without a Spark job. Two kinds of caller need it:
- driver-side point reads (``LakeTable.buckets_for_keys``): placing a
  handful of keys through Spark would cost a job per read;
- executor-side code that has no SparkSession (the Python Data Source
  streaming reader, `changes_source.py`), where bucket placement must
  be recomputed per row to apply post-split ``residual`` predicates
  and cross-layout diffs — a ``DataSourceStreamReader.read()`` task
  cannot call into the JVM.
Writes keep placing rows with ``F.hash`` itself.

Byte-for-byte equivalence with ``org.apache.spark.unsafe.hash.
Murmur3_x86_32`` (the implementation behind the ``hash`` expression)
is property-tested against ``F.hash`` in tests/test_spark_hash.py:
- int/short/byte/boolean -> ``hashInt``
- long -> ``hashLong`` (two 32-bit halves, low first)
- string -> ``hashUnsafeBytes`` over UTF-8 bytes: 4-byte
  little-endian words, then the TAIL BYTES ONE AT A TIME as *signed*
  bytes (Spark's layout-compatibility quirk — NOT standard Murmur3
  tail handling)
- binary -> same as string over the raw bytes

Null never reaches these functions: the engine's bucket key is a key
column (non-null by the merge contract).
"""

from __future__ import annotations

_M32 = 0xFFFFFFFF


def _rotl32(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def _mix_k1(k1: int) -> int:
    k1 = (k1 * 0xCC9E2D51) & _M32
    k1 = _rotl32(k1, 15)
    return (k1 * 0x1B873593) & _M32


def _mix_h1(h1: int, k1: int) -> int:
    h1 ^= k1
    h1 = _rotl32(h1, 13)
    return (h1 * 5 + 0xE6546B64) & _M32


def _fmix(h1: int, length: int) -> int:
    h1 ^= length
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & _M32
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & _M32
    h1 ^= h1 >> 16
    return h1


def _signed32(x: int) -> int:
    x &= _M32
    return x - (1 << 32) if x >= (1 << 31) else x


def hash_int(value: int, seed: int = 42) -> int:
    """Spark ``hash()`` of an int/short/byte/boolean column value."""
    h1 = _mix_h1(seed & _M32, _mix_k1(value & _M32))
    return _signed32(_fmix(h1, 4))


def hash_long(value: int, seed: int = 42) -> int:
    """Spark ``hash()`` of a long column value."""
    v = value & 0xFFFFFFFFFFFFFFFF
    h1 = _mix_h1(seed & _M32, _mix_k1(v & _M32))
    h1 = _mix_h1(h1, _mix_k1((v >> 32) & _M32))
    return _signed32(_fmix(h1, 8))


def hash_bytes(data: bytes, seed: int = 42) -> int:
    """Spark ``hash()`` of a string (UTF-8 bytes) / binary value."""
    n = len(data)
    aligned = n - n % 4
    h1 = seed & _M32
    for i in range(0, aligned, 4):
        k = int.from_bytes(data[i : i + 4], "little")
        h1 = _mix_h1(h1, _mix_k1(k))
    for i in range(aligned, n):
        b = data[i]
        half = b - 256 if b >= 128 else b  # Java byte is signed
        h1 = _mix_h1(h1, _mix_k1(half & _M32))
    return _signed32(_fmix(h1, n))


_INT_TYPES = {"byte", "short", "integer"}
# bucket-key types the twin covers (``DataType.typeName()`` vocabulary);
# ``LakeTable.create`` refuses any other bucket_by type
BUCKET_KEY_TYPES = frozenset({"string", "long", "boolean", "binary", *_INT_TYPES})


def spark_hash(value, spark_type: str) -> int:
    """``F.hash(col)`` for one non-null value of a column whose Spark
    type name is ``spark_type`` (``StructField.dataType.typeName()``
    vocabulary)."""
    if spark_type == "string":
        return hash_bytes(str(value).encode("utf-8"))
    if spark_type == "long":
        return hash_long(int(value))
    if spark_type in _INT_TYPES:
        return hash_int(int(value))
    if spark_type == "boolean":
        return hash_int(1 if value else 0)
    if spark_type == "binary":
        return hash_bytes(bytes(value))
    raise NotImplementedError(
        f"spark_hash: unsupported bucket-key type {spark_type!r} "
        "(string/long/integer/short/byte/boolean/binary are supported)"
    )


def pmod_bucket(value, spark_type: str, n_buckets: int) -> int:
    """``pmod(hash(value), n_buckets)`` — the engine's bucket id of a
    key (twin of ``table._bucket_expr``)."""
    h = spark_hash(value, spark_type)
    return ((h % n_buckets) + n_buckets) % n_buckets


# ---- vectorized twins (numpy) -----------------------------------------
# The streaming changelog reader filters whole pandas buckets by
# placement; a per-row Python map over millions of rows is the slow
# path.  These compute the same Murmur3 over numpy arrays: the per-row
# work is C-level ufuncs, Python loops run only over WORD POSITIONS
# (max key length / 4 iterations), not rows.  Equivalence with the
# scalar functions (and hence with F.hash) is property-tested in
# tests/test_spark_hash.py.


def _mix_k1_np(k1):
    import numpy as np

    k1 = k1 * np.uint32(0xCC9E2D51)
    k1 = (k1 << np.uint32(15)) | (k1 >> np.uint32(17))
    return k1 * np.uint32(0x1B873593)


def _mix_h1_np(h1, k1):
    import numpy as np

    h1 = h1 ^ k1
    h1 = (h1 << np.uint32(13)) | (h1 >> np.uint32(19))
    return h1 * np.uint32(5) + np.uint32(0xE6546B64)


def _fmix_np(h1, length):
    import numpy as np

    h1 = h1 ^ length
    h1 = h1 ^ (h1 >> np.uint32(16))
    h1 = h1 * np.uint32(0x85EBCA6B)
    h1 = h1 ^ (h1 >> np.uint32(13))
    h1 = h1 * np.uint32(0xC2B2AE35)
    return h1 ^ (h1 >> np.uint32(16))


def _hash_bytes_np(byte_list, seed: int = 42):
    """Vectorized :func:`hash_bytes` over a list of bytes objects."""
    import numpy as np

    n = len(byte_list)
    lengths = np.fromiter(
        (len(b) for b in byte_list), dtype=np.int64, count=n
    )
    buf = np.frombuffer(b"".join(byte_list), dtype=np.uint8)
    offsets = np.zeros(n, dtype=np.int64)
    np.cumsum(lengths[:-1], out=offsets[1:])
    h1 = np.full(n, seed, dtype=np.uint32)
    aligned = lengths - lengths % 4
    for w in range(0, int(aligned.max(initial=0)), 4):
        act = aligned > w
        idx = offsets[act] + w
        k = (
            buf[idx].astype(np.uint32)
            | (buf[idx + 1].astype(np.uint32) << np.uint32(8))
            | (buf[idx + 2].astype(np.uint32) << np.uint32(16))
            | (buf[idx + 3].astype(np.uint32) << np.uint32(24))
        )
        h1[act] = _mix_h1_np(h1[act], _mix_k1_np(k))
    for t in range(3):
        act = (aligned + t) < lengths
        if not act.any():
            break
        idx = offsets[act] + aligned[act] + t
        # Java bytes are signed: sign-extend before masking to 32 bits
        half = buf[idx].astype(np.int8).astype(np.int64).astype(np.uint32)
        h1[act] = _mix_h1_np(h1[act], _mix_k1_np(half))
    return _fmix_np(h1, lengths.astype(np.uint32)).astype(np.int32)


def spark_hash_array(values, spark_type: str):
    """``F.hash(col)`` for a 1-D sequence (pandas Series / numpy array /
    list) of NON-NULL values; returns an int32 numpy array.  Same type
    vocabulary as :func:`spark_hash`."""
    import numpy as np

    if spark_type in ("string", "binary"):
        if spark_type == "string":
            blist = [str(v).encode("utf-8") for v in values]
        else:
            blist = [bytes(v) for v in values]
        return _hash_bytes_np(blist)
    arr = np.asarray(values)
    if spark_type == "long":
        v = arr.astype(np.int64).view(np.uint64)
        h1 = _mix_h1_np(
            np.full(len(v), 42, dtype=np.uint32),
            _mix_k1_np((v & np.uint64(0xFFFFFFFF)).astype(np.uint32)),
        )
        h1 = _mix_h1_np(
            h1, _mix_k1_np((v >> np.uint64(32)).astype(np.uint32))
        )
        return _fmix_np(h1, np.uint32(8)).astype(np.int32)
    if spark_type in _INT_TYPES or spark_type == "boolean":
        if spark_type == "boolean":
            v = arr.astype(bool).astype(np.uint32)
        else:
            v = arr.astype(np.int64).astype(np.int32).view(np.uint32)
        h1 = _mix_h1_np(
            np.full(len(v), 42, dtype=np.uint32), _mix_k1_np(v)
        )
        return _fmix_np(h1, np.uint32(4)).astype(np.int32)
    raise NotImplementedError(
        f"spark_hash_array: unsupported bucket-key type {spark_type!r}"
    )


def pmod_bucket_array(values, spark_type: str, n_buckets: int):
    """Vectorized :func:`pmod_bucket`: int64 numpy array of bucket ids."""
    import numpy as np

    h = spark_hash_array(values, spark_type).astype(np.int64)
    return ((h % n_buckets) + n_buckets) % n_buckets
