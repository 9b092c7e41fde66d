"""XXH64 and MurmurHash3 x86_32, written apart from the program, to
recompute the lineage store's content ids."""
import struct

M64 = (1 << 64) - 1
P1, P2, P3, P4, P5 = (0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
                      0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5)


def _rotl(x, r):
    return ((x << r) | (x >> (64 - r))) & M64


def _round(acc, lane):
    acc = (acc + lane * P2) & M64
    return (_rotl(acc, 31) * P1) & M64


def _merge(acc, val):
    acc ^= _round(0, val)
    return (acc * P1 + P4) & M64


def xxh64(data, seed):
    """Standard XXH64 of `data` with an unsigned 64-bit `seed`."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + P1 + P2) & M64, (seed + P2) & M64, seed, (seed - P1) & M64]
        while i + 32 <= n:
            for k in range(4):
                v[k] = _round(v[k], struct.unpack_from("<Q", data, i + 8 * k)[0])
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & M64
        for k in range(4):
            h = _merge(h, v[k])
    else:
        h = (seed + P5) & M64
    h = (h + n) & M64
    while i + 8 <= n:
        h ^= _round(0, struct.unpack_from("<Q", data, i)[0])
        h = (_rotl(h, 27) * P1 + P4) & M64
        i += 8
    if i + 4 <= n:
        h ^= (struct.unpack_from("<I", data, i)[0] * P1) & M64
        h = (_rotl(h, 23) * P2 + P3) & M64
        i += 4
    while i < n:
        h ^= (data[i] * P5) & M64
        h = (_rotl(h, 11) * P1) & M64
        i += 1
    h ^= h >> 33
    h = (h * P2) & M64
    h ^= h >> 29
    h = (h * P3) & M64
    h ^= h >> 32
    return h


def signed64(x):
    return x - (1 << 64) if x >= 1 << 63 else x


def content_id(source_id, *parts):
    """abs(xxhash64(source_id, parts...)) with seed 42, as Spark's
    `xxhash64` expression chains it: each non-null value is hashed with
    the previous hash as seed; a long as its 8 little-endian bytes, a
    string as its UTF-8 bytes."""
    h = 42
    h = xxh64(struct.pack("<q", source_id), h)
    for p in parts:
        if p is not None:
            h = xxh64(p.encode("utf-8"), h)
    v = signed64(h)
    return v if v == -(1 << 63) else abs(v)


def murmur3_32(data, seed):
    """Standard MurmurHash3 x86_32, as a signed 32-bit int."""
    c1, c2, m32 = 0xCC9E2D51, 0x1B873593, 0xFFFFFFFF
    h = seed & m32
    n = len(data)
    for i in range(0, n - n % 4, 4):
        k = struct.unpack_from("<I", data, i)[0]
        k = (k * c1) & m32
        k = ((k << 15) | (k >> 17)) & m32
        k = (k * c2) & m32
        h ^= k
        h = ((h << 13) | (h >> 19)) & m32
        h = (h * 5 + 0xE6546B64) & m32
    tail, k = data[n - n % 4:], 0
    for j, b in enumerate(tail):
        k |= b << (8 * j)
    if tail:
        k = (k * c1) & m32
        k = ((k << 15) | (k >> 17)) & m32
        k = (k * c2) & m32
        h ^= k
    h ^= n
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & m32
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & m32
    h ^= h >> 16
    return h - (1 << 32) if h >= 1 << 31 else h


def source_id(locator):
    """The store's 64-bit id of a script, from two MurmurHash3 seeds."""
    b = locator.encode("utf-8")
    v = signed64((((murmur3_32(b, 42) << 32) & M64) | (murmur3_32(b, 43) & 0xFFFFFFFF)))
    return v if v == -(1 << 63) else abs(v)


assert xxh64(b"", 0) == 0xEF46DB3751D8E999
assert murmur3_32(b"", 0) == 0
assert murmur3_32(b"hello", 0) == 613153351
