"""The native frame codec: CityHash128 against a reference and LZ4 blocks
with real matches, including the size checks a frame's DSZ gets.

The reference CityHash128 below is the byte-at-a-time port the word-at-a-time
``chnative.city_hash_128`` replaced, kept verbatim; it matches the C
known-answer vectors in ``test_chnative.py``."""

from __future__ import annotations

import random
import struct

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tensorbase_spark.sources.chnative import (
    LZ4_METHOD,
    Reader,
    city_hash_128,
    compress_frame,
    lz4_compress,
    lz4_decompress,
    read_frame,
)

# ---------------------------------------------------------------------------
# reference CityHash128 v1.0.2
# ---------------------------------------------------------------------------

_M64 = (1 << 64) - 1
_K0 = 0xC3A5C85C97CB3127
_K1 = 0xB492B66FBE98F273
_K2 = 0x9AE16A3B2F90404F
_K3 = 0xC949D7C7509E6557
_KMUL = 0x9DDFEA08EB382D69


def _f64(s: bytes, i: int) -> int:
    return int.from_bytes(s[i : i + 8], "little")


def _f32(s: bytes, i: int) -> int:
    return int.from_bytes(s[i : i + 4], "little")


def _rotr(v: int, n: int) -> int:
    return ((v >> n) | (v << (64 - n))) & _M64 if n else v


def _shift_mix(v: int) -> int:
    return (v ^ (v >> 47)) & _M64


def _hash_len_16(u: int, v: int) -> int:
    a = ((u ^ v) * _KMUL) & _M64
    a ^= a >> 47
    b = ((v ^ a) * _KMUL) & _M64
    b ^= b >> 47
    return (b * _KMUL) & _M64


def _hash_len_0_to_16(s: bytes) -> int:
    ln = len(s)
    if ln > 8:
        a, b = _f64(s, 0), _f64(s, ln - 8)
        return (_hash_len_16(a, _rotr((b + ln) & _M64, ln & 63)) ^ b) & _M64
    if ln >= 4:
        a = _f32(s, 0)
        return _hash_len_16((ln + (a << 3)) & _M64, _f32(s, ln - 4))
    if ln > 0:
        y = (s[0] + (s[ln >> 1] << 8)) & 0xFFFFFFFF
        z = (ln + (s[ln - 1] << 2)) & 0xFFFFFFFF
        return (_shift_mix((y * _K2 ^ z * _K3) & _M64) * _K2) & _M64
    return _K2


def _city_murmur(s: bytes, seed_lo: int, seed_hi: int) -> tuple[int, int]:
    a, b, c, d = seed_lo, seed_hi, 0, 0
    ln = len(s)
    l = ln - 16
    if l <= 0:
        a = (_shift_mix((a * _K1) & _M64) * _K1) & _M64
        c = (b * _K1 + _hash_len_0_to_16(s)) & _M64
        d = _shift_mix((a + (_f64(s, 0) if ln >= 8 else c)) & _M64)
    else:
        c = _hash_len_16((_f64(s, ln - 8) + _K1) & _M64, a)
        d = _hash_len_16((b + ln) & _M64, (c + _f64(s, ln - 16)) & _M64)
        a = (a + d) & _M64
        pos = 0
        while True:
            a ^= (_shift_mix((_f64(s, pos) * _K1) & _M64) * _K1) & _M64
            a = (a * _K1) & _M64
            b ^= a
            c ^= (_shift_mix((_f64(s, pos + 8) * _K1) & _M64) * _K1) & _M64
            c = (c * _K1) & _M64
            d ^= c
            pos += 16
            l -= 16
            if l <= 0:
                break
    a = _hash_len_16(a, c)
    b = _hash_len_16(d, b)
    return (a ^ b) & _M64, _hash_len_16(b, a)


def _weak_hash_len_32(s: bytes, pos: int, a: int, b: int) -> tuple[int, int]:
    w, x = _f64(s, pos), _f64(s, pos + 8)
    y, z = _f64(s, pos + 16), _f64(s, pos + 24)
    a = (a + w) & _M64
    b = _rotr((b + a + z) & _M64, 21)
    c = a
    a = (a + x + y) & _M64
    b = (b + _rotr(a, 44)) & _M64
    return (a + z) & _M64, (b + c) & _M64


def _city_hash_128_with_seed(
    s: bytes, seed_lo: int, seed_hi: int
) -> tuple[int, int]:
    ln = len(s)
    if ln < 128:
        return _city_murmur(s, seed_lo, seed_hi)
    x, y = seed_lo, seed_hi
    z = (ln * _K1) & _M64
    v0 = (_rotr((y ^ _K1) & _M64, 49) * _K1 + _f64(s, 0)) & _M64
    v1 = (_rotr(v0, 42) * _K1 + _f64(s, 8)) & _M64
    w0 = (_rotr((y + z) & _M64, 35) * _K1 + x) & _M64
    w1 = (_rotr((x + _f64(s, 88)) & _M64, 53) * _K1) & _M64
    pos, rem = 0, ln
    while True:
        for _ in range(2):  # the manually-unrolled 64B halves (city.cc)
            x = (_rotr((x + y + v0 + _f64(s, pos + 16)) & _M64, 37) * _K1) & _M64
            y = (_rotr((y + v1 + _f64(s, pos + 48)) & _M64, 42) * _K1) & _M64
            x ^= w1
            y ^= v0
            z = _rotr((z ^ w0) & _M64, 33)
            v0, v1 = _weak_hash_len_32(s, pos, (v1 * _K1) & _M64, (x + w0) & _M64)
            w0, w1 = _weak_hash_len_32(s, pos + 32, (z + w1) & _M64, y)
            z, x = x, z
            pos += 64
        rem -= 128
        if rem < 128:
            break
    y = (y + _rotr(w0, 37) * _K0 + z) & _M64
    x = (x + _rotr((v0 + z) & _M64, 49) * _K0) & _M64
    tail_done = 0
    while tail_done < rem:
        tail_done += 32
        y = (_rotr((y - x) & _M64, 42) * _K0 + v1) & _M64
        w0 = (w0 + _f64(s, pos + rem - tail_done + 16)) & _M64
        x = (_rotr(x, 49) * _K0 + w0) & _M64
        w0 = (w0 + v0) & _M64
        v0, v1 = _weak_hash_len_32(s, pos + rem - tail_done, v0, v1)
    x = _hash_len_16(x, v0)
    y = _hash_len_16(y, w0)
    # final combine (city.cc 1.0.2): low mixes w.FIRST, high mixes w.second
    # — pinned by the C cross-implementation vectors in
    # tests/test_chnative.py::test_city_hash_128_long_known_answers
    return (
        (_hash_len_16((x + v1) & _M64, w0) + y) & _M64,
        _hash_len_16((x + w1) & _M64, (y + v1) & _M64),
    )


def ref_city_hash_128(s: bytes) -> tuple[int, int]:
    """(lo, hi) CityHash128 v1.0.2 — NOTE the 1.0 seed uses k3 (1.1+ moved
    to k2; CH stayed on 1.0.2, which is why the sys crate exists)."""
    ln = len(s)
    if ln >= 16:
        return _city_hash_128_with_seed(
            s[16:], (_f64(s, 0) ^ _K3) & _M64, _f64(s, 8)
        )
    if ln >= 8:
        return _city_hash_128_with_seed(
            b"",
            (_f64(s, 0) ^ ((ln * _K0) & _M64)) & _M64,
            (_f64(s, ln - 8) ^ _K1) & _M64,
        )
    return _city_hash_128_with_seed(s, _K0, _K1)


# ---------------------------------------------------------------------------
# tests
# ---------------------------------------------------------------------------


def test_city_hash_128_matches_reference_every_tail_length():
    """Every length to 3 x 128 + 16 bytes: each tail length of the long
    path, each count of 32-byte tail chunks, and the short paths."""
    buf = random.Random(0).randbytes(400)
    for n in range(len(buf) + 1):
        assert city_hash_128(buf[:n]) == ref_city_hash_128(buf[:n]), n


@given(st.binary(max_size=5000))
@settings(max_examples=300, deadline=None)
def test_city_hash_128_matches_reference(data):
    assert city_hash_128(data) == ref_city_hash_128(data)


@pytest.mark.parametrize("body", [
    b"abc" * 5000,
    bytes(range(256)) * 40 + random.Random(1).randbytes(300) + b"\0" * 4000,
    b"x" * 70_000,  # long match-length runs
])
def test_frame_with_lz4_matches_roundtrips(body):
    frame = compress_frame(body)
    assert len(frame) < len(body) // 2  # the block carries real matches
    assert read_frame(Reader(frame)) == body
    assert lz4_decompress(lz4_compress(body), len(body)) == body


def _frame_with_dsz(body: bytes, dsz: int) -> bytes:
    lz = lz4_compress(body)
    payload = struct.pack("<BII", LZ4_METHOD, 9 + len(lz), dsz) + lz
    return struct.pack("<QQ", *city_hash_128(payload)) + payload


@pytest.mark.parametrize("delta", [-4096, -1, 1, 4096, 1 << 30])
@pytest.mark.parametrize("body", [b"abc" * 3000, b"\x07"])
def test_frame_dsz_other_than_decoded_size_is_refused(body, delta):
    """A checksum-valid frame whose DSZ is larger or smaller than what its
    block decodes to is refused, before any write of the body."""
    dsz = max(len(body) + delta, 0)
    with pytest.raises(ValueError, match="LZ4"):
        read_frame(Reader(_frame_with_dsz(body, dsz)))
    assert read_frame(Reader(_frame_with_dsz(body, len(body)))) == body


def test_empty_lz4_block():
    """DSZ 0 takes only the one-byte empty block (the empty body's frame)."""
    assert lz4_decompress(b"\x00", 0) == b""
    for src in (b"", b"\x10A"):
        with pytest.raises(ValueError):
            lz4_decompress(src, 0)
