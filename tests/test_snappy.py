"""Raw snappy decode gates (Avro snappy blocks): pyarrow's bundled
libsnappy through sources/jsonl.native_decompress, which sizes the
one-shot decode from the stream's varint length header and bounds that
size with the decode cap. Round trips, the spec's element grammar on
hand-built streams (overlapping RLE copies, 32-bit-offset copies,
multi-byte literal lengths), and the error contract."""

from __future__ import annotations

import pyarrow as pa
import pytest

from datapump_spark.operators.codecs import UnsupportedMediaError
from datapump_spark.sources.jsonl import native_decompress

_LIB = pa.Codec("snappy")


def _decode(s: bytes, cap: int = 1 << 20) -> bytes:
    return native_decompress(s, "snappy", cap, "block")


def test_round_trips():
    """libsnappy output decodes byte-exactly with the cap at its exact
    size, and is refused — before any decode — one byte short."""
    import random
    rng = random.Random(5)
    cases = [b"", b"a", b"ab" * 3000, bytes(range(256)) * 40,
             b"the quick brown fox " * 200,
             bytes(rng.randbytes(10000)),
             b"\x00" * 70000]
    for payload in cases:
        enc = _LIB.compress(payload, asbytes=True)
        assert _decode(enc, cap=len(payload)) == payload
        if payload:
            with pytest.raises(UnsupportedMediaError, match="cap"):
                _decode(enc, cap=len(payload) - 1)


def test_hand_built_foreign_streams():
    # overlapping copy (offset 1, length 8): RLE replication
    s = bytes([9]) + bytes([0 << 2]) + b"x" + bytes([1 | (4 << 2)]) + b"\x01"
    assert _decode(s) == b"x" * 9
    # 16-bit-offset copy
    body = bytes([2 | (3 << 2)]) + (4).to_bytes(2, "little")
    s = bytes([8]) + bytes([3 << 2]) + b"abcd" + body
    assert _decode(s) == b"abcdabcd"
    # 32-bit-offset copy (rare: greedy encoders emit 16-bit here)
    body = bytes([3 | (3 << 2)]) + (4).to_bytes(4, "little")
    s = bytes([8]) + bytes([3 << 2]) + b"wxyz" + body
    assert _decode(s) == b"wxyzwxyz"
    # multi-byte literal length (61 -> one extra length byte)
    lit = bytes(range(61))
    s = bytes([61]) + bytes([60 << 2, 60]) + lit
    assert _decode(s) == lit
    # two-byte varint length header (200 = 0xC8 0x01)
    copy64 = bytes([2 | (63 << 2)]) + (1).to_bytes(2, "little")
    copy7 = bytes([2 | (6 << 2)]) + (1).to_bytes(2, "little")
    s = bytes([0xC8, 0x01]) + bytes([0 << 2]) + b"y" + copy64 * 3 + copy7
    assert _decode(s) == b"y" * 200


def test_honest_failures():
    with pytest.raises(UnsupportedMediaError, match="block: snappy"):
        _decode(b"")
    with pytest.raises(UnsupportedMediaError, match="varint"):
        _decode(b"\xff" * 6)
    with pytest.raises(UnsupportedMediaError, match="block: snappy"):
        # declared length 5, one literal byte of content
        _decode(bytes([5]) + bytes([0 << 2]) + b"x")
    with pytest.raises(UnsupportedMediaError, match="block: snappy"):
        # copy reaching before the output start
        _decode(bytes([5]) + bytes([0 << 2]) + b"x"
                + bytes([1 | (0 << 2)]) + b"\x05")
    with pytest.raises(UnsupportedMediaError, match="block: snappy"):
        # truncated literal
        _decode(bytes([10]) + bytes([9 << 2]) + b"ab")


def test_conformance_vs_libsnappy():
    """libsnappy output over random word mixes decodes byte-exactly."""
    import random

    rng = random.Random(7)
    words = [bytes(rng.getrandbits(8) for _ in range(rng.randint(1, 8)))
             for _ in range(30)]
    cases = [b"", b"x", b"snappy mutual check " * 300,
             bytes(range(256)) * 40, b"\x00" * 5000]
    cases += [b"".join(rng.choice(words) for _ in range(rng.randint(0, 300)))
              for _ in range(40)]
    for d in cases:
        assert _decode(_LIB.compress(d, asbytes=True)) == d
