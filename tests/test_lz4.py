"""LZ4 decode gates. Modern LZ4 frames (``0x184D2204``) decode through
pyarrow's bundled liblz4 (sources/jsonl.native_decompress); legacy
frames (``0x184C2102``, ``lz4 -l``), which liblz4's frame API rejects,
decode through operators/lz4.py's block decoder.

Every input here is liblz4 output (``lz4_raw`` blocks, ``lz4`` frames,
the ``lz4`` CLI) or a hand-authored frame exercising features liblz4's
default path doesn't emit — linked blocks, block checksums, stored
blocks, content checksums. The frame header checksum bytes (and the
XXH32 checksums) those frames carry are precomputed constants.
"""

from __future__ import annotations

import random

import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from datapump_spark.operators.codecs import UnsupportedMediaError
from datapump_spark.operators.lz4 import decode_lz4_block, decode_lz4_legacy
from datapump_spark.sources.jsonl import decompress_auto, native_decompress

_RAW = pa.Codec("lz4_raw")
_FRAME = pa.Codec("lz4")


def _corpora() -> list[bytes]:
    rnd = random.Random(1234)
    return [
        b"",
        b"a",
        b"abcd",
        b"ab" * 40000,  # long match, length extension bytes
        bytes(rnd.randrange(256) for _ in range(6000)),  # incompressible
        (b"the quick brown fox jumps over the lazy dog " * 300)[:9999],
        bytes(rnd.randrange(3) for _ in range(120000)),  # dense overlaps
        b"\x00" * 70000,  # RLE-like, 64 KB frame-block boundary
    ]


def _legacy(data: bytes) -> bytes:
    """A legacy frame of ``data``: liblz4 blocks of at most 8 MiB, each
    behind its u32 compressed size."""
    out = bytearray((0x184C2102).to_bytes(4, "little"))
    for pos in range(0, max(len(data), 1), 8 << 20):
        blk = _RAW.compress(data[pos:pos + (8 << 20)], asbytes=True)
        out += len(blk).to_bytes(4, "little") + blk
    return bytes(out)


# ---------------------------------------------------------------------------
# Conformance: liblz4 output through both decode paths
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("idx", range(8))
def test_block_conformance_both_directions(idx):
    """liblz4 blocks decode byte-exactly, and the output cap holds in
    the other direction: one byte short of the plaintext is refused."""
    data = _corpora()[idx]
    foreign = _RAW.compress(data, asbytes=True)
    assert decode_lz4_block(foreign) == data
    if data:
        with pytest.raises(UnsupportedMediaError, match="cap"):
            decode_lz4_block(foreign, max_output=len(data) - 1)


@pytest.mark.parametrize("idx", range(8))
def test_frame_conformance_both_directions(idx):
    """The same liblz4 output decodes byte-exactly in both frame
    formats through the corpus dispatch: a modern frame (pyarrow) and
    a legacy frame of liblz4 blocks (operators/lz4.py)."""
    data = _corpora()[idx]
    assert decompress_auto("f.lz4", _FRAME.compress(data,
                                                    asbytes=True)) == data
    assert decompress_auto("l.lz4", _legacy(data)) == data


@settings(max_examples=40, deadline=None)
@given(st.binary(max_size=3000),
       st.sampled_from([b"", b"lz4lz4", b"\x00\x01\x02\x03" * 64]))
def test_property_round_trip_vs_reference(data, salt):
    """Hypothesis sweep: liblz4 block, frame and legacy-framed output
    all decode byte-exactly."""
    blob = salt + data + salt
    assert decode_lz4_block(_RAW.compress(blob, asbytes=True)) == blob
    assert decompress_auto("p.lz4", _FRAME.compress(blob,
                                                    asbytes=True)) == blob
    assert decompress_auto("p.lz4", _legacy(blob)) == blob


# ---------------------------------------------------------------------------
# Frame features liblz4's default path doesn't emit
# ---------------------------------------------------------------------------


def _manual_frame(flg: int, hc: int, blocks: list[bytes],
                  tail: bytes = b"") -> bytes:
    """Hand-author a frame (64 KB max block size): ``hc`` is the header
    checksum byte of (``flg``, 0x40); each entry of ``blocks`` is the
    complete block field (size word, data, optional checksum); ``tail``
    is the optional content checksum."""
    return ((0x184D2204).to_bytes(4, "little") + bytes([flg, 0x40, hc])
            + b"".join(blocks) + (0).to_bytes(4, "little") + tail)


def _block(data: bytes, stored: bool = False) -> bytes:
    return (len(data) | (0x80000000 if stored else 0)).to_bytes(
        4, "little") + data


def test_linked_blocks_cross_block_match():
    """B.Indep=0: block 2's match offsets reach into block 1's
    plaintext."""
    plain1 = b"abcdefgh" * 10  # 80 bytes
    blk1 = _RAW.compress(plain1, asbytes=True)
    # block 2: zero literals then match len 20 at offset 80 (entirely
    # in block 1's history), then a 12-literal end sequence (the spec's
    # end-of-block margins, which liblz4's safe decoder enforces)
    tail = b"0123456789AB"
    blk2 = bytes([0x0F, 80, 0, 1, 0xC0]) + tail
    expect = plain1 + plain1[:20] + tail
    frame = _manual_frame(0x40, 0xC0, [_block(blk1), _block(blk2)])
    assert decompress_auto("linked.lz4", frame) == expect


def test_block_checksums_and_stored_blocks():
    plain = b"stored block payload " * 50
    checksum = (0xAE3D9930).to_bytes(4, "little")     # XXH32(plain)
    frame = _manual_frame(0x50, 0xC0,
                          [_block(plain, stored=True) + checksum])
    assert decompress_auto("stored.lz4", frame) == plain
    bad = _manual_frame(0x50, 0xC0,
                        [_block(plain, stored=True) + b"\xde\xad\xbe\xef"])
    with pytest.raises(UnsupportedMediaError, match="stored.lz4: lz4"):
        decompress_auto("stored.lz4", bad)


def test_content_checksum_and_mismatch():
    plain = b"content-checksummed" * 30
    blk = _block(_RAW.compress(plain, asbytes=True))
    checksum = (0x6F2C79D0).to_bytes(4, "little")     # XXH32(plain)
    frame = _manual_frame(0x44, 0x5E, [blk], tail=checksum)
    assert decompress_auto("cc.lz4", frame) == plain
    bad = _manual_frame(0x44, 0x5E, [blk], tail=b"\x00\x00\x00\x00")
    with pytest.raises(UnsupportedMediaError, match="cc.lz4: lz4"):
        decompress_auto("cc.lz4", bad)


def test_skippable_frame_and_concatenation():
    a, b = b"first frame " * 20, b"second frame " * 20
    skip = (0x184D2A5F).to_bytes(4, "little") + (6).to_bytes(
        4, "little") + b"IGNORE"
    blob = (_FRAME.compress(a, asbytes=True) + skip
            + _FRAME.compress(b, asbytes=True))
    assert decompress_auto("s.lz4", blob) == a + b
    assert decompress_auto("s.lz4", _legacy(a) + _legacy(b)) == a + b


_LZ4_CLI = __import__("shutil").which("lz4")


@pytest.mark.skipif(_LZ4_CLI is None, reason="lz4 CLI not present")
def test_legacy_frame_conformance(tmp_path):
    """``lz4 -l`` (legacy frame, the old-kernel format) — foreign CLI
    bytes decode byte-exactly through the corpus dispatch, including
    multi-block (>8 MiB) inputs."""
    import subprocess

    payload = (b"legacy frame payload " * 500000)[:9 << 20]  # 2 blocks
    src = tmp_path / "p.bin"
    src.write_bytes(payload)
    out = tmp_path / "p.lz4"
    subprocess.run([_LZ4_CLI, "-q", "-l", str(src), str(out)], check=True)
    data = out.read_bytes()
    assert data[:4] == (0x184C2102).to_bytes(4, "little")
    assert decompress_auto("p.lz4", data) == payload


def test_refusals():
    with pytest.raises(UnsupportedMediaError, match="x.lz4: lz4"):
        native_decompress(b"NOTLZ4XX", "lz4", 1 << 20, "x.lz4")
    with pytest.raises(UnsupportedMediaError, match="not a legacy frame"):
        decode_lz4_legacy(b"NOTLZ4XX")
    # dictionary flag set (DictID 42)
    frame = ((0x184D2204).to_bytes(4, "little")
             + bytes([0x41, 0x40, 0x2A, 0x00, 0x00, 0x00, 0xE6]))
    with pytest.raises(UnsupportedMediaError, match="d.lz4: lz4"):
        decompress_auto("d.lz4", frame)
    # corrupted header checksum
    good = _FRAME.compress(b"x" * 100, asbytes=True)
    bad = good[:6] + bytes([good[6] ^ 0xFF]) + good[7:]
    with pytest.raises(UnsupportedMediaError, match="h.lz4: lz4"):
        decompress_auto("h.lz4", bad)
    # declared content size 99 for 100 bytes of content
    blk = _block(_RAW.compress(b"y" * 100, asbytes=True))
    frame = ((0x184D2204).to_bytes(4, "little")
             + bytes([0x68, 0x40]) + (99).to_bytes(8, "little")
             + bytes([0x38]) + blk + (0).to_bytes(4, "little"))
    with pytest.raises(UnsupportedMediaError, match="n.lz4: lz4"):
        decompress_auto("n.lz4", frame)
    # legacy: a block size past the end of the data
    with pytest.raises(UnsupportedMediaError, match="legacy block size"):
        decode_lz4_legacy(_legacy(b"z" * 1000)[:-3])


def test_decode_cap_bomb_guard():
    zeros = b"\x00" * 500000
    with pytest.raises(UnsupportedMediaError, match="cap"):
        native_decompress(_FRAME.compress(zeros, asbytes=True), "lz4",
                          10000, "bomb.lz4")
    with pytest.raises(UnsupportedMediaError, match="cap"):
        decode_lz4_block(_RAW.compress(zeros, asbytes=True),
                         max_output=10000)
    with pytest.raises(UnsupportedMediaError, match="cap"):
        decode_lz4_legacy(_legacy(zeros), max_output=10000)
