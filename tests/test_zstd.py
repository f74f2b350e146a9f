"""Zstandard decode gates: ``.zst`` corpus files, ``.tar.zst`` shards,
7z method 04F71101 and Avro zstd blocks all decode through pyarrow's
bundled libzstd (sources/jsonl.native_decompress).

The gates pin what the swap must keep: byte-exact decode of libzstd
output over several levels and data shapes, multi-frame and skippable
input, checksum and content-size enforcement, the decode cap, and the
error contract — every libzstd failure (truncation, corruption, a frame
that needs a dictionary) is an UnsupportedMediaError naming the file and
the codec.
"""

from __future__ import annotations

import random

import pytest

from datapump_spark.operators.codecs import UnsupportedMediaError
from datapump_spark.sources.jsonl import decompress_auto, native_decompress

# ``zstd --check`` of b"checksummed payload " * 50: single-segment frame
# with a 2-byte frame content size (offsets 5-6) and an XXH64 checksum
# (the last 4 bytes) — pyarrow's compressor writes no checksum
_CHECKED_FRAME = bytes.fromhex(
    "28b52ffd64e802dd0000a0636865636b73756d6d6564207061796c6f61642001"
    "00a25f3599332301e6")


def _lib(level: int = 3):
    import pyarrow as pa
    return pa.Codec("zstd", compression_level=level)


def _datasets() -> dict[str, bytes]:
    rng = random.Random(11)
    return {
        "text": b"the quick brown fox jumps over the lazy dog. " * 800,
        "repetitive": b"ab" * 20000,
        "json": b'{"user": 12345, "event": "click"}\n' * 1200,
        "random": bytes(rng.getrandbits(8) for _ in range(20000)),
        "mixed": b"".join(
            b"A" * 100 + bytes(rng.getrandbits(8) for _ in range(50))
            for _ in range(150)),
        "short": b"hi",
        "empty": b"",
    }


def test_conformance_decode_libzstd_output():
    """libzstd-compressed corpora at fast/default/max levels decode
    byte-exactly through the corpus dispatch."""
    for level in (1, 3, 19):
        codec = _lib(level)
        for name, d in _datasets().items():
            comp = codec.compress(d, asbytes=True)
            assert decompress_auto(f"{name}.zst", comp) == d, (level, name)


def test_twin_checksum_and_fcs_enforced():
    """The frame's XXH64 content checksum and its frame content size
    are both checked: corrupting either is refused, never returned."""
    d = b"checksummed payload " * 50
    assert decompress_auto("c.zst", _CHECKED_FRAME) == d
    bad = bytearray(_CHECKED_FRAME)
    bad[-1] ^= 0xFF
    with pytest.raises(UnsupportedMediaError, match="checksum"):
        decompress_auto("c.zst", bytes(bad))
    bad = bytearray(_CHECKED_FRAME)
    bad[5] ^= 0x01
    with pytest.raises(UnsupportedMediaError, match="c.zst: zstd"):
        decompress_auto("c.zst", bytes(bad))


def test_multi_frame_and_skippable():
    d1, d2 = b"frame one " * 30, b"frame two " * 30
    skippable = (0x184D2A53).to_bytes(4, "little") \
        + (7).to_bytes(4, "little") + b"7 bytes"
    lib = _lib()
    f1, f2 = lib.compress(d1, asbytes=True), lib.compress(d2, asbytes=True)
    assert decompress_auto("m.zst", f1 + f2) == d1 + d2
    assert decompress_auto("m.zst", f1 + skippable + f2) == d1 + d2


def test_honest_seams():
    with pytest.raises(UnsupportedMediaError, match="x.bin: zstd"):
        native_decompress(b"\x00\x01\x02\x03rest", "zstd", 1 << 20,
                          "x.bin")
    whole = _lib().compress(b"abc" * 100, asbytes=True)
    with pytest.raises(UnsupportedMediaError, match="t.zst: zstd"):
        decompress_auto("t.zst", whole[:12])
    # nonzero dictionary id: frame header with did_code=1,
    # single-segment, FCS code 0 -> 1-byte FCS
    fr = ((0xFD2FB528).to_bytes(4, "little")
          + bytes([(1 << 5) | 1, 42, 0])          # FHD, DID=42, FCS=0
          + (1).to_bytes(3, "little"))            # empty last raw block
    with pytest.raises(UnsupportedMediaError, match="d.zst: zstd"):
        decompress_auto("d.zst", fr)
    # reserved block type 3
    fr = ((0xFD2FB528).to_bytes(4, "little") + bytes([1 << 5, 0])
          + (0b111).to_bytes(3, "little"))
    with pytest.raises(UnsupportedMediaError, match="r.zst: zstd"):
        decompress_auto("r.zst", fr)


def test_rle_block_and_long_matches():
    """Shapes that force specific block/sequence forms through
    libzstd: an all-one-byte payload (RLE block), and a long periodic
    payload (long matches / repeat offsets)."""
    lib = _lib()
    ones = b"\x55" * 70000
    assert decompress_auto("o.zst", lib.compress(ones, asbytes=True)) == ones
    period = (b"0123456789abcdef" * 64 + b"#") * 40
    assert decompress_auto("p.zst",
                           lib.compress(period, asbytes=True)) == period


def test_fuzz_round_trip_vs_libzstd():
    """128 random structured buffers x random levels: each decodes
    byte-exactly with the cap at its exact size, and is refused with
    the cap one byte short (deterministic seed)."""
    rng = random.Random(8878)
    words = [bytes(rng.getrandbits(8) for _ in range(rng.randint(1, 9)))
             for _ in range(40)]
    for trial in range(128):
        n = rng.randint(0, 400)
        d = b"".join(rng.choice(words) for _ in range(n))
        level = rng.choice((1, 3, 7, 12))
        comp = _lib(level).compress(d, asbytes=True)
        assert native_decompress(comp, "zstd", len(d), "f") == d, trial
        if d:
            with pytest.raises(UnsupportedMediaError, match="cap"):
                native_decompress(comp, "zstd", len(d) - 1, "f")


def _avro_schema():
    return {"type": "record", "name": "R", "fields": [
        {"name": "k", "type": "long"}, {"name": "s", "type": "string"}]}


def _raw_block(null_file: bytes) -> tuple[int, bytes, bytes]:
    """(record count, uncompressed block, sync) of a one-block
    codec-null container."""
    from datapump_spark.sources.avro import parse_avro_header
    _, _, r, sync = parse_avro_header(null_file)
    n = r.long()
    return n, r.raw(r.long()), sync


def _reframe(b: bytes, n: int, comp: bytes, sync: bytes) -> bytes:
    """``b``'s header (deterministic sync) around one block ``comp``."""
    from datapump_spark.sources.avro import _zigzag
    header_end = b.index(bytes(range(16))) + 16
    return b[:header_end] + _zigzag(n) + _zigzag(len(comp)) + comp + sync


def test_avro_zstd_codec_round_trip():
    """Avro container with avro.codec=zstd: the writer twin's blocks
    decode; a container whose block libzstd compressed at another level
    (re-framed by hand) decodes too."""
    from datapump_spark.sources.avro import encode_avro, iter_avro_records
    recs = [{"k": i, "s": f"value {i % 7}"} for i in range(500)]
    b = encode_avro(_avro_schema(), recs, codec="zstd")
    assert [r for _, r in iter_avro_records(b)] == recs
    n, raw, sync = _raw_block(encode_avro(_avro_schema(), recs, "null"))
    foreign = _reframe(b, n, _lib(19).compress(raw, asbytes=True), sync)
    assert [rec for _, rec in iter_avro_records(foreign)] == recs


def test_avro_zstd_corrupt_block_raises():
    from datapump_spark.sources.avro import encode_avro, iter_avro_records
    schema = {"type": "record", "name": "R", "fields": [
        {"name": "k", "type": "long"}]}
    b = bytearray(encode_avro(schema, [{"k": 1}, {"k": 2}], codec="zstd"))
    # flip a byte inside the zstd frame (after header+sync+2 varints)
    b[-20] ^= 0xFF
    with pytest.raises(ValueError):
        list(iter_avro_records(bytes(b)))


def test_read_avro_zstd_spark(spark, tmp_path):
    """read_avro over a zstd container lands typed rows in Spark."""
    from datapump_spark.sources.avro import encode_avro, read_avro
    schema = {"type": "record", "name": "R", "fields": [
        {"name": "k", "type": "long"},
        {"name": "v", "type": ["null", "double"]}]}
    recs = [{"k": i, "v": None if i % 5 == 0 else i / 4} for i in range(64)]
    (tmp_path / "z.avro").write_bytes(
        encode_avro(schema, recs, codec="zstd"))
    rows = {r["k"]: r["v"] for r in read_avro(
        spark, str(tmp_path)).collect()}
    assert rows[0] is None and rows[3] == 0.75 and len(rows) == 64


def test_zlib_crc_unused_guard():
    """The zstd Avro path must NOT expect snappy's CRC32 suffix: a
    block that is exactly one zstd frame decodes, and the same frame
    followed by 4 CRC-like bytes is refused."""
    import zlib

    from datapump_spark.sources.avro import encode_avro, iter_avro_records
    recs = [{"k": 1, "s": "one"}, {"k": 2, "s": "two"}]
    b = encode_avro(_avro_schema(), recs, codec="zstd")
    n, raw, sync = _raw_block(encode_avro(_avro_schema(), recs, "null"))
    frame = _lib().compress(raw, asbytes=True)
    assert [x for _, x in iter_avro_records(
        _reframe(b, n, frame, sync))] == recs
    crc = (zlib.crc32(raw) & 0xFFFFFFFF).to_bytes(4, "big")
    with pytest.raises(UnsupportedMediaError, match="Avro block: zstd"):
        list(iter_avro_records(_reframe(b, n, frame + crc, sync)))


_ZSTD_CLI = __import__("shutil").which("zstd")


@pytest.mark.skipif(_ZSTD_CLI is None, reason="zstd CLI not present")
def test_trained_dictionary_conformance(tmp_path):
    """A ``.jsonl.zst`` compressed against a REAL trained dictionary
    (``zstd --train`` + ``zstd -D``) is refused: dictionaries are not
    supported, and the error names the file and the codec instead of
    returning wrong bytes."""
    import subprocess

    rnd = random.Random(7)
    words = ["the", "quick", "brown", "fox", "spark", "engine",
             "corpus", "tokens", "shuffle", "partition", "broadcast"]
    samples = tmp_path / "samples"
    samples.mkdir()
    for i in range(200):
        t = (" ".join(rnd.choice(words) for _ in range(150))
             + f" doc{i}").encode()
        (samples / f"s{i}.jsonl").write_bytes(
            b'{"text": "' + t + b'"}\n')
    dict_path = tmp_path / "dict.bin"
    subprocess.run([_ZSTD_CLI, "--train", *map(str, samples.iterdir()),
                    "-o", str(dict_path)], check=True,
                   capture_output=True)
    z = tmp_path / "s0.jsonl.zst"
    subprocess.run([_ZSTD_CLI, "-q", "-3", "-D", str(dict_path),
                    str(samples / "s0.jsonl"), "-o", str(z)], check=True)
    with pytest.raises(UnsupportedMediaError,
                       match=r"s0\.jsonl\.zst: zstd: .*[Dd]ictionary"):
        decompress_auto(z.name, z.read_bytes())
