"""Legacy LZ4 frames (magic ``0x184C2102``: ``lz4 -l`` and old Linux
kernel images) — the one LZ4 input liblz4's frame API rejects
(``ERROR_frameType_unknown``). Modern LZ4 frames (``0x184D2204``)
decode through pyarrow's bundled liblz4 instead
(sources/jsonl.native_decompress).

A legacy frame is a bare sequence of ``[u32 compressed size, block]``
entries, each block an LZ4 block of at most 8 MiB plaintext, with no
checksums, ending at EOF; a repeated magic starts the next frame.

Reference parity note: the reference (datapump.py) has no compressed
container surface; charter extension.
"""

from __future__ import annotations

from datapump_spark.operators.codecs import UnsupportedMediaError

_MAGIC_LEGACY = 0x184C2102
_LEGACY_BLOCK = 8 << 20
# LZ4_compressBound(8 MiB): no valid legacy block is larger
_LEGACY_BOUND = _LEGACY_BLOCK + _LEGACY_BLOCK // 255 + 16


def decode_lz4_block(data: bytes, max_output: int = 1 << 31) -> bytes:
    """Decode one LZ4 block (token / literals / offset / match
    sequences; the last sequence is literals only)."""
    buf = bytearray()
    n = len(data)
    i = 0
    while i < n:
        token = data[i]
        i += 1
        lit = token >> 4
        if lit == 15:
            lit, i = _ext_len(data, i, lit)
        if i + lit > n:
            raise UnsupportedMediaError("lz4: literals overrun block")
        buf += data[i:i + lit]
        i += lit
        if i >= n:
            break
        if i + 2 > n:
            raise UnsupportedMediaError("lz4: truncated match offset")
        offset = data[i] | (data[i + 1] << 8)
        i += 2
        if offset == 0 or offset > len(buf):
            raise UnsupportedMediaError("lz4: invalid match offset")
        mlen = (token & 0xF) + 4
        if mlen == 19:
            mlen, i = _ext_len(data, i, mlen)
        if len(buf) + mlen > max_output:
            raise UnsupportedMediaError("lz4: output exceeds decode cap")
        start = len(buf) - offset
        if offset >= mlen:
            buf += buf[start:start + mlen]
        else:  # overlapping copy: byte-wise semantics
            for k in range(mlen):
                buf.append(buf[start + k])
    if len(buf) > max_output:
        raise UnsupportedMediaError("lz4: output exceeds decode cap")
    return bytes(buf)


def _ext_len(data: bytes, i: int, v: int) -> tuple[int, int]:
    """Add a length extension (bytes of 255 until one that is not)."""
    while True:
        if i >= len(data):
            raise UnsupportedMediaError("lz4: truncated length")
        v += data[i]
        i += 1
        if data[i - 1] != 255:
            return v, i


def decode_lz4_legacy(data: bytes, max_output: int = 1 << 31) -> bytes:
    """Decode one or more concatenated legacy LZ4 frames."""
    if int.from_bytes(data[:4], "little") != _MAGIC_LEGACY:
        raise UnsupportedMediaError("lz4: not a legacy frame")
    out = bytearray()
    i = 4
    while i < len(data):
        if i + 4 > len(data):
            raise UnsupportedMediaError("lz4: truncated legacy block size")
        csize = int.from_bytes(data[i:i + 4], "little")
        i += 4
        if csize == _MAGIC_LEGACY:
            continue
        if csize > _LEGACY_BOUND or i + csize > len(data):
            raise UnsupportedMediaError("lz4: bad legacy block size")
        plain = decode_lz4_block(data[i:i + csize],
                                 max_output=max_output - len(out))
        if len(plain) > _LEGACY_BLOCK:
            raise UnsupportedMediaError("lz4: legacy block exceeds 8 MiB")
        out += plain
        i += csize
    return bytes(out)
