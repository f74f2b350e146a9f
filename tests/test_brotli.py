"""Brotli decode gates: ``.br`` corpus files and ``Content-Encoding:
br`` HTTP bodies decode through pyarrow's bundled libbrotli
(sources/jsonl.native_decompress). libbrotli output at the fast /
balanced / max quality levels (all 12 in the slow-tier sweep) decodes
byte-exactly; truncated or corrupt streams and bombs are refused with an
UnsupportedMediaError naming the file and the codec. Plus the HTTP
Content-Encoding integration (sources/http.py) and the WARC crawl
path."""

from __future__ import annotations

import gzip as gzmod
import os
import random
import zlib

import pyarrow as pa
import pytest

from datapump_spark.operators.codecs import UnsupportedMediaError
from datapump_spark.sources.jsonl import decompress_auto


def _ref_encode(t: bytes, level: int) -> bytes:
    return bytes(pa.Codec("brotli", compression_level=level).compress(t))


def _decode(z: bytes, cap: int = 1 << 28) -> bytes:
    return decompress_auto("z.br", z, max_bytes=cap)


# ---------------------------------------------------------------------------
# Foreign-stream conformance
# ---------------------------------------------------------------------------

_SHAPES = {
    "english": b"The quick brown fox jumps over the lazy dog. " * 120,
    "html": (b'<!DOCTYPE html><html><head><meta charset="utf-8">'
             b'<script type="text/javascript" src="x.js"></script></head>'
             b'<body><div class="content"><p>description content with '
             b'position:absolute; and more dictionary words</p></div>'
             b"</body></html>" * 20),
    "utf8": ("текст про кодеки — çédille, 日本語。" * 90).encode(),
    "runs": b"\x00" * 2000 + b"ab" * 1500,
    "json": b'{"name": "value", "count": 12345, "list": [1, 2, 3]}' * 80,
}


# default tier: three levels spanning the fast/balanced/max
# encoders; the slow-tier fuzz sweep crosses all 12 levels
@pytest.mark.parametrize("level", [1, 5, 11])
def test_foreign_streams_decode_exactly(level):
    for name, t in _SHAPES.items():
        assert _decode(_ref_encode(t, level)) == t, (level, name)


def test_foreign_random_and_tiny():
    rng = random.Random(3)
    for t in (b"", b"Q", os.urandom(1), os.urandom(3000),
              bytes(rng.choices(range(8), k=9000))):
        for level in (1, 6, 11):
            assert _decode(_ref_encode(t, level)) == t


@pytest.mark.slow  # redundancy: the in-default level sweep above
# covers every level on 5 shapes; this is the broad randomized sweep
def test_foreign_fuzz_sweep():
    gen = random.Random(7)
    words = [b"the", b"of", b"content", b"<div>", b"http://",
             b"\xc3\xa9t\xc3\xa9", b" ", b"\n", b"12345"]
    for trial in range(120):
        n = gen.randrange(0, 20000)
        kind = gen.randrange(4)
        if kind == 0:
            t = os.urandom(n)
        elif kind == 1:
            t = bytes(gen.choices(range(8), k=n))
        elif kind == 2:
            t = b"".join(gen.choices(words, k=n // 4))
        else:
            t = os.urandom(max(1, n // 100)) * 100 if n else b""
        lvl = gen.randrange(12)
        assert _decode(_ref_encode(t, lvl)) == t, (trial, lvl, kind)


def test_invalid_streams_raise():
    z = _ref_encode(b"hello world" * 40, 5)
    with pytest.raises(UnsupportedMediaError, match="z.br: brotli"):
        _decode(z[:-2])                  # truncated
    with pytest.raises(UnsupportedMediaError, match="z.br: brotli"):
        _decode(z + b"junk")             # trailing bytes after the end
    with pytest.raises(UnsupportedMediaError, match="z.br: brotli"):
        _decode(b"\xff\xff\xff")           # invalid window bits
    with pytest.raises(UnsupportedMediaError, match="cap"):
        _decode(_ref_encode(b"x" * 100, 5), cap=10)


# ---------------------------------------------------------------------------
# HTTP Content-Encoding + WARC crawl integration
# ---------------------------------------------------------------------------

def test_http_wire_decoding_unit():
    from datapump_spark.sources.http import decode_http_response
    body = "Ce renard brun — wire décodé!".encode()
    # chunked framing with extensions and trailers
    chunked = b""
    for i in range(0, len(body), 7):
        c = body[i:i + 7]
        chunked += format(len(c), "x").encode() + b";x=1\r\n" + c + b"\r\n"
    chunked += b"0\r\nX-Trailer: t\r\n\r\n"
    r = decode_http_response(
        b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n" + chunked)
    assert r["body"] == body and r["status"] == 200 and r["error"] is None
    # gzip (multi-member), deflate (raw), brotli, chained chunked+gzip
    for enc, payload in (
            (b"gzip", gzmod.compress(body) + gzmod.compress(b"!")),
            (b"deflate", zlib.compress(body)[2:-4]),
            (b"deflate", zlib.compress(body)),
            (b"br", _ref_encode(body, 5))):
        r = decode_http_response(
            b"HTTP/1.1 200 OK\r\nContent-Encoding: " + enc + b"\r\n\r\n"
            + payload)
        want = body + (b"!" if payload.endswith(gzmod.compress(b"!"))
                       else b"")
        assert r["body"] == want, enc
    # undecodable -> flagged, not mojibake
    r = decode_http_response(
        b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\nnotgzip")
    assert r["body"] is None and "gzip" in r["error"]
    r = decode_http_response(
        b"HTTP/1.1 200 OK\r\nContent-Encoding: compress\r\n\r\nx")
    assert "unsupported" in r["error"]
    # a corrupt br body (libbrotli fails with OSError) is flagged too
    r = decode_http_response(
        b"HTTP/1.1 200 OK\r\nContent-Encoding: br\r\n\r\n"
        + _ref_encode(body, 5)[:-3])
    assert r["body"] is None and "br" in r["error"]


def _warc_response(uri: str, http: bytes) -> bytes:
    return (b"WARC/1.0\r\nWARC-Type: response\r\n"
            + f"WARC-Target-URI: {uri}\r\n".encode()
            + b"WARC-Date: 2024-03-01T00:00:00Z\r\n"
            + f"Content-Length: {len(http)}\r\n".encode()
            + b"\r\n" + http + b"\r\n\r\n")


def test_warc_crawl_decodes_encoded_bodies(spark, tmp_path):
    """A crawl WARC whose responses use chunked + gzip + br + plain:
    all four yield clean text through read_warc_html (previously the
    encoded ones became mojibake the quality gate silently dropped);
    a corrupted body surfaces in read_warc_http as a flagged row."""
    page = ('<html><body><p>Ce renard brun rapide saute par-dessus le '
            'chien paresseux chaque matin, naturellement.</p>'
            '</body></html>').encode()
    gz = gzmod.compress(page)
    chunked = (format(len(gz), "x").encode() + b"\r\n" + gz
               + b"\r\n0\r\n\r\n")
    recs = (
        _warc_response("https://x.example/plain",
                       b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                       b"\r\n" + page)
        + _warc_response("https://x.example/gzip",
                         b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip"
                         b"\r\n\r\n" + gz)
        + _warc_response("https://x.example/br",
                         b"HTTP/1.1 200 OK\r\nContent-Encoding: br"
                         b"\r\n\r\n" + _ref_encode(page, 5))
        + _warc_response("https://x.example/chunked-gzip",
                         b"HTTP/1.1 200 OK\r\n"
                         b"Transfer-Encoding: chunked\r\n"
                         b"Content-Encoding: gzip\r\n\r\n" + chunked)
        + _warc_response("https://x.example/broken",
                         b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip"
                         b"\r\n\r\n" + gz[:-4])
    )
    p = tmp_path / "crawl.warc"
    p.write_bytes(recs)

    from datapump_spark.sources.warc import read_warc_html, read_warc_http

    rows = {r["target_uri"]: r for r in
            read_warc_html(spark, str(p)).collect()}
    assert set(rows) == {f"https://x.example/{k}" for k in
                         ("plain", "gzip", "br", "chunked-gzip")}
    for r in rows.values():
        assert r["main_text"].startswith("Ce renard brun rapide")

    audit = {r["target_uri"]: r for r in
             read_warc_http(spark, str(p)).collect()}
    assert len(audit) == 5
    bad = audit["https://x.example/broken"]
    assert bad["http_error"] and "gzip" in bad["http_error"]
    assert bad["http_text"] is None
    ok = audit["https://x.example/br"]
    assert ok["content_encoding"] == "br" and ok["http_error"] is None
