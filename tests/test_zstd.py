"""Zstandard decode tests (``blosc_min.decode_exact("zstd", ...)``, which
runs pyarrow's libzstd codec).

Four independent attack angles on the one decode path the Blosc and Zarr
readers use: (1) hand-built byte vectors written straight from RFC 8878 —
frame headers, raw/RLE blocks, skippable frames — that never touch any
encoder; (2) COMMITTED vectors written by the reference ``zstd`` CLI
(base64-embedded, so they decode even in containers without the binary)
covering FSE-described sequences, Huffman literals (1- and 4-stream),
repcodes, and the xxh64 content checksum; (3) live round-trips against the
``zstd`` CLI across levels/sizes/options — auto-unskip wherever the binary
exists; (4) adversarial junk + bitflip fuzz with a
ValueError/NotImplementedError-only contract. Integration: blosc-zstd
containers (the numcodecs cname) and Zarr v2/v3 stores in
tests/test_zarr.py + below.
"""

from __future__ import annotations

import base64
import shutil
import struct
import subprocess
import zlib

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from amazon_climate_data_etl_spark.sources import blosc_min as B

_ZSTD_CLI = shutil.which("zstd")


def _unzstd(src: bytes, size: int) -> bytes:
    return B.decode_exact("zstd", src, size)


# --- hand-built spec vectors (no encoder anywhere) -------------------------


def _frame(blocks: bytes, fhd: int = 0x00, window: bytes = b"\x00") -> bytes:
    head = struct.pack("<I", 0xFD2FB528) + bytes([fhd])
    if not fhd & 0x20:  # window descriptor unless single-segment
        head += window
    return head + blocks


def test_raw_block_frame():
    # one raw block, last=1: header 3 bytes LE = size<<3 | type 0<<1 | 1
    payload = b"raw zstd payload"
    bh = (len(payload) << 3) | 1
    frame = _frame(bytes([bh & 0xFF, (bh >> 8) & 0xFF, bh >> 16]) + payload)
    assert _unzstd(frame, len(payload)) == payload


def test_rle_block_frame():
    # RLE block: size = regenerated count, content = 1 byte
    bh = (1000 << 3) | (1 << 1) | 1
    frame = _frame(bytes([bh & 0xFF, (bh >> 8) & 0xFF, bh >> 16]) + b"x")
    assert _unzstd(frame, 1000) == b"x" * 1000


def test_multi_block_frame():
    p1, p2 = b"first block ", b"second block"
    bh1 = (len(p1) << 3) | 0
    bh2 = (len(p2) << 3) | 1
    frame = _frame(
        bytes([bh1 & 0xFF, (bh1 >> 8) & 0xFF, bh1 >> 16]) + p1
        + bytes([bh2 & 0xFF, (bh2 >> 8) & 0xFF, bh2 >> 16]) + p2
    )
    assert _unzstd(frame, len(p1 + p2)) == p1 + p2


def test_single_segment_with_content_size():
    # single-segment flag: 1-byte FCS, no window descriptor
    payload = b"abcd"
    bh = (4 << 3) | 1
    frame = (
        struct.pack("<I", 0xFD2FB528)
        + bytes([0x20, 4])
        + bytes([bh & 0xFF, (bh >> 8) & 0xFF, bh >> 16])
        + payload
    )
    assert _unzstd(frame, 4) == payload
    # wrong declared size must fail
    bad = bytearray(frame)
    bad[5] = 9
    with pytest.raises(ValueError, match="corruption"):
        _unzstd(bytes(bad), 4)


def test_skippable_frame_alone_and_concatenated():
    skip = struct.pack("<II", 0x184D2A5F, 3) + b"xyz"
    assert _unzstd(skip, 0) == b""
    payload = b"data"
    bh = (4 << 3) | 1
    real = _frame(bytes([bh & 0xFF, (bh >> 8) & 0xFF, bh >> 16]) + payload)
    assert _unzstd(skip + real + skip + real, 8) == payload * 2


def test_reserved_block_type_rejected():
    bh = (4 << 3) | (3 << 1) | 1
    frame = _frame(bytes([bh & 0xFF, (bh >> 8) & 0xFF, bh >> 16]) + b"abcd")
    with pytest.raises(ValueError, match="corruption"):
        _unzstd(frame, 4)


def test_bad_magic_rejected():
    with pytest.raises(ValueError, match="corrupt zstd"):
        _unzstd(b"\x00\x01\x02\x03rest", 4)
    # past the minimum frame-header size libzstd names the magic's failure
    with pytest.raises(ValueError, match="Unknown frame descriptor"):
        _unzstd(b"\x00\x01\x02\x03" + b"rest" * 10, 40)


def test_dictionary_gated():
    # dictionary-ID flag 01 with a nonzero 1-byte id: no dictionary is
    # ever loaded, so libzstd refuses the frame
    frame = struct.pack("<I", 0xFD2FB528) + bytes([0x01, 0x00, 7])
    with pytest.raises(ValueError, match="Dictionary mismatch"):
        _unzstd(frame + b"\x01\x00\x00", 0)


# --- committed reference-CLI vectors (decode without the binary) -----------

_V1_CRC = 3363595912  # crc32 of the plaintext, pinned at generation time
_V1 = base64.b64decode(
    "KLUv/QRoHQ0A1lo8FpArHUuLfd773+5+RltKmaRMCb1/H5xAADEAMgCeUl9rpav3GrWm"
    "d6c120L2eEYr1nm6BWb4gH0HWkCAiEFxICQFBsKDI3E0EAHCUUASR0JACo4kcUAMEMXi"
    "kSSSRq/5/enNtxDr6IysqE4nmiGbWuJJV8ZuyuY18zFNZ0ie6xinin8es8u9OeQbm131"
    "Gezd2Vld/U43c/a1R5Z3xeyszF42N5N1jMV2NaNVqV+Nlav64lHdlLmqddaU+147rX5/"
    "AN4CV2rXsr46r6mdktxrja3CH8foYk8O8YY1s1X2ZKcUX6kVusq9GJWacpdpMUvLBYDy"
    "qBHQ7bKznwEwuTQGMgisAIEL/n+E4Qc0OuNiKyGXfB9zi1ajlSrTeJtlTdAijSApWe66"
    "jyNdiV5UUqZl32OdptgKlLXSgw99R6oRdRXhXv9Ypym2AmWt/zjSlehFJWVa9j3WaYqt"
    "QFnrP450JXpRSZmWfY91mmIrUNb6jyNdiV5UUqZl32OdptgKlLX+40hXoheVlGnZ91gX"
    "fjtCOmvIG8Nn69ppgAEgArEN2FWByJAV"
)
_V2_CRC = 1318124623
_V2 = base64.b64decode(
    "KLUv/QBYpSEA1EAABw4VHCMqMTlAR05VXGNqcnmAh46VnKOrsrnAx87V3OTr8vkFDBMa"
    "IikwNz5FTFNbYmlwd36FjJSboqmwt77FzdTb4unw9wMLEhkgJy41PERLUllgZ251fYSL"
    "kpmgp662vcTL0tng5+/2AgkQFx4lLTQ7QklQV15mbXR7gomQl5+mrbS7wsnQ2N/m7fQA"
    "Bw4WHSQrMjlAR09WXWRrcnmAiI+WnaSrsrnByM/W3eTr8voGDRQbIikwOD9GTVRbYmlx"
    "eH+GjZSboqqxuL/GzdTb4+rx+AQLEhkhKC82PURLUlphaG92fYSLk5qhqK+2vcTM09rh"
    "6O/2AgoRGB8mLTQ7Q0pRWF9mbXR8g4qRmJ+mrbW8w8rR2N/m7vUBCA8WHSQsMzpBSE9W"
    "XWVsc3qBiI+WnqWss7rByM/X3uXs8/oGDRUcIyoxOD9GTlVcY2pxeH+HjpWco6qxuMDH"
    "ztXc4+rx+QUMExohKC83PkVMU1phaHB3foWMk5qhqbC3vsXM09ri6fD3AwoRGCAnLjU8"
    "Q0pRWWBnbnV8g4qSmaCnrrW8w8vS2eDn7vUBCRAXHiUsMzpCSVBXXmVsc3uCiZCXnqWs"
    "tLvCydDX3uXt9E5VXIeOlcDHzvkFDDc+RXB3fqmwt+Lp8CAnLllgZ5KZoMvS2QkQF0JJ"
    "UHuCibS7wu30ACsyOWRrcp2kq9bd5BQbIk1UW4aNlL/GzfgECzY9RG92faivtuHo7x8m"
    "LVhfZpGYn8rR2AgPFkFIT3qBiLO6wezz+ioxOGNqcZyjqtXc4xMaIUxTWoWMk77FzPcD"
    "CjU8Q251fKeuteDn7h4lLFdeZZCXnsnQ1wcOFUBHTnmAh7K5wOvy+SkwN2JpcJuiqdTb"
    "4hIZIEtSWYSLkr3Ey/YCCTQ7Qm10e6attN/m7R0kK1ZdZI+WncjP1gYNFD9GTXh/hrG4"
    "v+rx+CgvNmFob5qhqNPa4REYH0pRWIOKkbzDyvUBCDM6QWxzeqWss97l7BwjKlVcY46V"
    "nMfO1QUMEz5FTHd+hbC3vunw9ycuNWBnbpmgp9LZ4BAXHklQV4KJkLvCyfQABzI5QGty"
    "eaSrst3k6xsiKVRbYo2Um8bN1AQLEj1ES3Z9hK+2vejv9iYtNF9mbZifptHY3w8WHUhP"
    "VoGIj7rByPP6BjE4P2pxeKOqsdzj6hohKFNaYYyTmsXM0wMKETxDSnV8g661vOfu9SUs"
    "M15lbJeepdDX3g4VHEdOVYCHjrnAx/L5BTA3Pmlwd6KpsNvi6RkgJ1JZYIuSmcTL0gIJ"
    "EDtCSXR7gq20u+bt9CQrMl1ka5adpM/W3Q0UG0ZNVH+Gjbi/xvH4BC82PWhvdqGor9rh"
    "6BgfJlFYX4qRmMPK0QEIDzpBSHN6gayzuuXs84DEqCEE/fr/G/D1GAMS6M/+//+/AUi7"
    "ffZ833cgAMkgoNyslVU="
)


def test_committed_cli_vector_level19_with_checksum():
    out = _unzstd(_V1, 120 * 55)
    assert zlib.crc32(out) == _V1_CRC
    assert len(out) == 120 * 55


def test_content_checksum_verified():
    # the level-19 CLI vector ends in its 4-byte xxh64 content checksum:
    # flipping a checksum bit must fail the decode, not return the data
    assert zlib.crc32(_unzstd(_V1, 120 * 55)) == _V1_CRC
    with pytest.raises(ValueError, match="checksum"):
        _unzstd(_V1[:-1] + bytes([_V1[-1] ^ 1]), 120 * 55)


def _v2_expected() -> bytes:
    return bytes((i * 7 + (i >> 3)) % 251 for i in range(9000))


def test_committed_cli_vector_level3_nocheck():
    # regenerate the plaintext from its formula; CRC pins the vector
    want = _v2_expected()
    assert zlib.crc32(want) == _V2_CRC
    assert _unzstd(_V2, len(want)) == want


# --- blosc-zstd container (numcodecs Blosc cname='zstd') -------------------

_BLOSC_ZSTD = base64.b64decode(
    "AgGRBOAuAADgLgAAWgUAABQAAABCBQAAKLUv/QBYzSkAxEwAAIBAgMAgQGCAoMDgECAw"
    "QFBgcICQoLDA0ODwiJCYoKiwuMDI0Njg6PD4AAQIDBAUGBwgJCgsMDQ4PEBESExQVFhc"
    "YGRobHB0eHyAgoSGiIqMjpCSlJaYmpyeoKKkpqiqrK6wsrS2uLq8vsDCxMbIyszO0NLU"
    "1tja3N7g4uTm6Ors7vDy9Pb4+vz+AAECAwQFBgcICQoLDA0ODxAREhMUFRYXGBkaGxwd"
    "Hh8gISIjJCUmJygpKissLS4vMDEyMzQ1Njc4OTo7PD0+P0BBQkNERUZHSElKS0xNTk9Q"
    "UVJTVFVWV1hZWltcXV5fYGFiY2RlZmdoaWprbG1ub3BxcnN0dXZ3eHl6e3x9fn+AgIGB"
    "goKDg4SEhYWGhoeHiIiJiYqKi4uMjI2Njo6Pj5CQkZGSkpOTlJSVlZaWl5eYmJmZmpqb"
    "m5ycnZ2enp+foKChoaKio6OkpKWlpqanp6ioqamqqqurrKytra6ur6+wsLGxsrKzs7S0"
    "tbW2tre3uLi5ubq6u7u8vL29vr6/v8DAwcHCwsPDxMTFxcbGx8fIyMnJysrLy8zMzc3O"
    "zs/P0NDR0dLS09PU1NXV1tbX19jY2dna2tvb3Nzd3d7e39/g4OHh4uLj4+Tk5eXm5ufn"
    "6Ojp6erq6+vs7O3t7u7v7/Dw8fHy8vPz9PT19fb29/f4+Pn5+vr7+/z8/f3+/v//AAAA"
    "AAEBAQECAgICAwMDAwQEBAQFBQUFBgYGBgcHBwcICAgICQkJCQoKCgoLCwsLDAwMDA0N"
    "DQ0ODg4ODw8PDxAQEBAREREREhISEhMTExMUFBQUFRUVFRYWFhYXFxcXGBgYGBkZGRka"
    "GhoaGxsbGxwcHBwdHR0dHh4eHh8fHx8gICAgISEhISIiIiIjIyMjJCQkJCUlJSUmJiYm"
    "JycnJygoKCgpKSkpKioqKisrKyssLCwsLS0tLS4uLi4vLy8vMDAwMDExMTEyMjIyMzMz"
    "MzQ0NDQ1NTU1NjY2Njc3Nzc4ODg4OTk5OTo6Ojo7Ozs7PDw8PD09PT0+Pj4+Pz8/P0BA"
    "QEBBQUFBQkJCQkNDQ0NERERERUVFRUZGRkZHR0dHSEhISElJSUlKSkpKS0tLS0xMTExN"
    "TU1NTk5OTk9PT09QUFBQUVFRUVJSUlJTU1NTVFRUVFVVVVVWVlZWV1dXV1hYWFhZWVlZ"
    "WlpaWltbW1tcXFxcXV1dXV5eXl5fX19fYGBgYGFhYWFiYmJiY2NjY2RkZGRlZWVlZmZm"
    "ZmdnZ2doaGhoaWlpaWpqampra2trbGxsbG1tbW1ubm5ub29vb3BwcHBxcXFxcnJycnNz"
    "c3N0dHR0dXV1dXZ2dnZ3d3d3eHh4eHl5eXl6enp6e3t7e3x8fHx9fX19fn5+fn9/f3+A"
    "gYKDhIWGh4iJiouMjY6PkJGSk5SVlpeYmZqbnJ2en6ChoqOkpaanqKmqq6ytrq+wsbKz"
    "tLW2t7i5uru8vb6/wMHCw8TFxsfIycrLzM3Oz9DR0tPU1dbX2Nna29zd3t/g4eLj5OXm"
    "5+jp6uvs7e7v8PHy8/T19vf4+fr7/P3+/wABAgMEBQYHCAkKCwwNDg8QERITFBUWFxgZ"
    "GhscHR4fICEiIyQlJicoKSorLC0uLzAxMjM0NTY3ODk6OwBCQ0RFgMqoIexS2mO/A8CD"
    "ZGMMEkggkIYRITyj/P8pSDq0D/xp+Wh8HRhtB/wiTXsxq38VUjp7qaSOr0pKZy+VVCAg"
    "IAgICAQCAgGBQEBAEBAIcvi0TzVcpoHeJABQevZBtT9y+PVvNH7hjpYtmwY="
)


def test_blosc_zstd_container_decodes():
    """A hand-wrapped blosc1 container whose single dont_split block holds
    one CLI-written zstd frame over byte-shuffled float32 data — the
    exact wire shape numcodecs Blosc(cname='zstd', shuffle=SHUFFLE)
    produces for a Zarr chunk."""
    want = np.arange(3000, dtype="<f4").tobytes()
    assert B.decompress(_BLOSC_ZSTD) == want


def test_blosc_zstd_writing_still_gated():
    with pytest.raises(NotImplementedError, match="zstd"):
        B.compress(b"x" * 64, 4, cname="zstd")


# --- live reference-CLI round-trips (auto-unskip) --------------------------


@pytest.mark.skipif(_ZSTD_CLI is None, reason="zstd CLI not installed")
class TestCliRoundTrip:
    def _enc(self, data: bytes, *args: str) -> bytes:
        p = subprocess.run(
            ["zstd", "-q", "-c", *args], input=data, capture_output=True
        )
        assert p.returncode == 0, p.stderr
        return p.stdout

    @pytest.mark.parametrize("level", [1, 3, 9, 19])
    def test_levels(self, level):
        rng = np.random.default_rng(level)
        cases = [
            b"",
            b"a" * 5000,
            (b"the quick brown fox. " * 700),
            bytes(rng.integers(0, 256, 20000, dtype=np.uint8)),
            np.arange(30000, dtype="<f8").tobytes(),
        ]
        for data in cases:
            enc = self._enc(data, f"-{level}")
            assert _unzstd(enc, len(data)) == data
            enc = self._enc(data, f"-{level}", "--no-check")
            assert _unzstd(enc, len(data)) == data

    def test_multiblock_and_long_mode(self):
        data = (b"climate chunk payload %08d|" * 30000) % tuple(range(30000))
        assert len(data) > 4 * 128 * 1024  # forces several blocks
        assert _unzstd(self._enc(data, "-19"), len(data)) == data
        assert _unzstd(self._enc(data, "-6", "--long=25"), len(data)) == data

    def test_bitflips_never_leak_low_level_errors(self):
        data = b"flip target " * 50
        enc = self._enc(data, "-3")
        for bit in range(len(enc) * 8):
            b = bytearray(enc)
            b[bit // 8] ^= 1 << (bit % 8)
            try:
                _unzstd(bytes(b), len(data))
            except (ValueError, NotImplementedError):
                continue


# --- adversarial fuzz ------------------------------------------------------


@settings(max_examples=200, deadline=None)
@given(junk=st.binary(min_size=0, max_size=300), size=st.integers(0, 4096))
def test_junk_fails_cleanly(junk, size):
    """Arbitrary bytes: ValueError / NotImplementedError only (or a valid
    decode for junk that legitimately parses) — never OSError, IndexError,
    struct.error, KeyError, or a hang."""
    try:
        _unzstd(junk, size)
    except (ValueError, NotImplementedError):
        pass


@settings(max_examples=60, deadline=None)
@given(junk=st.binary(min_size=0, max_size=200), size=st.integers(0, 4096))
def test_junk_after_valid_magic_fails_cleanly(junk, size):
    """Force the parser past the magic so the fuzz reaches the frame
    header, block, and entropy layers."""
    try:
        _unzstd(struct.pack("<I", 0xFD2FB528) + junk, size)
    except (ValueError, NotImplementedError):
        pass


# --- Zarr stores with zstd chunks (the modern-archive wire shapes) ---------


def _wrap_blosc_zstd(raw: bytes, typesize: int, frame: bytes) -> bytes:
    """Wrap one zstd frame as a single-block dont_split blosc container
    over byte-shuffled data — numcodecs Blosc(cname='zstd') wire shape."""
    flags = (4 << 5) | B._FLAG_SHUFFLE | B._FLAG_DONT_SPLIT
    payload = struct.pack("<i", len(frame)) + frame
    hdr = struct.pack(
        "<BBBBiii", 2, 1, flags, typesize, len(raw), len(raw),
        16 + 4 + len(payload),
    )
    return hdr + struct.pack("<i", 20) + payload


@pytest.mark.skipif(_ZSTD_CLI is None, reason="zstd CLI not installed")
class TestZarrZstdStores:
    def _enc(self, data: bytes) -> bytes:
        p = subprocess.run(
            ["zstd", "-q", "-c", "-5", "--no-check"],
            input=data, capture_output=True,
        )
        assert p.returncode == 0, p.stderr
        return p.stdout

    def test_v2_blosc_zstd_store(self, tmp_path):
        """A v2 store whose .zarray declares blosc cname='zstd' and whose
        chunks are CLI-written zstd frames in blosc containers — exactly
        what numcodecs writes for modern climate archives."""
        import json

        from amazon_climate_data_etl_spark.sources import zarr_min as ZM

        arr = np.arange(48, dtype="<f4").reshape(6, 8) * 0.5
        p = tmp_path / "v2zstd"
        p.mkdir()
        (p / ".zarray").write_text(json.dumps({
            "zarr_format": 2, "shape": [6, 8], "chunks": [3, 4],
            "dtype": "<f4", "fill_value": 0, "order": "C",
            "filters": None,
            "compressor": {"id": "blosc", "cname": "zstd", "clevel": 5,
                           "shuffle": 1, "blocksize": 0},
        }))
        for ci in range(2):
            for cj in range(2):
                block = arr[ci * 3 : ci * 3 + 3, cj * 4 : cj * 4 + 4]
                raw = np.ascontiguousarray(block).tobytes()
                buf = _wrap_blosc_zstd(raw, 4, self._enc(B.shuffle(raw, 4)))
                (p / f"{ci}.{cj}").write_bytes(buf)
        got = ZM.read_zarr_array(str(p))
        np.testing.assert_array_equal(got, arr)

    def test_v3_standalone_zstd_store(self, tmp_path):
        """A v3 store with the [bytes, zstd] codec chain — zarr-python
        v3's DEFAULT write configuration."""
        import json

        from amazon_climate_data_etl_spark.sources import zarr_min as ZM

        arr = (np.arange(40, dtype="<i8") ** 2).reshape(5, 8)
        p = tmp_path / "v3zstd"
        (p / "c" / "0").mkdir(parents=True)
        (p / "c" / "1").mkdir(parents=True)
        (p / "zarr.json").write_text(json.dumps({
            "zarr_format": 3, "node_type": "array",
            "shape": [5, 8], "data_type": "int64",
            "chunk_grid": {"name": "regular",
                           "configuration": {"chunk_shape": [3, 8]}},
            "chunk_key_encoding": {"name": "default",
                                   "configuration": {"separator": "/"}},
            "fill_value": 0,
            "codecs": [
                {"name": "bytes", "configuration": {"endian": "little"}},
                {"name": "zstd",
                 "configuration": {"level": 5, "checksum": False}},
            ],
        }))
        blk0 = np.zeros((3, 8), dtype="<i8"); blk0[:] = arr[0:3]
        blk1 = np.zeros((3, 8), dtype="<i8"); blk1[:2] = arr[3:5]
        (p / "c" / "0" / "0").write_bytes(self._enc(blk0.tobytes()))
        (p / "c" / "1" / "0").write_bytes(self._enc(blk1.tobytes()))
        got = ZM.read_zarr_array(str(p))
        np.testing.assert_array_equal(got, arr)


def test_v2_blosc_zstd_embedded_vector(tmp_path):
    """The committed blosc-zstd container as a one-chunk v2 store — the
    CLI-less proof that the blosc(cname=zstd) read path works end-to-end."""
    import json

    from amazon_climate_data_etl_spark.sources import zarr_min as ZM

    arr = np.arange(3000, dtype="<f4")
    p = tmp_path / "v2emb"
    p.mkdir()
    (p / ".zarray").write_text(json.dumps({
        "zarr_format": 2, "shape": [3000], "chunks": [3000],
        "dtype": "<f4", "fill_value": 0, "order": "C", "filters": None,
        "compressor": {"id": "blosc", "cname": "zstd", "clevel": 5,
                       "shuffle": 1, "blocksize": 0},
    }))
    (p / "0").write_bytes(_BLOSC_ZSTD)
    np.testing.assert_array_equal(ZM.read_zarr_array(str(p)), arr)


@pytest.mark.skipif(_ZSTD_CLI is None, reason="zstd CLI not installed")
def test_v2_bare_zstd_compressor_store(tmp_path):
    """numcodecs Zstd (compressor id 'zstd', NO blosc container): one bare
    RFC 8878 frame per chunk."""
    import json

    from amazon_climate_data_etl_spark.sources import zarr_min as ZM

    arr = np.linspace(-5, 5, 64, dtype="<f8").reshape(8, 8)
    p = tmp_path / "v2bare"
    p.mkdir()
    (p / ".zarray").write_text(json.dumps({
        "zarr_format": 2, "shape": [8, 8], "chunks": [8, 8],
        "dtype": "<f8", "fill_value": 0, "order": "C", "filters": None,
        "compressor": {"id": "zstd", "level": 3},
    }))
    enc = subprocess.run(
        ["zstd", "-q", "-c", "-3"], input=arr.tobytes(), capture_output=True
    ).stdout
    (p / "0.0").write_bytes(enc)
    np.testing.assert_array_equal(ZM.read_zarr_array(str(p)), arr)
