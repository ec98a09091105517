"""Blosc1 container codec tests (``sources/blosc_min.py``).

Three independent attack angles so the reader isn't merely fit to our own
writer: (1) hand-built byte vectors written straight from the published
c-blosc format docs — header fields, block index, split streams — decoded
without ever touching ``compress``; (2) encoder/decoder round-trips across
the codec × shuffle × size matrix, including memcpy fallback, leftover
blocks, and the split/no-split boundary; (3) the Zarr integration lives in
``tests/test_zarr.py`` (compressor matrix + chunk-parallel ingest e2e).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from amazon_climate_data_etl_spark.sources import blosc_min as B

# --- LZ4 block format: spec-derived hand vectors ---------------------------
# decoded through B.decode_exact (pyarrow's lz4_raw); pyarrow's encoder
# writes the round-trip blocks


def _lz4(data: bytes) -> bytes:
    return pa.Codec("lz4_raw").compress(data, asbytes=True)


def test_lz4_literals_only():
    # token 0x50: 5 literals, no match (legal last sequence)
    assert B.decode_exact("lz4", bytes([0x50]) + b"abcde", 5) == b"abcde"


def test_lz4_simple_match():
    # 4 literals 'abcd', match offset 4 len 4, then final 8 literals (the
    # spec's end condition: the last match starts >= 12 bytes before the end)
    blk = bytes([0x40]) + b"abcd" + bytes([4, 0]) + bytes([0x80]) + b"stuvwxyz"
    assert B.decode_exact("lz4", blk, 16) == b"abcdabcdstuvwxyz"


def test_lz4_overlapping_match_is_a_run():
    # 1 literal 'a', match offset 1 len 8 -> 'a' * 9 (RLE via overlap)
    blk = bytes([0x14]) + b"a" + bytes([1, 0]) + bytes([0x50]) + b"bcdef"
    assert B.decode_exact("lz4", blk, 14) == b"a" * 9 + b"bcdef"


def test_lz4_length_extension_bytes():
    # literal run of 15+255+3 = 273 'x's encoded with two extension bytes
    lits = b"x" * 273
    blk = bytes([0xF0, 255, 3]) + lits
    assert B.decode_exact("lz4", blk, 273) == lits
    # match-length extension: token mlen=15 -> 15+4+extension(2) = 21
    blk = (
        bytes([0x1F]) + b"q" + bytes([1, 0]) + bytes([2])
        + bytes([0x50]) + b"abcde"
    )
    assert B.decode_exact("lz4", blk, 27) == b"q" * 22 + b"abcde"


def test_lz4_corrupt_offset_fails_loudly():
    # offset 9 reaches before the start of the output
    with pytest.raises(ValueError, match="corrupt lz4"):
        B.decode_exact("lz4", bytes([0x10]) + b"a" + bytes([9, 0]), 6)


@settings(max_examples=120, deadline=None)
@given(data=st.binary(min_size=0, max_size=4096))
def test_lz4_roundtrip_arbitrary(data):
    assert B.decode_exact("lz4", _lz4(data), len(data)) == data


@settings(max_examples=40, deadline=None)
@given(
    n=st.integers(0, 5000),
    alphabet=st.integers(2, 6),
    seed=st.integers(0, 2**31),
)
def test_lz4_roundtrip_repetitive(n, alphabet, seed):
    data = bytes(np.random.default_rng(seed).integers(0, alphabet, n, dtype=np.uint8))
    comp = _lz4(data)
    assert B.decode_exact("lz4", comp, n) == data
    if n > 600:  # repetitive data must actually compress
        assert len(comp) < n


# --- blosc container: hand-built vectors (decoder vs the format doc) --------


def _header(flags, typesize, nbytes, blocksize, cbytes):
    return struct.pack("<BBBBiii", 2, 1, flags, typesize, nbytes, blocksize, cbytes)


def test_container_memcpy_mode_hand_built():
    payload = bytes(range(200)) * 3
    buf = _header(B._FLAG_MEMCPY, 8, len(payload), 65536, len(payload) + 16) + payload
    assert B.decompress(buf) == payload


def test_container_zlib_dont_split_hand_built():
    # one block, zlib codec (id 3), dont_split set (as c-blosc >= 1.14
    # writes for zlib), no shuffle
    raw = (b"climate" * 100)[:512]
    comp = zlib.compress(raw)
    payload = struct.pack("<i", len(comp)) + comp
    cbytes = 16 + 4 + len(payload)
    buf = (
        _header((B._CODEC_ZLIB << 5) | B._FLAG_DONT_SPLIT, 4, 512, 512, cbytes)
        + struct.pack("<i", 20)  # bstarts[0]: first block right after index
        + payload
    )
    assert B.decompress(buf) == raw


def test_container_split_shuffled_lz4_hand_built():
    # typesize 4, blocksize 512 -> 128 elements: split mode engages
    # (typesize <= 16, blocksize/typesize = 128 >= MIN_BUFFERSIZE).
    # Build the 4 byte-plane splits by hand: shuffle = transpose.
    arr = np.arange(128, dtype="<u4")
    raw = arr.tobytes()
    planes = np.frombuffer(raw, np.uint8).reshape(128, 4).T
    splits = []
    for k in range(4):
        piece = planes[k].tobytes()
        comp = _lz4(piece)
        if len(comp) >= len(piece):  # stored-raw split
            comp = piece
        splits.append(struct.pack("<i", len(comp)) + comp)
    payload = b"".join(splits)
    cbytes = 16 + 4 + len(payload)
    buf = (
        _header((B._CODEC_LZ4 << 5) | B._FLAG_SHUFFLE, 4, 512, 512, cbytes)
        + struct.pack("<i", 20)
        + payload
    )
    assert B.decompress(buf) == raw


def test_container_gates_fail_loudly():
    with pytest.raises(NotImplementedError, match="bit-shuffle"):
        B.decompress(_header(B._FLAG_BITSHUFFLE | (1 << 5), 4, 64, 64, 16))
    # zstd (codec 4) is supported — a header-only buffer with no valid
    # frame fails as corrupt, not as a gate
    with pytest.raises(ValueError):
        B.decompress(_header(B._CODEC_ZSTD << 5, 4, 64, 64, 16))
    with pytest.raises(NotImplementedError, match="blosclz"):
        B.decompress(_header(0, 4, 64, 64, 16))
    # snappy (codec 2) is supported — a header-only buffer with no valid
    # block fails as corrupt, not as a gate
    with pytest.raises(ValueError):
        B.decompress(_header(B._CODEC_SNAPPY << 5, 4, 64, 64, 16))
    with pytest.raises(ValueError, match="header"):
        B.decompress(b"short")
    with pytest.raises(ValueError, match="buffer has"):
        B.decompress(_header(B._FLAG_MEMCPY, 1, 4, 4, 999) + b"abcd")
    with pytest.raises(NotImplementedError, match="version"):
        B.decompress(_header(0, 4, 64, 64, 16).replace(b"\x02", b"\x09", 1))


# --- encoder/decoder matrix --------------------------------------------------


@pytest.mark.parametrize("cname", ["lz4", "zlib"])
@pytest.mark.parametrize("do_shuffle", [True, False])
@pytest.mark.parametrize(
    "case",
    [
        ("f8-grid", np.linspace(0, 1, 9000).astype("<f8")),
        ("i4-runs", np.repeat(np.arange(700, dtype="<i4"), 13)),
        ("u1-odd-leftover", np.arange(123457) % 251),
        ("u2-tiny", np.arange(7, dtype="<u2")),
        ("empty", np.array([], dtype="<f8")),
    ],
    ids=lambda c: c[0] if isinstance(c, tuple) else c,
)
def test_container_roundtrip_matrix(cname, do_shuffle, case):
    _, arr = case
    arr = np.asarray(arr)
    data = arr.tobytes()
    ts = arr.dtype.itemsize
    enc = B.compress(data, ts, cname=cname, do_shuffle=do_shuffle)
    assert B.decompress(enc) == data


def test_container_incompressible_falls_back_to_memcpy():
    data = np.random.default_rng(5).integers(0, 256, 50_000, dtype=np.uint8).tobytes()
    enc = B.compress(data, 1, cname="lz4")
    assert len(enc) == len(data) + 16  # memcpy container: header + raw
    assert enc[2] & B._FLAG_MEMCPY
    assert B.decompress(enc) == data


def test_container_split_boundary_both_sides():
    # 128 elements/block -> split engages; 127 -> it must not
    for nelem, expect_split in [(128, True), (127, False)]:
        arr = np.arange(nelem, dtype="<u4")
        enc = B.compress(arr.tobytes(), 4, cname="lz4", blocksize=nelem * 4)
        assert B.decompress(enc) == arr.tobytes()
        if not enc[2] & B._FLAG_MEMCPY:
            nsplits = B._nsplits(enc[2], 4, nelem * 4, False)
            assert (nsplits == 4) is expect_split


def test_container_multiblock_with_leftover():
    # 3 full blocks + a leftover block that must decode with nsplits=1
    arr = np.arange(3 * 1024 + 133, dtype="<f4")
    enc = B.compress(arr.tobytes(), 4, cname="lz4", blocksize=4096)
    assert B.decompress(enc) == arr.tobytes()


def test_shuffle_unshuffle_inverse_with_remainder():
    rng = np.random.default_rng(9)
    for n in (0, 1, 7, 8, 801, 8000):
        for ts in (1, 2, 4, 8, 16):
            buf = bytes(rng.integers(0, 256, n, dtype=np.uint8))
            assert B.unshuffle(B.shuffle(buf, ts), ts) == buf


def test_writer_gates_unsupported_cnames():
    with pytest.raises(NotImplementedError, match="zstd"):
        B.compress(b"x" * 64, 4, cname="zstd")
    with pytest.raises(NotImplementedError, match="snappy"):
        B.compress(b"x" * 64, 4, cname="snappy")


# --- snappy raw block format (codec 2) ---------------------------------------
# pyarrow's 'snappy' codec writes the reference blocks (raw block format, the
# same wire bytes c-blosc's snappy_compress emits) and decodes them behind
# B.decode_exact; spec vectors below are hand-built from google/snappy
# format_description.txt, independent of any implementation.


def _pa_snappy(data: bytes) -> bytes:
    return pa.compress(data, codec="snappy", asbytes=True)


def _unsnappy(src: bytes, size: int) -> bytes:
    return B.decode_exact("snappy", src, size)


def test_snappy_spec_vectors_hand_built():
    # literal only: preamble varint 5, tag (5-1)<<2 | 0, then bytes
    assert _unsnappy(b"\x05\x10hello", 5) == b"hello"
    # empty block: preamble 0, no elements
    assert _unsnappy(b"\x00", 0) == b""
    # 1-byte-offset copy: 4 literals then len-4 copy at offset 4
    # tag = (len-4)<<2 | 1 with offset high bits in tag>>5: len 4, off 4
    assert (
        _unsnappy(b"\x08\x0cabcd" + bytes([0b000_000_01, 4]), 8)
        == b"abcdabcd"
    )
    # 2-byte-offset copy: tag (len-1)<<2|2 + LE16 offset
    assert (
        _unsnappy(b"\x08\x0cwxyz" + bytes([((4 - 1) << 2) | 2, 4, 0]), 8)
        == b"wxyzwxyz"
    )
    # 4-byte-offset copy
    assert (
        _unsnappy(b"\x08\x0cmnop" + bytes([((4 - 1) << 2) | 3, 4, 0, 0, 0]), 8)
        == b"mnopmnop"
    )
    # overlapping copy = RLE: one literal, then len-8 copy at offset 1
    assert (
        _unsnappy(b"\x09\x00Q" + bytes([((8 - 4) << 2) | 1, 1]), 9)
        == b"Q" * 9
    )
    # 61-byte literal: tag 60<<2 marks a 1-byte extended length (len-1=60)
    body = bytes(range(61))
    assert _unsnappy(b"\x3d" + bytes([60 << 2, 60]) + body, 61) == body


def test_snappy_decodes_pyarrow_reference_blocks():
    rng = np.random.default_rng(8)
    cases = [
        b"",
        b"a",
        b"a" * 10_000,
        b"the quick brown fox. " * 500,
        bytes(rng.integers(0, 256, 4096, dtype=np.uint8)),  # incompressible
        np.arange(5000, dtype="<f4").tobytes(),
        (b"ab" * 3000) + bytes(rng.integers(0, 4, 512, dtype=np.uint8)),
        bytes(70_000),  # long zero run: exercises extended lengths
    ]
    for data in cases:
        assert _unsnappy(_pa_snappy(data), len(data)) == data


def test_snappy_junk_fails_cleanly():
    rng = np.random.default_rng(42)
    for size in (0, 1, 2, 7, 33, 200):
        for _ in range(40):
            junk = bytes(rng.integers(0, 256, size, dtype=np.uint8))
            # ask for the one-byte preamble's value so the body decodes too
            want = junk[0] & 0x7F if junk else 0
            try:
                out = _unsnappy(junk, want)
            except (ValueError, NotImplementedError):
                continue
            # junk that happens to parse must still honor the preamble
            assert len(out) == want


def test_snappy_bitflipped_reference_never_wrong_size():
    data = b"climate grid row " * 400
    ref = bytearray(_pa_snappy(data))
    rng = np.random.default_rng(7)
    for _ in range(60):
        buf = bytearray(ref)
        i = int(rng.integers(0, len(buf)))
        buf[i] ^= 1 << int(rng.integers(0, 8))
        try:
            out = _unsnappy(bytes(buf), len(data))
        except ValueError:
            continue
        assert len(out) == len(data)  # preamble-honoring decode or a raise


def test_container_blosc_snappy_hand_wrapped():
    """A hand-wrapped blosc1 container whose single dont_split block holds
    one pyarrow-written snappy block over byte-shuffled float32 data — the
    wire shape numcodecs Blosc(cname='snappy', shuffle=SHUFFLE) produces
    for a Zarr chunk."""
    arr = np.arange(1000, dtype="<f4")
    raw = arr.tobytes()
    comp = _pa_snappy(B.shuffle(raw, 4))
    payload = struct.pack("<i", len(comp)) + comp
    cbytes = 16 + 4 + len(payload)
    buf = (
        _header(
            (B._CODEC_SNAPPY << 5) | B._FLAG_SHUFFLE | B._FLAG_DONT_SPLIT,
            4,
            len(raw),
            len(raw),
            cbytes,
        )
        + struct.pack("<i", 20)
        + payload
    )
    assert B.decompress(buf) == raw


def test_container_blosc_snappy_split_mode():
    """Pre-1.14 writers split snappy blocks too (no dont_split bit): four
    byte-plane splits, each its own snappy block."""
    arr = np.arange(128, dtype="<u4")
    raw = arr.tobytes()
    planes = np.frombuffer(raw, np.uint8).reshape(128, 4).T
    splits = []
    for k in range(4):
        piece = planes[k].tobytes()
        comp = _pa_snappy(piece)
        if len(comp) >= len(piece):  # stored-raw split
            comp = piece
        splits.append(struct.pack("<i", len(comp)) + comp)
    payload = b"".join(splits)
    cbytes = 16 + 4 + len(payload)
    buf = (
        _header((B._CODEC_SNAPPY << 5) | B._FLAG_SHUFFLE, 4, 512, 512, cbytes)
        + struct.pack("<i", 20)
        + payload
    )
    assert B.decompress(buf) == raw


# --- adversarial robustness: malformed containers must fail CLEANLY ---------


@settings(max_examples=150, deadline=None)
@given(junk=st.binary(min_size=0, max_size=200))
def test_decompress_junk_fails_cleanly(junk):
    """Arbitrary bytes must raise ValueError / NotImplementedError (or
    decode, for the rare junk that parses) — never hang, never IndexError,
    never return silently-wrong sizes. Every read in ``decompress`` is
    bounds-checked and ``decode_exact`` maps codec errors, so truncation
    surfaces as ValueError, not IndexError/struct.error/OSError."""
    try:
        B.decompress(junk)
    except (ValueError, NotImplementedError):
        pass


@settings(max_examples=80, deadline=None)
@given(
    data=st.binary(min_size=1, max_size=2000),
    flip=st.integers(0, 10**9),
    seed=st.integers(0, 2**31),
)
def test_decompress_bitflipped_container_never_wrong_size(data, flip, seed):
    """Corrupt a valid container anywhere: the decoder either raises a
    clean ValueError/NotImplementedError or (if the flip lands in a
    don't-care byte or payload that still parses) returns a buffer of
    exactly nbytes — it must never return a wrong-length result and never
    leak a low-level IndexError/struct.error."""
    enc = bytearray(B.compress(data, 4, cname="lz4"))
    enc[flip % len(enc)] ^= 1 << (seed % 8)
    try:
        out = B.decompress(bytes(enc))
    except (ValueError, NotImplementedError):
        return
    assert len(out) in (len(data), int.from_bytes(enc[4:8], "little", signed=True))


def test_truncated_literal_run_raises_not_shrinks():
    # token promises 5 literals but only 2 are present: must raise, never
    # silently shrink the output (the pre-hardening failure mode)
    with pytest.raises(ValueError, match="corrupt lz4"):
        B.decode_exact("lz4", bytes([0x50]) + b"ab", 5)
    # truncated offset: literals consumed, then only 1 offset byte
    with pytest.raises(ValueError, match="corrupt lz4"):
        B.decode_exact("lz4", bytes([0x10]) + b"a" + bytes([1]), 6)
    # a VALID block that is shorter than asked for: pyarrow pads the
    # requested size with uninitialized memory, the helper must raise
    data = bytes(range(250)) * 4
    with pytest.raises(ValueError, match="fewer than 1200"):
        B.decode_exact("lz4", _lz4(data), 1200)


def test_version_gate_is_strict():
    # version byte 3 (> BLOSC_VERSION_FORMAT=2) must gate even if the rest
    # of the header parses — no evidence it shares the blosc1 layout
    enc = bytearray(B.compress(b"z" * 64, 4))
    enc[0] = 3
    with pytest.raises(NotImplementedError, match="version 3"):
        B.decompress(bytes(enc))


def test_nonaligned_split_block_decodes_like_cblosc():
    # c-blosc's decode-side split rule has NO divisibility condition; a
    # block with bsize // typesize >= 128 splits into `typesize` streams
    # regardless of alignment. Verify _nsplits mirrors that exactly.
    assert B._nsplits(0, 4, 4 * 128, False) == 4
    assert B._nsplits(0, 4, 4 * 128 + 2, False) == 4  # non-aligned: still 4
    assert B._nsplits(0, 4, 4 * 127, False) == 1  # under MIN_BUFFERSIZE
    assert B._nsplits(B._FLAG_DONT_SPLIT, 4, 4 * 128, False) == 1
    assert B._nsplits(0, 4, 4 * 128, True) == 1  # leftover never splits


# --- optional-library interop: auto-unskip when the real codecs exist -------


try:
    import numcodecs  # noqa: F401

    _HAVE_NUMCODECS = True
except ImportError:
    _HAVE_NUMCODECS = False


@pytest.mark.skipif(not _HAVE_NUMCODECS, reason="numcodecs not installed")
class TestNumcodecsInterop:
    """Cross-checks vs python-blosc via numcodecs — skipped in the
    dependency-free container, auto-unskips wherever numcodecs exists so
    conformance is proven against the reference implementation, not only
    hand-built vectors."""

    @pytest.mark.parametrize("cname", ["lz4", "zlib", "snappy", "zstd"])
    @pytest.mark.parametrize("shuffle_flag", [0, 1])  # NOSHUFFLE, SHUFFLE
    def test_foreign_written_container_decodes(self, cname, shuffle_flag):
        codec = numcodecs.Blosc(cname=cname, clevel=5, shuffle=shuffle_flag)
        arr = np.arange(5000, dtype="<f4")
        enc = codec.encode(arr.tobytes())
        assert B.decompress(bytes(enc)) == arr.tobytes()

    @pytest.mark.parametrize("cname", ["lz4", "zlib"])
    def test_our_container_decodes_in_reference(self, cname):
        codec = numcodecs.Blosc(cname=cname)
        arr = np.arange(5000, dtype="<f4")
        enc = B.compress(arr.tobytes(), 4, cname=cname)
        assert bytes(codec.decode(enc)) == arr.tobytes()


def test_snappy_preamble_bounded_by_expected_size():
    """A preamble that disagrees with the caller's expected split size
    must fail BEFORE allocation: a claim above it (a ~6-byte corrupt split
    could otherwise trigger a transient 2 GB buffer per task) or below it
    (pyarrow would pad the output up to the requested size)."""
    # varint preamble claiming 2^30 bytes, no body
    huge = bytes([0x80, 0x80, 0x80, 0x80, 0x04])
    with pytest.raises(ValueError, match="caller expects"):
        _unsnappy(huge, 4096)
    # honest blocks still decode at their size
    assert _unsnappy(b"\x05\x10hello", 5) == b"hello"
    with pytest.raises(ValueError, match="caller expects"):
        _unsnappy(b"\x05\x10hello", 4)
    # short preamble: the block holds 5 bytes, the caller expects 6
    with pytest.raises(ValueError, match="caller expects"):
        _unsnappy(b"\x05\x10hello", 6)
