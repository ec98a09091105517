"""Blosc1 container codec (the Zarr ecosystem's default), no python-blosc.

numcodecs' ``Blosc`` — the compressor most real Zarr v2 climate archives
were written with (default ``cname='lz4', shuffle=SHUFFLE``) — wraps every
chunk in the c-blosc1 container: a 16-byte self-describing header, a block
index, and per-block byte-shuffled + entropy-coded payloads. The format is
publicly specified (c-blosc ``README_HEADER.rst`` / ``FORMAT`` docs, and the
reference implementation at github.com/Blosc/c-blosc); this module
implements the subset those archives actually use so the chunk-parallel
Zarr ingest (``zarr_min.py`` → ``ingest.ingest_zarr_to_parquet``) can
decode them in containers without python-blosc — the same clean-room
pattern as ``hdf5_min.py``. The container is parsed here; the entropy
codecs inside it are not: ``decode_exact`` hands each split to pyarrow's
C++ codecs or the stdlib and proves the decoded length.

Implemented:
- the 16-byte header (version/versionlz/flags/typesize + nbytes/blocksize/
  cbytes), pure-memcpy mode (flags bit 1), the int32 block-start index;
- per-block split streams: c-blosc splits a block into ``typesize``
  independently-compressed byte-plane streams when ``typesize <= 16``,
  ``blocksize/typesize >= 128``, the block is not the leftover block, and
  header flags bit 4 (``dont_split``, c-blosc >= 1.14) is clear — the
  decoder recomputes this deterministically from the header, so both
  pre- and post-1.14 writers decode correctly;
- inner codecs: LZ4 (codec id 1 — block format, both directions, via
  pyarrow's ``lz4_raw``), snappy (codec id 2, decode only — one raw block
  per split, via pyarrow's ``snappy``), zlib (codec id 3 — stdlib), and
  zstd (codec id 4, decode only — one frame per split, via pyarrow's
  ``zstd``); per-split stored-raw fallback (``csize == neblock``);
- byte-shuffle (flags bit 0): numpy transpose per block, trailing
  non-multiple-of-typesize bytes carried verbatim (c-blosc
  ``shuffle_generic`` semantics).

FAILS LOUDLY (pointer at the ``blosc`` library) on: bit-shuffle (flags
bit 2), blosclz (codec 0 — blosc's own codec, no in-container reference
implementation to validate a clean-room decoder against), snappy/zstd
WRITING, and blosc2 frames.

Format cross-checks live in ``tests/test_blosc.py``: hand-built byte
vectors written straight from the published format (independent of the
encoder here), encoder/decoder round-trips across the split/shuffle/raw
matrix, and Zarr store round-trips through ``zarr_min``.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pyarrow as pa

_VERSION_FORMAT = 2  # c-blosc1 BLOSC_VERSION_FORMAT
_MAX_SPLITS = 16  # c-blosc MAX_SPLITS
_MIN_BUFFERSIZE = 128  # c-blosc BLOSC_MIN_BUFFERSIZE

_FLAG_SHUFFLE = 0x1
_FLAG_MEMCPY = 0x2
_FLAG_BITSHUFFLE = 0x4
_FLAG_DONT_SPLIT = 0x10

_CODEC_BLOSCLZ = 0
_CODEC_LZ4 = 1
_CODEC_SNAPPY = 2
_CODEC_ZLIB = 3
_CODEC_ZSTD = 4

_CODEC_NAMES = {0: "blosclz", 1: "lz4", 2: "snappy", 3: "zlib", 4: "zstd"}


def _gate(msg: str) -> NotImplementedError:
    return NotImplementedError(
        f"{msg}; this minimal Blosc codec covers the lz4/snappy/zlib/zstd "
        "byte-shuffle subset — install 'blosc' for full coverage"
    )


# ---------------------------------------------------------------------------
# inner codecs: pyarrow's C++ lz4_raw / snappy / zstd, the stdlib for zlib
# ---------------------------------------------------------------------------

_PA_CODECS = {
    "lz4": pa.Codec("lz4_raw"),
    "snappy": pa.Codec("snappy"),
    "zstd": pa.Codec("zstd"),
}


def _snappy_preamble(src: bytes) -> int:
    """The varint32 uncompressed length that opens a raw snappy block."""
    ulen = 0
    for i, b in enumerate(src[:5]):
        ulen |= (b & 0x7F) << (7 * i)
        if not b & 0x80:
            return ulen
    raise ValueError("corrupt snappy block: bad length preamble")


def decode_exact(cname: str, src: bytes, size: int) -> bytes:
    """Decode one ``cname`` block (lz4/snappy/zlib/zstd) into exactly
    ``size`` bytes — the one place that knows which library decodes an
    inner codec.

    pyarrow hands back a buffer of the REQUESTED size, so a block that
    decodes short comes back padded with uninitialized memory that no
    later length check can see. The length is proven here instead:
    snappy's varint preamble must equal ``size`` (checked before any
    allocation); an lz4 block must NOT fit in ``size - 1`` bytes; arrow's
    zstd path already fails unless the frames fill ``size`` exactly (and
    libzstd verifies content checksums); zlib's output length is compared.
    Corrupt input always raises ``ValueError`` — pyarrow's ``OSError`` is
    mapped — so callers keep a ValueError/NotImplementedError-only contract.
    """
    if cname == "zlib":
        try:
            out = zlib.decompress(src)
        except zlib.error as exc:
            raise ValueError(f"corrupt zlib data: {exc}") from exc
        if len(out) != size:
            raise ValueError(f"zlib data decoded {len(out)} bytes, expected {size}")
        return out
    if cname == "snappy":
        claimed = _snappy_preamble(src)
        if claimed != size:
            raise ValueError(
                f"corrupt snappy block: preamble claims {claimed} bytes, "
                f"caller expects {size}"
            )
    codec = _PA_CODECS[cname]
    try:
        out = codec.decompress(src, size, asbytes=True)
    except (OSError, pa.ArrowInvalid) as exc:
        raise ValueError(f"corrupt {cname} data: {exc}") from exc
    if cname == "lz4" and size:
        try:
            codec.decompress(src, size - 1)
        except OSError:
            return out
        raise ValueError(f"lz4 block decodes to fewer than {size} bytes")
    return out


# ---------------------------------------------------------------------------
# byte-shuffle (c-blosc shuffle.c generic semantics: complete elements are
# transposed into byte planes; a trailing partial element rides verbatim)
# ---------------------------------------------------------------------------


def shuffle(buf: bytes, typesize: int) -> bytes:
    if typesize <= 1:
        return bytes(buf)
    n = len(buf) // typesize
    head = n * typesize
    planes = (
        np.frombuffer(buf[:head], dtype=np.uint8).reshape(n, typesize).T
    )
    return planes.tobytes() + bytes(buf[head:])


def unshuffle(buf: bytes, typesize: int) -> bytes:
    if typesize <= 1:
        return bytes(buf)
    n = len(buf) // typesize
    head = n * typesize
    rows = (
        np.frombuffer(buf[:head], dtype=np.uint8).reshape(typesize, n).T
    )
    return rows.tobytes() + bytes(buf[head:])


# ---------------------------------------------------------------------------
# container
# ---------------------------------------------------------------------------


def _nsplits(flags: int, typesize: int, bsize: int, leftover: bool) -> int:
    """c-blosc's deterministic split-count rule (blosc.c blosc_d).

    Matches the reference decode rule exactly: typesize <= MAX_SPLITS,
    blocksize/typesize >= MIN_BUFFERSIZE, not the leftover block, and the
    dont_split header bit clear. There is deliberately NO divisibility
    condition — c-blosc does not check one (its writer always aligns
    blocksize to typesize, so ``bsize // nsplits`` is exact for any
    c-blosc-written buffer; a hypothetical non-aligned split block decodes
    short and is caught loudly by the container's final nbytes check).
    """
    if (
        not (flags & _FLAG_DONT_SPLIT)
        and 1 <= typesize <= _MAX_SPLITS
        and bsize // typesize >= _MIN_BUFFERSIZE
        and not leftover
    ):
        return typesize
    return 1


def decompress(buf: bytes) -> bytes:
    """Decode one Blosc1 container (any compliant writer) → raw bytes."""
    if len(buf) < 16:
        raise ValueError(f"blosc buffer of {len(buf)} bytes has no header")
    version, _versionlz, flags, typesize = buf[0], buf[1], buf[2], buf[3]
    nbytes, blocksize, cbytes = struct.unpack_from("<iii", buf, 4)
    if version > _VERSION_FORMAT:
        # Strictly gate on the blosc1 format versions this module was
        # written against — a higher version byte (blosc2 frame, future
        # layout) carries no evidence it shares the blosc1 layout.
        raise _gate(f"blosc format version {version} (blosc2 frame?)")
    if cbytes != len(buf):
        raise ValueError(f"header says {cbytes} bytes, buffer has {len(buf)}")
    if nbytes < 0:
        raise ValueError(f"corrupt blosc header: nbytes={nbytes}")
    if flags & _FLAG_MEMCPY:
        if len(buf) < 16 + nbytes:
            raise ValueError("memcpy-mode blosc buffer shorter than nbytes")
        return bytes(buf[16 : 16 + nbytes])
    if blocksize <= 0:
        raise ValueError(f"corrupt blosc header: blocksize={blocksize}")
    if flags & _FLAG_BITSHUFFLE:
        raise _gate("bit-shuffle (flags bit 2)")
    # c-blosc compresses each split with one whole inner-codec call: an
    # LZ4 block, a raw snappy block, a zlib stream or a complete zstd frame
    codec = (flags >> 5) & 0x7
    cname = _CODEC_NAMES.get(codec, codec)
    if cname not in ("lz4", "snappy", "zlib", "zstd"):
        raise _gate(f"blosc inner codec {cname!r}")

    nblocks = -(-nbytes // blocksize)
    if len(buf) < 16 + 4 * nblocks:
        raise ValueError(
            f"blosc buffer of {len(buf)} bytes truncates the "
            f"{nblocks}-entry block index"
        )
    bstarts = struct.unpack_from(f"<{nblocks}i", buf, 16)
    out = bytearray()
    for j in range(nblocks):
        leftover = j == nblocks - 1 and nbytes % blocksize != 0
        bsize = (nbytes % blocksize) if leftover else blocksize
        nsplits = _nsplits(flags, typesize, bsize, leftover)
        neblock = bsize // nsplits
        pos = bstarts[j]
        if pos < 16 or pos > len(buf):
            raise ValueError(f"corrupt blosc block index: start {pos}")
        block = bytearray()
        for _ in range(nsplits):
            if pos + 4 > len(buf):
                raise ValueError("truncated blosc split header")
            (csize,) = struct.unpack_from("<i", buf, pos)
            pos += 4
            if csize < 0 or pos + csize > len(buf):
                raise ValueError(
                    f"corrupt blosc split: csize {csize} at {pos} overruns "
                    f"{len(buf)}-byte buffer"
                )
            payload = buf[pos : pos + csize]
            pos += csize
            if csize == neblock:  # stored-raw split
                block += payload
            else:
                block += decode_exact(cname, payload, neblock)
        if flags & _FLAG_SHUFFLE and typesize > 1:
            block = unshuffle(bytes(block), typesize)
        out += block
    if len(out) != nbytes:
        raise ValueError(f"blosc decoded {len(out)} bytes, expected {nbytes}")
    return bytes(out)


def _default_blocksize(nbytes: int, typesize: int) -> int:
    bs = min(max(nbytes, typesize), 1 << 16)
    if typesize > 0:
        bs -= bs % typesize or 0
    return max(bs, typesize, 1)


def compress(
    data: bytes,
    typesize: int,
    cname: str = "lz4",
    do_shuffle: bool = True,
    blocksize: int = 0,
) -> bytes:
    """Encode raw bytes as a Blosc1 container any compliant reader (incl.
    python-blosc) can decode. ``blocksize=0`` picks a 64 KiB-capped block
    aligned to ``typesize``; falls back to memcpy mode when compression
    does not pay."""
    if cname == "lz4":

        def enc(piece: bytes) -> bytes:
            return _PA_CODECS["lz4"].compress(piece, asbytes=True)

        codec = _CODEC_LZ4
    elif cname == "zlib":
        codec, enc = _CODEC_ZLIB, zlib.compress
    else:
        raise _gate(f"blosc inner codec {cname!r} for writing")
    if not 1 <= typesize <= 255:
        typesize = 1
    nbytes = len(data)
    if blocksize <= 0:
        blocksize = _default_blocksize(nbytes, typesize)
    if blocksize % typesize:
        raise ValueError(f"blocksize {blocksize} not aligned to typesize {typesize}")

    do_shuffle = do_shuffle and typesize > 1
    # split exactly when c-blosc 1.14+ would for this codec, and say so in
    # the header (dont_split bit) so any decoder recomputes the same count
    split_ok = cname in ("lz4", "blosclz")
    flags = (codec << 5) | (_FLAG_SHUFFLE if do_shuffle else 0)
    if not split_ok:
        flags |= _FLAG_DONT_SPLIT

    nblocks = -(-nbytes // blocksize) if nbytes else 0
    bstarts: list[int] = []
    payloads: list[bytes] = []
    pos = 16 + 4 * nblocks
    for j in range(nblocks):
        leftover = j == nblocks - 1 and nbytes % blocksize != 0
        bsize = (nbytes % blocksize) if leftover else blocksize
        block = data[j * blocksize : j * blocksize + bsize]
        if do_shuffle:
            block = shuffle(block, typesize)
        nsplits = _nsplits(flags, typesize, bsize, leftover)
        neblock = bsize // nsplits
        parts = []
        for s in range(nsplits):
            piece = block[s * neblock : (s + 1) * neblock]
            comp = enc(piece)
            if len(comp) >= neblock:  # stored-raw split
                comp = piece
            parts.append(struct.pack("<i", len(comp)) + comp)
        payload = b"".join(parts)
        bstarts.append(pos)
        payloads.append(payload)
        pos += len(payload)

    cbytes = pos
    if cbytes >= nbytes + 16:  # compression does not pay: memcpy mode
        header = struct.pack(
            "<BBBBiii",
            _VERSION_FORMAT,
            1,
            _FLAG_MEMCPY,
            typesize,
            nbytes,
            blocksize,
            nbytes + 16,
        )
        return header + data
    header = struct.pack(
        "<BBBBiii", _VERSION_FORMAT, 1, flags, typesize, nbytes, blocksize, cbytes
    )
    return header + struct.pack(f"<{nblocks}i", *bstarts) + b"".join(payloads)
