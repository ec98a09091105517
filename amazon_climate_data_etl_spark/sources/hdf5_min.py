"""Minimal pure-Python HDF5 reader/writer (the NetCDF-4 container format).

NetCDF-4 files are HDF5 files (the netCDF-4 format spec maps dims and
variables onto HDF5 dimension-scale datasets). The HDF5 file format is
publicly specified (HDF5 File Format Specification v3); this module
implements the subset that netCDF-4 climate grids actually use so the REAL
ingest path (`sources/ingest.py::decode_classic_long`) can decode them
without h5py/netCDF4/xarray — the same clean-room pattern as
``netcdf_classic.py`` (CDF-1/2) and ``shapefile_min.py``.

Reader surface:
- superblock versions 0 and 2;
- version 1 AND version 2 object headers (incl. continuation blocks);
- old-style groups (symbol-table message → v1 B-tree → SNOD → local heap)
  and new-style compact groups (link messages), nested subgroups;
- datatypes: fixed-point / IEEE float (either endianness), fixed strings,
  object references, variable-length sequences (for ``DIMENSION_LIST``);
- dataspaces v1/v2, attributes v1/v2/v3 (compact storage);
- data layouts: contiguous and chunked — the v3 message (v1 B-tree index)
  AND the HDF5 ≥1.10 v4 message with ALL FIVE of its chunk indexes:
  the fixed-shape trio (Single Chunk, Implicit, Fixed Array) plus the
  unlimited-dimension pair — Extensible Array (EAHD/EAIB/EASB/
  EADB, the index time-unlimited NetCDF-4 climate grids get) and the v2
  chunk B-tree (record types 10/11, ≥2 unlimited dims) — filtered or
  not, with the shuffle + deflate + fletcher32 filter pipeline (H5Z
  leftover-tail shuffle semantics); unallocated storage →
  fill value;
- global heap collections (vlen attribute payloads).

- dense attribute and link storage: fractal heap (root direct
  block, or root indirect block over direct rows) + depth-0 v2 B-tree
  name indexes — the layout libhdf5 ≥1.10 "latest format" switches to
  past its compact phase-change thresholds (8 attrs / 8 links), i.e. the
  shape real NetCDF-4 files written with ``H5F_LIBVER_LATEST`` carry.

v2 B-trees read at ANY depth (BTIN internal nodes with the
published pointer-width arithmetic — records interleave between child
pointers); the writer emits up to depth 1, which covers ~7000 records.

PAGED Fixed/Extensible Array data blocks (what libhdf5 switches to past
2^page_bits chunks — ≳131k fixed / ≳2k-per-block unlimited at default
creation parameters, i.e. the chunk counts a 100 TB archive actually
holds) read AND write: page-init bitmaps (H5VM MSB-first bit order) in
the FA data block / EA super block, element pages trailing each block.

Anything outside this raises ``NotImplementedError`` with a pointer at the
full-featured (h5py/xarray) path: filtered fractal heaps, indirect heap
sub-blocks, huge/tiny heap IDs, paged data blocks addressed straight from
an EA index block (a creation-parameter corner libhdf5's defaults cannot
produce), compound/array datatypes in dataset data, and exotic filters.

The writer emits spec-valid files in BOTH flavors libhdf5 produces —
superblock v0 + v1 object headers + symbol-table groups (the library
default netCDF-4 files use) and superblock v2 + v2 object headers +
compact link messages (``H5F_LIBVER_LATEST``), optionally with DENSE
attribute/link storage — with contiguous or gzip(+shuffle)-chunked
dataset storage under any of the four chunk indexes, so tests can
roundtrip REAL HDF5 bytes through every reader path without any library.
"""

from __future__ import annotations

import itertools
import struct
import zlib
from dataclasses import dataclass, field

import numpy as np

SIGNATURE = b"\x89HDF\r\n\x1a\n"
UNDEF = 0xFFFFFFFFFFFFFFFF

# writer-side chunk-index creation parameters (libhdf5 defaults). Module
# level so tests can shrink the page sizes and exercise the PAGED
# Fixed/Extensible Array shapes without 131k-chunk fixtures.
_FA_PAGE_BITS = 13
_EA_PARAMS = (32, 4, 4, 16, 10)  # max bits, ib elmts, min ptrs, min elmts, page bits

# message type ids
MSG_NIL = 0x00
MSG_DATASPACE = 0x01
MSG_LINK_INFO = 0x02
MSG_DATATYPE = 0x03
MSG_FILL_OLD = 0x04
MSG_FILL = 0x05
MSG_LINK = 0x06
MSG_LAYOUT = 0x08
MSG_GROUP_INFO = 0x0A
MSG_FILTERS = 0x0B
MSG_ATTRIBUTE = 0x0C
MSG_CONTINUATION = 0x10
MSG_SYMBOL_TABLE = 0x11
MSG_MODTIME = 0x12
MSG_ATTRIBUTE_INFO = 0x15

FILTER_DEFLATE = 1
FILTER_SHUFFLE = 2
FILTER_FLETCHER32 = 3


def _h5z_shuffle(raw: bytes, elsize: int) -> bytes:
    """H5Z shuffle filter, write direction: byte-plane transpose of the
    COMPLETE elements; a trailing non-multiple remainder (e.g. the 4-byte
    fletcher32 checksum a preceding pipeline stage appended) rides
    verbatim — H5Zshuffle.c's leftover rule."""
    n = len(raw) // elsize
    head = n * elsize
    return (
        np.frombuffer(raw[:head], np.uint8).reshape(n, elsize).T.tobytes()
        + raw[head:]
    )


def _h5z_unshuffle(raw: bytes, elsize: int) -> bytes:
    n = len(raw) // elsize
    head = n * elsize
    return (
        np.frombuffer(raw[:head], np.uint8).reshape(elsize, n).T.tobytes()
        + raw[head:]
    )


def _fletcher32(data: bytes) -> int:
    """HDF5's H5_checksum_fletcher32: Fletcher-32 over big-endian 16-bit
    words with 360-word partial-reduction blocks and an odd trailing byte
    promoted to a high byte (H5checksum.c)."""
    ln = len(data) // 2
    sum1 = sum2 = 0
    pos = 0
    while ln:
        tlen = min(ln, 360)
        ln -= tlen
        for _ in range(tlen):
            sum1 += (data[pos] << 8) | data[pos + 1]
            sum2 += sum1
            pos += 2
        sum1 = (sum1 & 0xFFFF) + (sum1 >> 16)
        sum2 = (sum2 & 0xFFFF) + (sum2 >> 16)
    if len(data) % 2:
        sum1 += data[-1] << 8
        sum2 += sum1
        sum1 = (sum1 & 0xFFFF) + (sum1 >> 16)
        sum2 = (sum2 & 0xFFFF) + (sum2 >> 16)
    sum1 = (sum1 & 0xFFFF) + (sum1 >> 16)
    sum2 = (sum2 & 0xFFFF) + (sum2 >> 16)
    return ((sum2 << 16) | sum1) & 0xFFFFFFFF


def _lookup3(data: bytes, init: int = 0) -> int:
    """Bob Jenkins' lookup3 hashlittle(), the checksum HDF5 v2 metadata
    uses (public domain algorithm; reimplemented from its specification)."""
    M = 0xFFFFFFFF

    def rot(x, k):
        return ((x << k) | (x >> (32 - k))) & M

    length = len(data)
    a = b = c = (0xDEADBEEF + length + init) & M
    i = 0
    while length > 12:
        a = (a + int.from_bytes(data[i : i + 4], "little")) & M
        b = (b + int.from_bytes(data[i + 4 : i + 8], "little")) & M
        c = (c + int.from_bytes(data[i + 8 : i + 12], "little")) & M
        # mix
        a = (a - c) & M; a ^= rot(c, 4); c = (c + b) & M
        b = (b - a) & M; b ^= rot(a, 6); a = (a + c) & M
        c = (c - b) & M; c ^= rot(b, 8); b = (b + a) & M
        a = (a - c) & M; a ^= rot(c, 16); c = (c + b) & M
        b = (b - a) & M; b ^= rot(a, 19); a = (a + c) & M
        c = (c - b) & M; c ^= rot(b, 4); b = (b + a) & M
        i += 12
        length -= 12
    tail = data[i:] + b"\x00" * (12 - length)
    if length > 8:
        c = (c + int.from_bytes(tail[8:12], "little")) & M
    if length > 4:
        b = (b + int.from_bytes(tail[4:8], "little")) & M
    if length > 0:
        a = (a + int.from_bytes(tail[0:4], "little")) & M
        # final
        c ^= b; c = (c - rot(b, 14)) & M
        a ^= c; a = (a - rot(c, 11)) & M
        b ^= a; b = (b - rot(a, 25)) & M
        c ^= b; c = (c - rot(b, 16)) & M
        a ^= c; a = (a - rot(c, 4)) & M
        b ^= a; b = (b - rot(a, 14)) & M
        c ^= b; c = (c - rot(b, 24)) & M
    return c


# --- datatype descriptor ----------------------------------------------------


@dataclass
class DType:
    cls: int                    # HDF5 datatype class
    size: int                   # element size in bytes
    np_dtype: np.dtype | None   # for fixed/float/string
    base: "DType | None" = None  # vlen base type

    @property
    def kind(self) -> str:
        return {0: "int", 1: "float", 3: "string", 7: "ref", 9: "vlen"}.get(
            self.cls, f"class{self.cls}"
        )


def _parse_datatype(buf: bytes, pos: int) -> tuple[DType, int]:
    b0 = buf[pos]
    cls, version = b0 & 0x0F, b0 >> 4
    bits = buf[pos + 1 : pos + 4]
    (size,) = struct.unpack_from("<I", buf, pos + 4)
    pos += 8
    if cls == 0:  # fixed-point
        order = ">" if bits[0] & 1 else "<"
        signed = "i" if bits[0] & 0x08 else "u"
        pos += 4  # bit offset + precision
        return DType(cls, size, np.dtype(f"{order}{signed}{size}")), pos
    if cls == 1:  # floating-point (IEEE assumed; properties skipped)
        order = ">" if bits[0] & 1 else "<"
        pos += 12  # bit offset, precision, exp/man layout, bias
        return DType(cls, size, np.dtype(f"{order}f{size}")), pos
    if cls == 3:  # fixed-length string
        return DType(cls, size, np.dtype(f"S{size}")), pos
    if cls == 7:  # reference
        return DType(cls, size, None), pos
    if cls == 9:  # variable-length
        base, pos = _parse_datatype(buf, pos)
        return DType(cls, size, None, base), pos
    raise NotImplementedError(
        f"HDF5 datatype class {cls} (version {version}) not supported by "
        "the minimal reader; use the h5py/xarray path"
    )


def _parse_dataspace(buf: bytes, pos: int) -> tuple[int, ...]:
    version = buf[pos]
    rank = buf[pos + 1]
    flags = buf[pos + 2]
    if version == 1:
        pos += 8
    elif version == 2:
        pos += 4
    else:
        raise NotImplementedError(f"dataspace version {version}")
    dims = struct.unpack_from(f"<{rank}Q", buf, pos)
    return tuple(dims)


# --- reader -----------------------------------------------------------------


@dataclass
class H5Dataset:
    name: str                       # full path, no leading '/'
    shape: tuple[int, ...]
    data: np.ndarray
    attrs: dict[str, object] = field(default_factory=dict)
    address: int = UNDEF            # object header address
    dim_addresses: tuple[int, ...] | None = None  # from DIMENSION_LIST


class _H5Reader:
    def __init__(self, buf: bytes):
        self.buf = buf
        self.datasets: dict[str, H5Dataset] = {}

    # -- superblock / entry --

    def root_header_address(self) -> int:
        buf = self.buf
        if buf[:8] != SIGNATURE:
            raise NotImplementedError("not an HDF5 file (bad signature)")
        version = buf[8]
        if version in (0, 1):
            if buf[13] != 8 or buf[14] != 8:
                raise NotImplementedError("only 8-byte offsets/lengths")
            base = 24 if version == 0 else 28
            # skip base/freespace/EOF/driver addresses, then the root
            # group symbol table entry: link name offset, OHDR address
            (ohdr,) = struct.unpack_from("<Q", buf, base + 32 + 8)
            return ohdr
        if version in (2, 3):
            if buf[9] != 8 or buf[10] != 8:
                raise NotImplementedError("only 8-byte offsets/lengths")
            (ohdr,) = struct.unpack_from("<Q", buf, 36)
            return ohdr
        raise NotImplementedError(f"superblock version {version}")

    # -- object headers --

    def _messages(self, addr: int) -> list[tuple[int, bytes]]:
        """All (type, body) messages of the object header at addr,
        following continuation blocks; v1 and v2 headers."""
        buf = self.buf
        if buf[addr : addr + 4] == b"OHDR":
            return self._messages_v2(addr)
        return self._messages_v1(addr)

    def _messages_v1(self, addr: int) -> list[tuple[int, bytes]]:
        buf = self.buf
        if buf[addr] != 1:
            raise NotImplementedError(f"object header version {buf[addr]}")
        nmsgs, = struct.unpack_from("<H", buf, addr + 2)
        hdr_size, = struct.unpack_from("<I", buf, addr + 8)
        out: list[tuple[int, bytes]] = []
        blocks = [(addr + 16, hdr_size)]
        while blocks and len(out) < nmsgs:
            pos, remaining = blocks.pop(0)
            while remaining >= 8 and len(out) < nmsgs:
                mtype, msize = struct.unpack_from("<HH", buf, pos)
                body = buf[pos + 8 : pos + 8 + msize]
                pos += 8 + msize
                remaining -= 8 + msize
                if mtype == MSG_CONTINUATION:
                    off, length = struct.unpack_from("<QQ", body, 0)
                    blocks.append((off, length))
                else:
                    out.append((mtype, body))
        return out

    def _messages_v2(self, addr: int) -> list[tuple[int, bytes]]:
        buf = self.buf
        flags = buf[addr + 5]
        pos = addr + 6
        if flags & 0x20:
            pos += 16  # timestamps
        if flags & 0x10:
            pos += 4   # compact/dense attr phase-change bounds
        width = 1 << (flags & 0x03)
        chunk0 = int.from_bytes(buf[pos : pos + width], "little")
        pos += width
        tracked = bool(flags & 0x04)
        out: list[tuple[int, bytes]] = []
        blocks = [(pos, chunk0)]
        while blocks:
            pos, length = blocks.pop(0)
            end = pos + length
            while pos + 4 <= end:
                mtype = buf[pos]
                msize, = struct.unpack_from("<H", buf, pos + 1)
                pos += 4 + (2 if tracked else 0)
                body = buf[pos : pos + msize]
                pos += msize
                if mtype == MSG_CONTINUATION:
                    off, length2 = struct.unpack_from("<QQ", body, 0)
                    # continuation blocks carry an OCHK signature + checksum
                    blocks.append((off + 4, length2 - 8))
                else:
                    out.append((mtype, body))
        return out

    # -- attribute decode --

    def _global_heap_object(self, addr: int, index: int) -> bytes:
        buf = self.buf
        if buf[addr : addr + 4] != b"GCOL":
            raise ValueError("bad global heap collection signature")
        size, = struct.unpack_from("<Q", buf, addr + 8)
        pos, end = addr + 16, addr + size
        while pos + 16 <= end:
            idx, refcount = struct.unpack_from("<HH", buf, pos)
            osize, = struct.unpack_from("<Q", buf, pos + 8)
            if idx == 0:
                break
            if idx == index:
                return buf[pos + 16 : pos + 16 + osize]
            pos += 16 + osize + (-osize % 8)
        raise ValueError(f"global heap object {index} not found at {addr:#x}")

    def _decode_value(self, raw: bytes, dt: DType, count: int):
        if dt.cls in (0, 1):  # numeric
            arr = np.frombuffer(raw, dtype=dt.np_dtype, count=count)
            return arr[0].item() if count == 1 else arr.copy()
        if dt.cls == 3:  # fixed string
            s = raw[: dt.size].split(b"\x00")[0]
            return s.decode("utf-8", "replace")
        if dt.cls == 7:  # object reference(s)
            addrs = struct.unpack_from(f"<{count}Q", raw, 0)
            return addrs[0] if count == 1 else list(addrs)
        if dt.cls == 9:  # vlen: (length, gheap address, gheap index) each
            out = []
            for i in range(count):
                n, addr, idx = struct.unpack_from("<IQI", raw, i * 16)
                blob = self._global_heap_object(addr, idx)
                if dt.base is not None and dt.base.cls == 7:
                    out.append(list(struct.unpack_from(f"<{n}Q", blob, 0)))
                elif dt.base is not None and dt.base.cls in (0, 1):
                    out.append(
                        np.frombuffer(blob, dtype=dt.base.np_dtype, count=n).copy()
                    )
                else:
                    out.append(blob)
            return out
        return None  # unknown class: attribute skipped, not fatal

    def _parse_attribute(self, body: bytes) -> tuple[str, object]:
        version = body[0]
        if version == 1:
            name_size, dt_size, ds_size = struct.unpack_from("<HHH", body, 2)
            pos = 8
            name = body[pos : pos + name_size].split(b"\x00")[0].decode()
            pos += name_size + (-name_size % 8)
            dt, _ = _parse_datatype(body, pos)
            pos += dt_size + (-dt_size % 8)
            dims = _parse_dataspace(body, pos)
            pos += ds_size + (-ds_size % 8)
        elif version in (2, 3):
            name_size, dt_size, ds_size = struct.unpack_from("<HHH", body, 2)
            if body[1] & 0x03:
                raise NotImplementedError("shared attribute datatype/dataspace")
            pos = 8 + (1 if version == 3 else 0)
            name = body[pos : pos + name_size].split(b"\x00")[0].decode()
            pos += name_size
            dt, _ = _parse_datatype(body, pos)
            pos += dt_size
            dims = _parse_dataspace(body, pos)
            pos += ds_size
        else:
            raise NotImplementedError(f"attribute message version {version}")
        count = int(np.prod(dims)) if dims else 1
        if dt.cls == 3 and count == 1:
            raw = body[pos : pos + dt.size]
        else:
            raw = body[pos:]
        return name, self._decode_value(raw, dt, count)

    # -- dense storage (fractal heap + v2 B-tree; HDF5 ≥1.10 "latest") --

    def _fractal_heap(self, addr: int):
        """Managed-object accessor for one fractal heap: heap_id → bytes.

        Supported: unfiltered heaps whose root is a direct block, or a
        root indirect block whose rows are all DIRECT blocks (the doubling
        table's direct region — covers every attribute/link heap libhdf5
        creates until a single object store passes the 64 KB max direct
        block). Filtered heaps, indirect sub-blocks, and huge/tiny heap
        IDs gate loudly."""
        buf = self.buf
        if buf[addr : addr + 4] != b"FRHP":
            raise ValueError("bad fractal heap signature")
        filt_len, = struct.unpack_from("<H", buf, addr + 7)
        if filt_len:
            raise NotImplementedError(
                "filtered fractal heap not supported (needs the h5py path)"
            )
        flags = buf[addr + 9]
        max_managed, = struct.unpack_from("<I", buf, addr + 10)
        table_width, = struct.unpack_from("<H", buf, addr + 110)
        start_block, = struct.unpack_from("<Q", buf, addr + 112)
        max_direct, = struct.unpack_from("<Q", buf, addr + 120)
        max_heap_bits, = struct.unpack_from("<H", buf, addr + 128)
        root_addr, = struct.unpack_from("<Q", buf, addr + 132)
        cur_rows, = struct.unpack_from("<H", buf, addr + 140)
        off_size = (max_heap_bits + 7) // 8
        len_size = (max(max_managed, 1).bit_length() + 7) // 8
        blocks: list[tuple[int, int, int]] = []  # (linear off, size, file addr)
        if cur_rows == 0:  # root IS a direct block (first block: start size)
            blocks.append((0, start_block, root_addr))
        else:
            if buf[root_addr : root_addr + 4] != b"FHIB":
                raise ValueError("bad fractal heap indirect block signature")
            # rows beyond the direct region point at indirect sub-blocks
            max_direct_rows = (
                max_direct.bit_length() - start_block.bit_length() + 2
            )
            if cur_rows > max_direct_rows:
                raise NotImplementedError(
                    "fractal heap with indirect sub-blocks not supported "
                    "(needs the h5py path)"
                )
            pos = root_addr + 4 + 1 + 8 + off_size
            linear = 0
            for row in range(cur_rows):
                bsize = start_block if row < 2 else start_block << (row - 1)
                for _ in range(table_width):
                    a, = struct.unpack_from("<Q", buf, pos)
                    pos += 8
                    if a != UNDEF:
                        blocks.append((linear, bsize, a))
                    linear += bsize
        for lo, sz, fa in blocks:
            if buf[fa : fa + 4] != b"FHDB":
                raise ValueError("bad fractal heap direct block signature")

        def get(heap_id: bytes) -> bytes:
            b0 = heap_id[0]
            if (b0 >> 4) & 0x3 != 0:
                raise NotImplementedError(
                    "huge/tiny fractal-heap object IDs not supported "
                    "(needs the h5py path)"
                )
            off = int.from_bytes(heap_id[1 : 1 + off_size], "little")
            ln = int.from_bytes(
                heap_id[1 + off_size : 1 + off_size + len_size], "little"
            )
            for lo, sz, fa in blocks:
                if lo <= off < lo + sz:
                    p = fa + (off - lo)
                    return buf[p : p + ln]
            raise ValueError(f"fractal-heap offset {off} outside any block")

        return get

    def _v2_btree_records(self, addr: int, exp_type: int) -> list[bytes]:
        """All records of a v2 B-tree, ANY depth, in tree order. Internal
        (BTIN) nodes hold real records interleaved between child pointers
        (child 0, record 0, child 1, ...); on disk the records come first,
        then the ``nrec + 1`` child pointers, each ``addr + nrec-in-child``
        (+ total-records-in-subtree below depth 1). The pointer field
        widths follow the published size arithmetic: the per-node record
        count is encoded in enough bytes for a LEAF's maximum (leaves
        hold the most records), and each level's total-count width comes
        from the cumulative maximum of the level below."""
        buf = self.buf
        if buf[addr : addr + 4] != b"BTHD":
            raise ValueError("bad v2 B-tree header signature")
        btype = buf[addr + 5]
        node_size, = struct.unpack_from("<I", buf, addr + 6)
        rec_size, = struct.unpack_from("<H", buf, addr + 10)
        depth, = struct.unpack_from("<H", buf, addr + 12)
        root, = struct.unpack_from("<Q", buf, addr + 16)
        nrec, = struct.unpack_from("<H", buf, addr + 24)
        if btype != exp_type:
            raise ValueError(f"v2 B-tree type {btype}, expected {exp_type}")
        if nrec == 0:
            return []
        # per-depth capacity table (leaf = depth 0), mirroring libhdf5's
        # H5B2 header init so pointer widths match real files exactly
        def enc_size(limit: int) -> int:
            return (limit.bit_length() - 1) // 8 + 1 if limit else 1

        leaf_max = (node_size - 10) // rec_size
        max_nrec_size = enc_size(leaf_max)
        cum_max = [leaf_max]       # cumulative max records per subtree
        cum_size = [0]             # bytes of the total-count pointer field
        for d in range(1, depth + 1):
            ptr = 8 + max_nrec_size + cum_size[d - 1]
            int_max = (node_size - 10 - ptr) // (rec_size + ptr)
            cum_max.append((int_max + 1) * cum_max[d - 1] + int_max)
            cum_size.append(enc_size(cum_max[d]))

        def walk(node_addr: int, d: int, count: int) -> list[bytes]:
            if d == 0:
                if buf[node_addr : node_addr + 4] != b"BTLF":
                    raise ValueError("bad v2 B-tree leaf signature")
                pos = node_addr + 6
                return [
                    bytes(buf[pos + i * rec_size : pos + (i + 1) * rec_size])
                    for i in range(count)
                ]
            if buf[node_addr : node_addr + 4] != b"BTIN":
                raise ValueError("bad v2 B-tree internal node signature")
            pos = node_addr + 6
            recs = [
                bytes(buf[pos + i * rec_size : pos + (i + 1) * rec_size])
                for i in range(count)
            ]
            pos += count * rec_size
            ptr_size = 8 + max_nrec_size + (cum_size[d - 1] if d > 1 else 0)
            out: list[bytes] = []
            for i in range(count + 1):
                caddr, = struct.unpack_from("<Q", buf, pos)
                cnrec = int.from_bytes(
                    buf[pos + 8 : pos + 8 + max_nrec_size], "little"
                )
                pos += ptr_size
                out.extend(walk(caddr, d - 1, cnrec))
                if i < count:
                    out.append(recs[i])
            return out

        return walk(root, depth, nrec)

    def _dense_attributes(self, fheap_addr: int, btree_addr: int) -> dict:
        """Dense attribute storage: v2 B-tree type-8 records (heap ID in
        the first 8 bytes) resolving to attribute messages in the heap."""
        get = self._fractal_heap(fheap_addr)
        out: dict[str, object] = {}
        for rec in self._v2_btree_records(btree_addr, 8):
            k, v = self._parse_attribute(get(rec[0:8]))
            out[k] = v
        return out

    def _dense_links(self, fheap_addr: int, btree_addr: int):
        """Dense link storage: v2 B-tree type-5 records (4-byte name hash
        then a 7-byte heap ID) resolving to link messages in the heap."""
        get = self._fractal_heap(fheap_addr)
        return [
            self._parse_link(get(rec[4:11]))
            for rec in self._v2_btree_records(btree_addr, 5)
        ]

    # -- groups --

    def _local_heap_name(self, heap_addr: int, offset: int) -> str:
        buf = self.buf
        if buf[heap_addr : heap_addr + 4] != b"HEAP":
            raise ValueError("bad local heap signature")
        data_addr, = struct.unpack_from("<Q", buf, heap_addr + 24)
        end = buf.index(b"\x00", data_addr + offset)
        return buf[data_addr + offset : end].decode("utf-8")

    def _walk_group_btree(self, addr: int, heap_addr: int) -> list[tuple[str, int]]:
        buf = self.buf
        if buf[addr : addr + 4] != b"TREE":
            raise ValueError("bad v1 B-tree signature")
        node_type, level = buf[addr + 4], buf[addr + 5]
        entries, = struct.unpack_from("<H", buf, addr + 6)
        assert node_type == 0, "group B-tree expected"
        out: list[tuple[str, int]] = []
        pos = addr + 24
        children = []
        for i in range(entries):
            pos += 8  # key i (heap offset)
            child, = struct.unpack_from("<Q", buf, pos)
            children.append(child)
            pos += 8
        for child in children:
            if level > 0:
                out.extend(self._walk_group_btree(child, heap_addr))
            else:
                out.extend(self._read_snod(child, heap_addr))
        return out

    def _read_snod(self, addr: int, heap_addr: int) -> list[tuple[str, int]]:
        buf = self.buf
        if buf[addr : addr + 4] != b"SNOD":
            raise ValueError("bad symbol node signature")
        nsyms, = struct.unpack_from("<H", buf, addr + 6)
        out = []
        pos = addr + 8
        for _ in range(nsyms):
            name_off, ohdr = struct.unpack_from("<QQ", buf, pos)
            out.append((self._local_heap_name(heap_addr, name_off), ohdr))
            pos += 40
        return out

    def _parse_link(self, body: bytes) -> tuple[str, int]:
        flags = body[1]
        pos = 2
        link_type = 0
        if flags & 0x08:
            link_type = body[pos]; pos += 1
        if flags & 0x04:
            pos += 8  # creation order
        if flags & 0x10:
            pos += 1  # charset
        width = 1 << (flags & 0x03)
        n = int.from_bytes(body[pos : pos + width], "little")
        pos += width
        name = body[pos : pos + n].decode("utf-8")
        pos += n
        if link_type != 0:
            raise NotImplementedError("only hard links supported")
        addr, = struct.unpack_from("<Q", body, pos)
        return name, addr

    # -- dataset data --

    def _walk_chunk_btree(self, addr: int, rank: int):
        """Yield (chunk_offsets, filter_mask, nbytes, data_address)."""
        buf = self.buf
        if addr == UNDEF:
            return
        if buf[addr : addr + 4] != b"TREE":
            raise ValueError("bad chunk B-tree signature")
        level = buf[addr + 5]
        entries, = struct.unpack_from("<H", buf, addr + 6)
        key_size = 8 + 8 * (rank + 1)
        pos = addr + 24
        for _ in range(entries):
            nbytes, mask = struct.unpack_from("<II", buf, pos)
            offsets = struct.unpack_from(f"<{rank}Q", buf, pos + 8)
            child, = struct.unpack_from("<Q", buf, pos + key_size)
            pos += key_size + 8
            if level > 0:
                yield from self._walk_chunk_btree(child, rank)
            else:
                yield offsets, mask, nbytes, child

    def _read_dataset(
        self, name: str, addr: int, msgs: list[tuple[int, bytes]]
    ) -> H5Dataset:
        shape: tuple[int, ...] = ()
        dt: DType | None = None
        layout = None
        filters: list[tuple[int, int]] = []  # (filter id, flags)
        fill: bytes | None = None
        attrs: dict[str, object] = {}
        for mtype, body in msgs:
            if mtype == MSG_DATASPACE:
                shape = _parse_dataspace(body, 0)
            elif mtype == MSG_DATATYPE:
                dt, _ = _parse_datatype(body, 0)
            elif mtype == MSG_LAYOUT:
                layout = body
            elif mtype == MSG_FILTERS:
                filters = self._parse_filters(body)
            elif mtype == MSG_FILL:
                fill = self._parse_fill(body)
            elif mtype == MSG_ATTRIBUTE:
                k, v = self._parse_attribute(body)
                attrs[k] = v
            elif mtype == MSG_ATTRIBUTE_INFO:
                # version(1) flags(1) [max creation index: 2 if flags&1]
                # fractal heap addr(8) name-index v2 B-tree addr(8)
                pos = 2 + (2 if body[1] & 1 else 0)
                fheap, btree = struct.unpack_from("<QQ", body, pos)
                if fheap != UNDEF:
                    attrs.update(self._dense_attributes(fheap, btree))
        if dt is None or layout is None:
            raise ValueError(f"dataset {name!r}: missing datatype/layout")
        if dt.cls not in (0, 1):
            raise NotImplementedError(
                f"dataset {name!r}: only numeric data supported "
                f"(datatype class {dt.cls})"
            )
        data = self._read_layout(layout, shape, dt, filters, fill, name)
        ds = H5Dataset(name, shape, data, attrs, addr)
        dim_list = attrs.get("DIMENSION_LIST")
        if isinstance(dim_list, list) and all(
            isinstance(e, list) and e for e in dim_list
        ):
            ds.dim_addresses = tuple(e[0] for e in dim_list)
        return ds

    def _parse_filters(self, body: bytes) -> list[tuple[int, int]]:
        version, nfilters = body[0], body[1]
        pos = 8 if version == 1 else 2
        out = []
        for _ in range(nfilters):
            fid, name_len, fflags, nvals = struct.unpack_from("<HHHH", body, pos)
            pos += 8
            if version == 1:
                pos += name_len + (-name_len % 8)
                pos += 4 * nvals + (4 if nvals % 2 else 0)
            else:
                if fid >= 256:
                    pos += name_len
                pos += 4 * nvals
            out.append((fid, fflags))
        return out

    def _parse_fill(self, body: bytes) -> bytes | None:
        version = body[0]
        if version in (1, 2):
            if body[3]:  # fill value defined
                size, = struct.unpack_from("<I", body, 4)
                return body[8 : 8 + size]
            return None
        if version == 3:
            if body[1] & 0x20:
                size, = struct.unpack_from("<I", body, 2)
                return body[6 : 6 + size]
            return None
        raise NotImplementedError(f"fill value message version {version}")

    def _defilter(self, raw: bytes, filters, elsize: int) -> bytes:
        for fid, _ in reversed(filters):
            if fid == FILTER_DEFLATE:
                raw = zlib.decompress(raw)
            elif fid == FILTER_SHUFFLE:
                raw = _h5z_unshuffle(raw, elsize)
            elif fid == FILTER_FLETCHER32:
                stored = int.from_bytes(raw[-4:], "little")
                body = raw[:-4]
                if _fletcher32(body) != stored:
                    raise ValueError(
                        "fletcher32 checksum mismatch in chunk data"
                    )
                raw = body
            else:
                raise NotImplementedError(
                    f"HDF5 filter id {fid} not supported "
                    "(deflate/shuffle/fletcher32 only)"
                )
        return raw

    def _read_layout(self, body, shape, dt, filters, fill, name) -> np.ndarray:
        version, cls = body[0], body[1]
        if version not in (3, 4):
            raise NotImplementedError(
                f"data layout message version {version} (needs the h5py path)"
            )
        n = int(np.prod(shape)) if shape else 1
        if cls == 0:  # compact (same fields in v3 and v4)
            size, = struct.unpack_from("<H", body, 2)
            return np.frombuffer(body, dt.np_dtype, n, offset=4).reshape(shape).copy()
        if cls == 1:  # contiguous (same fields in v3 and v4)
            addr, _size = struct.unpack_from("<QQ", body, 2)
            if addr == UNDEF:
                return self._fill_array(shape, dt, fill)
            return (
                np.frombuffer(self.buf, dt.np_dtype, n, offset=addr)
                .reshape(shape)
                .copy()
            )
        if cls != 2:
            raise NotImplementedError(f"data layout class {cls}")
        if version == 3:  # chunked, v1 B-tree index
            dimensionality = body[2]
            btree, = struct.unpack_from("<Q", body, 3)
            dims = struct.unpack_from(f"<{dimensionality}I", body, 11)
            chunk_shape = dims[:-1]  # last entry is the element size
            chunks = self._walk_chunk_btree(btree, len(chunk_shape))
        else:  # version 4: the HDF5 1.10 "latest format" chunk indexes
            chunk_shape, chunks = self._v4_chunks(body, shape, dt, name)
        out = self._fill_array(shape, dt, fill)
        for offsets, mask, nbytes, addr in chunks:
            raw = self.buf[addr : addr + nbytes]
            if mask == 0:
                raw = self._defilter(raw, filters, dt.size)
            chunk = np.frombuffer(raw, dt.np_dtype, int(np.prod(chunk_shape)))
            chunk = chunk.reshape(chunk_shape)
            sel = tuple(
                slice(o, min(o + c, s))
                for o, c, s in zip(offsets[: len(shape)], chunk_shape, shape)
            )
            clip = tuple(slice(0, s.stop - s.start) for s in sel)
            out[sel] = chunk[clip]
        return out

    def _v4_chunks(self, body, shape, dt, name):
        """Version-4 chunked layout → (chunk_shape, [(origin, mask, nbytes,
        addr), ...]). Supports all five chunk indexes HDF5 ≥1.10 writers
        emit — Single Chunk (1), Implicit (2), Fixed Array (3) for fixed
        shapes, Extensible Array (4) for one unlimited dimension, v2
        B-tree (5) for several."""
        flags, ndims, enc = body[2], body[3], body[4]
        pos = 5
        dims = [
            int.from_bytes(body[pos + i * enc : pos + (i + 1) * enc], "little")
            for i in range(ndims)
        ]
        pos += ndims * enc
        chunk_shape = tuple(dims[:-1])  # last entry is the element size
        idx_type = body[pos]
        pos += 1
        csize = int(np.prod(chunk_shape)) * dt.size
        grid = list(
            itertools.product(*[range(0, d, c) for d, c in zip(shape, chunk_shape)])
        )
        if idx_type == 1:  # Single Chunk
            mask, nbytes = 0, csize
            if flags & 0x02:  # filtered single chunk carries size + mask
                nbytes = int.from_bytes(body[pos : pos + 8], "little")
                mask, = struct.unpack_from("<I", body, pos + 8)
                pos += 12
            addr, = struct.unpack_from("<Q", body, pos)
            if addr == UNDEF:
                return chunk_shape, []
            return chunk_shape, [(grid[0], mask, nbytes, addr)]
        if idx_type == 2:  # Implicit: dense row-major chunks, no filters
            addr, = struct.unpack_from("<Q", body, pos)
            if addr == UNDEF:
                return chunk_shape, []
            return chunk_shape, [
                (origin, 0, csize, addr + i * csize)
                for i, origin in enumerate(grid)
            ]
        if idx_type == 3:  # Fixed Array
            addr, = struct.unpack_from("<Q", body, pos + 1)  # skip page bits
            if addr == UNDEF:
                return chunk_shape, []
            return chunk_shape, self._fixed_array_chunks(addr, grid, csize, name)
        if idx_type == 4:  # Extensible Array (one unlimited dimension)
            # creation params: max bits, index elmts, min ptrs, min elmts,
            # page bits — then the EAHD address
            addr, = struct.unpack_from("<Q", body, pos + 5)
            if addr == UNDEF:
                return chunk_shape, []
            return chunk_shape, self._extensible_array_chunks(
                addr, grid, csize, name
            )
        if idx_type == 5:  # v2 B-tree (two or more unlimited dimensions)
            # creation params: node size(4), split %(1), merge %(1) — then
            # the BTHD address
            addr, = struct.unpack_from("<Q", body, pos + 6)
            if addr == UNDEF:
                return chunk_shape, []
            return chunk_shape, self._v2_chunk_btree_chunks(
                addr, chunk_shape, csize, len(shape), name
            )
        raise NotImplementedError(
            f"v4 chunk index type {idx_type} (use the h5py path)"
        )

    def _extensible_array_chunks(self, addr, grid, csize, name):
        """Extensible Array chunk index (EAHD/EAIB/EASB/EADB) — what HDF5
        ≥1.10 writers emit for datasets with exactly ONE unlimited
        dimension, i.e. the time-unlimited climate grids NetCDF-4 tools
        append to. Element→block mapping follows the published growth
        schedule: the index block holds the first ``idx_blk_elmts``
        elements, super block ``u`` holds ``2^(u/2)`` data blocks of
        ``2^((u+1)/2) * data_blk_min_elmts`` elements each, and the data
        blocks of the first ``2*log2(sup_blk_min_data_ptrs)`` super blocks
        are addressed straight from the index block. Paged data blocks
        (``dblk_nelmts`` past ``2^page_bits``) are read via the parent
        super block's page-init bitmap; see ``paged_element``."""
        buf = self.buf
        if buf[addr : addr + 4] != b"EAHD":
            raise ValueError(f"dataset {name!r}: bad Extensible Array header")
        client, elmt_size = buf[addr + 5], buf[addr + 6]
        max_bits, ib_nelmts, min_elmts, min_ptrs, page_bits = buf[
            addr + 7 : addr + 12
        ]
        if client not in (0, 1):
            raise NotImplementedError(f"Extensible Array client {client}")
        if min_ptrs & (min_ptrs - 1) or not min_ptrs:
            raise ValueError(f"min data pointers {min_ptrs} not a power of 2")
        iblk_addr, = struct.unpack_from("<Q", buf, addr + 12 + 6 * 8)
        if iblk_addr == UNDEF:
            return []
        nsblks = 1 + (max_bits - min_elmts.bit_length() + 1)
        first_sblk = 2 * (min_ptrs.bit_length() - 1)
        ndblk_addrs = 2 * (min_ptrs - 1)
        off_size = (max_bits + 7) // 8
        size_len = elmt_size - 12  # filtered: addr(8) + size + mask(4)
        sblk_info = []  # (start_idx, start_dblk, ndblks, dblk_nelmts)
        start_idx = start_dblk = 0
        for u in range(nsblks):
            ndblks = 1 << (u // 2)
            dblk_nelmts = (1 << ((u + 1) // 2)) * min_elmts
            sblk_info.append((start_idx, start_dblk, ndblks, dblk_nelmts))
            start_idx += ndblks * dblk_nelmts
            start_dblk += ndblks

        def elmt(raw):
            a, = struct.unpack_from("<Q", raw, 0)
            if client == 0:
                return a, csize, 0
            nbytes = int.from_bytes(raw[8 : 8 + size_len], "little")
            mask, = struct.unpack_from("<I", raw, 8 + size_len)
            return a, nbytes, mask

        if buf[iblk_addr : iblk_addr + 4] != b"EAIB":
            raise ValueError(f"dataset {name!r}: bad Extensible Array "
                             "index block")
        pos = iblk_addr + 4 + 1 + 1 + 8  # sig, version, client, header addr
        ib_elmts = [
            elmt(buf[pos + i * elmt_size : pos + (i + 1) * elmt_size])
            for i in range(ib_nelmts)
        ]
        pos += ib_nelmts * elmt_size
        dblk_addrs = struct.unpack_from(f"<{ndblk_addrs}Q", buf, pos)
        pos += ndblk_addrs * 8
        sblk_addrs = struct.unpack_from(f"<{nsblks - first_sblk}Q", buf, pos)

        page_nelmts = 1 << page_bits
        dblk_hdr = 4 + 1 + 1 + 8 + off_size  # sig, ver, client, hdr, offset

        def check_eadb(daddr):
            if buf[daddr : daddr + 4] != b"EADB":
                raise ValueError(f"dataset {name!r}: bad Extensible "
                                 "Array data block")

        dblk_cache: dict[tuple[int, int], list] = {}

        def data_block(daddr, nelmts):
            """Unpaged data block: elements inline after the header."""
            key = (daddr, nelmts)
            if key not in dblk_cache:
                check_eadb(daddr)
                p = daddr + dblk_hdr
                dblk_cache[key] = [
                    elmt(buf[p + i * elmt_size : p + (i + 1) * elmt_size])
                    for i in range(nelmts)
                ]
            return dblk_cache[key]

        def paged_element(daddr, within, init_bit):
            """PAGED data block (dblk_nelmts > 2^page_bits — the shape a
            time-unlimited dataset reaches past ~2k chunks at libhdf5
            defaults): the block stores NO inline elements — its pages
            follow the header+checksum contiguously, each 2^page_bits
            elements + a checksum. Page-init lives in the parent super
            block's bitmap (H5VM bit order: MSB-first per byte)."""
            if not init_bit:
                return UNDEF, 0, 0
            check_eadb(daddr)
            page, j = divmod(within, page_nelmts)
            base = (daddr + dblk_hdr + 4  # + data-block checksum
                    + page * (page_nelmts * elmt_size + 4)
                    + j * elmt_size)
            return elmt(buf[base : base + elmt_size])

        sblk_cache: dict[int, tuple] = {}

        def super_block(saddr, ndblks, dblk_nelmts):
            """→ (data block addresses, page-init bitmap or None). The
            bitmap is present exactly when this super block's data blocks
            are paged, sized ndblks · npages-per-block bits."""
            if saddr not in sblk_cache:
                if buf[saddr : saddr + 4] != b"EASB":
                    raise ValueError(f"dataset {name!r}: bad Extensible "
                                     "Array super block")
                p = saddr + 4 + 1 + 1 + 8 + off_size  # + block offset
                bitmap = None
                if dblk_nelmts > page_nelmts:
                    if dblk_nelmts % page_nelmts:
                        raise ValueError(
                            f"paged data block of {dblk_nelmts} elements "
                            f"not a multiple of the {page_nelmts} page"
                        )
                    nbits = ndblks * (dblk_nelmts // page_nelmts)
                    bitmap = buf[p : p + (nbits + 7) // 8]
                    p += (nbits + 7) // 8
                sblk_cache[saddr] = (
                    struct.unpack_from(f"<{ndblks}Q", buf, p), bitmap
                )
            return sblk_cache[saddr]

        out = []
        for i, origin in enumerate(grid):
            if i < ib_nelmts:
                a, nbytes, mask = ib_elmts[i]
            else:
                e = i - ib_nelmts
                u = (e // min_elmts + 1).bit_length() - 1
                s_idx, s_dblk, ndblks, dblk_nelmts = sblk_info[u]
                dblk_i, within = divmod(e - s_idx, dblk_nelmts)
                if u < first_sblk:
                    if dblk_nelmts > page_nelmts:
                        # libhdf5 constrains creation params so index-
                        # block-addressed data blocks are never paged
                        # (there is nowhere to store their page bitmap)
                        raise NotImplementedError(
                            "paged data block addressed from the index "
                            "block (use the h5py path)"
                        )
                    daddr = dblk_addrs[s_dblk + dblk_i]
                    if daddr == UNDEF:
                        continue
                    a, nbytes, mask = data_block(daddr, dblk_nelmts)[within]
                else:
                    saddr = sblk_addrs[u - first_sblk]
                    if saddr == UNDEF:
                        continue
                    addrs, bitmap = super_block(saddr, ndblks, dblk_nelmts)
                    daddr = addrs[dblk_i]
                    if daddr == UNDEF:
                        continue
                    if bitmap is None:
                        a, nbytes, mask = data_block(daddr, dblk_nelmts)[within]
                    else:
                        npg = dblk_nelmts // page_nelmts
                        bit = dblk_i * npg + within // page_nelmts
                        init = bitmap[bit // 8] & (1 << (7 - bit % 8))
                        a, nbytes, mask = paged_element(daddr, within, init)
            if a != UNDEF:
                out.append((origin, mask, nbytes, a))
        return out

    def _v2_chunk_btree_chunks(self, addr, chunk_shape, csize, rank, name):
        """v2 B-tree chunk index (record types 10/11) — what HDF5 ≥1.10
        writers emit for datasets with TWO OR MORE unlimited dimensions.
        Records carry the chunk address plus per-dimension SCALED offsets
        (origin / chunk dim); filtered records (type 11) add the stored
        size and filter mask. Depth-0 root leaf via the shared v2 B-tree
        walker (deeper trees gate there)."""
        btype = self.buf[addr + 5]
        if btype not in (10, 11):
            raise ValueError(
                f"dataset {name!r}: v2 B-tree type {btype}, expected 10/11"
            )
        out = []
        for rec in self._v2_btree_records(addr, btype):
            a, = struct.unpack_from("<Q", rec, 0)
            if btype == 10:  # unfiltered: address + scaled offsets
                nbytes, mask, pos = csize, 0, 8
            else:  # filtered: address + stored size + filter mask + offsets
                size_len = len(rec) - 8 - 4 - 8 * rank
                nbytes = int.from_bytes(rec[8 : 8 + size_len], "little")
                mask, = struct.unpack_from("<I", rec, 8 + size_len)
                pos = 8 + size_len + 4
            scaled = struct.unpack_from(f"<{rank}Q", rec, pos)
            origin = tuple(s * c for s, c in zip(scaled, chunk_shape))
            if a != UNDEF:
                out.append((origin, mask, nbytes, a))
        return out

    def _fixed_array_chunks(self, addr, grid, csize, name):
        """Fixed Array chunk index — including PAGED data blocks (what
        libhdf5 switches to past 2^page_bits chunks, i.e. the ≥131k-chunk
        datasets a 100 TB archive actually holds): the data block then
        stores a page-init bitmap (H5VM bit order: MSB-first within each
        byte) instead of inline elements, and the element pages follow it
        contiguously, each page ``2^page_bits`` entries + a checksum,
        the last page truncated to the remainder."""
        buf = self.buf
        if buf[addr : addr + 4] != b"FAHD":
            raise ValueError(f"dataset {name!r}: bad Fixed Array header")
        client, entry_size, page_bits = buf[addr + 5], buf[addr + 6], buf[addr + 7]
        max_nelmts, dblk = struct.unpack_from("<QQ", buf, addr + 8)
        if client not in (0, 1):
            raise NotImplementedError(f"Fixed Array client {client}")
        if dblk == UNDEF:
            return []
        if buf[dblk : dblk + 4] != b"FADB":
            raise ValueError(f"dataset {name!r}: bad Fixed Array data block")
        pos = dblk + 4 + 1 + 1 + 8  # sig, version, client, header address

        def parse(raw, i):
            if client == 0:  # unfiltered: address only
                a, = struct.unpack_from("<Q", raw, 0)
                nbytes, mask = csize, 0
            else:  # filtered: address + chunk size + filter mask
                a, = struct.unpack_from("<Q", raw, 0)
                size_len = entry_size - 12
                nbytes = int.from_bytes(raw[8 : 8 + size_len], "little")
                mask, = struct.unpack_from("<I", raw, 8 + size_len)
            if a != UNDEF and i < len(grid):
                out.append((grid[i], mask, nbytes, a))

        out = []
        page_nelmts = 1 << page_bits
        if max_nelmts <= page_nelmts:  # unpaged: elements inline
            for i in range(int(max_nelmts)):
                parse(buf[pos : pos + entry_size], i)
                pos += entry_size
            return out
        # paged: page-init bitmap + checksum in the data block, then pages
        npages = -(-int(max_nelmts) // page_nelmts)
        bitmap = buf[pos : pos + (npages + 7) // 8]
        pages_start = pos + (npages + 7) // 8 + 4  # + data-block checksum
        page_stride = page_nelmts * entry_size + 4  # + page checksum
        for p in range(npages):
            if not bitmap[p // 8] & (1 << (7 - p % 8)):  # H5VM_bit_get
                continue  # uninitialized page: no allocated chunks
            in_page = min(page_nelmts, int(max_nelmts) - p * page_nelmts)
            base = pages_start + p * page_stride
            for j in range(in_page):
                parse(
                    buf[base + j * entry_size : base + (j + 1) * entry_size],
                    p * page_nelmts + j,
                )
        return out

    def _fill_array(self, shape, dt, fill) -> np.ndarray:
        out = np.zeros(shape, dtype=dt.np_dtype)
        if fill:
            out[...] = np.frombuffer(fill, dt.np_dtype, 1)[0]
        return out

    # -- traversal --

    def read(self) -> dict[str, H5Dataset]:
        self._walk("", self.root_header_address())
        return self.datasets

    def _walk(self, prefix: str, addr: int) -> None:
        msgs = self._messages(addr)
        types = {t for t, _ in msgs}
        if MSG_DATATYPE in types:  # dataset
            name = prefix.rstrip("/")
            self.datasets[name] = self._read_dataset(name, addr, msgs)
            return
        # group: old-style symbol table and/or new-style link messages
        children: list[tuple[str, int]] = []
        for mtype, body in msgs:
            if mtype == MSG_SYMBOL_TABLE:
                btree, heap = struct.unpack_from("<QQ", body, 0)
                children.extend(self._walk_group_btree(btree, heap))
            elif mtype == MSG_LINK:
                children.append(self._parse_link(body))
            elif mtype == MSG_LINK_INFO:
                flags = body[1]
                pos = 2 + (8 if flags & 1 else 0)
                fheap, btree = struct.unpack_from("<QQ", body, pos)
                if fheap != UNDEF:
                    children.extend(self._dense_links(fheap, btree))
        for name, child_addr in children:
            self._walk(f"{prefix}{name}/", child_addr)


def read_hdf5(content: bytes) -> dict[str, H5Dataset]:
    """Parse HDF5 bytes into {path: dataset} (numeric datasets, all
    groups flattened with '/'-joined names)."""
    return _H5Reader(content).read()


# --- writer -----------------------------------------------------------------


class DimList:
    """Sentinel attr value: a netCDF-4 ``DIMENSION_LIST`` referencing other
    datasets by name; the writer resolves names to object header
    addresses via a global heap collection."""

    def __init__(self, names: list[str]):
        self.names = list(names)


@dataclass
class H5WriteSpec:
    name: str
    data: np.ndarray
    attrs: dict[str, object] = field(default_factory=dict)


def _dt_message(arr_or_dtype) -> bytes:
    """Serialize a datatype message for a numpy dtype (fixed/float),
    'S<n>' string, or the special ('vlen_ref',) / ('ref',) markers."""
    if arr_or_dtype == "ref":
        return struct.pack("<B3BI", 0x17, 0, 0, 0, 8)  # v1, class 7
    if arr_or_dtype == "vlen_ref":
        return struct.pack("<B3BI", 0x19, 0, 0, 0, 16) + _dt_message("ref")
    dt = np.dtype(arr_or_dtype)
    if dt.kind == "S":
        return struct.pack("<B3BI", 0x13, 0, 0, 0, dt.itemsize)
    big = dt.byteorder == ">"
    if dt.kind in ("i", "u"):
        bits = (1 if big else 0) | (0x08 if dt.kind == "i" else 0)
        return struct.pack("<B3BIHH", 0x10, bits, 0, 0, dt.itemsize, 0,
                           8 * dt.itemsize)
    if dt.kind == "f":
        exp = {4: (23, 8, 127, 31), 8: (52, 11, 1023, 63)}[dt.itemsize]
        man_size, exp_size, bias, sign = exp
        return struct.pack(
            "<B3BIHHBBBBI", 0x11, (1 if big else 0) | 0x20, sign, 0,
            dt.itemsize, 0, 8 * dt.itemsize, man_size, exp_size, 0,
            man_size, bias,
        )
    raise NotImplementedError(f"writer: dtype {dt}")


def _ds_message(shape: tuple[int, ...], version: int) -> bytes:
    rank = len(shape)
    if version == 1:
        return struct.pack("<BBBB4x", 1, rank, 0, 0) + struct.pack(
            f"<{rank}Q", *shape
        )
    return struct.pack("<BBBB", 2, rank, 0, 1 if rank else 0) + struct.pack(
        f"<{rank}Q", *shape
    )


def _attr_value_bytes(value, gheap_slots):
    """(datatype msg, dataspace-shape, payload builder) for an attr value."""
    if isinstance(value, DimList):
        shape = (len(value.names),)

        def payload(addr_map):
            out = b""
            for nm in value.names:
                slot = gheap_slots[nm]
                out += struct.pack("<IQI", 1, addr_map["gcol"], slot)
            return out

        return _dt_message("vlen_ref"), shape, payload
    if isinstance(value, str):
        raw = value.encode("utf-8") + b"\x00"
        return _dt_message(f"S{len(raw)}"), (), lambda m: raw
    arr = np.atleast_1d(np.asarray(value))
    raw = np.ascontiguousarray(arr).tobytes()
    shape = () if np.asarray(value).ndim == 0 else arr.shape
    return _dt_message(arr.dtype), shape, lambda m: raw


def _attr_message(name, value, version, gheap_slots):
    """Build (size, serializer) for one attribute message body."""
    nm = name.encode("utf-8") + b"\x00"
    dt_msg, shape, payload = _attr_value_bytes(value, gheap_slots)
    ds_msg = _ds_message(shape, 1 if version == 1 else 2)

    def pad8(b):
        return b + b"\x00" * (-len(b) % 8)

    def build(addr_map):
        data = payload(addr_map)
        if version == 1:
            return (
                struct.pack("<BBHHH", 1, 0, len(nm), len(dt_msg), len(ds_msg))
                + pad8(nm) + pad8(dt_msg) + pad8(ds_msg) + data
            )
        return (
            struct.pack("<BBHHHB", 3, 0, len(nm), len(dt_msg), len(ds_msg), 0)
            + nm + dt_msg + ds_msg + data
        )

    return build


def write_hdf5(
    specs: list[H5WriteSpec],
    superblock: int = 0,
    layout: str = "contiguous",
    compress: bool = False,
    shuffle: bool = False,
    chunks: dict[str, tuple[int, ...]] | None = None,
    chunk_index: str = "btree1",
    dense_attrs: bool = False,
    dense_links: bool = False,
    fletcher32: bool = False,
) -> bytes:
    """Serialize datasets to HDF5 bytes.

    ``superblock=0``: libhdf5-default structure (v0 superblock, v1 object
    headers, symbol-table root group). ``superblock=2``: latest-format
    structure (v2 superblock, v2 object headers, compact link messages).
    ``layout='chunked'`` stores data in (optionally shuffled+deflated)
    chunks; ``chunk_index`` picks the index structure: ``btree1`` (the v3
    layout message real netCDF-4 files use), or the HDF5 ≥1.10 version-4
    message indexes ``single`` (whole dataset as one chunk), ``implicit``
    (dense row-major chunk region, unfiltered only), ``fixed_array``
    (FAHD/FADB), ``extensible_array`` (EAHD/EAIB/EASB/EADB at libhdf5's
    default creation parameters — the index one unlimited dimension gets)
    and ``btree2`` (BTHD/BTLF type-10/11 records — two or more unlimited
    dims), each filtered or not — the writer halves that prove the v4
    reader paths by roundtrip.

    ``dense_attrs`` / ``dense_links`` (superblock 2 only) store attributes
    and root-group links DENSELY — fractal heap + v2 B-tree name index,
    the layout libhdf5 ≥1.10 switches to past its compact phase-change
    thresholds (8 attributes / 8 links by default) — the writer half that
    proves the dense reader by roundtrip."""
    if superblock not in (0, 2):
        raise ValueError("superblock must be 0 or 2")
    if (dense_attrs or dense_links) and superblock != 2:
        raise ValueError("dense storage requires superblock=2 (latest format)")
    if chunk_index not in ("btree1", "single", "implicit", "fixed_array",
                           "extensible_array", "btree2"):
        raise ValueError(f"unknown chunk_index {chunk_index!r}")
    if chunk_index == "implicit" and (compress or shuffle):
        raise ValueError("implicit chunk index cannot carry filters")
    specs = list(specs)
    names = [s.name for s in specs]
    if len(set(names)) != len(names):
        raise ValueError("duplicate dataset names")
    need_gcol = any(
        isinstance(v, DimList) for s in specs for v in s.attrs.values()
    )
    gheap_slots = {nm: i + 1 for i, nm in enumerate(names)}

    # ---- per-dataset data blocks ----
    # blocks: name -> (size, build(addr_map) -> bytes); addresses assigned
    # in declaration order after sizes are known (two-pass: all address
    # fields are fixed-width so sizes are address-independent)
    blocks: list[tuple[str, int, object]] = []

    def add_block(key: str, payload) -> None:
        if callable(payload):
            size = len(payload(_DummyAddr()))
            blocks.append((key, size, payload))
        else:
            blocks.append((key, len(payload), lambda m, p=payload: p))

    class _DummyAddr(dict):
        def __getitem__(self, k):
            return 0

    def add_dense_store(prefix: str, bodies: list, id_len: int,
                        max_managed: int) -> list[bytes]:
        """Register one fractal heap (header + single direct block) holding
        the given message-body builders; returns their heap IDs. Mirrors
        the reader subset: unfiltered, root direct block, managed IDs."""
        dummy = _DummyAddr()
        sizes = [len(b(dummy)) for b in bodies]
        off_size = 4          # max heap size recorded as 32 bits below
        len_size = id_len - 1 - off_size
        db_hdr = 4 + 1 + 8 + off_size
        offs, cur = [], db_hdr
        for sz in sizes:
            offs.append(cur)
            cur += sz
        block_size = 512
        while block_size < cur:
            block_size *= 2
        if block_size > 65536:
            raise NotImplementedError(
                "writer: dense store exceeds one direct block"
            )
        heap_ids = [
            bytes([0])
            + off.to_bytes(off_size, "little")
            + sz.to_bytes(len_size, "little")
            for off, sz in zip(offs, sizes)
        ]
        used = cur

        def frhp(m):
            head = (
                b"FRHP"
                + struct.pack("<BHHBI", 0, id_len, 0, 0, max_managed)
                + struct.pack("<QQ", 0, UNDEF)       # next huge id, huge bt
                + struct.pack("<QQ", block_size - used, UNDEF)  # free, fs mgr
                + struct.pack("<QQ", block_size, block_size)  # managed, alloc
                + struct.pack("<QQ", used, len(bodies))  # iter off, n managed
                + struct.pack("<QQQQ", 0, 0, 0, 0)   # huge/tiny size+count
                + struct.pack("<HQQHH", 4, block_size, 65536, 32, 0)
                + struct.pack("<QH", m[prefix + "db"], 0)  # root, cur rows
            )
            return head + struct.pack("<I", _lookup3(head))

        def fhdb(m):
            out = [
                b"FHDB",
                struct.pack("<BQ", 0, m[prefix + "fh"]),
                (0).to_bytes(off_size, "little"),
            ]
            out.extend(b(m) for b in bodies)
            blob = b"".join(out)
            return blob + b"\x00" * (block_size - len(blob))

        add_block(prefix + "fh", frhp)
        add_block(prefix + "db", fhdb)
        return heap_ids

    def add_dense_btree(prefix: str, btype: int, records: list[bytes]) -> None:
        """Register a v2 B-tree over sorted records: depth 0 (header +
        root leaf) while they fit one leaf, else depth 1 (root internal
        node with separator records between evenly-filled leaves) — the
        shape libhdf5 splits into past ~119 attrs / ~185 links / ~63
        chunk records at the default 2048-byte node size. Two levels
        bound: depth 2 would need ~7000 records in one dense store.
        Records may be bytes or ``m -> bytes`` builders (chunk records
        embed addresses); either way their width must be fixed."""

        def mat(rec, m):
            return rec(m) if callable(rec) else rec

        rec_size = len(mat(records[0], _DummyAddr()))
        node_size = 2048
        leaf_max = (node_size - 10) // rec_size
        max_nrec_size = (leaf_max.bit_length() - 1) // 8 + 1
        n = len(records)

        def leaf(recs):
            def btlf(m, recs=recs):
                blob = b"BTLF" + struct.pack("<BB", 0, btype) + b"".join(
                    mat(r, m) for r in recs
                )
                return blob + struct.pack("<I", _lookup3(blob))
            return btlf

        if n <= leaf_max:
            root_key, root_nrec = prefix + "btlf", n
            add_block(root_key, leaf(records))
        else:
            ptr = 8 + max_nrec_size
            int_max = (node_size - 10 - ptr) // (rec_size + ptr)
            nleaves = -(-(n + 1) // (leaf_max + 1))
            if nleaves - 1 > int_max:
                raise NotImplementedError(
                    f"writer: {n} records need a depth-2 v2 B-tree"
                )
            in_leaves = n - (nleaves - 1)
            base, rem = divmod(in_leaves, nleaves)
            leaf_counts = [base + (1 if i < rem else 0)
                           for i in range(nleaves)]
            pos, seps, leaf_keys = 0, [], []
            for i, c in enumerate(leaf_counts):
                key = f"{prefix}btlf{i}"
                add_block(key, leaf(records[pos : pos + c]))
                leaf_keys.append((key, c))
                pos += c
                if i < nleaves - 1:
                    seps.append(records[pos])
                    pos += 1

            def btin(m, seps=seps, leaf_keys=leaf_keys):
                blob = (
                    b"BTIN" + struct.pack("<BB", 0, btype)
                    + b"".join(mat(r, m) for r in seps)
                    + b"".join(
                        struct.pack("<Q", m[k])
                        + c.to_bytes(max_nrec_size, "little")
                        for k, c in leaf_keys
                    )
                )
                return blob + struct.pack("<I", _lookup3(blob))

            root_key, root_nrec = prefix + "btin", nleaves - 1
            add_block(root_key, btin)

        def bthd(m):
            head = (
                b"BTHD"
                + struct.pack("<BBIHHBB", 0, btype, node_size, rec_size,
                              0 if n <= leaf_max else 1, 100, 40)
                + struct.pack("<QHQ", m[root_key], root_nrec, n)
            )
            return head + struct.pack("<I", _lookup3(head))

        add_block(prefix + "bt", bthd)

    data_info: dict[str, dict] = {}
    for s in specs:
        arr = np.ascontiguousarray(np.asarray(s.data))
        info: dict = {"dtype": arr.dtype, "shape": arr.shape}
        if layout == "chunked" and arr.ndim > 0:
            cshape = (chunks or {}).get(
                s.name, tuple(max(1, d // 2) for d in arr.shape)
            )
            if chunk_index == "single":
                cshape = arr.shape  # by definition: the dataset is 1 chunk
            filters = (
                ([(FILTER_FLETCHER32, 0)] if fletcher32 else [])
                + ([(FILTER_SHUFFLE, 0)] if shuffle else [])
                + ([(FILTER_DEFLATE, 0)] if compress else [])
            )
            chunk_keys = []
            grids = [range(0, d, c) for d, c in zip(arr.shape, cshape)]
            import itertools

            for origin in itertools.product(*grids):
                sel = tuple(
                    slice(o, min(o + c, d))
                    for o, c, d in zip(origin, cshape, arr.shape)
                )
                full = np.zeros(cshape, dtype=arr.dtype)
                clip = tuple(slice(0, sl.stop - sl.start) for sl in sel)
                full[clip] = arr[sel]
                raw = full.tobytes()
                if fletcher32:
                    raw += _fletcher32(raw).to_bytes(4, "little")
                if shuffle:
                    raw = _h5z_shuffle(raw, arr.itemsize)
                if compress:
                    raw = zlib.compress(raw, 6)
                key = f"chunk:{s.name}:{origin}"
                add_block(key, raw)
                chunk_keys.append((origin, len(raw), key))
            info.update(chunked=True, cshape=cshape, filters=filters,
                        chunk_keys=chunk_keys, index=chunk_index)

            if chunk_index == "btree1":
                def btree(m, ck=chunk_keys, rank=arr.ndim, shape=arr.shape):
                    out = [b"TREE", struct.pack("<BBH", 1, 0, len(ck)),
                           struct.pack("<QQ", UNDEF, UNDEF)]
                    for origin, nbytes, key in ck:
                        out.append(struct.pack("<II", nbytes, 0))
                        out.append(struct.pack(f"<{rank}Q", *origin))
                        out.append(struct.pack("<Q", 0))  # element offset dim
                        out.append(struct.pack("<Q", m[key]))
                    # final key: one past the end
                    out.append(struct.pack("<II", 0, 0))
                    out.append(struct.pack(f"<{rank}Q", *shape))
                    out.append(struct.pack("<Q", 0))
                    return b"".join(out)

                add_block(f"btree:{s.name}", btree)
            elif chunk_index == "fixed_array":
                fa_client = 1 if filters else 0
                fa_entry = 8 if fa_client == 0 else 20  # addr / addr+size+mask
                fa_pb = _FA_PAGE_BITS

                def fadb(m, ck=chunk_keys, client=fa_client, nm=s.name,
                         pb=fa_pb):
                    def entry(item):
                        _origin, nbytes, key = item
                        return (
                            struct.pack("<Q", m[key])
                            if client == 0
                            else struct.pack("<QQI", m[key], nbytes, 0)
                        )

                    hdr = (b"FADB" + struct.pack("<BB", 0, client)
                           + struct.pack("<Q", m[f"fahd:{nm}"]))
                    page = 1 << pb
                    if len(ck) <= page:  # unpaged: elements inline
                        blob = hdr + b"".join(entry(x) for x in ck)
                        return blob + struct.pack("<I", _lookup3(blob))
                    # paged: bitmap (all pages written -> all bits set,
                    # H5VM MSB-first) + checksum, then the element pages
                    npages = -(-len(ck) // page)
                    bm = bytearray((npages + 7) // 8)
                    for i in range(npages):
                        bm[i // 8] |= 1 << (7 - i % 8)
                    blob = hdr + bytes(bm)
                    blob += struct.pack("<I", _lookup3(blob))
                    for pgi in range(npages):
                        pg = b"".join(
                            entry(x) for x in ck[pgi * page : (pgi + 1) * page]
                        )
                        blob += pg + struct.pack("<I", _lookup3(pg))
                    return blob

                def fahd(m, nel=len(chunk_keys), client=fa_client,
                         es=fa_entry, nm=s.name):
                    blob = (
                        b"FAHD"
                        + struct.pack("<BBBB", 0, client, es, fa_pb)
                        + struct.pack("<QQ", nel, m[f"fadb:{nm}"])
                    )
                    return blob + struct.pack("<I", _lookup3(blob))

                add_block(f"fahd:{s.name}", fahd)
                add_block(f"fadb:{s.name}", fadb)
            elif chunk_index == "extensible_array":
                # libhdf5's default creation parameters for chunked
                # datasets (module constants so tests can exercise the
                # paged shapes at small scale): 32 max-index bits, 4
                # index-block elements, 4 min super-block pointers, 16
                # min data-block elements, 2^10-element pages
                EA_BITS, EA_IB, EA_PTRS, EA_MIN, EA_PB = _EA_PARAMS
                # an index-block-addressed data block has no page-bitmap
                # home, so creation params where one would page are
                # unrepresentable (libhdf5's defaults respect this too)
                _first = 2 * (EA_PTRS.bit_length() - 1)
                _max_direct = (1 << (_first // 2)) * EA_MIN
                if _max_direct > (1 << EA_PB):
                    raise ValueError(
                        f"writer: EA params page 2^{EA_PB} smaller than the "
                        f"largest index-block data block ({_max_direct} "
                        "elements) — unrepresentable (no page bitmap)"
                    )
                ea_client = 1 if filters else 0
                ea_elmt = 8 if ea_client == 0 else 20
                ea_off = (EA_BITS + 7) // 8
                nsblks = EA_BITS - EA_MIN.bit_length() + 2
                first_sblk = 2 * (EA_PTRS.bit_length() - 1)
                sblk_info, si, sd = [], 0, 0
                for u in range(nsblks):
                    nd = 1 << (u // 2)
                    ne = (1 << ((u + 1) // 2)) * EA_MIN
                    sblk_info.append((si, sd, nd, ne))
                    si += nd * ne
                    sd += nd

                def ea_elmt_bytes(m, entry):
                    if entry is None:
                        return (
                            struct.pack("<Q", UNDEF)
                            if ea_client == 0
                            else struct.pack("<QQI", UNDEF, 0, 0)
                        )
                    _origin, nbytes, key = entry
                    if ea_client == 0:
                        return struct.pack("<Q", m[key])
                    return struct.pack("<QQI", m[key], nbytes, 0)

                # partition elements: index block, then data blocks
                nelmts = len(chunk_keys)
                ib_entries = chunk_keys[:EA_IB]
                dblks = []  # (sblk idx, dblk idx-in-sblk, abs off, entries)
                e = EA_IB
                while e < nelmts:
                    u = ((e - EA_IB) // EA_MIN + 1).bit_length() - 1
                    s_idx, _s_dblk, _nd, ne = sblk_info[u]
                    dblk_i = (e - EA_IB - s_idx) // ne
                    dblks.append(
                        (u, dblk_i, e, chunk_keys[e : e + ne] +
                         [None] * max(0, ne - (nelmts - e)))
                    )
                    e += ne

                ea_page = 1 << EA_PB

                for u, dblk_i, off, entries in dblks:
                    def eadb(m, entries=entries, off=off, nm=s.name):
                        hdr = (
                            b"EADB"
                            + struct.pack("<BB", 0, ea_client)
                            + struct.pack("<Q", m[f"eahd:{nm}"])
                            + off.to_bytes(ea_off, "little")
                        )
                        if len(entries) <= ea_page:  # unpaged: inline
                            blob = hdr + b"".join(
                                ea_elmt_bytes(m, x) for x in entries
                            )
                            return blob + struct.pack("<I", _lookup3(blob))
                        # paged: header + checksum only; the element pages
                        # (each + its own checksum) trail the block
                        blob = hdr + struct.pack("<I", _lookup3(hdr))
                        for pgi in range(0, len(entries), ea_page):
                            pg = b"".join(
                                ea_elmt_bytes(m, x)
                                for x in entries[pgi : pgi + ea_page]
                            )
                            blob += pg + struct.pack("<I", _lookup3(pg))
                        return blob

                    add_block(f"eadb:{s.name}:{u}:{dblk_i}", eadb)

                used_sblks = sorted(
                    {u for u, _, _, _ in dblks if u >= first_sblk}
                )
                for u in used_sblks:
                    s_idx, _sd, nd, ne = sblk_info[u]

                    def easb(m, u=u, nd=nd, ne=ne, s_idx=s_idx, nm=s.name):
                        keys = [f"eadb:{nm}:{u}:{i}" for i in range(nd)]
                        addrs = [m[k] if k in m else UNDEF for k in keys]
                        bitmap = b""
                        if ne > ea_page:
                            # paged data blocks: this super block carries
                            # their page-init bitmap (every page of every
                            # emitted block is written -> bits set; pages
                            # of UNDEF blocks stay 0), H5VM MSB-first
                            npg = ne // ea_page
                            bm = bytearray((nd * npg + 7) // 8)
                            for i, a in enumerate(addrs):
                                if a == UNDEF:
                                    continue
                                for pg in range(npg):
                                    b_i = i * npg + pg
                                    bm[b_i // 8] |= 1 << (7 - b_i % 8)
                            bitmap = bytes(bm)
                        blob = (
                            b"EASB"
                            + struct.pack("<BB", 0, ea_client)
                            + struct.pack("<Q", m[f"eahd:{nm}"])
                            + (EA_IB + s_idx).to_bytes(ea_off, "little")
                            + bitmap
                            + struct.pack(f"<{nd}Q", *addrs)
                        )
                        return blob + struct.pack("<I", _lookup3(blob))

                    add_block(f"easb:{s.name}:{u}", easb)

                def eaib(m, nm=s.name, ib=ib_entries, dblks=dblks,
                         used=used_sblks):
                    direct = {
                        (u, i): f"eadb:{nm}:{u}:{i}"
                        for u, i, _, _ in dblks
                        if u < first_sblk
                    }
                    dblk_addrs = []
                    for u in range(first_sblk):
                        _si, _sd, nd, _ne = sblk_info[u]
                        for i in range(nd):
                            k = direct.get((u, i))
                            dblk_addrs.append(m[k] if k else UNDEF)
                    sblk_addrs = [
                        m[f"easb:{nm}:{u}"] if u in used else UNDEF
                        for u in range(first_sblk, nsblks)
                    ]
                    blob = (
                        b"EAIB"
                        + struct.pack("<BB", 0, ea_client)
                        + struct.pack("<Q", m[f"eahd:{nm}"])
                        + b"".join(ea_elmt_bytes(m, x) for x in ib)
                        + b"".join(
                            ea_elmt_bytes(m, None)
                            for _ in range(EA_IB - len(ib))
                        )
                        + struct.pack(f"<{len(dblk_addrs)}Q", *dblk_addrs)
                        + struct.pack(f"<{len(sblk_addrs)}Q", *sblk_addrs)
                    )
                    return blob + struct.pack("<I", _lookup3(blob))

                def eahd(m, nm=s.name, nel=nelmts, ndb=len(dblks),
                         nsb=len(used_sblks)):
                    blob = (
                        b"EAHD"
                        + struct.pack("<BB", 0, ea_client)
                        + struct.pack(
                            "<BBBBBB", ea_elmt, EA_BITS, EA_IB, EA_MIN,
                            EA_PTRS, EA_PB,
                        )
                        + struct.pack("<6Q", nsb, 0, ndb, 0, nel, nel)
                        + struct.pack("<Q", m[f"eaib:{nm}"])
                    )
                    return blob + struct.pack("<I", _lookup3(blob))

                add_block(f"eahd:{s.name}", eahd)
                add_block(f"eaib:{s.name}", eaib)
            elif chunk_index == "btree2":
                bt2_type = 11 if filters else 10
                rank = arr.ndim

                def bt2_rec(entry, cs=cshape, rank=rank, bt=bt2_type):
                    origin, nbytes, key = entry

                    def build(m):
                        scaled = tuple(o // c for o, c in zip(origin, cs))
                        if bt == 10:
                            return struct.pack("<Q", m[key]) + struct.pack(
                                f"<{rank}Q", *scaled
                            )
                        return (
                            struct.pack("<QQI", m[key], nbytes, 0)
                            + struct.pack(f"<{rank}Q", *scaled)
                        )

                    return build

                # chunk_keys iterate the grid lexicographically by origin,
                # which IS the scaled-offset record order the tree requires
                add_dense_btree(
                    f"bt2:{s.name}:", bt2_type,
                    [bt2_rec(e) for e in chunk_keys],
                )
            # 'single' and 'implicit' need no index structure: the layout
            # message itself carries the (first) chunk address
        else:
            info.update(chunked=False)
            add_block(f"data:{s.name}", arr.tobytes())
        data_info[s.name] = info

    # ---- per-dataset object headers ----
    def dataset_messages(s: H5WriteSpec, version: int):
        """list of (type, build(addr_map)->bytes) messages."""
        info = data_info[s.name]
        arr_shape, dtype = info["shape"], info["dtype"]
        msgs = [
            (MSG_DATASPACE, lambda m: _ds_message(arr_shape, version)),
            (MSG_DATATYPE, lambda m: _dt_message(dtype)),
            (MSG_FILL, lambda m: struct.pack("<BBBB", 2, 1, 0, 0)),
        ]
        if info["chunked"]:
            rank = len(arr_shape)
            idx = info["index"]

            if idx == "btree1":
                def layout_msg(m):
                    return (
                        struct.pack("<BBB", 3, 2, rank + 1)
                        + struct.pack("<Q", m[f"btree:{s.name}"])
                        + struct.pack(f"<{rank}I", *info["cshape"])
                        + struct.pack("<I", dtype.itemsize)
                    )
            else:
                def layout_msg(m, idx=idx):
                    filtered_single = idx == "single" and info["filters"]
                    out = [
                        struct.pack(
                            "<BBBBB", 4, 2, 0x02 if filtered_single else 0,
                            rank + 1, 8,
                        ),
                        struct.pack(
                            f"<{rank + 1}Q", *info["cshape"], dtype.itemsize
                        ),
                    ]
                    if idx == "single":
                        out.append(b"\x01")
                        _origin, nbytes, key = info["chunk_keys"][0]
                        if filtered_single:
                            out.append(struct.pack("<QI", nbytes, 0))
                        out.append(struct.pack("<Q", m[key]))
                    elif idx == "implicit":
                        out.append(b"\x02")
                        out.append(struct.pack("<Q", m[info["chunk_keys"][0][2]]))
                    elif idx == "extensible_array":
                        # creation params mirror the emitted EAHD
                        out.append(b"\x04" + bytes([32, 4, 4, 16, 10]))
                        out.append(struct.pack("<Q", m[f"eahd:{s.name}"]))
                    elif idx == "btree2":
                        out.append(b"\x05" + struct.pack("<IBB", 2048, 100, 40))
                        out.append(struct.pack("<Q", m[f"bt2:{s.name}:bt"]))
                    else:  # fixed_array
                        out.append(b"\x03" + bytes([13]))
                        out.append(struct.pack("<Q", m[f"fahd:{s.name}"]))
                    return b"".join(out)

            msgs.append((MSG_LAYOUT, layout_msg))
            if info["filters"]:
                def filt_msg(m, filters=info["filters"]):
                    out = [struct.pack("<BB6x", 1, len(filters))]
                    for fid, _ in filters:
                        nvals = 1 if fid == FILTER_DEFLATE else 0
                        out.append(struct.pack("<HHHH", fid, 0, 1, nvals))
                        if nvals:
                            out.append(struct.pack("<II", 6, 0))  # level + pad
                    return b"".join(out)

                msgs.append((MSG_FILTERS, filt_msg))
        else:
            nbytes = int(np.prod(arr_shape) if arr_shape else 1) * dtype.itemsize

            def layout_msg(m):
                return struct.pack("<BBQQ", 3, 1, m[f"data:{s.name}"], nbytes)

            msgs.append((MSG_LAYOUT, layout_msg))
        if dense_attrs and s.attrs:
            p = f"dattr:{s.name}:"
            msgs.append(
                (MSG_ATTRIBUTE_INFO,
                 lambda m, p=p: struct.pack("<BBQQ", 0, 0, m[p + "fh"],
                                            m[p + "bt"]))
            )
        else:
            for k, v in s.attrs.items():
                msgs.append(
                    (MSG_ATTRIBUTE,
                     _attr_message(k, v, 1 if version == 1 else 3,
                                   gheap_slots))
                )
        return msgs

    def ohdr_v1(msgs):
        def build(m):
            bodies = []
            for mtype, mk in msgs:
                body = mk(m)
                body += b"\x00" * (-len(body) % 8)
                bodies.append(struct.pack("<HHB3x", mtype, len(body), 0) + body)
            blob = b"".join(bodies)
            return struct.pack("<BxHII4x", 1, len(msgs), 1, len(blob)) + blob

        return build

    def ohdr_v2(msgs):
        def build(m):
            bodies = []
            for mtype, mk in msgs:
                body = mk(m)
                bodies.append(struct.pack("<BHB", mtype, len(body), 0) + body)
            blob = b"".join(bodies)
            # flags: 0x02 => chunk0 size stored in 4 bytes
            head = b"OHDR" + struct.pack("<BBI", 2, 0x02, len(blob))
            return head + blob + struct.pack("<I", _lookup3(head + blob))

        return build

    ohdr = ohdr_v1 if superblock == 0 else ohdr_v2
    for s in specs:
        if dense_attrs and s.attrs:
            # dense attribute storage: fractal heap of v3 attribute
            # messages + a type-8 name-index B-tree (records: heap ID 8,
            # message flags 1, creation order 4, name hash 4 — hash-sorted
            # like libhdf5's name index)
            items = list(s.attrs.items())
            bodies = [_attr_message(k, v, 3, gheap_slots) for k, v in items]
            ids = add_dense_store(f"dattr:{s.name}:", bodies, 8, 65536)
            recs = sorted(
                (
                    _lookup3(k.encode("utf-8")),
                    hid + b"\x00" + struct.pack("<I", i),
                )
                for i, ((k, _), hid) in enumerate(zip(items, ids))
            )
            add_dense_btree(
                f"dattr:{s.name}:", 8,
                [rec + struct.pack("<I", h) for h, rec in recs],
            )
        add_block(f"ohdr:{s.name}", ohdr(dataset_messages(s, 1 if superblock == 0 else 2)))

    # ---- global heap (DIMENSION_LIST object references) ----
    if need_gcol:
        def gcol(m):
            objs = []
            for nm in names:
                payload = struct.pack("<Q", m[f"ohdr:{nm}"])
                objs.append(
                    struct.pack("<HH4xQ", gheap_slots[nm], 1, len(payload))
                    + payload
                )
            body = b"".join(objs)
            total = 16 + len(body) + 16  # header + objects + free-space obj
            free = struct.pack("<HH4xQ", 0, 0, 16)
            return b"GCOL" + struct.pack("<B3xQ", 1, total) + body + free

        add_block("gcol", gcol)

    # ---- root group ----
    if superblock == 0:
        order = sorted(names)  # SNOD entries must be name-sorted
        heap_data = bytearray(8)  # offset 0 = the empty string
        name_off = {}
        for nm in order:
            name_off[nm] = len(heap_data)
            b = nm.encode("utf-8") + b"\x00"
            heap_data += b + b"\x00" * (-len(b) % 8)

        def heap(m):
            return (
                b"HEAP" + struct.pack("<B3xQQQ", 0, len(heap_data),
                                      len(heap_data), m["heapdata"])
            )

        def snod(m):
            out = [b"SNOD", struct.pack("<BxH", 1, len(order))]
            for nm in order:
                out.append(struct.pack("<QQI4x16x", name_off[nm],
                                       m[f"ohdr:{nm}"], 0))
            return b"".join(out)

        def gbtree(m):
            return (
                b"TREE" + struct.pack("<BBH", 0, 0, 1)
                + struct.pack("<QQ", UNDEF, UNDEF)
                + struct.pack("<QQQ", 0, m["snod"], name_off[order[-1]])
            )

        root_msgs = [
            (MSG_SYMBOL_TABLE,
             lambda m: struct.pack("<QQ", m["gbtree"], m["heap"])),
        ]
        add_block("rootohdr", ohdr_v1(root_msgs))
        add_block("heap", heap)
        add_block("heapdata", bytes(heap_data))
        add_block("gbtree", gbtree)
        add_block("snod", snod)
    else:
        def link_msg(nm):
            def mk(m):
                b = nm.encode("utf-8")
                return (
                    struct.pack("<BB", 1, 0)
                    + bytes([len(b)]) + b
                    + struct.pack("<Q", m[f"ohdr:{nm}"])
                )
            return mk

        if dense_links and names:
            # dense link storage: fractal heap of link messages + a type-5
            # name-index B-tree (records: name hash 4, heap ID 7)
            bodies = [link_msg(nm) for nm in names]
            ids = add_dense_store("dlink:", bodies, 7, 4096)
            recs = sorted(
                (_lookup3(nm.encode("utf-8")), hid)
                for nm, hid in zip(names, ids)
            )
            add_dense_btree(
                "dlink:", 5,
                [struct.pack("<I", h) + hid for h, hid in recs],
            )
            root_msgs = [
                (MSG_LINK_INFO,
                 lambda m: struct.pack("<BBQQ", 0, 0, m["dlink:fh"],
                                       m["dlink:bt"]))
            ]
        else:
            root_msgs = [(MSG_LINK, link_msg(nm)) for nm in names]
        add_block("rootohdr", ohdr_v2(root_msgs))

    # ---- assign addresses & serialize ----
    sb_size = 96 if superblock == 0 else 48
    addr_map: dict[str, int] = {}
    pos = sb_size
    for key, size, _ in blocks:
        addr_map[key] = pos
        pos += size
    eof = pos

    out = [b""] * (len(blocks) + 1)
    for i, (key, size, build) in enumerate(blocks):
        blob = build(addr_map)
        assert len(blob) == size, f"block {key}: size drifted"
        out[i + 1] = blob

    if superblock == 0:
        sb = (
            SIGNATURE
            + struct.pack("<BBBxB BBx", 0, 0, 0, 0, 8, 8)
            + struct.pack("<HHI", 4, 16, 0)
            + struct.pack("<QQQQ", 0, UNDEF, eof, UNDEF)
            # root symbol table entry: name offset 0, OHDR addr, no cache
            + struct.pack("<QQI4x16x", 0, addr_map["rootohdr"], 0)
        )
    else:
        head = (
            SIGNATURE
            + struct.pack("<BBBB", 2, 8, 8, 0)
            + struct.pack("<QQQQ", 0, UNDEF, eof, addr_map["rootohdr"])
        )
        sb = head + struct.pack("<I", _lookup3(head))
    assert len(sb) == sb_size
    out[0] = sb
    return b"".join(out)
