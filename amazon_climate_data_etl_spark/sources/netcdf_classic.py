"""Minimal pure-Python reader/writer for CLASSIC NetCDF (CDF-1 / CDF-2).

The classic NetCDF binary format is small and publicly specified (the
NetCDF "classic format spec": magic ``CDF\\x01``/``CDF\\x02``, a header of
dimension/attribute/variable lists, then big-endian array data at recorded
offsets). A dependency-free decoder for it lets the REAL ingest path
(`sources/ingest.py::decode_classic_long`) run and be tested without
xarray/netCDF4 — the same pattern as the minimal PNG decoder in
``sources/multimodal.py``. NetCDF-4 files are HDF5 containers;
``read_classic`` dispatches their magic to the minimal HDF5 decoder
(``hdf5_min.py`` / ``netcdf4_min.py``), which returns the same NcFile
model, so callers never care which flavor they were handed.

Supported surface (deliberately the subset climate grids use):
- fixed AND record variables (unlimited leading dimension, the
  interleaved per-record layout daily climate files use) of type
  short/int/float/double, any rank;
- ``scale_factor`` / ``add_offset`` packing and ``_FillValue`` → NaN;
- per-variable string attributes (``units`` etc.);
- CDF-1 (32-bit offsets), CDF-2 (64-bit offsets), and CDF-5 ("64-bit
  data": 64-bit counts everywhere + the unsigned/int64 value types —
  what genuinely large classic files use).

The writer emits the same subset (CDF-1, fixed dims) and exists so tests
and fixtures can generate REAL NetCDF bytes without any library.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

import numpy as np

_MAGIC1 = b"CDF\x01"
_MAGIC2 = b"CDF\x02"
_MAGIC5 = b"CDF\x05"

_NC_DIMENSION = 0x0A
_NC_VARIABLE = 0x0B
_NC_ATTRIBUTE = 0x0C

# nc_type -> (numpy big-endian dtype, element size)
_TYPES = {
    1: (">i1", 1),  # NC_BYTE
    2: ("S1", 1),   # NC_CHAR
    3: (">i2", 2),  # NC_SHORT
    4: (">i4", 4),  # NC_INT
    5: (">f4", 4),  # NC_FLOAT
    6: (">f8", 8),  # NC_DOUBLE
    # CDF-5 ("64-bit data") additions
    7: (">u1", 1),   # NC_UBYTE
    8: (">u2", 2),   # NC_USHORT
    9: (">u4", 4),   # NC_UINT
    10: (">i8", 8),  # NC_INT64
    11: (">u8", 8),  # NC_UINT64
}
_DTYPE_TO_NC = {
    "int16": 3, "int32": 4, "float32": 5, "float64": 6,
    "uint8": 7, "uint16": 8, "uint32": 9, "int64": 10, "uint64": 11,
}


@dataclass
class NcVar:
    name: str
    dims: tuple[str, ...]
    data: np.ndarray
    attrs: dict[str, object] = field(default_factory=dict)


@dataclass
class NcFile:
    dims: dict[str, int]
    variables: dict[str, NcVar]


def _pad4(n: int) -> int:
    return (4 - n % 4) % 4


def apply_cf_packing(data: np.ndarray, attrs: dict) -> np.ndarray:
    """CF unpacking shared by the classic and NetCDF-4 decoders:
    ``_FillValue`` → NaN, then ``scale_factor`` / ``add_offset``."""
    fill = attrs.get("_FillValue")
    scale = attrs.get("scale_factor")
    off = attrs.get("add_offset")
    if fill is None and scale is None and off is None:
        return data
    out = np.asarray(data, dtype=np.float64).copy()
    if fill is not None:
        out[np.asarray(data) == fill] = np.nan
    if scale is not None:
        out = out * float(scale)
    if off is not None:
        out = out + float(off)
    return out


class _Reader:
    def __init__(self, buf: bytes, nn_width: int = 4):
        self.buf = buf
        self.pos = 0
        # NON_NEG width: 4 bytes in CDF-1/2, 8 in CDF-5 ("64-bit data"),
        # per the classic-format BNF (every count/length is NON_NEG)
        self.nn_width = nn_width

    def u32(self) -> int:
        v = struct.unpack_from(">I", self.buf, self.pos)[0]
        self.pos += 4
        return v

    def u64(self) -> int:
        v = struct.unpack_from(">Q", self.buf, self.pos)[0]
        self.pos += 8
        return v

    def nn(self) -> int:
        return self.u64() if self.nn_width == 8 else self.u32()

    def name(self) -> str:
        n = self.nn()
        s = self.buf[self.pos : self.pos + n].decode("utf-8")
        self.pos += n + _pad4(n)
        return s

    def values(self):
        nc_type = self.u32()
        n = self.nn()
        if nc_type == 2:  # char attr -> python str
            raw = self.buf[self.pos : self.pos + n]
            self.pos += n + _pad4(n)
            return raw.decode("utf-8", "replace")
        dt, size = _TYPES[nc_type]
        arr = np.frombuffer(self.buf, dtype=dt, count=n, offset=self.pos)
        self.pos += n * size + _pad4(n * size)
        return arr[0].item() if n == 1 else arr.copy()

    def att_list(self) -> dict:
        tag = self.u32()
        count = self.nn()
        if tag == 0 and count == 0:
            return {}
        assert tag == _NC_ATTRIBUTE, f"bad attribute tag {tag}"
        out = {}
        for _ in range(count):
            nm = self.name()
            out[nm] = self.values()
        return out


def read_classic(content: bytes) -> NcFile:
    """Parse NetCDF bytes into dims + variables. Dispatches on magic:
    CDF-1/CDF-2 are decoded here; NetCDF-4 (an HDF5 container,
    ``\\x89HDF...`` magic) is decoded by the minimal HDF5 reader
    (``netcdf4_min.py``) into the same NcFile model."""
    nn_width = 4
    if content[:4] == _MAGIC1:
        offset64 = False
    elif content[:4] == _MAGIC2:
        offset64 = True
    elif content[:4] == _MAGIC5:
        offset64 = True
        nn_width = 8
    elif content[:4] == b"\x89HDF":
        from amazon_climate_data_etl_spark.sources.netcdf4_min import read_netcdf4

        return read_netcdf4(content)
    else:
        raise NotImplementedError(
            "not a NetCDF file (classic CDF-1/CDF-2 or NetCDF-4/HDF5 magic "
            "expected)"
        )
    r = _Reader(content, nn_width)
    r.pos = 4
    numrecs = r.nn()
    # dimensions
    tag, count = r.u32(), r.nn()
    dims: list[tuple[str, int]] = []
    if count:
        assert tag == _NC_DIMENSION, f"bad dimension tag {tag}"
        for _ in range(count):
            nm = r.name()
            dims.append((nm, r.nn()))
    r.att_list()  # global attributes (parsed, unused)
    # variables: first pass parses headers; record variables (leading
    # unlimited dim, stored length 0) are materialized afterwards because
    # their data is interleaved per record and the record stride depends on
    # ALL record variables
    tag, count = r.u32(), r.nn()
    headers = []
    if count:
        assert tag == _NC_VARIABLE, f"bad variable tag {tag}"
        for _ in range(count):
            nm = r.name()
            ndims = r.nn()
            dimids = [r.nn() for _ in range(ndims)]
            attrs = r.att_list()
            nc_type = r.u32()
            r.nn()  # vsize (padded byte count; recomputed below)
            begin = r.u64() if offset64 else r.u32()
            var_dims = tuple(dims[i][0] for i in dimids)
            shape = tuple(dims[i][1] for i in dimids)
            headers.append((nm, var_dims, shape, attrs, nc_type, begin))

    rec_vars = [h for h in headers if 0 in h[2]]
    # record stride: every record var's per-record slab padded to 4 bytes —
    # UNLESS there is exactly one record variable (spec special case)
    recsize = 0
    for _, _, shape, _, nc_type, _ in rec_vars:
        _, elsize = _TYPES[nc_type]
        per_rec = int(np.prod([s for s in shape if s != 0]) or 1) * elsize
        recsize += per_rec + (_pad4(per_rec) if len(rec_vars) > 1 else 0)

    variables: dict[str, NcVar] = {}
    for nm, var_dims, shape, attrs, nc_type, begin in headers:
        dt, elsize = _TYPES[nc_type]
        if 0 in shape:  # record variable
            if shape[0] != 0:
                raise NotImplementedError(
                    f"record variable {nm!r}: unlimited dim must lead"
                )
            fixed = tuple(s for s in shape if s != 0)
            n_per_rec = int(np.prod(fixed) or 1)
            slabs = [
                np.frombuffer(
                    content, dtype=dt, count=n_per_rec, offset=begin + r_i * recsize
                )
                for r_i in range(numrecs)
            ]
            data = np.stack(slabs).reshape((numrecs, *fixed)) if numrecs else (
                np.empty((0, *fixed), dtype=dt)
            )
        else:
            n = int(np.prod(shape)) if shape else 1
            data = np.frombuffer(content, dtype=dt, count=n, offset=begin).reshape(
                shape
            ).copy()
        data = apply_cf_packing(data, attrs)
        variables[nm] = NcVar(nm, var_dims, np.ascontiguousarray(data), attrs)
    eff_dims = {nm: (numrecs if ln == 0 else ln) for nm, ln in dims}
    return NcFile(dims=eff_dims, variables=variables)


class _Writer:
    def __init__(self, nn_width: int = 4):
        self.parts: list[bytes] = []
        self.nn_width = nn_width  # see _Reader: 4 in CDF-1/2, 8 in CDF-5

    def u32(self, v: int) -> None:
        self.parts.append(struct.pack(">I", v))

    def nn(self, v: int) -> None:
        self.parts.append(
            struct.pack(">Q" if self.nn_width == 8 else ">I", v)
        )

    def name(self, s: str) -> None:
        b = s.encode("utf-8")
        self.nn(len(b))
        self.parts.append(b + b"\x00" * _pad4(len(b)))

    def att_list(self, attrs: dict) -> None:
        if not attrs:
            self.u32(0)
            self.nn(0)
            return
        self.u32(_NC_ATTRIBUTE)
        self.nn(len(attrs))
        for k, v in attrs.items():
            self.name(k)
            if isinstance(v, str):
                b = v.encode("utf-8")
                self.u32(2)
                self.nn(len(b))
                self.parts.append(b + b"\x00" * _pad4(len(b)))
            else:
                arr = np.asarray(v)
                nc_type = _DTYPE_TO_NC[str(arr.dtype.newbyteorder("=").name)]
                dt, size = _TYPES[nc_type]
                flat = np.atleast_1d(arr).astype(dt)
                self.u32(nc_type)
                self.nn(flat.size)
                raw = flat.tobytes()
                self.parts.append(raw + b"\x00" * _pad4(len(raw)))


def write_classic(
    nc: NcFile,
    offset64: bool = False,
    record_dim: str | None = None,
    cdf5: bool = False,
) -> bytes:
    """Serialize dims + variables to CDF-1 bytes (CDF-2 with
    ``offset64=True``, CDF-5 with ``cdf5=True`` — 64-bit counts plus the
    unsigned/64-bit value types, the variant multi-GB classic files use;
    inverse of ``read_classic`` on the supported subset). With
    ``record_dim`` set, variables whose LEADING dim is that name are laid
    out as record variables (the unlimited-dimension interleaved layout
    real daily climate files use); the dim itself is stored with length 0
    and the record count goes in numrecs."""
    if cdf5:
        offset64 = True
    vars_ = list(nc.variables.values())
    is_rec = [record_dim is not None and v.dims[:1] == (record_dim,) for v in vars_]
    numrecs = 0
    for v, rec in zip(vars_, is_rec):
        if rec:
            numrecs = int(np.asarray(v.data).shape[0])
    n_rec_vars = sum(is_rec)
    if n_rec_vars == 0:
        record_dim = None  # unused unlimited dim: write it as fixed

    nn_width = 8 if cdf5 else 4
    w = _Writer(nn_width)
    w.parts.append(_MAGIC5 if cdf5 else (_MAGIC2 if offset64 else _MAGIC1))
    w.nn(numrecs)
    dim_names = list(nc.dims)
    w.u32(_NC_DIMENSION)
    w.nn(len(dim_names))
    for nm in dim_names:
        w.name(nm)
        w.nn(0 if nm == record_dim else nc.dims[nm])
    w.att_list({})  # global attrs

    # payloads: fixed vars keep their full (padded) buffer; record vars
    # store per-record slabs (padded only when >1 record var, per spec)
    payloads = []  # (nc_type, vsize, full_bytes_or_slabs)
    for v, rec in zip(vars_, is_rec):
        nc_type = _DTYPE_TO_NC[str(np.asarray(v.data).dtype.newbyteorder("=").name)]
        dt, _ = _TYPES[nc_type]
        arr = np.ascontiguousarray(np.asarray(v.data)).astype(dt)
        if rec:
            # slice (not index): arr[r] on a rank-1 big-endian array yields
            # a NATIVE-endian numpy scalar, silently flipping byte order
            slabs = [arr[r : r + 1].tobytes() for r in range(numrecs)]
            per = len(slabs[0]) if slabs else int(arr.itemsize * np.prod(arr.shape[1:]) or arr.itemsize)
            pad = _pad4(per) if n_rec_vars > 1 else 0
            payloads.append((nc_type, per + pad, [s + b"\x00" * pad for s in slabs]))
        else:
            raw = arr.tobytes()
            payloads.append((nc_type, len(raw) + _pad4(len(raw)),
                             raw + b"\x00" * _pad4(len(raw))))

    def var_list(offsets: list[int]) -> bytes:
        vw = _Writer(nn_width)
        vw.u32(_NC_VARIABLE)
        vw.nn(len(vars_))
        for v, (nc_type, vsize, _), begin in zip(vars_, payloads, offsets):
            vw.name(v.name)
            vw.nn(len(v.dims))
            for d in v.dims:
                vw.nn(dim_names.index(d))
            vw.att_list(v.attrs)
            vw.u32(nc_type)
            vw.nn(vsize)
            if offset64:
                vw.parts.append(struct.pack(">Q", begin))
            else:
                vw.u32(begin)
        return b"".join(vw.parts)

    head = b"".join(w.parts)
    base = len(head) + len(var_list([0] * len(vars_)))
    # fixed data first, then the record region
    offsets = [0] * len(vars_)
    pos = base
    for i, (rec, (_, vsize, data)) in enumerate(zip(is_rec, payloads)):
        if not rec:
            offsets[i] = pos
            pos += len(data)
    rec_base = pos
    rec_off = 0
    for i, (rec, (_, vsize, _)) in enumerate(zip(is_rec, payloads)):
        if rec:
            offsets[i] = rec_base + rec_off
            rec_off += vsize
    body = [payloads[i][2] for i in range(len(vars_)) if not is_rec[i]]
    for r in range(numrecs):
        for i, rec in enumerate(is_rec):
            if rec:
                body.append(payloads[i][2][r])
    return head + var_list(offsets) + b"".join(
        b if isinstance(b, bytes) else b"".join(b) for b in body
    )
