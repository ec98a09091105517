"""Minimal pure-Python ESRI Shapefile reader/writer (.shp + .dbf).

The shapefile main-file format (ESRI whitepaper: 100-byte header, records
of big-endian headers + little-endian shape payloads) and the dBase III
attribute format (.dbf: fixed-width ASCII records) are public and simple.
A dependency-free reader lets the REAL shapefile→centroid ingest
(`sources/ingest.py::municipalities_from_shapefile`) run and be tested
without geopandas — the same pattern as ``netcdf_classic.py``.

Supported surface (what the municipality-dimension ingest needs):
- shape types 1 (Point) and 5 (Polygon, any number of rings);
- area-weighted shoelace centroids (holes wind oppositely and subtract,
  matching shapely's centroid for valid polygons);
- dBase III character/numeric fields.

CRS handling: geographic (degree) CRSs pass through untouched; projected
CRSs are inverted by ``crs_min.py`` (Transverse Mercator / Polyconic —
what Brazilian municipal shapefiles ship); anything else fails loudly,
naming the projection.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np
import pandas as pd

SHP_POINT = 1
SHP_POLYGON = 5


@dataclass
class Shape:
    shape_type: int
    points: np.ndarray          # (n, 2) xy
    parts: tuple[int, ...] = (0,)  # ring start offsets into points


def read_shp(content: bytes) -> list[Shape]:
    """Parse a .shp main file into shapes (Point / Polygon)."""
    (code,) = struct.unpack_from(">i", content, 0)
    if code != 9994:
        raise ValueError("not a shapefile (bad file code)")
    (file_len_words,) = struct.unpack_from(">i", content, 24)
    end = file_len_words * 2
    shapes: list[Shape] = []
    pos = 100
    while pos < end:
        _, content_words = struct.unpack_from(">ii", content, pos)
        pos += 8
        rec_end = pos + content_words * 2
        (stype,) = struct.unpack_from("<i", content, pos)
        if stype == 0:  # null shape
            shapes.append(Shape(0, np.empty((0, 2))))
        elif stype == SHP_POINT:
            x, y = struct.unpack_from("<2d", content, pos + 4)
            shapes.append(Shape(SHP_POINT, np.array([[x, y]])))
        elif stype == SHP_POLYGON:
            nparts, npoints = struct.unpack_from("<2i", content, pos + 36)
            parts = struct.unpack_from(f"<{nparts}i", content, pos + 44)
            pts = np.frombuffer(
                content, dtype="<f8", count=npoints * 2, offset=pos + 44 + 4 * nparts
            ).reshape(npoints, 2)
            shapes.append(Shape(SHP_POLYGON, pts.copy(), tuple(parts)))
        else:
            raise NotImplementedError(
                f"shape type {stype} is not supported; the reader decodes "
                "Point (1) and Polygon (5) shapes only"
            )
        pos = rec_end
    return shapes


def polygon_centroid(shape: Shape) -> tuple[float, float]:
    """Area-weighted centroid over all rings (shoelace formula). Holes,
    which wind opposite to shells, contribute negative area and subtract —
    the same result shapely gives for valid polygons."""
    if shape.shape_type == SHP_POINT:
        return float(shape.points[0, 0]), float(shape.points[0, 1])
    if len(shape.points) == 0:
        # null shapes (type 0) have no geometry; letting them fall through
        # to the vertex-mean branch would emit NaN centroids silently
        raise ValueError("cannot compute centroid of a null/empty shape")
    a_total = cx = cy = 0.0
    parts = list(shape.parts) + [len(shape.points)]
    for r in range(len(shape.parts)):
        ring = shape.points[parts[r] : parts[r + 1]]
        x, y = ring[:, 0], ring[:, 1]
        x2, y2 = np.roll(x, -1), np.roll(y, -1)
        cross = x * y2 - x2 * y
        a = cross.sum() / 2.0
        if a == 0.0:
            continue
        a_total += a
        cx += ((x + x2) * cross).sum() / 6.0
        cy += ((y + y2) * cross).sum() / 6.0
    if a_total == 0.0:  # degenerate: fall back to vertex mean
        return float(shape.points[:, 0].mean()), float(shape.points[:, 1].mean())
    return cx / a_total, cy / a_total


def read_dbf(content: bytes) -> pd.DataFrame:
    """Parse a dBase III .dbf attribute table (char + numeric fields)."""
    n_records, header_size, record_size = struct.unpack_from("<IHH", content, 4)
    fields = []
    pos = 32
    while content[pos] != 0x0D:
        name = content[pos : pos + 11].split(b"\x00")[0].decode("ascii")
        ftype = chr(content[pos + 11])
        length = content[pos + 16]
        decimals = content[pos + 17]
        fields.append((name, ftype, length, decimals))
        pos += 32
    rows = []
    pos = header_size
    for _ in range(n_records):
        if content[pos : pos + 1] == b"*":  # deleted record
            pos += record_size
            continue
        rec, off = {}, pos + 1
        for name, ftype, length, decimals in fields:
            raw = content[off : off + length].decode("latin-1").strip()
            if ftype == "N" and raw:
                # real-world DBFs store '123.0' or '1.' in DEC=0 columns;
                # parse as float and narrow to int only when integral
                f = float(raw)
                rec[name] = int(f) if decimals == 0 and f.is_integer() else f
            else:
                rec[name] = raw
            off += length
        rows.append(rec)
        pos += record_size
    return pd.DataFrame(rows, columns=[f[0] for f in fields])


def is_geographic_prj(prj_wkt: str) -> bool:
    """Loose geographic-CRS check on .prj WKT: GEOGCS / degree units and
    not a projected CRS."""
    up = prj_wkt.upper()
    return ("GEOGCS" in up or "GEOGCRS" in up) and "PROJCS" not in up


# --- writers (test-fixture generation; same subset) -------------------------


def write_shp(shapes: list[Shape]) -> bytes:
    records = []
    for i, s in enumerate(shapes, start=1):
        if s.shape_type == 0:  # null shape: type word only
            payload = struct.pack("<i", 0)
        elif s.shape_type == SHP_POINT:
            payload = struct.pack("<i2d", SHP_POINT, *s.points[0])
        elif s.shape_type == SHP_POLYGON:
            pts = np.asarray(s.points, dtype="<f8")
            bbox = (pts[:, 0].min(), pts[:, 1].min(), pts[:, 0].max(), pts[:, 1].max())
            payload = (
                struct.pack("<i4d2i", SHP_POLYGON, *bbox, len(s.parts), len(pts))
                + struct.pack(f"<{len(s.parts)}i", *s.parts)
                + pts.tobytes()
            )
        else:
            raise NotImplementedError(s.shape_type)
        records.append(struct.pack(">2i", i, len(payload) // 2) + payload)
    body = b"".join(records)
    all_pts = np.vstack([s.points for s in shapes if len(s.points)])
    header = (
        struct.pack(">i5i i", 9994, 0, 0, 0, 0, 0, (100 + len(body)) // 2)
        + struct.pack("<2i", 1000, shapes[0].shape_type if shapes else 0)
        + struct.pack(
            "<8d",
            all_pts[:, 0].min(), all_pts[:, 1].min(),
            all_pts[:, 0].max(), all_pts[:, 1].max(),
            0, 0, 0, 0,
        )
    )
    return header + body


def write_dbf(df: pd.DataFrame, char_width: int = 32) -> bytes:
    fields = []
    for col in df.columns:
        if pd.api.types.is_integer_dtype(df[col]):
            fields.append((col, "N", 18, 0))
        elif pd.api.types.is_float_dtype(df[col]):
            fields.append((col, "N", 18, 6))
        else:
            fields.append((col, "C", char_width, 0))
    record_size = 1 + sum(f[2] for f in fields)
    header_size = 32 + 32 * len(fields) + 1
    out = [struct.pack("<B3BIHH", 3, 95, 7, 26, len(df), header_size, record_size)]
    out.append(b"\x00" * 20)
    for name, ftype, length, decimals in fields:
        out.append(
            name.encode("ascii")[:11].ljust(11, b"\x00")
            + ftype.encode("ascii")
            + b"\x00" * 4
            + bytes([length, decimals])
            + b"\x00" * 14
        )
    out.append(b"\x0d")
    for _, row in df.iterrows():
        out.append(b" ")
        for name, ftype, length, decimals in fields:
            v = row[name]
            if ftype == "N":
                s = (f"{v:.{decimals}f}" if decimals else str(int(v))).rjust(length)
            else:
                s = str(v).ljust(length)
            out.append(s.encode("latin-1")[:length])
    out.append(b"\x1a")
    return b"".join(out)
