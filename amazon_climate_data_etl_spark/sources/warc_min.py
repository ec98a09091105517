"""Minimal dependency-free WARC (ISO 28500) reader/writer — the raw
format of web-crawl corpora (Common Crawl ships ``.warc.gz``), supported
as an ingest boundary so a crawl drops straight into the engine's
extract → dedup → tokenize pipeline (html_boilerplate_extract et al.).

Clean-room implementation of the PUBLIC spec (ISO 28500 / the WARC 1.1
format document): a WARC file is a sequence of records — a version line
(``WARC/1.0`` or ``WARC/1.1``), CRLF-terminated named headers, a blank
line, a Content-Length-sized block, and a mandatory CRLF CRLF record
separator. The ``.warc.gz`` convention compresses EACH record as its own
gzip member, which is what makes a 1 GB crawl file splittable at member
boundaries; this reader handles both member-per-record and
whole-file-single-member layouts via zlib's ``unused_data`` walk.

Reading is DISTRIBUTED and collect-free, the Arrow-IPC/Zarr shape: a
``binaryFile`` scan of the ``.warc``/``.warc.gz`` objects → Arrow-batched
``mapInPandas`` decode, one file per task (Common Crawl's ~1 GB segment
files are exactly this task unit; at 100 TB the fan-out is the file
count). Corrupt input FAILS LOUDLY — truncated blocks, missing
Content-Length, a bad version line, or a missing record separator raise
with offsets rather than yielding silently-truncated corpora (the same
contract as blosc_min/zarr_min).

Task-memory contract (r12): decoding is MEMBER-AT-A-TIME — the
decompressor is fed bounded 1 MiB slices of a memoryview, so no step
ever copies the remaining compressed tail — and the reader emits
CHUNKED output frames, so a task's transient peak is the raw file bytes
(the ``binaryFile`` row — unavoidable at this API) plus ONE decompressed
member plus any carried partial record plus one bounded output chunk.
In the splittable member-per-record layout that is one record, not the
~4-5× whole-file expansion of a 1 GB Common Crawl segment; only the
degenerate whole-file-single-member layout still holds a full
decompressed copy (inherent to that layout — the ``max_member_bytes``
cap turns it into a loud per-file error for deployments that must not
absorb it). Records MAY span member
boundaries (some chunked gzip writers flush members mid-record): the
parser carries the unconsumed tail into the next member, so generality
costs one record of buffer, never the whole file. Structural corruption
still raises the moment it is definitive (bad version line, malformed
header, missing separator); a trailing truncated record raises at end
of input.
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

_CRLF = b"\r\n"
_VERSIONS = (b"WARC/1.0", b"WARC/1.1")


@dataclass
class WarcRecord:
    version: str
    headers: dict = field(default_factory=dict)  # case-preserved; lookups via get()
    block: bytes = b""

    def get(self, name: str, default: str | None = None) -> str | None:
        low = name.lower()
        for k, v in self.headers.items():
            if k.lower() == low:
                return v
        return default

    @property
    def warc_type(self) -> str:
        return self.get("WARC-Type", "") or ""


# feed the decompressor bounded slices: zlib's unused_data is a fresh
# bytes copy of EVERYTHING after the member, so feeding the whole tail
# would cost O(members x file_size) memcpy on a member-per-record
# segment; capping the input caps unused_data at one slice
_GUNZIP_CHUNK = 1 << 20


def _iter_gunzip_members(
    data: bytes, max_member_bytes: int | None = None
) -> Iterator[bytes]:
    """Yield each decompressed gzip member ONE AT A TIME (member-per-record
    .warc.gz layout; a single whole-file member is the degenerate case).
    Memory: one member + one input slice; time: O(len(data)) total —
    the decompressor reads bounded memoryview slices, never the whole
    remaining tail.

    ``max_member_bytes`` caps ONE member's decompressed size and raises
    the moment the cap is crossed mid-stream (peak memory stays cap +
    one input slice) — the fail-loud gate for the degenerate
    whole-file-single-member layout, whose full-file expansion is
    inherent to the layout and can't be bounded any other way."""
    view = memoryview(data)
    pos, n = 0, len(data)
    while pos < n:
        d = zlib.decompressobj(wbits=31)
        out = []
        size = 0
        try:
            while not d.eof:
                if pos >= n:
                    raise ValueError("warc: truncated gzip member")
                chunk = view[pos : pos + _GUNZIP_CHUNK]
                pos += len(chunk)
                # with a cap, decompress through max_length so the cap is a
                # TRUE memory bound: one compressed chunk can expand ~1000x
                # (deflate's limit is ~1032:1 — a zeros bomb), so an
                # uncapped decompress(chunk) could materialize ~1 GiB
                # before any size check ran (r13 review finding). The
                # max_length form emits at most cap-size+1 bytes per call;
                # leftover input waits in unconsumed_tail.
                data_in = chunk
                while True:
                    if max_member_bytes is None:
                        piece = d.decompress(data_in)
                    else:
                        piece = d.decompress(
                            data_in, max_member_bytes - size + 1
                        )
                    size += len(piece)
                    if max_member_bytes is not None and size > max_member_bytes:
                        raise ValueError(
                            f"warc: gzip member exceeds max_member_bytes="
                            f"{max_member_bytes} while decompressing (a "
                            "whole-file-single-member .warc.gz holds its "
                            "full expansion in one member; re-write it "
                            "member-per-record or raise the cap)"
                        )
                    out.append(piece)
                    if not d.unconsumed_tail:
                        break
                    data_in = d.unconsumed_tail
        except zlib.error as e:  # non-gzip bytes between/after members
            raise ValueError(f"warc: corrupt gzip member ({e})") from e
        pos -= len(d.unused_data)  # rewind to the next member's start
        yield b"".join(out)


def iter_warc(
    data: bytes, max_member_bytes: int | None = None
) -> Iterator[WarcRecord]:
    """Yield every record in one WARC object (gzip auto-detected),
    decoding member-at-a-time so peak memory is one decompressed member
    plus any carried partial record — never the whole expanded file.
    Records may span member boundaries (the unconsumed tail carries into
    the next member — module docstring). A zero-byte object yields
    nothing (visible in any file listing, unlike a mid-record truncation
    — which raises at end of input). ``max_member_bytes`` bounds one
    member's decompressed size, failing loudly on the degenerate
    whole-file-single-member layout (see ``_iter_gunzip_members``)."""
    if data[:2] == b"\x1f\x8b":
        buf = b""
        for member in _iter_gunzip_members(data, max_member_bytes):
            buf = buf + member if buf else member
            records, consumed = _parse_records(buf, eof=False)
            yield from records
            buf = buf[consumed:]
        records, consumed = _parse_records(buf, eof=True)
        yield from records
    else:
        records, consumed = _parse_records(data, eof=True)
        yield from records


def parse_warc(
    data: bytes, max_member_bytes: int | None = None
) -> list[WarcRecord]:
    """Eager form of :func:`iter_warc` (tests / small objects)."""
    return list(iter_warc(data, max_member_bytes))


def _parse_records(data: bytes, eof: bool) -> tuple[list[WarcRecord], int]:
    """Parse complete records from the head of one uncompressed buffer;
    returns (records, bytes consumed). With ``eof=False`` a trailing
    PARTIAL record is left unconsumed (it may complete in the next gzip
    member); with ``eof=True`` it raises. Violations that no further
    bytes could repair — bad version line, malformed header, non-numeric
    Content-Length, missing record separator — raise immediately either
    way. Offsets in errors are relative to this buffer."""
    records: list[WarcRecord] = []
    pos = 0
    n = len(data)
    while pos < n:
        start = pos
        eol = data.find(_CRLF, pos)
        if eol < 0:
            if eof:
                raise ValueError(f"warc: no version line at offset {pos}")
            break  # partial version line — wait for the next member
        version = data[pos:eol]
        if version not in _VERSIONS:
            raise ValueError(
                f"warc: bad version line {version[:20]!r} at offset {pos}"
            )
        pos = eol + 2
        headers: dict[str, str] = {}
        complete = False
        while True:
            eol = data.find(_CRLF, pos)
            if eol < 0:
                if eof:
                    raise ValueError(
                        f"warc: unterminated headers at offset {pos}"
                    )
                break  # partial header line — wait for the next member
            line = data[pos:eol]
            pos = eol + 2
            if not line:
                complete = True
                break
            k, sep, v = line.partition(b":")
            if not sep:
                raise ValueError(f"warc: malformed header {line[:40]!r}")
            headers[k.decode("utf-8")] = v.strip().decode("utf-8")
        if not complete:
            pos = start
            break
        length_s = next(
            (v for k, v in headers.items() if k.lower() == "content-length"), None
        )
        if length_s is None or not length_s.isdigit():
            raise ValueError("warc: record missing a numeric Content-Length")
        length = int(length_s)
        if pos + length + 4 > n:
            if eof:
                if pos + length > n:
                    raise ValueError(
                        f"warc: block truncated (need {length} bytes at "
                        f"offset {pos})"
                    )
                raise ValueError(
                    f"warc: missing record separator at offset {pos + length}"
                )
            pos = start
            break  # block (or its separator) continues in the next member
        block = data[pos : pos + length]
        pos += length
        if data[pos : pos + 4] != _CRLF + _CRLF:
            raise ValueError(f"warc: missing record separator at offset {pos}")
        pos += 4
        records.append(WarcRecord(version.decode(), headers, block))
    return records, pos


def http_payload(record: WarcRecord) -> tuple[int, dict, bytes]:
    """Split a response record's block into (status, headers, body). WARC
    response blocks are verbatim HTTP messages (status line + headers +
    CRLF CRLF + body)."""
    head, sep, body = record.block.partition(_CRLF + _CRLF)
    if not sep:
        raise ValueError("warc: response block has no HTTP header terminator")
    lines = head.split(_CRLF)
    parts = lines[0].split(b" ", 2)
    if len(parts) < 2 or not parts[1].isdigit():
        raise ValueError(f"warc: bad HTTP status line {lines[0][:40]!r}")
    headers = {}
    for line in lines[1:]:
        k, s, v = line.partition(b":")
        if s:
            headers[k.decode("utf-8").strip()] = v.strip().decode("utf-8")
    return int(parts[1]), headers, body


def build_warc(records: list[dict], gzip_per_record: bool = False) -> bytes:
    """Serialize records (dicts with ``headers`` incl. WARC-Type, and
    ``block`` bytes) — the test/writer half of the boundary. Adds the
    mandatory Content-Length; optional member-per-record gzip (the
    splittable .warc.gz convention). Fail-loud AT WRITE TIME, matching the
    reader's boundary contract: a header name containing ':' or either
    side containing CR/LF would serialize structurally corrupt framing
    that only surfaces at parse time, so it raises here instead."""
    out = []
    for r in records:
        headers = dict(r.get("headers", {}))
        for k, v in headers.items():
            if ":" in k or "\r" in k or "\n" in k or not k:
                raise ValueError(f"warc: invalid header name {k!r}")
            if "\r" in str(v) or "\n" in str(v):
                raise ValueError(f"warc: header {k!r} value contains CR/LF")
        block = r.get("block", b"")
        headers["Content-Length"] = str(len(block))
        buf = (
            b"WARC/1.1" + _CRLF
            + b"".join(
                f"{k}: {v}".encode("utf-8") + _CRLF for k, v in headers.items()
            )
            + _CRLF
            + block
            + _CRLF + _CRLF
        )
        if gzip_per_record:
            co = zlib.compressobj(wbits=31)
            buf = co.compress(buf) + co.flush()
        out.append(buf)
    return b"".join(out)


_READ_SCHEMA = (
    "file string, record_idx int, warc_type string, target_uri string, "
    "warc_date string, content_type string, http_status int, payload binary"
)


# output rows per emitted pandas frame: bounds the decoded-rows side of a
# task's memory to one chunk regardless of records-per-file (the raw file
# bytes + one gzip member being the other, fixed, side — module docstring)
_READ_CHUNK_ROWS = 1024

_READ_COLUMNS = [
    "file", "record_idx", "warc_type", "target_uri",
    "warc_date", "content_type", "http_status", "payload",
]


def read_warc(
    spark: SparkSession,
    path: str,
    record_types: tuple[str, ...] | None = None,
    max_member_bytes: int | None = None,
) -> DataFrame:
    """Distributed WARC scan: ``binaryFile`` over the objects →
    Arrow-batched per-file decode, one short row per record (response
    records carry the HTTP body as ``payload`` and its status; other
    record types carry the raw block). No driver-side decode, no collect;
    records decode member-at-a-time and rows flush every
    ``_READ_CHUNK_ROWS``, so task memory never holds a whole expanded
    segment (module docstring's memory contract).

    ``record_types`` pushes the type filter INTO the decoder (r12): a
    real Common Crawl segment interleaves request + response + metadata
    records, so ``record_types=("response",)`` skips ~2/3 of the payload
    bytes BEFORE they cross the Arrow boundary — the decode-side
    equivalent of parquet predicate pushdown (a post-hoc
    ``.filter(warc_type == ...)`` ships every block first). Skipped
    records still count toward ``record_idx`` (it stays the record's
    position IN THE FILE, stable under any filter), and framing of
    skipped records is still fully validated — filtering never weakens
    the fail-loud contract.

    ``max_member_bytes`` (r13): task memory is bounded by ONE
    decompressed gzip member — one record in the splittable
    member-per-record layout, but the WHOLE expanded file in the
    degenerate whole-file-single-member layout (inherent to that
    layout). A deployment that must not absorb that expansion sets the
    cap and gets a loud per-file error instead of an executor OOM;
    None (the default) accepts both layouts."""
    import pandas as pd

    from amazon_climate_data_etl_spark.session import ship_package_to_workers

    ship_package_to_workers(spark)
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.warc*")
        .load(path)
        .select("path", "content")
    )
    wanted = set(record_types) if record_types is not None else None

    def worker(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows: list[tuple] = []
        for pdf in batches:
            for p, c in zip(pdf["path"], pdf["content"]):
                for i, rec in enumerate(iter_warc(bytes(c), max_member_bytes)):
                    if wanted is not None and rec.warc_type not in wanted:
                        continue
                    status, body = None, rec.block
                    if rec.warc_type == "response":
                        status, _, body = http_payload(rec)
                    rows.append(
                        (
                            p,
                            i,
                            rec.warc_type,
                            rec.get("WARC-Target-URI"),
                            rec.get("WARC-Date"),
                            rec.get("Content-Type"),
                            status,
                            body,
                        )
                    )
                    if len(rows) >= _READ_CHUNK_ROWS:
                        yield pd.DataFrame(rows, columns=_READ_COLUMNS)
                        rows = []
        if rows:
            yield pd.DataFrame(rows, columns=_READ_COLUMNS)

    return raw.mapInPandas(worker, schema=_READ_SCHEMA)
