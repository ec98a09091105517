"""WARC ingest boundary: round trip, gzip member layouts, fail-loud
malformed input, and the crawl → extract e2e (read_warc feeding
html_boilerplate_extract's generic stage) — the source-boundary test
pattern of test_zarr."""

from __future__ import annotations

import os
import zlib

import pytest

from amazon_climate_data_etl_spark.operators.textops import html_extract_stage
from amazon_climate_data_etl_spark.sources.warc_min import (
    build_warc,
    http_payload,
    parse_warc,
    read_warc,
)


def _http_response(body: bytes, ctype: str = "text/html") -> bytes:
    return (
        b"HTTP/1.1 200 OK\r\nContent-Type: " + ctype.encode()
        + b"\r\nContent-Length: " + str(len(body)).encode()
        + b"\r\n\r\n" + body
    )


def _crawl_records(n: int = 6) -> list[dict]:
    recs = [
        {
            "headers": {
                "WARC-Type": "warcinfo",
                "WARC-Date": "2026-08-16T00:00:00Z",
                "WARC-Record-ID": "<urn:uuid:info>",
                "Content-Type": "application/warc-fields",
            },
            "block": b"software: test-crawler/0.1\r\n",
        }
    ]
    for i in range(n):
        body = (
            f'<div class="nav"><a href="/">home</a></div>\n'
            f"<p>page {i} alpha beta gamma delta epsilon.</p>\n"
            f"<div>(c) crawl</div>"
        ).encode()
        recs.append(
            {
                "headers": {
                    "WARC-Type": "response",
                    "WARC-Target-URI": f"https://example.org/page/{i}",
                    "WARC-Date": "2026-08-16T00:00:01Z",
                    "WARC-Record-ID": f"<urn:uuid:{i}>",
                    "Content-Type": "application/http; msgtype=response",
                },
                "block": _http_response(body),
            }
        )
    return recs


def test_roundtrip_plain_and_gzip_member():
    recs = _crawl_records()
    for gz in (False, True):
        data = build_warc(recs, gzip_per_record=gz)
        parsed = parse_warc(data)
        assert [r.warc_type for r in parsed] == ["warcinfo"] + ["response"] * 6
        assert parsed[0].block == b"software: test-crawler/0.1\r\n"
        for i, r in enumerate(parsed[1:]):
            assert r.get("WARC-Target-URI") == f"https://example.org/page/{i}"
            status, headers, body = http_payload(r)
            assert status == 200
            assert headers["Content-Type"] == "text/html"
            assert f"page {i} ".encode() in body


def test_whole_file_single_gzip_member():
    data = build_warc(_crawl_records(2))
    co = zlib.compressobj(wbits=31)
    gz = co.compress(data) + co.flush()
    assert len(parse_warc(gz)) == 3


@pytest.mark.parametrize(
    "mutate, msg",
    [
        (lambda d: b"WARX/1.0" + d[8:], "bad version line"),
        (lambda d: d.replace(b"Content-Length", b"Content-Lengt h", 1),
         "Content-Length"),
        (lambda d: d[:-6], "truncated|separator"),
        (lambda d: d[:-2], "separator"),
        (lambda d: d + b"garbage", "version line|bad version"),
    ],
)
def test_malformed_fails_loudly(mutate, msg):
    import re

    data = build_warc(_crawl_records(1))
    with pytest.raises(ValueError) as e:
        parse_warc(mutate(data))
    assert re.search(msg, str(e.value)), e.value


def test_truncated_gzip_member_fails_loudly():
    data = build_warc(_crawl_records(1), gzip_per_record=True)
    with pytest.raises(ValueError, match="gzip"):
        parse_warc(data[:-4])


@pytest.mark.parametrize(
    "headers",
    [
        {"X-Bad:Name": "v", "WARC-Type": "resource"},
        {"X-CR\rName": "v", "WARC-Type": "resource"},
        {"X-Custom": "line1\r\nline2", "WARC-Type": "resource"},
        {"X-Custom": "v\n", "WARC-Type": "resource"},
        {"": "v", "WARC-Type": "resource"},
    ],
)
def test_build_warc_rejects_framing_breakers(headers):
    """Fail-loud at WRITE time (r12): a ':' in a name or CR/LF anywhere
    would serialize corrupt framing that only surfaces at parse time."""
    with pytest.raises(ValueError, match="header"):
        build_warc([{"headers": headers, "block": b"x"}])


def test_records_spanning_gzip_members_parse_with_bounded_carry():
    """Some chunked gzip writers flush members mid-record; the
    member-at-a-time decoder carries the unconsumed tail into the next
    member (bounded at one record), so EVERY member split of the same
    uncompressed stream parses to the identical records — including
    splits inside a version line, a header, and a block."""
    data = build_warc(_crawl_records(2))
    want = [(r.headers, r.block) for r in parse_warc(data)]
    for nparts in (2, 3, 7):
        step = max(1, len(data) // nparts)
        out = []
        for i in range(0, len(data), step):
            co = zlib.compressobj(wbits=31)
            out.append(co.compress(data[i : i + step]) + co.flush())
        got = [(r.headers, r.block) for r in parse_warc(b"".join(out))]
        assert got == want, f"split into {nparts} members diverged"


def test_truncated_final_record_across_members_fails_loudly():
    """The carry defers only COMPLETION, never corruption: a stream whose
    final member ends mid-record still raises at end of input."""
    import zlib as _zlib

    data = build_warc(_crawl_records(1))
    co = _zlib.compressobj(wbits=31)
    gz = co.compress(data[: len(data) - 10]) + co.flush()  # drop the tail
    with pytest.raises(ValueError, match="truncated|separator"):
        parse_warc(gz)


def test_distributed_read_and_extract_e2e(spark, tmp_path):
    """The crawl-ingest story end-to-end: N .warc.gz files → distributed
    read_warc scan → response payloads as an html column →
    html_extract_stage — row counts, per-record metadata, and extraction
    values all asserted against the local pure-Python parse of the same
    bytes."""
    import pandas as pd
    from pyspark.sql import functions as F

    paths = []
    for f in range(3):
        recs = _crawl_records(4)
        p = os.path.join(str(tmp_path), f"seg-{f}.warc.gz")
        with open(p, "wb") as fh:
            fh.write(build_warc(recs, gzip_per_record=True))
        paths.append(p)

    df = read_warc(spark, str(tmp_path))
    rows = df.orderBy("file", "record_idx").collect()
    assert len(rows) == 3 * 5  # 1 warcinfo + 4 responses per file
    assert {r.warc_type for r in rows} == {"warcinfo", "response"}
    responses = [r for r in rows if r.warc_type == "response"]
    assert all(r.http_status == 200 for r in responses)
    assert all(r.target_uri.startswith("https://example.org/") for r in responses)

    html = (
        df.filter(F.col("warc_type") == "response")
        .select(
            F.monotonically_increasing_id().alias("doc_id"),
            F.col("payload").cast("string").alias("html"),
        )
    )
    got = html_extract_stage(html).toPandas().drop(columns=["doc_id"])
    got = got.sort_values(list(got.columns)).reset_index(drop=True)

    # local twin: parse the same files pure-Python, run the same stage
    local_html = []
    for p in paths:
        for rec in parse_warc(open(p, "rb").read()):
            if rec.warc_type == "response":
                local_html.append(http_payload(rec)[2].decode())
    twin_df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(local_html)), "html": local_html})
    )
    want = html_extract_stage(twin_df).toPandas().drop(columns=["doc_id"])
    want = want.sort_values(list(want.columns)).reset_index(drop=True)
    assert got.equals(want)
    # the nav/footer boilerplate is dropped, the content line kept
    assert (got["n_kept"] == 1).all() and (got["n_lines"] == 3).all()


def test_wet_conversion_records_flow_through(spark, tmp_path):
    """WET files (Common Crawl's extracted-text sibling) are WARC files
    whose records are type `conversion` with text/plain blocks — the
    reader must surface them with payload == block and no HTTP split."""
    recs = [
        {
            "headers": {
                "WARC-Type": "conversion",
                "WARC-Target-URI": f"https://example.org/page/{i}",
                "WARC-Date": "2026-08-16T00:00:02Z",
                "WARC-Record-ID": f"<urn:uuid:wet{i}>",
                "Content-Type": "text/plain",
            },
            "block": f"extracted text of page {i}\nsecond line".encode(),
        }
        for i in range(4)
    ]
    p = os.path.join(str(tmp_path), "seg.warc.wet.gz")
    with open(p, "wb") as fh:
        fh.write(build_warc(recs, gzip_per_record=True))
    rows = read_warc(spark, str(tmp_path)).orderBy("record_idx").collect()
    assert [r.warc_type for r in rows] == ["conversion"] * 4
    assert all(r.http_status is None for r in rows)
    for i, r in enumerate(rows):
        assert bytes(r.payload) == f"extracted text of page {i}\nsecond line".encode()


def test_garbage_after_gzip_member_fails_loudly():
    data = build_warc(_crawl_records(1), gzip_per_record=True)
    with pytest.raises(ValueError, match="gzip"):
        parse_warc(data + b"not gzip at all")


def test_read_warc_chunked_flush_over_many_records(spark, tmp_path):
    """Exercise the 1024-row output-chunk flush (r12's task-memory
    contract): one segment holding well over _READ_CHUNK_ROWS records
    must surface every record exactly once, in file order, across the
    multiple emitted Arrow batches."""
    from amazon_climate_data_etl_spark.sources.warc_min import _READ_CHUNK_ROWS

    n = _READ_CHUNK_ROWS * 2 + 137  # 3 flushes: 2 full chunks + remainder
    recs = [
        {
            "headers": {
                "WARC-Type": "resource",
                "WARC-Target-URI": f"http://h.example.com/{i}",
            },
            "block": f"payload-{i}".encode(),
        }
        for i in range(n)
    ]
    path = tmp_path / "big.warc.gz"
    path.write_bytes(build_warc(recs, gzip_per_record=True))
    got = (
        read_warc(spark, str(tmp_path))
        .orderBy("record_idx")
        .select("record_idx", "target_uri", "payload")
        .collect()
    )
    assert len(got) == n
    assert [r.record_idx for r in got] == list(range(n))
    assert all(
        bytes(r.payload) == f"payload-{i}".encode() for i, r in enumerate(got)
    )


def test_record_type_pushdown_filters_in_decoder(spark, tmp_path):
    """record_types pushes the filter into the decoder: only the wanted
    types surface, record_idx keeps FILE positions (stable under any
    filter), and framing of skipped records is still validated — a
    corrupt skipped record still fails the read."""
    recs = _crawl_records(3)  # 1 warcinfo + 3 responses
    (tmp_path / "seg.warc.gz").write_bytes(build_warc(recs, gzip_per_record=True))

    got = (
        read_warc(spark, str(tmp_path), record_types=("response",))
        .orderBy("record_idx")
        .collect()
    )
    assert [r.warc_type for r in got] == ["response"] * 3
    assert [r.record_idx for r in got] == [1, 2, 3]  # warcinfo held slot 0

    # corrupt the SKIPPED warcinfo record (before compression — the
    # version line isn't visible in gzip bytes): the filtered read must
    # still fail loudly (filtering never weakens the framing contract)
    plain = build_warc(recs)
    plain = plain.replace(b"WARC/1.1", b"WARC/9.9", 1)  # first record only
    co = zlib.compressobj(wbits=31)
    (tmp_path / "seg.warc.gz").write_bytes(co.compress(plain) + co.flush())

    with pytest.raises(Exception, match="bad version"):
        read_warc(spark, str(tmp_path), record_types=("response",)).collect()


def test_wat_metadata_records_flow_through(spark, tmp_path):
    """WAT files (Common Crawl's metadata sibling) are WARC files whose
    records are type `metadata` with JSON blocks — completing the
    WARC/WET/WAT trio: the reader surfaces them as raw payloads the JSON
    functions consume directly."""
    import json

    from pyspark.sql import functions as F

    recs = [
        {
            "headers": {
                "WARC-Type": "metadata",
                "WARC-Target-URI": f"https://example.org/page/{i}",
                "WARC-Date": "2026-08-16T00:00:03Z",
                "WARC-Record-ID": f"<urn:uuid:wat{i}>",
                "Content-Type": "application/json",
            },
            "block": json.dumps(
                {"Envelope": {"links": i + 1, "lang": "en"}}
            ).encode(),
        }
        for i in range(4)
    ]
    (tmp_path / "x.warc.wat.gz").write_bytes(build_warc(recs, gzip_per_record=True))
    got = (
        read_warc(spark, str(tmp_path), record_types=("metadata",))
        .select(
            "target_uri",
            F.get_json_object(
                F.col("payload").cast("string"), "$.Envelope.links"
            ).cast("int").alias("links"),
        )
        .orderBy("links")
        .collect()
    )
    assert [r.links for r in got] == [1, 2, 3, 4]
    assert all(r.target_uri.startswith("https://example.org/") for r in got)
