"""Sink parity: partitioned by-state CSV (S5), single CSV with BOM (S4)."""

from __future__ import annotations

import glob
import os

import pytest

from amazon_climate_data_etl_spark.sources.sinks import (
    write_partitioned,
    write_single_csv,
)


@pytest.fixture()
def small_df(spark):
    return spark.createDataFrame(
        [("1100015", "AM", 2001, 12.5), ("1500012", "PA", 2001, 9.25),
         ("1100016", "AM", 2002, 3.75)],
        ["CD_MUN", "UF", "year", "pr"],
    )


def test_write_partitioned_by_state(small_df, tmp_path):
    out = str(tmp_path / "by_state")
    write_partitioned(small_df, out, "UF")
    parts = sorted(os.path.basename(p) for p in glob.glob(f"{out}/UF=*"))
    assert parts == ["UF=AM", "UF=PA"]
    am_files = glob.glob(f"{out}/UF=AM/*.csv")
    content = "".join(open(f).read() for f in am_files)
    assert "1100015" in content and "1100016" in content and "1500012" not in content


def test_write_single_csv_bom(small_df, tmp_path):
    path = str(tmp_path / "out.csv")
    write_single_csv(small_df.orderBy("CD_MUN"), path, bom=True)
    raw = open(path, "rb").read()
    assert raw.startswith(b"\xef\xbb\xbf")  # utf-8-sig parity (annual.py:506)
    text = raw.decode("utf-8-sig")
    assert text.splitlines()[0] == "CD_MUN,UF,year,pr"
    assert len(text.splitlines()) == 4


def test_roundtrip_partitioned_read(small_df, tmp_path, spark):
    out = str(tmp_path / "by_state2")
    write_partitioned(small_df, out, "UF")
    back = spark.read.option("header", True).csv(out)
    assert back.count() == 3
    assert set(back.select("UF").distinct().toPandas()["UF"]) == {"AM", "PA"}


def test_snapshot_versioning_roundtrip(spark, tmp_path):
    """Snapshots are immutable + pinned: v1 stays byte-stable after v2 is
    written, latest resolves to the newest COMMITTED manifest, and the
    audit trail records counts/notes in order."""
    from amazon_climate_data_etl_spark.sources.sinks import (
        read_snapshot,
        snapshot_manifests,
        write_snapshot,
    )

    base = str(tmp_path / "snaps")
    df1 = spark.range(0, 10).withColumnRenamed("id", "doc_id")
    assert write_snapshot(df1, base, note="initial") == 1
    df2 = spark.range(0, 25).withColumnRenamed("id", "doc_id")
    assert write_snapshot(df2, base, note="refreshed") == 2

    assert read_snapshot(spark, base, version=1).count() == 10
    assert read_snapshot(spark, base).count() == 25  # latest
    mans = snapshot_manifests(base)
    assert [m["version"] for m in mans] == [1, 2]
    assert [m["n_rows"] for m in mans] == [10, 25]
    assert mans[0]["note"] == "initial"

    # an uncommitted data dir (no manifest) is invisible to readers
    import os

    os.makedirs(os.path.join(base, "v=3"))
    assert read_snapshot(spark, base).count() == 25
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        read_snapshot(spark, base, version=3)


def test_merge_upsert_snapshot_roundtrip(spark, tmp_path):
    """The applied MERGE (curation.apply_merge) agrees row-for-row with
    its own accounting frame (merge_upsert), and write_snapshot
    materializes it as the immutable v=2: inserts/updates carry the
    source text, deletes vanish, keeps are untouched."""
    from amazon_climate_data_etl_spark.operators.curation import (
        _merge_frames,
        apply_merge,
        merge_upsert,
    )
    from amazon_climate_data_etl_spark.sources.sinks import (
        read_snapshot,
        write_snapshot,
    )
    from amazon_climate_data_etl_spark.catalog import load_table

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    target, source = _merge_frames(d)
    audit = {r["doc_id"]: r for r in merge_upsert(target, source).collect()}
    merged = apply_merge(target, source)

    base = str(tmp_path / "corpus")
    assert write_snapshot(target, base, note="v1") == 1
    assert write_snapshot(merged, base, note="post-merge") == 2

    v2 = {r["doc_id"]: r["text"] for r in read_snapshot(spark, base).collect()}
    # the survivor set is exactly the non-delete, non-absent-noop rows
    import pyspark.sql.functions as F

    survivors = {
        i for i, r in audit.items() if r["action"] in ("insert", "update", "noop", "keep")
        and r["result_fp"] is not None
    }
    assert set(v2) == survivors
    # every surviving row's content hash matches the audit's result_fp
    fp = {
        r["doc_id"]: r["fp"]
        for r in merged.select("doc_id", F.md5("text").alias("fp")).collect()
    }
    assert all(fp[i] == audit[i]["result_fp"] for i in survivors)
    # and v1 is untouched by the merge (immutability)
    assert read_snapshot(spark, base, version=1).count() == target.count()


def test_cdc_profile_preserves_predecessors(spark):
    """corpus_cdc_profile (r14 consolidation) must reproduce BOTH
    predecessor registrations row-for-row from its single shared
    fingerprint pass: the 'merge' frame == corpus_merge_upsert
    (doc_id, action, result_fp) and the 'diff' frame ==
    corpus_snapshot_diff (doc_id, change, fp_v1, fp_v2) — the
    value-preservation contract of the merge playbook (the
    embedding_spectrum_profile precedent)."""
    from amazon_climate_data_etl_spark.operators.curation import (
        corpus_cdc_profile,
        corpus_merge_upsert,
        corpus_snapshot_diff,
    )

    sf = "/root/testdata/sf0.001"
    rows = corpus_cdc_profile(spark, sf).collect()
    merge = [
        (r["doc_id"], r["verdict"], r["fp_a"])
        for r in rows
        if r["frame"] == "merge"
    ]
    diff = [
        (r["doc_id"], r["verdict"], r["fp_a"], r["fp_b"])
        for r in rows
        if r["frame"] == "diff"
    ]
    assert all(r["fp_b"] is None for r in rows if r["frame"] == "merge")
    spark.catalog.clearCache()
    want_merge = [
        (r["doc_id"], r["action"], r["result_fp"])
        for r in corpus_merge_upsert(spark, sf).collect()
    ]
    want_diff = [
        (r["doc_id"], r["change"], r["fp_v1"], r["fp_v2"])
        for r in corpus_snapshot_diff(spark, sf).collect()
    ]
    assert merge == want_merge
    assert diff == want_diff
