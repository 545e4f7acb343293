"""End-to-end EP1 pipeline (SURVEY G3): files → warehouse → bookkeeping →
archive/error routing → md5-skip idempotency."""

import os

import pyspark.sql.functions as F
import pytest

from nemsis_xml_parser_spark.operators.bookkeeping import (
    file_md5,
    ingest_xml_files,
    read_files_processed,
)
from nemsis_xml_parser_spark.schema import STATUS_ERROR_PARSE, STATUS_OK
from tests.conftest import NEMSIS_XML


def _write(tmp_path, name, content):
    p = tmp_path / name
    p.write_text(content)
    return str(p)


def test_end_to_end_ingest(spark, tmp_path):
    wh = str(tmp_path / "wh")
    archive = str(tmp_path / "archive")
    errors = str(tmp_path / "errors")
    good = _write(tmp_path, "good.xml", NEMSIS_XML)
    bad = _write(tmp_path, "bad.xml", "<open><unclosed>")

    statuses = ingest_xml_files(
        spark, [good, bad], wh, archive_dir=archive, error_dir=errors,
        deterministic_ids=True,
    )
    assert statuses[good] == STATUS_OK
    assert statuses[bad] == STATUS_ERROR_PARSE

    # warehouse tables exist with the golden shape
    v = spark.read.parquet(os.path.join(wh, "evitals_01"))
    assert v.count() == 1
    assert "evitals_01_value" in v.columns

    # bookkeeping log has both rows with md5s
    log = read_files_processed(spark, wh)
    recs = {r["original_file_name"]: r for r in log.collect()}
    assert recs["good.xml"]["status"] == STATUS_OK
    assert recs["bad.xml"]["status"] == STATUS_ERROR_PARSE
    assert recs["good.xml"]["md5_hash"] is not None

    # routing: good archived, bad moved to errors
    assert os.listdir(archive) == ["good.xml"]
    assert os.listdir(errors) == ["bad.xml"]


def test_reingest_md5_skip_and_overwrite(spark, tmp_path):
    wh = str(tmp_path / "wh")
    f1 = _write(tmp_path, "r1.xml", NEMSIS_XML)
    ingest_xml_files(spark, [f1], wh, deterministic_ids=True)
    before = spark.read.parquet(os.path.join(wh, "erecord_01")).count()

    # identical content again → skipped by md5 (file still present: no archive_dir)
    statuses = ingest_xml_files(spark, [f1], wh, deterministic_ids=True)
    assert statuses[f1] == "Skipped_MD5_Seen"

    # changed content, same PCR UUID → overwrite replaces those rows
    changed = NEMSIS_XML.replace("rec-1", "rec-1-v2")
    f2 = _write(tmp_path, "r2.xml", changed)
    statuses = ingest_xml_files(spark, [f2], wh, deterministic_ids=True)
    assert statuses[f2] == STATUS_OK
    after = spark.read.parquet(os.path.join(wh, "erecord_01"))
    assert after.count() == before
    vals = {r["erecord_01_value"] for r in after.collect()}
    assert vals == {"rec-1-v2", "rec-2"}


def test_md5_matches_hashlib(tmp_path):
    p = _write(tmp_path, "x.bin", "hello world")
    import hashlib

    assert file_md5(str(p)) == hashlib.md5(b"hello world").hexdigest()


def test_crashed_staging_dir_not_treated_as_table(spark, tmp_path):
    """A '{table}__staging' directory left by a crash between staging write
    and rename must be cleaned up, not merged as a real dynamic table."""
    from nemsis_xml_parser_spark.catalog import list_table_dirs

    wh = str(tmp_path / "wh")
    good = _write(tmp_path, "good.xml", NEMSIS_XML)
    ingest_xml_files(spark, [good], wh, deterministic_ids=True)

    # simulate a crash leftover
    stale = os.path.join(wh, "evitals_01__staging")
    os.makedirs(stale)
    spark.range(1).write.mode("overwrite").parquet(stale)
    stale_mig = os.path.join(wh, "header__migrating")
    spark.range(1).write.mode("overwrite").parquet(stale_mig)

    assert "evitals_01__staging" not in list_table_dirs(wh)
    assert "header__migrating" not in list_table_dirs(wh)

    good2 = _write(tmp_path, "good2.xml", NEMSIS_XML.replace(
        "6e5d2c1a-0000-4000-8000-000000000001",
        "6e5d2c1a-0000-4000-8000-00000000000a",
    ))
    statuses = ingest_xml_files(spark, [good2], wh, deterministic_ids=True)
    assert statuses[good2] == STATUS_OK
    # scratch dirs were cleaned on ingest, and no table named after them exists
    assert not os.path.exists(stale)
    assert not os.path.exists(stale_mig)
    v = spark.read.parquet(os.path.join(wh, "evitals_01"))
    assert v.count() == 2


def test_crash_between_swap_steps_rolls_staging_forward(
    spark, tmp_path, monkeypatch
):
    """A crash after the old table directory is removed and before its
    '{table}__staging' rewrite is renamed into place leaves the staging
    directory as the table's only copy: the next ingest must roll it
    forward, not delete it with every other PCR's rows."""
    wh = str(tmp_path / "wh")
    d1 = _write(tmp_path, "d1.xml", _delivery("AG-1", [("A", "rec-a", None), ("B", "rec-b", None)]))
    ingest_xml_files(spark, [d1], wh, deterministic_ids=True)
    # delivery 2 revises PCR A only; PCR B's rows must outlive the crash
    d2 = _write(tmp_path, "d2.xml", _delivery("AG-1", [("A", "rec-a-v2", None)]))

    real_rename = os.rename

    def crash_on_erecord_swap(src, dst):
        if os.path.basename(dst) == "erecord_01":
            raise OSError("simulated crash between rmtree and rename")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", crash_on_erecord_swap)
    with pytest.raises(OSError, match="simulated crash"):
        ingest_xml_files(spark, [d2], wh, deterministic_ids=True)
    monkeypatch.undo()
    assert not os.path.exists(os.path.join(wh, "erecord_01"))
    assert os.path.isdir(os.path.join(wh, "erecord_01__staging"))

    # the crashed batch was never logged, so it is retried
    assert ingest_xml_files(spark, [d2], wh, deterministic_ids=True)[d2] == STATUS_OK
    rows = spark.read.parquet(os.path.join(wh, "erecord_01")).collect()
    assert sorted((r["pcr_uuid_context"], r["erecord_01_value"]) for r in rows) == [
        ("A", "rec-a-v2"),
        ("B", "rec-b"),
    ]
    assert not os.path.exists(os.path.join(wh, "erecord_01__staging"))


def test_each_file_hashed_once(spark, tmp_path, monkeypatch):
    """files_to_process hands its digests to the log records, so each
    file's MD5 is computed once per ingest — parsed, failed and skipped."""
    import nemsis_xml_parser_spark.operators.bookkeeping as B

    calls = []
    real_md5 = B.file_md5

    def counting_md5(path, *args, **kwargs):
        calls.append(path)
        return real_md5(path, *args, **kwargs)

    monkeypatch.setattr(B, "file_md5", counting_md5)
    wh = str(tmp_path / "wh")
    good = _write(tmp_path, "good.xml", NEMSIS_XML)
    bad = _write(tmp_path, "bad.xml", "<open><unclosed>")
    ingest_xml_files(spark, [good, bad], wh, deterministic_ids=True)
    assert sorted(calls) == sorted([good, bad])

    calls.clear()
    statuses = ingest_xml_files(spark, [good], wh, deterministic_ids=True)
    assert statuses[good] == "Skipped_MD5_Seen"
    assert calls == [good]
    # the logged digest is the real one
    log = {r["original_file_name"]: r["md5_hash"] for r in read_files_processed(spark, wh).collect()}
    assert log["good.xml"] == real_md5(good)


def _delivery(agency, pcrs):
    """A NEMSIS-shaped delivery: a NULL-keyed envelope (Header /
    DemographicGroup) around ``pcrs`` = [(uuid, record, injury or None)]."""
    reports = "".join(
        f'<PatientCareReport UUID="{u}"><eRecord><eRecord.01>{rec}</eRecord.01></eRecord>'
        + (f"<eInjury><eInjury.01>{inj}</eInjury.01></eInjury>" if inj else "")
        + "</PatientCareReport>"
        for u, rec, inj in pcrs
    )
    return (
        '<EMSDataSet xmlns="http://www.nemsis.org"><Header><DemographicGroup>'
        f"<dAgency.01>{agency}</dAgency.01></DemographicGroup>{reports}"
        "</Header></EMSDataSet>"
    )


def _land_with_batch(spark, tmp_path, deliveries):
    wh = str(tmp_path / "wh")
    for i, xml in enumerate(deliveries):
        path = _write(tmp_path, f"d{i}.xml", xml)
        assert ingest_xml_files(spark, [path], wh, deterministic_ids=True)[path] == STATUS_OK
    return wh


def _land_with_stream(spark, tmp_path, deliveries):
    from nemsis_xml_parser_spark.streaming.ingest import start_warehouse_stream

    wh, ckpt, watch = str(tmp_path / "wh"), str(tmp_path / "ckpt"), tmp_path / "drop"
    watch.mkdir()
    for i, xml in enumerate(deliveries):
        (watch / f"d{i}.xml").write_text(xml)
        q = start_warehouse_stream(spark, str(watch), wh, ckpt, deterministic_ids=True)
        q.awaitTermination(120)
        assert q.exception() is None
    return wh


@pytest.mark.parametrize("land", [_land_with_batch, _land_with_stream],
                         ids=["ingest_xml_files", "start_warehouse_stream"])
def test_revised_pcr_dropping_a_section_leaves_every_table(spark, tmp_path, land):
    """The PCR-scoped merge contract, through both ingest entry points: a
    revised PCR whose new version has no eInjury section leaves the eInjury
    tables although the batch carries none; other PCRs' rows and the
    NULL-keyed envelope rows stay."""
    wh = land(spark, tmp_path, [
        _delivery("AG-1", [("A", "rec-a", "fall"), ("B", "rec-b", "burn")]),
        _delivery("AG-2", [("A", "rec-a-v2", None)]),
    ])

    def rows(table, col):
        df = spark.read.parquet(os.path.join(wh, table))
        return sorted((r["pcr_uuid_context"], r[col]) for r in df.collect())

    assert rows("einjury_01", "einjury_01_value") == [("B", "burn")]
    assert [r[0] for r in rows("einjury", "einjury_value")] == ["B"]
    assert rows("erecord_01", "erecord_01_value") == [("A", "rec-a-v2"), ("B", "rec-b")]
    assert rows("dagency_01", "dagency_01_value") == [(None, "AG-1"), (None, "AG-2")]
