"""Warehouse fan-out tests (FIXTURES.md F3 golden shape)."""

import os

import pyspark.sql.functions as F
import pytest

from nemsis_xml_parser_spark.operators.flatten import flatten_xml_strings
from nemsis_xml_parser_spark.operators.warehouse import (
    attribute_columns_per_table,
    merge_into_lake,
    orphan_check,
    read_table,
    table_comments,
    table_frame,
    table_names,
    write_warehouse,
)
from nemsis_xml_parser_spark.naming import value_column_name
from tests.conftest import NEMSIS_XML


@pytest.fixture(scope="module")
def elements(spark):
    return flatten_xml_strings(spark, [("fixture.xml", NEMSIS_XML)]).cache()


def test_table_names(elements):
    names = table_names(elements)
    assert "evitals_01" in names
    assert "patientcarereport" in names
    assert "emsdataset" in names


def test_attribute_columns(elements):
    attrs = attribute_columns_per_table(elements)
    assert attrs.get("epatient_15") == ["codetype"]
    assert attrs.get("evitals_06") == ["nv"]
    assert attrs.get("patientcarereport") == ["uuid"]
    assert attrs.get("evitals_01", []) == []


def test_table_frame_shape(elements):
    tf = table_frame(elements, "eVitals_01")
    assert tf.columns == [
        "element_id",
        "parent_element_id",
        "pcr_uuid_context",
        "original_tag_name",
        "evitals_01_value",
    ]
    row = tf.collect()[0]
    assert row["evitals_01_value"] == "2025-02-15T12:15:00-05:00"
    assert row["original_tag_name"] == "eVitals.01"
    assert row["pcr_uuid_context"] == "6e5d2c1a-0000-4000-8000-000000000001"


def test_table_frame_attr_pivot(elements):
    tf = table_frame(elements, "epatient_15")
    assert tf.columns[-1] == "codetype"
    assert tf.collect()[0]["codetype"] == "ICD10"


def test_attr_collision_with_common_dropped(spark):
    # an attribute literally named element_id must not clobber the common
    # column (reference intersection-filter parity, main_ingest.py:479-483)
    xml = '<r><t element_id="boom" other="ok">v</t></r>'
    els = flatten_xml_strings(spark, [("c.xml", xml)])
    attrs = attribute_columns_per_table(els)
    assert attrs["t"] == ["other"]
    tf = table_frame(els, "t", attrs["t"])
    assert "other" in tf.columns
    r = tf.collect()[0]
    assert r["other"] == "ok"
    assert r["element_id"] != "boom"  # generated UUID survived


def test_table_comments(elements):
    comments = table_comments(elements)
    assert comments["evitals_01"].endswith("eVitals/eVitals_VitalGroup/eVitals_01")


def test_write_warehouse_partitioned_single_pass(elements, spark, tmp_path):
    """Default layout: one partitionBy(table_name) write; read_table
    projects the reference's pivoted shape through a pruned scan."""
    lake = str(tmp_path / "lake")
    registry = write_warehouse(elements, lake)
    assert "evitals_01" in registry
    dirs = sorted(
        d.split("=", 1)[1] for d in os.listdir(lake) if d.startswith("table_name=")
    )
    assert dirs == sorted(registry.keys())
    tf = read_table(spark, lake, "eVitals_01")
    assert tf.columns == registry["evitals_01"]
    row = tf.collect()[0]
    assert row["evitals_01_value"] == "2025-02-15T12:15:00-05:00"
    assert row["original_tag_name"] == "eVitals.01"
    # attr pivot through read_table matches table_frame's
    pat = read_table(spark, lake, "epatient_15")
    assert pat.columns[-1] == "codetype"
    assert pat.collect()[0]["codetype"] == "ICD10"
    # the table_name filter must reach the scan as a partition filter
    plan = pat._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    child = read_table(spark, lake, "evitals_vitalgroup")
    parent = read_table(spark, lake, "evitals")
    assert orphan_check(child, parent).count() == 0


def test_merge_into_empty_lake_orphan_check(elements, spark, tmp_path):
    """Into an empty lake the merge writes one pivoted directory per tag;
    the lake-side FK check holds on it."""
    lake = str(tmp_path / "lake")
    tables = merge_into_lake(spark, elements, lake)
    assert "evitals_01" in tables
    assert sorted(os.listdir(lake)) == tables == table_names(elements)
    child = spark.read.parquet(os.path.join(lake, "evitals_vitalgroup"))
    parent = spark.read.parquet(os.path.join(lake, "evitals"))
    assert orphan_check(child, parent).count() == 0
    # negative: against the wrong parent table, everything is an orphan
    wrong = spark.read.parquet(os.path.join(lake, "erecord"))
    assert orphan_check(child, wrong).count() == child.count()


def _lake_rows(spark, lake):
    """(table, pcr_uuid_context, value) of every row in the lake."""
    out = []
    for t in sorted(os.listdir(lake)):
        df = spark.read.parquet(os.path.join(lake, t))
        out += [(t, r["pcr_uuid_context"], r[value_column_name(t)]) for r in df.collect()]
    return out


def test_merge_same_keys_replaces_and_nulls_duplicate(elements, spark, tmp_path):
    """Merging one batch twice: keyed rows are replaced, not duplicated;
    NULL-keyed rows duplicate — faithful to the reference, whose
    delete-by-UUID can't target them (main_ingest.py:312-316); the
    pipeline's MD5 skip (D5) covers the identical-file case instead."""
    lake = str(tmp_path / "lake")
    merge_into_lake(spark, elements, lake)
    once = _lake_rows(spark, lake)
    merge_into_lake(spark, elements, lake)
    twice = _lake_rows(spark, lake)
    assert sorted(r for r in twice if r[1] is not None) == sorted(
        r for r in once if r[1] is not None
    )
    once_null = sorted(r for r in once if r[1] is None)
    assert once_null
    assert sorted(r for r in twice if r[1] is None) == sorted(once_null * 2)


def test_merge_keeps_other_keys_and_nulls(spark, tmp_path):
    xml_a = '<r><PatientCareReport UUID="A"><x>1</x></PatientCareReport><keep>y</keep></r>'
    xml_b = '<r><PatientCareReport UUID="A"><x>2</x></PatientCareReport></r>'
    xml_c = '<r><PatientCareReport UUID="C"><x>3</x></PatientCareReport></r>'
    lake = str(tmp_path / "lake")
    existing = flatten_xml_strings(spark, [("a.xml", xml_a), ("c.xml", xml_c)])
    merge_into_lake(spark, existing, lake)
    merge_into_lake(spark, flatten_xml_strings(spark, [("b.xml", xml_b)]), lake)
    rows = _lake_rows(spark, lake)
    assert sorted(r[1:] for r in rows if r[0] == "x") == [("A", "2"), ("C", "3")]
    # NULL-keyed rows (outside any report) always survive
    assert [r for r in rows if r[0] == "keep"] == [("keep", None, "y")]


def test_tag_collision_merges_tables(spark):
    # two raw tags that sanitize identically merge (reference behavior,
    # SURVEY §7.4.1: replicate, don't fix)
    xml = "<r><a.b>1</a.b><a_b>2</a_b></r>"
    els = flatten_xml_strings(spark, [("m.xml", xml)])
    tf = table_frame(els, "a_b")
    assert tf.count() == 2
