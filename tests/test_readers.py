"""The driver-side harmony and DD CSV reader: RFC 4180 quoting, a UTF-8
BOM, empty fields, first-wins dedupe, and no Spark job before the lookup
runs."""

from __future__ import annotations

import pytest

from ncpi_whistler_spark.operators.harmonize import harmonize
from ncpi_whistler_spark.sources.dd import DataDictionary
from ncpi_whistler_spark.sources.harmony import (
    ConceptMap,
    read_code_details,
    whistle_harmony_obj,
)

HEADER = "local code,text,local code system,code,display,code system"


def test_dd_quoted_newline_enumerations_and_doubled_quotes(spark, tmp_path):
    dd_csv = tmp_path / "dd.csv"
    dd_csv.write_text(
        "variable_name,description,data_type,enumerations\n"
        'sex,Sex,enumeration,"F=Female\nM=Male"\n'
        'age,"Age ""years""",int,\n'
    )
    dd = DataDictionary.from_csv(spark, str(dd_csv), "participant")
    by_name = {v.varname: v for v in dd.variables}
    assert list(by_name) == ["sex", "age"]
    assert by_name["sex"].enumerations == {"F": "Female", "M": "Male"}
    assert by_name["age"].description == 'Age "years"'


def test_bom_prefixed_headers_resolve(spark, tmp_path):
    dd_csv = tmp_path / "dd.csv"
    dd_csv.write_bytes(b"\xef\xbb\xbfvariable_name,data_type\nsubject_id,string\n")
    dd = DataDictionary.from_csv(spark, str(dd_csv), "participant")
    assert [v.varname for v in dd.variables] == ["subject_id"]

    harmony = tmp_path / "harmony.csv"
    harmony.write_bytes(b"\xef\xbb\xbf" + f"{HEADER}\n1,Male,sex,male,Male,http://g\n".encode())
    assert read_code_details(str(harmony)) == {"1": "Male"}
    (row,) = ConceptMap.from_csv(spark, str(harmony))._collected()
    assert (row["local_code"], row["code"]) == ("1", "male")


def test_doubled_quotes_read_alike_in_conceptmap_and_code_details(spark, tmp_path):
    harmony = tmp_path / "harmony.csv"
    harmony.write_text(f'{HEADER}\nhi,Hi,greeting,h,"say ""hi""",http://g\n')
    (row,) = ConceptMap.from_csv(spark, str(harmony))._collected()
    assert row["display"] == 'say "hi"'
    assert read_code_details(str(harmony)) == {"hi": 'say "hi"'}


def test_empty_fields(spark, tmp_path):
    harmony = tmp_path / "harmony.csv"
    harmony.write_text(f"{HEADER},table_name\n1,,sex,,,http://g,\n")
    (row,) = ConceptMap.from_csv(spark, str(harmony))._collected()
    # the Spark CSV reader's nulls: FHIR output omits these fields
    assert (row["text"], row["code"], row["display"]) == (None, None, None)
    assert (row["table_name"], row["parent_varname"]) == ("", "")
    assert read_code_details(str(harmony)) == {"1": ""}


def test_first_row_in_file_order_wins(spark, tmp_path):
    harmony = tmp_path / "harmony.csv"
    harmony.write_text(
        f"{HEADER}\n"
        "1,Male,sex,male,First,http://g\n"
        "1,Male,sex,male,Second,http://g\n"
        "1,Male,sex,M,Other,http://g\n"
    )
    rows = ConceptMap.from_csv(spark, str(harmony))._collected()
    assert [(r["code"], r["display"]) for r in rows] == [("male", "First"), ("M", "Other")]


def test_missing_columns_raise(spark, tmp_path):
    harmony = tmp_path / "harmony.csv"
    harmony.write_text("local code,text\n1,Male\n")
    with pytest.raises(ValueError, match="missing required columns"):
        ConceptMap.from_csv(spark, str(harmony))
    # like the reference's line['table_name']: no empty object
    no_table = tmp_path / "no_table.csv"
    no_table.write_text(f"{HEADER}\n1,Male,sex,male,Male,http://g\n")
    with pytest.raises(ValueError, match="table_name"):
        whistle_harmony_obj(str(no_table))


def test_harmonize_over_a_csv_map_runs_at_most_two_jobs(spark, tmp_path):
    harmony = tmp_path / "harmony.csv"
    harmony.write_text(
        f"{HEADER}\n"
        "1,Male,sex,male,Male,http://g\n"
        "2,Female,sex,female,Female,http://g\n"
        "1,Male,sex,M,M,http://v2\n"
    )
    df = spark.createDataFrame([("P1", "1"), ("P2", "3")], "pid string, sex string")
    sc = spark.sparkContext
    group = "test-readers-harmonize-jobs"
    sc.setJobGroup(group, "harmonize over a 3-row CSV map")
    try:
        cm = ConceptMap.from_csv(spark, str(harmony))
        got = {r["pid"]: r["codings"] for r in harmonize(df, "sex", "sex", cm).collect()}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert [c["code"] for c in got["P1"]] == ["1", "M", "male"]
    assert got["P2"] == []
    # the broadcast of the map row and the collect
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 2
