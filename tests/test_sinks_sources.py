"""Coverage for the json bundle source, inspector suite, ledger/purge, and
DD CSV round-trip."""

from __future__ import annotations

import pyspark.sql.functions as F

from ncpi_whistler_spark.operators.inspector import (
    duplicate_identifiers,
    missing_meta_tag,
    module_summary,
    observations_without_code,
    run_inspections,
)
from ncpi_whistler_spark.sinks.ledger import (
    append_ledger,
    purge_order,
    purge_study,
    read_ledger,
)
from ncpi_whistler_spark.sources.dd import DataDictionary
from ncpi_whistler_spark.sources.json_source import parse_bundle_dict, read_bundle_json

BUNDLE = {
    "patient": [
        {
            "resourceType": "Patient",
            "identifier": [{"system": "s", "value": "P1"}],
            "meta": {"tag": [{"code": "STUDY"}]},
        },
        {
            "resourceType": "Patient",
            "identifier": [{"system": "s", "value": "P1"}],
            "meta": {"tag": [{"code": "STUDY"}]},
        },
    ],
    "source_data": [
        {"resourceType": "Observation", "identifier": [{"system": "s", "value": "O1"}]}
    ],
}


def test_parse_bundle_and_inspect(spark):
    res = parse_bundle_dict(spark, BUNDLE)
    assert res.count() == 3
    dups = duplicate_identifiers(res).collect()
    assert len(dups) == 1 and dups[0]["identifier"] == "P1" and dups[0]["n"] == 2
    missing = missing_meta_tag(res).collect()
    assert len(missing) == 1 and missing[0]["resourceType"] == "Observation"
    summary = {
        (r["module"], r["resourceType"]): (r["n"], r["pct"])
        for r in module_summary(res).collect()
    }
    # pct is per-resourceType (reference semantics): both Patients live in
    # the patient module → 100% of the Patient type
    assert summary[("patient", "Patient")] == (2, 100.0)
    checks = run_inspections(res)
    assert checks["duplicate_identifiers"] == 1
    assert checks["observations_without_code"] == 1


def test_run_inspections_counts_each_check_in_one_pass(spark):
    """Planted violations of every kind: the one-pass suite gives exactly
    the counts of the three separate checks."""
    import json

    def res(module, rtype, ident=None, tag=True, code=False):
        body = {"resourceType": rtype}
        if ident is not None:
            body["identifier"] = [{"system": "s", "value": ident}]
        if tag:
            body["meta"] = {"tag": [{"code": "S"}]}
        if code:
            body["code"] = {"text": "c"}
        return (module, rtype, json.dumps(body))

    rows = (
        [res("p", "Patient", "P1")] * 3  # one duplicate, three uses
        + [res("p", "Patient", "P2"), res("s", "Specimen", "P2")]  # other type: no dup
        + [res("s", "Specimen", "S1"), res("s", "Specimen", "S1", tag=False)]
        + [res("p", "Patient"), res("p", "Patient", tag=False)]  # no identifier: no dup
        + [res("o", "Observation", f"O{i}", code=i % 2 == 0) for i in range(5)]
        + [res("o", "Observation", "O9", tag=False)] * 2
        + [res("o", "Observation", tag=False)]
    )
    frame = spark.createDataFrame(
        rows, "module string, resourceType string, resource_json string"
    ).repartition(3)
    want = {
        "duplicate_identifiers": duplicate_identifiers(frame).count(),
        "missing_meta_tag": missing_meta_tag(frame).count(),
        "observations_without_code": observations_without_code(frame).count(),
    }
    assert want == {
        "duplicate_identifiers": 3,
        "missing_meta_tag": 5,
        "observations_without_code": 5,
    }
    assert run_inspections(frame) == want
    assert run_inspections(frame.limit(0)) == dict.fromkeys(want, 0)


def test_read_bundle_json(spark, tmp_path):
    import json

    p = tmp_path / "bundle.json"
    p.write_text(json.dumps(BUNDLE))
    res = read_bundle_json(spark, str(p))
    assert res.count() == 3
    assert set(r["module"] for r in res.collect()) == {"patient", "source_data"}


def test_ledger_and_purge(spark, tmp_path):
    path = str(tmp_path / "ledger")
    ids1 = spark.createDataFrame(
        [("S1", "dev", "Patient", "p1"), ("S1", "dev", "Observation", "o1")],
        "study_id string, host string, resource_type string, fhir_id string",
    )
    append_ledger(spark, path, ids1)
    append_ledger(spark, path, ids1)  # merge-not-overwrite: idempotent
    ledger = read_ledger(spark, path)
    assert ledger.count() == 2

    counts = purge_study(spark, path, "S1", "dev", lambda rt, fid: True, parallelism=1)
    assert counts == {"Observation": 1, "Patient": 1}
    # reverse dependency order: Observation pass runs before Patient
    # (dict preserves the purge sequence)
    assert list(counts) == ["Observation", "Patient"]


def test_purge_order_constant():
    order = purge_order(["Patient", "CodeSystem", "Observation", "CustomThing"])
    assert order.index("Observation") < order.index("Patient")
    assert order.index("CodeSystem") < order.index("Patient")
    assert order[-1] == "CustomThing"


def test_dd_from_json_model():
    model = {
        "name": "anvil-style model",
        "tables": [
            {
                "table": "subject",
                "columns": [
                    {"variable_name": "Subject ID", "data_type": "identifier"},
                    {"variable_name": "Status", "data_type": "enumeration",
                     "enumerations": "a=Active;i=Inactive"},
                ],
            }
        ],
    }
    dd = DataDictionary.from_json_model(model, "subject")
    assert [v.varname for v in dd.variables] == ["subject_id", "status"]
    assert dd.variables[1].enumerations == {"a": "Active", "i": "Inactive"}
    import pytest

    with pytest.raises(KeyError):
        DataDictionary.from_json_model(model, "missing_table")


def test_dd_csv_roundtrip(spark, tmp_path):
    rows = [
        {"variable_name": "Participant ID", "data_type": "identifier"},
        {"variable_name": "Sex", "data_type": "enumeration", "enumerations": "1=Male;2=Female"},
    ]
    dd = DataDictionary.from_rows("participant", rows)
    out = str(tmp_path / "dd.csv")
    dd.to_csv(out)
    dd2 = DataDictionary.from_csv(spark, out, "participant")
    assert [v.varname for v in dd2.variables] == ["participant_id", "sex"]
    assert dd2.variables[1].enumerations == {"1": "Male", "2": "Female"}
    assert dd2.variables[0].data_type == "string"
