"""G4/G5/G6 generators, builddd inference, igload sources, and the
remaining harmonize wrappers."""

from __future__ import annotations

import json
import zipfile

import pyspark.sql.functions as F

from ncpi_whistler_spark.functions.harmonize import (
    ethnicity_extension,
    extract_official_identifier,
    race_extension,
)
from ncpi_whistler_spark.operators.harmonize import harmonize
from ncpi_whistler_spark.operators.profiling import profile_columns
from ncpi_whistler_spark.plans.config import StudyConfig
from ncpi_whistler_spark.plans.resources import (
    dd_from_profile,
    dd_observation_definitions,
    dd_valuesets,
    harmony_skeleton,
)
from ncpi_whistler_spark.sources.dd import DataDictionary
from ncpi_whistler_spark.sources.harmony import ConceptMap
from ncpi_whistler_spark.sources.igload import load_ig_files, load_ig_zip

STUDY = StudyConfig(study_id="S", identifier_prefix="https://x.org/s")

DD = DataDictionary.from_rows(
    "visits",
    [
        {"variable_name": "Visit ID", "data_type": "identifier"},
        {"variable_name": "Status", "data_type": "enumeration", "enumerations": "a=Active;d=Done"},
        {"variable_name": "BMI", "data_type": "number", "min": "10", "max": "80", "units": "kg/m2"},
        {"variable_name": "OK", "data_type": "enumeration", "enumerations": "yes;no"},
    ],
)


def test_observation_definitions(spark):
    od = dd_observation_definitions(spark, {"visits": DD}, STUDY)
    rows = {r["identifier_value"]: r for r in od.collect()}
    bmi = rows["S.visits.bmi"]
    assert bmi["permittedDataType"] == ["Quantity"]
    assert bmi["quantitativeDetails"]["unit"] == "kg/m2"
    assert bmi["qualifiedInterval"]["range"]["low"] == 10.0
    status = rows["S.visits.status"]
    assert status["permittedDataType"] == ["CodeableConcept"]
    assert status["validCodedValueSet"] == "ValueSet/visits-status"


def test_valuesets(spark):
    vs = dd_valuesets(spark, {"visits": DD}, STUDY)
    rows = {r["name"]: r for r in vs.collect()}
    inc = rows["visits_status"]["compose"]["include"][0]
    assert inc["system"].endswith("/visits/status")
    assert {c["code"]: c["display"] for c in inc["concept"]} == {"a": "Active", "d": "Done"}
    assert rows["visits_status"]["url"].count("/ValueSet/") == 1


def test_harmony_skeleton():
    rows = harmony_skeleton({"visits": DD})
    codes = {(r["local code system"], r["local code"]) for r in rows}
    assert ("status", "a") in codes
    # yes/no values skipped (wstlr/harmony.py:77-123)
    assert not any(r["local code"] in ("yes", "no") for r in rows)


def test_dd_from_profile(spark):
    df = spark.createDataFrame(
        [("a", 1.5, "x"), ("b", 2.5, "y"), ("c", 3.5, "x")] * 30,
        "cat string, num double, flag string",
    )
    prof = [r.asDict() for r in profile_columns(df).collect()]
    dd = dd_from_profile(prof, "t")
    types = {v.varname: v.data_type for v in dd.variables}
    assert types["num"] == "number"
    assert types["cat"] == "enumeration"
    assert types["flag"] == "enumeration"


def test_igload_zip_and_files(spark, tmp_path):
    cs = {"resourceType": "CodeSystem", "url": "http://x/cs"}
    bundle = {
        "resourceType": "Bundle",
        "entry": [{"resource": {"resourceType": "ValueSet", "url": "http://x/vs"}}],
    }
    zp = tmp_path / "defs.zip"
    with zipfile.ZipFile(zp, "w") as z:
        z.writestr("cs.json", json.dumps(cs))
        z.writestr("bundle.json", json.dumps(bundle))
        z.writestr("excluded-thing.json", json.dumps(cs))
    df = load_ig_zip(spark, str(zp), exclusions=["excluded"])
    assert sorted(r["resourceType"] for r in df.collect()) == ["CodeSystem", "ValueSet"]

    (tmp_path / "one.json").write_text(json.dumps(cs))
    df2 = load_ig_files(spark, [str(tmp_path / "one.json")])
    assert df2.count() == 1


def test_explode_for_table_type(spark):
    from ncpi_whistler_spark.operators.nest import embed, group_to_nested
    from ncpi_whistler_spark.plans.resources import explode_for_table_type

    df = spark.createDataFrame(
        [("g1", "a", 1), ("g1", "b", 2), ("g2", "c", 3)], "k string, v string, n long"
    )
    flat = explode_for_table_type(group_to_nested(df, "k"), "grouped")
    assert sorted((r["k"], r["v"]) for r in flat.collect()) == [
        ("g1", "a"), ("g1", "b"), ("g2", "c"),
    ]

    parent = spark.createDataFrame([("p1",), ("p2",)], "pid string")
    child = spark.createDataFrame([("p1", "x")], "pid string, c string")
    emb = embed(parent, child, "pid", "kids", tag_table_name=False)
    flat2 = explode_for_table_type(emb, "embedded", nested_col="kids")
    assert [(r["pid"], r["c"]) for r in flat2.collect()] == [("p1", "x")]


def test_race_ethnicity_extensions(spark):
    cm = ConceptMap.from_rows(
        spark,
        [("White", "White", "race", "2106-3", "White", "urn:oid:2.16")],
    )
    df = spark.createDataFrame(
        [("P1", "White"), ("P2", "NA"), ("P3", "Other")], "pid string, race string"
    )
    h = harmonize(df, "race", "race", cm)
    out = {
        r["pid"]: r
        for r in h.select(
            "pid",
            race_extension("codings", "race").alias("race_ext"),
            ethnicity_extension("codings", "race").alias("eth_ext"),
        ).collect()
    }
    assert out["P1"]["race_ext"]["ombCategory"]["code"] == "2106-3"
    assert out["P1"]["race_ext"]["text"] == "White"
    assert out["P2"]["race_ext"] is None  # NA guard
    assert out["P3"]["race_ext"]["ombCategory"] is None  # fallback text-only
    assert out["P3"]["race_ext"]["text"] == "Other"


def test_extract_official_identifier(spark):
    df = spark.createDataFrame(
        [
            (
                [
                    {"system": "http://other/x", "value": "v1", "use": "official"},
                    {"system": "https://x.org/s/patient", "value": "v2", "use": None},
                ],
            )
        ],
        "identifier array<struct<system:string,value:string,use:string>>",
    )
    row = df.select(
        extract_official_identifier("identifier", "^https://x.org/s").alias("a"),
        extract_official_identifier("identifier", "^nomatch", has_use_field=True).alias("b"),
    ).collect()[0]
    assert row["a"]["value"] == "v2"  # prefix match wins
    assert row["b"]["value"] == "v1"  # falls back to use=official


def test_dd_activity_definitions(spark):
    """G4 table half: one ActivityDefinition per table with the reference
    shape (StudyMeta tag, -vars name, UMLS Research topic, one
    observationResultRequirement per variable)."""
    from ncpi_whistler_spark.plans.resources import dd_activity_definitions

    rows = {
        r["name"]: r
        for r in dd_activity_definitions(spark, {"visits": DD}, STUDY).collect()
    }
    r = rows["S.visits-vars"]
    assert r["resourceType"] == "ActivityDefinition"
    assert r["meta"]["tag"][0]["code"] == "S"
    assert r["topic"][0]["coding"][0]["code"] == "C0035168"
    assert "/ActivityDefinition/" in r["url"]
    want = {f"S.visits.{v.varname}" for v in DD.variables}
    got = {o["identifier"]["value"] for o in r["observationResultRequirement"]}
    assert got == want


def test_questionnaires(spark):
    """G2 table half: Questionnaire per table — choice items carry the
    variable ValueSet, numeric/string map to integer/decimal/string, and
    every QuestionnaireResponse's link matches the canonical URL."""
    from ncpi_whistler_spark.plans.resources import questionnaire_url, questionnaires

    q = {r["name"]: r for r in questionnaires(spark, {"visits": DD}, STUDY).collect()}
    r = q["visits"]
    assert r["resourceType"] == "Questionnaire"
    assert r["meta"]["tag"][0]["code"] == "S"
    assert r["url"] == questionnaire_url(STUDY, "visits")
    assert r["code"][0]["code"] == "74468-0"
    items = {i["linkId"]: i for i in r["item"]}
    assert items["status"]["type"] == "choice"
    assert items["status"]["answerValueSet"].count("/ValueSet/") == 1
    assert items["bmi"]["type"] == "decimal"
    assert items["bmi"]["answerValueSet"] is None


def test_harmony_valuesets(spark):
    """G5 valueset half: sources grouped per (local system, table) with
    constructed CodeSystem urls; targets grouped per ontology system."""
    from ncpi_whistler_spark.plans.resources import harmony_valuesets

    cm = ConceptMap.from_rows(
        spark,
        [
            ("1", "Male", "sex", "male", "Male", "http://hl7.org/fhir/administrative-gender"),
            ("1", "Male", "sex", "M", "MaleV2", "http://terminology.hl7.org/v2"),
            ("2", "Female", "sex", "female", "Female", "http://hl7.org/fhir/administrative-gender"),
        ],
    )
    rows = {r["name"]: r for r in harmony_valuesets(spark, cm, STUDY).collect()}
    src = rows["S.concept-map-vs.sources"]
    assert src["meta"]["tag"][0]["code"] == "S"
    assert src["identifier"][0]["value"] == "S.cm-valueset.sources"
    inc = src["compose"]["include"]
    assert len(inc) == 1 and inc[0]["system"].endswith("/sex")
    assert {c["code"]: c["display"] for c in inc[0]["concept"]} == {"1": "Male", "2": "Female"}
    tgt = rows["S.concept-map-vs.targets"]
    by_sys = {i["system"]: i for i in tgt["compose"]["include"]}
    assert {c["code"] for c in by_sys["http://hl7.org/fhir/administrative-gender"]["concept"]} == {"male", "female"}
    assert {c["code"] for c in by_sys["http://terminology.hl7.org/v2"]["concept"]} == {"M"}


def test_harmony_conceptmap_resource(spark, tmp_path):
    """G5 ConceptMap half on a reference-style harmony CSV (with
    table_name): one resource with the StudyMeta tag
    (wlib_dd_conceptmap.wstl:72), constructed source urls, group[] per
    (source, target system), element[]/target[] sorted by code,
    equivalent targets, and the empty-table gate."""
    from ncpi_whistler_spark.plans.resources import harmony_conceptmap

    harmony = tmp_path / "harmony.csv"
    harmony.write_text(
        "local code,text,local code system,code,display,code system,table_name,parent_varname\n"
        "2,Female,sex,female,Female,http://hl7.org/fhir/administrative-gender,participant,sex\n"
        "1,Male,sex,male,Male,http://hl7.org/fhir/administrative-gender,participant,sex\n"
        "1,Male,sex,M,MaleV2,http://terminology.hl7.org/v2,participant,sex\n"
        "1,Male,sex,1,Male1,http://terminology.hl7.org/v2,participant,sex\n"
        "x,Skipped,other,y,Y,http://z,,\n"
    )
    cm = ConceptMap.from_csv(spark, str(harmony))
    rows = harmony_conceptmap(spark, cm, STUDY).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["resourceType"] == "ConceptMap"
    assert r["meta"]["tag"][0]["code"] == "S"
    assert r["identifier"]["value"] == "S.concept-map"
    assert r["sourceUri"].endswith("/S/sources")
    groups = {(grp["source"], grp["target"]): grp for grp in r["group"]}
    # the empty-table_name row is excluded (ObjectifyHarmony gate)
    assert len(groups) == 2
    assert not any("other" in s for s, _ in groups)
    by_target = {t: grp for (_, t), grp in groups.items()}
    gender = by_target["http://hl7.org/fhir/administrative-gender"]
    assert "/participant/sex" in gender["source"]
    els = {e["code"]: e for e in gender["element"]}
    assert [e["code"] for e in gender["element"]] == ["1", "2"]
    assert {c: [t["code"] for t in e["target"]] for c, e in els.items()} == {
        "1": ["male"],
        "2": ["female"],
    }
    assert els["1"]["display"] == "Male"
    assert els["1"]["target"][0]["equivalence"] == "equivalent"
    v2 = by_target["http://terminology.hl7.org/v2"]
    assert [e["code"] for e in v2["element"]] == ["1"]
    assert [t["code"] for t in v2["element"][0]["target"]] == ["1", "M"]


def test_harmony_vocabulary_ignores_literal_map_cap(spark, tmp_path, monkeypatch):
    """The harmony ConceptMap and ValueSets carry every row whether or not
    the map is small enough for harmonize's literal create_map: building
    the same CSV with MAX_DRIVER_ROWS below its row count gives equal
    resources, while harmonize switches to the broadcast join."""
    from ncpi_whistler_spark.plans.resources import (
        harmony_conceptmap,
        harmony_valuesets,
    )

    harmony = tmp_path / "harmony.csv"
    lines = [
        "local code,text,local code system,code,display,code system,table_name,parent_varname"
    ]
    for var in ("sex", "race", "status"):
        for i in range(4):
            lines.append(f"{i},T{i},{var},{var}{i},D{i},http://t/{var},participant,{var}")
            lines.append(f"{i},T{i},{var},x{i},X{i},http://x,participant,{var}")
    lines.append("u,Untabled,other,u,U,http://u,,")
    harmony.write_text("\n".join(lines) + "\n")

    def build():
        cm = ConceptMap.from_csv(spark, str(harmony))
        return (
            cm,
            harmony_conceptmap(spark, cm, STUDY).collect(),
            harmony_valuesets(spark, cm, STUDY).collect(),
        )

    small, cm_rows, vs_rows = build()
    assert small.codings_lookup("sex") is not None
    monkeypatch.setattr(ConceptMap, "MAX_DRIVER_ROWS", 5)
    large, cm_capped, vs_capped = build()
    assert large.codings_lookup("sex") is None
    assert cm_capped == cm_rows and vs_capped == vs_rows
    assert len(large._collected()) == 25
    groups = cm_capped[0]["group"]
    assert len(groups) == 6
    assert sum(len(e["target"]) for g in groups for e in g["element"]) == 24
    by_name = {r["name"]: r for r in vs_capped}
    sources = by_name["S.concept-map-vs.sources"]["compose"]["include"]
    assert sorted(len(i["concept"]) for i in sources) == [4, 4, 4]
    targets = by_name["S.concept-map-vs.targets"]["compose"]["include"]
    assert sum(len(i["concept"]) for i in targets) == 16


def test_profiles_flag(spark):
    """Reference default: ncpi-fhir-ig meta.profile stamped on DD
    variable/table/harmony resources; profiles=False removes them."""
    from dataclasses import replace

    from ncpi_whistler_spark.plans.resources import (
        dd_activity_definitions,
        dd_observation_definitions,
    )

    od = dd_observation_definitions(spark, {"visits": DD}, STUDY).collect()[0]
    assert od["meta"]["profile"] == [
        "https://nih-ncpi.github.io/ncpi-fhir-ig/StructureDefinition/study-data-dictionary-variable"
    ]
    ad = dd_activity_definitions(spark, {"visits": DD}, STUDY).collect()[0]
    assert ad["meta"]["profile"][0].endswith("study-data-dictionary-table")
    off = replace(STUDY, profiles=False)
    od2 = dd_observation_definitions(spark, {"visits": DD}, off).collect()[0]
    assert od2["meta"]["profile"] is None
    assert od2["meta"]["tag"][0]["code"] == "S"


def test_profiles_flag_source_data_observation(spark):
    """Source-data Observations carry raw-data-observation when profiles
    is on (observation_w_components.wstl:74-76) and no profile field at
    all under --no-profiles."""
    from dataclasses import replace

    from ncpi_whistler_spark.plans.resources import observations_with_components

    df = spark.createDataFrame([("p1", "a")], "subject_id string, status string")
    obs = observations_with_components(df, DD, STUDY, "visits", "subject_id")
    row = obs.collect()[0]
    assert row["meta"]["profile"] == [
        "https://nih-ncpi.github.io/ncpi-fhir-ig/StructureDefinition/raw-data-observation"
    ]
    off = replace(STUDY, profiles=False)
    obs2 = observations_with_components(df, DD, off, "visits", "subject_id")
    assert "profile" not in obs2.schema["meta"].dataType.fieldNames()
