"""Schema-driven FHIR resource builders (SURVEY.md §2.7 G1–G7).

The reference generates per-study Whistle code from the DD via Jinja
templates (wstlr/sourcedata/obscomp.py, questionnaire.py, wstlr/wlib/dd/*)
and runs it in a subprocess. Here the same schema drives *select-list
generation*: each builder returns a typed struct DataFrame — one row per
resource, partitionable by ``module``/``resourceType`` — produced in the
same Spark job as extraction (no JSON round trip, no subprocess).

Nested optional fields stay NULL; ``resources_to_json`` drops nulls on
serialization to match whistle's field-absent-when-nil output
(SURVEY.md §7 risk 4).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ncpi_whistler_spark.functions.core import dd_system_url, fix_fieldname
from ncpi_whistler_spark.functions.harmonize import (
    build_coding,
    key_identifier,
    reference_key_identifier,
    study_meta,
)
from ncpi_whistler_spark.plans.config import StudyConfig
from ncpi_whistler_spark.sources.dd import DataDictionary, DdVariable


def _row_key(key_columns: list[str]) -> Column:
    """Composite row id: StrCat(col1, '.', col2, ...) (F8,
    wstlr/sourcedata/__init__.py:28-45)."""
    return F.concat_ws(".", *[F.col(c).cast("string") for c in key_columns])


def _component_for(var: DdVariable, study: StudyConfig, table: str) -> Column:
    """Type-dispatched Observation.component (P8/G1; template branch at
    observation_w_components.wstl:87-97, numeric guard :37-44)."""
    system = dd_system_url(
        study.dd_prefix or study.identifier_prefix, "CodeSystem", None, table, None
    )
    code = F.struct(
        F.array(build_coding(F.lit(var.varname), F.lit(var.description or var.varname), F.lit(system))).alias(
            "coding"
        ),
        F.lit(var.description or var.varname).alias("text"),
    )
    raw = F.col(var.varname).cast("string")
    num = raw.try_cast("double")
    fields = {
        "code": code,
        "valueQuantity": F.lit(None).cast(
            "struct<value:double,unit:string>"
        ),
        "valueInteger": F.lit(None).cast("long"),
        "valueString": F.lit(None).cast("string"),
        "valueCodeableConcept": F.lit(None).cast(
            "struct<coding:array<struct<code:string,display:string,system:string>>,text:string>"
        ),
    }
    if var.data_type == "number":
        fields["valueQuantity"] = F.when(
            num.isNotNull(),
            F.struct(num.alias("value"), F.lit(var.units).cast("string").alias("unit")),
        )
    elif var.data_type == "int":
        fields["valueInteger"] = raw.try_cast("long")
    elif var.data_type == "enumeration":
        vsystem = dd_system_url(
            study.dd_prefix or study.identifier_prefix, "CodeSystem", None, table, var.varname
        )
        display = raw
        if var.enumerations:
            pairs = []
            for k, v in var.enumerations.items():
                pairs.extend([F.lit(k), F.lit(v)])
            display = F.coalesce(F.element_at(F.create_map(*pairs), raw), raw)
        fields["valueCodeableConcept"] = F.when(
            raw.isNotNull(),
            F.struct(
                F.array(build_coding(raw, display, F.lit(vsystem))).alias("coding"),
                display.alias("text"),
            ),
        )
    else:  # string / date
        fields["valueString"] = raw
    return F.struct(*[v.alias(k) for k, v in fields.items()])


def explode_for_table_type(
    df: DataFrame, table_type: str, nested_col: str | None = None
) -> DataFrame:
    """G7 table-type dispatch (wstlr/__init__.py:53-57, template branches
    at observation_w_components.wstl:106-125): Default rows pass through;
    Grouped tables iterate ``content[]``; Embedded tables iterate the
    child array — both become explode + struct-flatten so every
    downstream builder sees flat rows."""
    if table_type == "default":
        return df
    col = nested_col or ("content" if table_type == "grouped" else None)
    if col is None:
        raise ValueError("embedded table type requires nested_col")
    keys = [c for c in df.columns if c != col]
    ex = df.select(*keys, F.explode(col).alias("_r"))
    inner = [f.name for f in ex.schema["_r"].dataType.fields]
    return ex.select(*keys, *[F.col(f"_r.{n}").alias(n) for n in inner])


def observations_with_components(
    df: DataFrame,
    dd: DataDictionary,
    study: StudyConfig,
    table_name: str,
    subject_col: str,
    key_columns: list[str] | None = None,
) -> DataFrame:
    """G1: one Observation per data row; one component per DD variable
    (observation_w_components.wstl:69-136). Pure select — fan-out of
    components is an array literal, so a 100 TB table maps in one stage."""
    keys = key_columns or [subject_col]
    rid = _row_key(keys)
    ident_value = F.concat_ws(
        ".", F.lit(study.study_id), F.lit(table_name), rid, F.col(subject_col).cast("string")
    )
    comps = [
        _component_for(v, study, table_name)
        for v in dd.variables
        if v.varname in df.columns
    ]
    # conditional ncpi-fhir-ig profile on source-data Observations
    # (observation_w_components.wstl:74-76, gated by --no-profiles)
    meta_fields = [F.array(study_meta(study.study_id)).alias("tag")]
    if getattr(study, "profiles", True):
        meta_fields.append(
            F.array(F.lit(f"{_IG_PROFILE_BASE}/raw-data-observation")).alias("profile")
        )
    return df.select(
        F.lit("source_data").alias("module"),
        F.lit("Observation").alias("resourceType"),
        F.struct(*meta_fields).alias("meta"),
        F.array(key_identifier(ident_value, study.identifier_prefix, "Observation")).alias(
            "identifier"
        ),
        F.lit("final").alias("status"),
        F.struct(
            F.array(
                build_coding(
                    F.lit("74468-0"),
                    F.lit("Questionnaire form definition Document"),
                    F.lit("https://loinc.org"),
                )
            ).alias("coding"),
            F.lit(f"Source data for data table, {table_name}").alias("text"),
        ).alias("code"),
        reference_key_identifier(
            F.col(subject_col).cast("string"), study.identifier_prefix, "Patient"
        ).alias("subject"),
        F.array(*comps).alias("component") if comps else F.array().cast(
            "array<struct<code:struct<coding:array<struct<code:string,display:string,system:string>>,text:string>>>"
        ).alias("component"),
    )


def questionnaire_responses(
    df: DataFrame,
    dd: DataDictionary,
    study: StudyConfig,
    table_name: str,
    subject_col: str,
    key_columns: list[str] | None = None,
) -> DataFrame:
    """G2: one QuestionnaireResponse per row; item[] per DD variable
    (questionnaires.wstl:64-166)."""
    keys = key_columns or [subject_col]
    rid = _row_key(keys)
    items = [
        F.when(
            F.col(v.varname).isNotNull(),
            F.struct(
                F.lit(v.varname).alias("linkId"),
                F.lit(v.description or v.varname).alias("text"),
                F.array(
                    F.struct(F.col(v.varname).cast("string").alias("valueString"))
                ).alias("answer"),
            ),
        )
        for v in dd.variables
        if v.varname in df.columns
    ]
    return df.select(
        F.lit("questionnaire").alias("module"),
        F.lit("QuestionnaireResponse").alias("resourceType"),
        F.struct(F.array(study_meta(study.study_id)).alias("tag")).alias("meta"),
        F.array(
            key_identifier(
                F.concat_ws(".", F.lit(study.study_id), F.lit(table_name), rid),
                study.identifier_prefix,
                "QuestionnaireResponse",
            )
        ).alias("identifier"),
        F.lit("completed").alias("status"),
        # canonical URL of the table Questionnaire (questionnaires.wstl:106)
        F.lit(
            f"{study.identifier_prefix}/data-dictionary/rl-questionnaire/"
            f"{study.study_id}/{table_name.lower()}"
        ).alias("questionnaire"),
        reference_key_identifier(
            F.col(subject_col).cast("string"), study.identifier_prefix, "Patient"
        ).alias("subject"),
        F.filter(F.array(*items), lambda x: x.isNotNull()).alias("item"),
    )


_IG_PROFILE_BASE = "https://nih-ncpi.github.io/ncpi-fhir-ig/StructureDefinition"


def _study_meta_dict(study: StudyConfig, profile: str | None = None) -> dict:
    """Driver-side twin of functions.harmonize.study_meta — the meta.tag
    the reference stamps on every DD resource (_study_meta.wstl:5-9),
    plus the conditional ncpi-fhir-ig meta.profile (on by default,
    wstlr/init.py:92-113; profile names per resource type in
    wlib_dd_tables_and_vars.wstl:39,87 and wlib_dd_conceptmap.wstl:74)."""
    meta: dict = {
        "tag": [
            {
                "system": "https://ncpi-fhir.github.io/fhir-study-metadata",
                "code": study.study_id,
            }
        ]
    }
    if profile and getattr(study, "profiles", True):
        meta["profile"] = [f"{_IG_PROFILE_BASE}/{profile}"]
    return meta


def dd_codesystems(spark, dds: dict[str, DataDictionary], study: StudyConfig) -> DataFrame:
    """G3: CodeSystem per table + per enumerated variable
    (wlib_dd_terms_codesystem.wstl:30-79), tagged with StudyMeta like the
    reference (wlib_dd_terms_codesystem.wstl:35 + _study_meta.wstl:5-9).
    DDs are plan metadata — createDataFrame of driver-built rows (they
    are inherently tiny)."""
    rows = []
    prefix = study.dd_prefix or study.identifier_prefix
    meta = _study_meta_dict(study)
    for tname, dd in dds.items():
        url = dd_system_url(prefix, "CodeSystem", None, tname, None)
        rows.append(
            {
                "module": "data_dictionary",
                "resourceType": "CodeSystem",
                "meta": meta,
                "url": url,
                "name": fix_fieldname(tname),
                "title": f"Data dictionary for table {tname}",
                "status": "active",
                "concept": [
                    {"code": v.varname, "display": v.description or v.varname}
                    for v in dd.variables
                ],
            }
        )
        for v in dd.variables:
            if not v.enumerations:
                continue
            vurl = dd_system_url(prefix, "CodeSystem", None, tname, v.varname)
            rows.append(
                {
                    "module": "data_dictionary",
                    "resourceType": "CodeSystem",
                    "meta": meta,
                    "url": vurl,
                    "name": fix_fieldname(f"{tname}_{v.varname}"),
                    "title": f"Values for {tname}.{v.varname}",
                    "status": "active",
                    "concept": [
                        {"code": k, "display": d} for k, d in v.enumerations.items()
                    ],
                }
            )
    schema = (
        "module string, resourceType string, "
        "meta struct<tag:array<struct<system:string,code:string>>,profile:array<string>>, "
        "url string, name string, "
        "title string, status string, concept array<struct<code:string,display:string>>"
    )
    return spark.createDataFrame(rows, schema)


def dd_observation_definitions(
    spark, dds: dict[str, DataDictionary], study: StudyConfig
) -> DataFrame:
    """G4: ObservationDefinition per DD variable — permittedDataType from
    the DD type map (wlib_dd_tables_and_vars.wstl:113-127: string→string/
    CodeableConcept, number/int→Quantity, boolean→boolean), units, and
    the min/max interval when present (wlib_dd_tables_and_vars.wstl:36-141).
    Tagged with StudyMeta like the reference (wstl:37)."""
    permitted = {
        "string": "string",
        "date": "dateTime",
        "int": "Quantity",
        "number": "Quantity",
        "boolean": "boolean",
        "enumeration": "CodeableConcept",
    }
    prefix = study.dd_prefix or study.identifier_prefix
    rows = []
    meta = _study_meta_dict(study, "study-data-dictionary-variable")
    for tname, dd in dds.items():
        for v in dd.variables:
            url = dd_system_url(prefix, "CodeSystem", None, tname, None)
            rows.append(
                {
                    "module": "data_dictionary",
                    "resourceType": "ObservationDefinition",
                    "meta": meta,
                    "identifier_value": f"{study.study_id}.{tname}.{v.varname}",
                    "code": {"coding": [{"code": v.varname, "display": v.description or v.varname, "system": url}]},
                    "permittedDataType": [permitted[v.data_type]],
                    "quantitativeDetails": (
                        {"unit": v.units} if v.units else None
                    ),
                    "qualifiedInterval": (
                        {
                            "range": {
                                "low": float(v.min) if v.min else None,
                                "high": float(v.max) if v.max else None,
                            }
                        }
                        if (v.min is not None or v.max is not None)
                        else None
                    ),
                    "validCodedValueSet": (
                        f"ValueSet/{fix_fieldname(tname)}-{v.varname}"
                        if v.enumerations
                        else None
                    ),
                }
            )
    schema = (
        "module string, resourceType string, "
        "meta struct<tag:array<struct<system:string,code:string>>,profile:array<string>>, "
        "identifier_value string, "
        "code struct<coding:array<struct<code:string,display:string,system:string>>>, "
        "permittedDataType array<string>, "
        "quantitativeDetails struct<unit:string>, "
        "qualifiedInterval struct<range:struct<low:double,high:double>>, "
        "validCodedValueSet string"
    )
    return spark.createDataFrame(rows, schema)


def dd_valuesets(spark, dds: dict[str, DataDictionary], study: StudyConfig) -> DataFrame:
    """G3/G5: ValueSet per enumerated variable (wlib_dd_terms_valueset
    .wstl:12-33) — one compose.include per variable code system. Tagged
    with StudyMeta like the reference (wstl:13)."""
    prefix = study.dd_prefix or study.identifier_prefix
    rows = []
    meta = _study_meta_dict(study)
    for tname, dd in dds.items():
        for v in dd.variables:
            if not v.enumerations:
                continue
            cs_url = dd_system_url(prefix, "CodeSystem", None, tname, v.varname)
            rows.append(
                {
                    "module": "data_dictionary",
                    "resourceType": "ValueSet",
                    "meta": meta,
                    "url": cs_url.replace("/CodeSystem/", "/ValueSet/"),
                    "name": fix_fieldname(f"{tname}_{v.varname}"),
                    "status": "active",
                    "compose": {
                        "include": [
                            {
                                "system": cs_url,
                                "concept": [
                                    {"code": k, "display": d}
                                    for k, d in v.enumerations.items()
                                ],
                            }
                        ]
                    },
                }
            )
    schema = (
        "module string, resourceType string, "
        "meta struct<tag:array<struct<system:string,code:string>>,profile:array<string>>, "
        "url string, name string, status string, "
        "compose struct<include:array<struct<system:string,"
        "concept:array<struct<code:string,display:string>>>>>"
    )
    return spark.createDataFrame(rows, schema)


def harmony_skeleton(dds: dict[str, DataDictionary]) -> list[dict[str, str]]:
    """G6: starter harmony CSV rows from the DD — every enumerated value
    plus non-numeric defaults, yes/no values skipped
    (wstlr/harmony.py:77-123). Returns plain dict rows (the skeleton is a
    config artifact, written driver-side)."""
    skip = {"yes", "no", "true", "false"}
    rows = []
    for tname, dd in dds.items():
        for v in dd.variables:
            for code, desc in v.enumerations.items():
                if code.strip().lower() in skip:
                    continue
                rows.append(
                    {
                        "local code": code,
                        "text": desc,
                        "local code system": v.varname,
                        "code": "",
                        "display": "",
                        "code system": "",
                        "table_name": tname,
                        "parent_varname": v.varname,
                        "comment": "",
                    }
                )
    return rows


def dd_from_profile(profile_rows: list, table_name: str, prefix: str = "q") -> DataDictionary:
    """builddd: infer a DD from profiling output (A4 →
    wstlr/dd/dd_from_fhir.py:41-214): numeric columns (min/max present)
    become number-typed; ≤50-distinct value sets become enumerations via
    sequential codes (W1)."""
    from ncpi_whistler_spark.sources.dd import DdVariable

    variables = []
    for i, row in enumerate(sorted(profile_rows, key=lambda r: r["variable"])):
        name = fix_fieldname(row["variable"])
        if row["min_num"] is not None and row["max_num"] is not None and row["n_distinct"] > 2:
            dtype = "number"
        elif row["n_distinct"] <= 50:
            dtype = "enumeration"
        else:
            dtype = "string"
        variables.append(
            DdVariable(
                varname=name,
                raw_name=row["variable"],
                data_type=dtype,
                description=f"{prefix}{i + 1:06d}",
                min=str(row["min_num"]) if row["min_num"] is not None else None,
                max=str(row["max_num"]) if row["max_num"] is not None else None,
            )
        )
    return DataDictionary(table_name, variables)


def resources_to_json(df: DataFrame, drop_null_fields: bool = True) -> DataFrame:
    """Serialize resource rows to JSON strings with nulls dropped —
    whistle emits no field for nil values (SURVEY.md §7 risk 4);
    ``to_json`` with ignoreNullFields matches that byte behavior."""
    cols = [c for c in df.columns if c not in ("module", "resourceType")]
    return df.select(
        "module",
        "resourceType",
        F.to_json(
            F.struct(F.col("resourceType"), *[F.col(c) for c in cols]),
            {"ignoreNullFields": "true" if drop_null_fields else "false"},
        ).alias("resource_json"),
    )


def dd_activity_definitions(
    spark, dds: dict[str, DataDictionary], study: StudyConfig
) -> DataFrame:
    """G4 (table half): ActivityDefinition per table — the DD
    representation of a table's ObservationDefinition set
    (wlib_dd_tables_and_vars.wstl:83-101: StudyMeta tag, official
    identifier, '<study>.<table>-vars' name, UMLS Research topic,
    observationResultRequirement reference per variable)."""
    prefix = study.dd_prefix or study.identifier_prefix
    rows = []
    meta = _study_meta_dict(study, "study-data-dictionary-table")
    for tname, dd in dds.items():
        cs_url = dd_system_url(prefix, "CodeSystem", None, tname, None)
        rows.append(
            {
                "module": "data_dictionary",
                "resourceType": "ActivityDefinition",
                "meta": meta,
                "identifier": [
                    {
                        "value": tname,
                        "system": f"{prefix}/activitydefinition",
                        "use": "official",
                    }
                ],
                "name": f"{study.study_id}.{tname}-vars",
                "title": f"Variables for table {study.study_id}.{tname}",
                "url": cs_url.replace("/CodeSystem/", "/ActivityDefinition/"),
                "topic": [
                    {
                        "coding": [
                            {
                                "code": "C0035168",
                                "display": "Research",
                                "system": "https://uts.nlm.nih.gov/uts/umls",
                            }
                        ]
                    }
                ],
                "observationResultRequirement": [
                    {
                        "identifier": {
                            "value": f"{study.study_id}.{tname}.{v.varname}",
                            "system": f"{prefix}/observationdefinition",
                        }
                    }
                    for v in dd.variables
                ],
                "status": "active",
            }
        )
    schema = (
        "module string, resourceType string, "
        "meta struct<tag:array<struct<system:string,code:string>>,profile:array<string>>, "
        "identifier array<struct<value:string,system:string,use:string>>, "
        "name string, title string, url string, "
        "topic array<struct<coding:array<struct<code:string,display:string,system:string>>>>, "
        "observationResultRequirement array<struct<identifier:struct<value:string,system:string>>>, "
        "status string"
    )
    return spark.createDataFrame(rows, schema)


def questionnaire_url(study: StudyConfig, table_name: str) -> str:
    """BuildQuestionnaireURL (questionnaires.wstl:1-3)."""
    return (
        f"{study.identifier_prefix}/data-dictionary/rl-questionnaire/"
        f"{study.study_id}/{table_name.lower()}"
    )


def questionnaires(
    spark, dds: dict[str, DataDictionary], study: StudyConfig
) -> DataFrame:
    """G2 (table half): one Questionnaire per table — DD-driven item[]
    (questionnaires.wstl:64-96: StudyMeta tag, official identifier,
    canonical URL, LOINC 74468-0 form code, choice items with
    answerValueSet for enumerations, string/integer/decimal otherwise)."""
    prefix = study.dd_prefix or study.identifier_prefix
    type_map = {
        "enumeration": "choice",
        "string": "string",
        "int": "integer",
        "integer": "integer",
        "number": "decimal",
        "float": "decimal",
    }
    rows = []
    meta = _study_meta_dict(study)
    for tname, dd in dds.items():
        items = []
        for v in dd.variables:
            vtype = type_map.get(v.data_type, "string")
            answer_vs = None
            if v.enumerations:
                vtype = "choice"
                cs_url = dd_system_url(prefix, "CodeSystem", None, tname, v.varname)
                answer_vs = cs_url.replace("/CodeSystem/", "/ValueSet/")
            items.append(
                {
                    "linkId": v.varname,
                    "text": v.description or v.varname,
                    "type": vtype,
                    "answerValueSet": answer_vs,
                }
            )
        rows.append(
            {
                "module": "questionnaire",
                "resourceType": "Questionnaire",
                "meta": meta,
                "identifier": [
                    {
                        "value": f"{study.study_id}.{tname}",
                        "system": f"{study.identifier_prefix}/questionnaire",
                        "use": "official",
                    }
                ],
                "url": questionnaire_url(study, tname),
                "name": tname,
                "title": tname,
                "status": "active",
                "subjectType": ["Patient"],
                "code": [
                    {
                        "code": "74468-0",
                        "display": "Questionnaire form definition Document",
                        "system": "https://loinc.org/",
                    }
                ],
                "item": items,
            }
        )
    schema = (
        "module string, resourceType string, "
        "meta struct<tag:array<struct<system:string,code:string>>,profile:array<string>>, "
        "identifier array<struct<value:string,system:string,use:string>>, "
        "url string, name string, title string, status string, "
        "subjectType array<string>, "
        "code array<struct<code:string,display:string,system:string>>, "
        "item array<struct<linkId:string,text:string,type:string,answerValueSet:string>>"
    )
    return spark.createDataFrame(rows, schema)


def _harmony_rows(concept_map) -> list:
    """The ConceptMap rows that feed the harmony vocabularies.

    ObjectifyHarmony's gate (conceptmap.py:53): only rows with a table
    name are used — unless none carry one (config-literal maps), in which
    case every row is used with an empty table segment."""
    rows = concept_map._collected()
    if any(r["table_name"] for r in rows):
        rows = [r for r in rows if r["table_name"]]
    return rows


def harmony_valuesets(spark, concept_map, study: StudyConfig) -> DataFrame:
    """G5 (valueset half): the two harmony ValueSets — "sources" (local
    codes grouped per (local system, table, parent variable) with
    constructed CodeSystem urls) and "targets" (target codes grouped per
    real ontology system), mirroring wlib_dd_concept_valusets.wstl:10-57
    + wstlr/conceptmap.py:144-180. Deviation (documented): concept lists
    are deduped and code-sorted — the reference appends one entry per CSV
    row in file order, duplicating a local code that maps to several
    targets."""
    prefix = study.dd_prefix or study.identifier_prefix
    meta = _study_meta_dict(study)
    src_groups: dict[tuple, dict] = {}
    tgt_groups: dict[str, dict] = {}
    for r in _harmony_rows(concept_map):
        skey = (r["local_system"], r["table_name"], r["parent_varname"])
        grp = src_groups.setdefault(
            skey,
            {
                "system": dd_system_url(
                    prefix, "CodeSystem", None, skey[1], r["local_system"]
                ),
                "codes": {},
            },
        )
        grp["codes"].setdefault(r["local_code"], r["text"])
        tgrp = tgt_groups.setdefault(r["system"], {"system": r["system"], "codes": {}})
        tgrp["codes"].setdefault(r["code"], r["display"])

    def vs_row(vs_name: str, groups) -> dict:
        return {
            "module": "harmony",
            "resourceType": "ValueSet",
            "meta": meta,
            "identifier": [
                {
                    "value": f"{study.study_id}.cm-valueset.{vs_name}",
                    "system": f"{study.identifier_prefix}/valueset",
                    "use": "official",
                }
            ],
            "name": f"{study.study_id}.concept-map-vs.{vs_name}",
            "title": (
                f"ValueSet for values associated with {vs_name} codes in data "
                f"harmonization from study, {study.study_id}."
            ),
            "url": (
                f"{study.identifier_prefix}/data-dictionary/ConceptMap/ValueSet/"
                f"{study.study_id}/{vs_name}"
            ),
            "compose": {
                "include": [
                    {
                        "system": grp["system"],
                        "concept": [
                            {"code": c, "display": d}
                            for c, d in sorted(grp["codes"].items())
                        ],
                    }
                    for _, grp in sorted(groups.items())
                ]
            },
            "status": "active",
            "publisher": "INCLUDE FHIR Working Group",
        }

    out = [vs_row("sources", src_groups), vs_row("targets", tgt_groups)]
    schema = (
        "module string, resourceType string, "
        "meta struct<tag:array<struct<system:string,code:string>>,profile:array<string>>, "
        "identifier array<struct<value:string,system:string,use:string>>, "
        "name string, title string, url string, "
        "compose struct<include:array<struct<system:string,"
        "concept:array<struct<code:string,display:string>>>>>, "
        "status string, publisher string"
    )
    return spark.createDataFrame(out, schema)


def harmony_conceptmap(spark, concept_map, study: StudyConfig) -> DataFrame:
    """G5 (ConceptMap half): the single FHIR ConceptMap resource
    (wlib_dd_conceptmap.wstl:67-88 over wstlr/conceptmap.py:35-219):
    official identifier '<study>.concept-map', fixed ncpi-fhir-ig url,
    source/target ValueSet uris, one group per (local system, target
    system) with constructed source CodeSystem urls and
    equivalence=equivalent targets.

    Reference-exact: rows pass the ObjectifyHarmony table-name gate
    (``_harmony_rows``). Deviation (documented): groups/elements/targets
    are code-sorted; the reference keeps file order."""
    prefix = study.dd_prefix or study.identifier_prefix
    groups: dict[tuple, dict] = {}
    for r in _harmony_rows(concept_map):
        lcs = r["local_system"]
        src_url = dd_system_url(prefix, "CodeSystem", None, r["table_name"], lcs)
        key = (src_url, r["system"])
        grp = groups.setdefault(key, {})
        el = grp.setdefault(r["local_code"], {"display": r["text"], "targets": {}})
        el["targets"].setdefault(r["code"], r["display"])

    def vocab_url(role: str) -> str:
        return (
            f"{study.identifier_prefix}/data-dictionary/ConceptMap/ValueSet/"
            f"{study.study_id}/{role}"
        )

    out = [
        {
            "module": "harmony",
            "resourceType": "ConceptMap",
            "meta": _study_meta_dict(study, "study-data-dictionary-harmony"),
            "identifier": {
                "value": f"{study.study_id}.concept-map",
                "system": f"{study.identifier_prefix}/conceptmap",
                "use": "official",
            },
            "status": "active",
            "purpose": "Represent transformations applied to the dataset",
            "url": (
                "https://nih-ncpi.github.io/ncpi-fhir-ig/data-dictionary/"
                f"conceptmap/{study.study_id}/data-to-public"
            ),
            "sourceUri": vocab_url("sources"),
            "targetUri": vocab_url("targets"),
            "group": [
                {
                    "source": src,
                    "target": tgt,
                    "element": [
                        {
                            "code": code,
                            "display": el["display"],
                            "target": [
                                {"code": tc, "display": td, "equivalence": "equivalent"}
                                for tc, td in sorted(el["targets"].items())
                            ],
                        }
                        for code, el in sorted(grp.items())
                    ],
                }
                for (src, tgt), grp in sorted(groups.items())
            ],
        }
    ]
    schema = (
        "module string, resourceType string, "
        "meta struct<tag:array<struct<system:string,code:string>>,profile:array<string>>, "
        "identifier struct<value:string,system:string,use:string>, "
        "status string, purpose string, url string, "
        "sourceUri string, targetUri string, "
        "group array<struct<source:string,target:string,"
        "element:array<struct<code:string,display:string,"
        "target:array<struct<code:string,display:string,equivalence:string>>>>>>"
    )
    return spark.createDataFrame(out, schema)
