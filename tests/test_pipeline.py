"""End-to-end whistler-parity pipeline: YAML config + CSV fixtures →
extraction DAG → resource generation → sinks (FIXTURES.md schemas)."""

from __future__ import annotations

import glob
import json
import os

import pyspark.sql.functions as F
import pytest

from ncpi_whistler_spark.plans.config import StudyConfig
from ncpi_whistler_spark.plans.pipeline import extract_dataset
from ncpi_whistler_spark.plans.resources import (
    dd_codesystems,
    observations_with_components,
    questionnaire_responses,
    resources_to_json,
)
from ncpi_whistler_spark.sinks.bundle import prepare_bundle_entries, write_bundles
from ncpi_whistler_spark.sinks.idresolve import empty_id_map, load_fixpoint
from ncpi_whistler_spark.sinks.rest import InMemoryTransport, load_resources

PARTICIPANT_CSV = """Participant ID,Sex,Race,Ethnicity,Age (years),Weight/Height Note
P0001,1,White,Hispanic,34,note one
P0002,2,Black or African American,Not Hispanic,41,
P0003,1,NA,NA,NA,note three
"""

PARTICIPANT_DD = """variable_name,description,data_type,enumerations,min,max,units
Participant ID,Unique participant identifier,identifier,,,,
Sex,Sex assigned at birth,enumeration,1=Male;2=Female,,,
Race,Self-reported race,enumeration,,,,
Ethnicity,Self-reported ethnicity,enumeration,,,,
Age (years),Age at enrollment,integer,,0,120,years
Weight/Height Note,Free text note,string,,,,
"""

SPECIMEN_CSV = """sample_id,participant_id,sample_type,volume
S1,P0001,blood,1.0
S2,P0001,saliva,2.0
S3,P0002,blood,0.5
"""

MANIFEST_CSV = """sample_id,file_name,file_type,size_mb
S1,f1.bam,bam,10
S1,f2.vcf,vcf,1
S3,f3.bam,bam,12
"""

ALIQUOT_CSV = """Sample ID,Barcode,participantid,vial_volume,volume_unit
SAMPLE001,001234,P0001,0,ml
SAMPLE001,0124012,P0001,1,ml
SAMPLE002,002001,P0002,2,ml
"""

HARMONY_CSV = """local code,text,local code system,code,display,code system,table_name,parent_varname,comment
1,Male,sex,male,Male,http://hl7.org/fhir/administrative-gender,participant,sex,
2,Female,sex,female,Female,http://hl7.org/fhir/administrative-gender,participant,sex,
White,White,race,2106-3,White,urn:oid:2.16.840.1.113883.6.238,participant,race,
"""


@pytest.fixture(scope="module")
def study_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("study")
    (d / "participant.csv").write_text(PARTICIPANT_CSV)
    (d / "participant-dd.csv").write_text(PARTICIPANT_DD)
    (d / "specimen.csv").write_text(SPECIMEN_CSV)
    (d / "file_manifest.csv").write_text(MANIFEST_CSV)
    (d / "aliquot.csv").write_text(ALIQUOT_CSV)
    (d / "harmony.csv").write_text(HARMONY_CSV)
    (d / "study.yaml").write_text(
        f"""
study_id: TESTSTUDY
study_title: Test Study
identifier_prefix: https://example.org/teststudy
id_colname: participant_id
curies: {{}}
active_tables:
  ALL: true
dataset:
  participant:
    filename: {d}/participant.csv
    code_harmonization: {d}/harmony.csv
    data_dictionary:
      filename: {d}/participant-dd.csv
  specimen:
    filename: {d}/specimen.csv
  file_manifest:
    filename: {d}/file_manifest.csv
    embed:
      dataset: specimen
      colname: sample_id
  aliquot:
    filename: {d}/aliquot.csv
    subject_id: participantid
    group_by: Sample ID
    key_columns: Barcode
"""
    )
    return d


@pytest.fixture(scope="module")
def extracted(spark, study_dir):
    cfg = StudyConfig.from_yaml(str(study_dir / "study.yaml"))
    return extract_dataset(spark, cfg)


def test_extraction_shapes(extracted):
    # embedded table folded into parent, not a top-level table
    assert set(extracted.tables) == {"participant", "specimen", "aliquot"}

    part = {r["participant_id"]: r for r in extracted.tables["participant"].collect()}
    assert part["P0001"]["sex"] == "1"
    assert part["P0001"]["sex_display"] == "Male"  # P2 display column
    assert part["P0001"]["race_display"] == "White"
    assert part["P0003"]["race_display"] is None

    spec = {r["sample_id"]: r for r in extracted.tables["specimen"].collect()}
    assert len(spec["S1"]["file_manifest"]) == 2  # J1 embed
    assert spec["S2"]["file_manifest"] == []
    assert spec["S1"]["file_manifest"][0]["table_name"] == "file_manifest"

    ali = {r["sample_id"]: r for r in extracted.tables["aliquot"].collect()}
    assert [c["barcode"] for c in ali["SAMPLE001"]["content"]] == ["001234", "0124012"]


def test_observation_generation(spark, extracted):
    cfg = extracted.config
    dd = extracted.dds["participant"]
    obs = observations_with_components(
        extracted.tables["participant"], dd, cfg, "participant", "participant_id"
    )
    rows = obs.collect()
    assert len(rows) == 3
    r = next(x for x in rows if "P0001" in x["identifier"][0]["value"])
    assert r["resourceType"] == "Observation"
    assert r["meta"]["tag"][0]["code"] == "TESTSTUDY"
    comps = {c["code"]["text"]: c for c in r["component"]}
    assert comps["Age at enrollment"]["valueInteger"] == 34
    assert comps["Sex assigned at birth"]["valueCodeableConcept"]["text"] == "Male"
    # NA age on P0003 → null valueInteger (try_cast guard)
    r3 = next(x for x in rows if "P0003" in x["identifier"][0]["value"])
    comps3 = {c["code"]["text"]: c for c in r3["component"]}
    assert comps3["Age at enrollment"]["valueInteger"] is None


def test_questionnaire_and_codesystems(spark, extracted):
    cfg = extracted.config
    dd = extracted.dds["participant"]
    qr = questionnaire_responses(
        extracted.tables["participant"], dd, cfg, "participant", "participant_id"
    )
    assert qr.count() == 3
    row = qr.where(F.col("identifier")[0]["value"].contains("P0002")).collect()[0]
    links = {i["linkId"] for i in row["item"]}
    assert "sex" in links and "participant_id" in links

    cs = dd_codesystems(spark, extracted.dds, cfg)
    urls = [r["url"] for r in cs.collect()]
    assert any(u.endswith("/participant") for u in urls)
    assert any(u.endswith("/participant/sex") for u in urls)
    sex_cs = cs.where(F.col("url").endswith("/participant/sex")).collect()[0]
    assert {c["code"]: c["display"] for c in sex_cs["concept"]} == {
        "1": "Male",
        "2": "Female",
    }


def test_json_serialization_drops_nulls(spark, extracted):
    cfg = extracted.config
    dd = extracted.dds["participant"]
    obs = observations_with_components(
        extracted.tables["participant"], dd, cfg, "participant", "participant_id"
    )
    js = resources_to_json(obs)
    s = js.where(F.col("resource_json").contains("P0003")).collect()[0]["resource_json"]
    parsed = json.loads(s)
    age = next(c for c in parsed["component"] if c["code"]["text"] == "Age at enrollment")
    assert "valueInteger" not in age  # nil fields absent, like whistle


def test_bundle_sink(spark, extracted, tmp_path):
    cfg = extracted.config
    dd = extracted.dds["participant"]
    obs = resources_to_json(
        observations_with_components(
            extracted.tables["participant"], dd, cfg, "participant", "participant_id"
        )
    )
    entries = prepare_bundle_entries(obs.unionByName(obs))  # dup union → dedup
    assert entries.count() == 3  # fullUrl dedup collapsed the double load
    out = str(tmp_path / "bundles")
    write_bundles(entries, out)
    files = glob.glob(os.path.join(out, "**", "*.json"), recursive=True)
    assert files


def test_id_fixpoint(spark):
    # two-level reference chain: patients load first, then observations
    patients = spark.createDataFrame(
        [
            ("Patient", [{"system": "s/patient", "value": "P1"}], None),
            ("Patient", [{"system": "s/patient", "value": "P2"}], None),
        ],
        "resourceType string, identifier array<struct<system:string,value:string>>, "
        "subject struct<identifier:struct<system:string,value:string>>",
    )
    obs = spark.createDataFrame(
        [
            (
                "Observation",
                [{"system": "s/observation", "value": "O1"}],
                {"identifier": {"system": "s/patient", "value": "P1"}},
            ),
            (
                "Observation",
                [{"system": "s/observation", "value": "O2"}],
                {"identifier": {"system": "s/patient", "value": "MISSING"}},
            ),
        ],
        "resourceType string, identifier array<struct<system:string,value:string>>, "
        "subject struct<identifier:struct<system:string,value:string>>",
    )
    all_res = patients.unionByName(obs)
    result = load_fixpoint(spark, all_res, empty_id_map(spark), ["subject"])
    assert result.rounds <= 3
    loaded_types = [
        sorted(r["resourceType"] for r in df.select("resourceType").collect())
        for df in result.loaded_rounds
    ]
    # round 1: both patients (no refs) ; round 2: O1
    assert loaded_types[0] == ["Patient", "Patient"]
    assert loaded_types[1] == ["Observation"]
    invalid = result.invalid.collect()
    assert len(invalid) == 1 and invalid[0]["identifier"][0]["value"] == "O2"


def test_id_fixpoint_deep_chain_keeps_plan_small(spark):
    """A 4-level reference chain loads one level per round, dangling
    references end up exactly in the invalid set, and the invalid frame's
    optimized plan stays small: each round's frames are materialized
    (checkpointed on local masters), so the plan does not nest every
    earlier round."""
    ref = "struct<identifier:struct<system:string,value:string>>"
    schema = (
        "resourceType string, identifier array<struct<system:string,value:string>>, "
        f"parent {ref}"
    )

    def res(level, i, parent):
        return (
            f"L{level}",
            [{"system": "s/chain", "value": f"L{level}-{i}"}],
            {"identifier": {"system": "s/chain", "value": parent}} if parent else None,
        )

    rows = [res(0, i, None) for i in range(6)]
    for level in (1, 2, 3):
        rows += [res(level, i, f"L{level - 1}-{i}") for i in range(6)]
    dangling = [res(9, i, f"MISSING-{i}") for i in range(3)]
    frame = spark.createDataFrame(rows + dangling, schema)

    result = load_fixpoint(spark, frame, empty_id_map(spark), ["parent"])
    assert [
        sorted({r["resourceType"] for r in df.select("resourceType").collect()})
        for df in result.loaded_rounds
    ] == [["L0"], ["L1"], ["L2"], ["L3"]]
    assert result.rounds == 5  # four loading rounds + one without progress
    invalid = sorted(r["identifier"][0]["value"] for r in result.invalid.collect())
    assert invalid == ["L9-0", "L9-1", "L9-2"]
    assert result.id_map.count() == 24
    plan = result.invalid._jdf.queryExecution().optimizedPlan().toString()
    assert len(plan) < 100_000, len(plan)


def test_rest_sink_with_backoff(spark):
    df = spark.createDataFrame(
        [
            ("CodeSystem", '{"resourceType":"CodeSystem"}'),
            ("Patient", '{"resourceType":"Patient","id":"1"}'),
            ("Patient", '{"resourceType":"Patient","id":"2"}'),
        ],
        "resourceType string, resource_json string",
    )
    sleeps = []
    counts = load_resources(
        df,
        transport_factory=lambda: InMemoryTransport(fail_first=1),
        parallelism=2,
        sleep_fn=sleeps.append,
    )
    by_type = {r["resourceType"]: (r["ok"], r["err"]) for r in counts.collect()}
    assert by_type["CodeSystem"][0] == 1
    assert by_type["Patient"] == (2, 0)


class _LedgerTransport:
    """FHIR-server fake honoring If-None-Exist, with its create ledger on
    DISK (O_CREAT|O_EXCL = the atomic 'create if absent') so it stays
    consistent across the separate Python worker processes Spark runs
    partitions in — exactly what a replayed task would see server-side."""

    def __init__(self, ledger_dir: str):
        self.ledger_dir = ledger_dir

    def __call__(self, method, resource_type, body, headers=None):
        import hashlib
        import os
        import uuid

        from ncpi_whistler_spark.sinks.rest import LoadResult

        key = (headers or {}).get("If-None-Exist")
        if method == "POST" and key:
            fn = os.path.join(
                self.ledger_dir, hashlib.md5(key.encode()).hexdigest()
            )
            try:
                fd = os.open(fn, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, key.encode())
                os.close(fd)
                return LoadResult(status=201, resource_type=resource_type)
            except FileExistsError:
                # conditional create matched: return existing, create nothing
                return LoadResult(status=200, resource_type=resource_type)
        # no identifier → unconditional create (documented fallback)
        fn = os.path.join(self.ledger_dir, f"uncond-{uuid.uuid4().hex}")
        with open(fn, "w") as fh:
            fh.write(body)
        return LoadResult(status=201, resource_type=resource_type)


def test_rest_sink_partition_replay_is_idempotent(spark, tmp_path):
    """VERDICT r6 item 3: a Spark task retry / speculative attempt
    replays the whole partition through _load_partition; with the
    conditional-create header the server must not double-create.
    Simulated at FULL strength — the entire load re-runs (every
    partition 'replayed') against a cross-process disk ledger — and the
    ledger must hold exactly one created resource per identifier."""
    import json
    import os

    rows = [
        (
            "Patient",
            json.dumps(
                {
                    "resourceType": "Patient",
                    "identifier": [
                        {"system": "https://example.org/study", "value": f"P{i}"}
                    ],
                }
            ),
        )
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, "resourceType string, resource_json string")
    ledger = tmp_path / "ledger"
    ledger.mkdir()
    factory = lambda: _LedgerTransport(str(ledger))  # noqa: E731

    counts1 = load_resources(df, factory, parallelism=4)
    ok1 = {r["resourceType"]: r["ok"] for r in counts1.collect()}
    created1 = len(os.listdir(ledger))
    assert ok1 == {"Patient": 20} and created1 == 20

    # the replay: the same partitions run again (a super-set of any
    # single task retry) — zero new creations, loads still report ok
    counts2 = load_resources(df, factory, parallelism=4)
    ok2 = {r["resourceType"]: r["ok"] for r in counts2.collect()}
    assert ok2 == {"Patient": 20}
    assert len(os.listdir(ledger)) == created1, "replay double-created"
    assert not any(n.startswith("uncond-") for n in os.listdir(ledger))


class _CallLogTransport:
    """Counts transport calls on DISK (one file per call), so calls made
    in Spark's separate Python worker processes are all seen."""

    def __init__(self, log_dir: str):
        self.log_dir = log_dir

    def __call__(self, method, resource_type, body, headers=None):
        import os
        import uuid

        from ncpi_whistler_spark.sinks.rest import LoadResult

        with open(os.path.join(self.log_dir, uuid.uuid4().hex), "w") as fh:
            fh.write(body)
        return LoadResult(status=201, resource_type=resource_type)


def test_rest_sink_sends_each_row_once(spark, tmp_path):
    """Every row reaches the transport exactly once — the terminology
    phase and the fanned-out phase alike — and evaluating the returned
    counts again sends nothing."""
    import os

    rows = [("CodeSystem", f'{{"resourceType":"CodeSystem","id":"c{i}"}}') for i in range(3)]
    rows += [("ValueSet", f'{{"resourceType":"ValueSet","id":"v{i}"}}') for i in range(2)]
    rows += [("Patient", f'{{"resourceType":"Patient","id":"p{i}"}}') for i in range(12)]
    df = spark.createDataFrame(rows, "resourceType string, resource_json string")
    log = tmp_path / "calls"
    log.mkdir()

    counts = load_resources(df, lambda: _CallLogTransport(str(log)), parallelism=4)
    assert len(os.listdir(log)) == len(rows)
    by_type = {r["resourceType"]: (r["ok"], r["err"]) for r in counts.collect()}
    assert by_type == {"CodeSystem": (3, 0), "ValueSet": (2, 0), "Patient": (12, 0)}
    counts.collect()
    assert len(os.listdir(log)) == len(rows)


def test_rest_sink_conditional_create_header_shape(spark):
    """The If-None-Exist value is identifier=<system>|<value> from the
    resource's FIRST identifier (map-side derivation), and
    _load_partition attaches it ONLY to identifier-bearing POSTs —
    identifier-less resources and PUTs go header-less."""
    import json

    from pyspark.sql import Row

    from ncpi_whistler_spark.sinks.rest import (
        _COND_COL,
        _load_partition,
        derive_if_none_exist,
    )

    df = spark.createDataFrame(
        [
            (
                "Patient",
                json.dumps(
                    {
                        "resourceType": "Patient",
                        "identifier": [
                            {"system": "urn:s", "value": "A1"},
                            {"system": "urn:other", "value": "ZZZ"},
                        ],
                    }
                ),
            ),
            ("Patient", '{"resourceType":"Patient"}'),
        ],
        "resourceType string, resource_json string",
    )
    vals = [r[0] for r in derive_if_none_exist(df).select(_COND_COL).collect()]
    assert vals == ["identifier=urn%3As%7CA1", None]

    # Two encoding layers, inside-out as a FHIR server decodes: FHIR
    # search escaping (else 'A,B' parses as value-A OR value-B and the
    # create silently matches the wrong resource) then form-URL-encoding
    # (else '&'/'%' corrupt the search and non-ASCII/control chars crash
    # http.client's latin-1 header encoding mid-partition). Empty value
    # → NULL (a system-only search matches ANY resource of the system).
    esc = spark.createDataFrame(
        [
            ("Patient", json.dumps({"identifier": [{"system": "urn:s", "value": v}]}))
            for v in ("A,B", "p|q", "c$d", "e\\f", "A&B", "患者1", "bad\r\nvalue", "")
        ],
        "resourceType string, resource_json string",
    )
    got = [r[0] for r in derive_if_none_exist(esc).select(_COND_COL).collect()]
    assert got == [
        "identifier=urn%3As%7CA%5C%2CB",
        "identifier=urn%3As%7Cp%5C%7Cq",
        "identifier=urn%3As%7Cc%5C%24d",
        "identifier=urn%3As%7Ce%5C%5Cf",
        "identifier=urn%3As%7CA%26B",
        "identifier=urn%3As%7C%E6%82%A3%E8%80%851",
        "identifier=urn%3As%7Cbad%0D%0Avalue",
        None,
    ]
    assert all(v is None or v.isascii() for v in got)


def test_rest_sink_legacy_three_arg_transport_still_works(spark):
    """The documented 3-arg transport injection point keeps working:
    _load_partition probes the signature once and calls legacy
    transports with legacy args (they get plain POSTs — no conditional
    create — instead of a TypeError on the first identifier row)."""
    from pyspark.sql import Row

    from ncpi_whistler_spark.sinks.rest import _COND_COL, _load_partition

    seen = []

    def legacy(method, resource_type, body):
        from ncpi_whistler_spark.sinks.rest import LoadResult

        seen.append((method, resource_type, body))
        return LoadResult(status=200, resource_type=resource_type)

    rows = [
        Row(resourceType="Patient", resource_json="{}",
            **{_COND_COL: "identifier=urn%3As%7CA1"}),
    ]
    out = list(_load_partition(iter(rows), lambda: legacy, 0, lambda s: None))
    assert seen == [("POST", "Patient", "{}")]
    assert out == [("Patient", 1, 0)]

    rows = [
        Row(resourceType="Patient", resource_json="{}",
            **{_COND_COL: "identifier=urn:s|A1"}),
        Row(resourceType="Patient", resource_json="{}", **{_COND_COL: None}),
        Row(resourceType="Patient", resource_json='{"id":"p1"}', method="PUT",
            **{_COND_COL: "identifier=urn:s|A1"}),
    ]
    t = InMemoryTransport()
    list(_load_partition(iter(rows), lambda: t, 0, lambda s: None))
    assert [c[3] for c in t.calls] == [
        {"If-None-Exist": "identifier=urn:s|A1"},
        None,
        None,  # PUT is already idempotent; no conditional-create header
    ]


def test_whistle_input_doc_shape(extracted):
    """Whistle-input document carries the reference's full study block
    (wstlr/extractor.py:207-224) plus one key per extracted table."""
    from ncpi_whistler_spark.plans.pipeline import to_whistle_input

    doc = to_whistle_input(extracted)
    assert set(doc["study"]) == {
        "id", "accession", "title", "desc", "identifier-prefix",
        "dd-prefix", "url", "publisher", "data-dictionary", "annotations",
    }
    assert doc["config"]["missing"] == extracted.config.missing_values
    assert "participant" in doc and len(doc["participant"]) == 3
    assert doc["harmony"]  # mappings included
    # study-level DataSet DD + one table entry per DD-bearing table
    # (reference parity proven key-for-key in test_differential's
    # test_whistle_input_full_document_differential)
    dd_doc = doc["study"]["data-dictionary"]
    assert dd_doc[0]["study"] == "TESTSTUDY"
    assert dd_doc[0]["table_name"] == "DataSet"
    assert [t["varname"] for t in dd_doc[0]["values"]] == ["participant"]
    assert [t["table_name"] for t in dd_doc[1:]] == ["participant"]
    cs_tables = [c.get("table_name") for c in doc["code-systems"]]
    assert "DataSet" in cs_tables and "participant" in cs_tables


def test_whistle_input_row_cap(extracted):
    """to_whistle_input is a driver collect by design; an over-cap table
    must raise loudly instead of OOMing the driver (VERDICT r2 item 3)."""
    import pytest

    from ncpi_whistler_spark.plans.pipeline import to_whistle_input

    with pytest.raises(ValueError, match="driver-collect cap"):
        to_whistle_input(extracted, max_rows=1)
    # explicit opt-out for golden-output tests still works
    doc = to_whistle_input(extracted, max_rows=None)
    assert "participant" in doc


def test_prime_id_map_and_incremental_reload(spark):
    """E6 remote half: prime the id map from a (real, local) FHIR server's
    paged identifier search, then load a resource whose reference resolves
    to a PRE-EXISTING server id — the reference's incremental-reload story
    (wstlr/play.py:427-434, wstlr/idcache.py:45-71)."""
    import http.server
    import json as _json
    import threading

    from ncpi_whistler_spark.sinks.idresolve import (
        load_fixpoint,
        prime_id_map,
    )

    # Two-page Patient search; P1 already exists server-side as id
    # "srv-patient-1". Page 2 reached via Bundle link[next].
    def bundle(port, page):
        if page == 1:
            return {
                "resourceType": "Bundle",
                "link": [
                    {
                        "relation": "next",
                        "url": f"http://127.0.0.1:{port}/Patient?page=2",
                    }
                ],
                "entry": [
                    {
                        "resource": {
                            "resourceType": "Patient",
                            "id": "srv-patient-1",
                            "identifier": [
                                {"system": "s/patient", "value": "P1"},
                                {"system": "other/system", "value": "X9"},
                            ],
                        }
                    }
                ],
            }
        return {
            "resourceType": "Bundle",
            "entry": [
                {
                    "resource": {
                        "resourceType": "Patient",
                        "id": "srv-patient-2",
                        "identifier": [{"system": "s/patient", "value": "P2"}],
                    }
                },
                {"resource": {"resourceType": "Patient"}},  # no id → skipped
            ],
        }

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            page = 2 if "page=2" in self.path else 1
            body = _json.dumps(bundle(self.server.server_port, page)).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/fhir+json")
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = http.server.HTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        primed = prime_id_map(
            spark,
            f"http://127.0.0.1:{srv.server_port}",
            ["Patient"],
            identifier_prefix="s/",
        )
        got = {
            (r["system"], r["identifier"], r["resource_type"], r["fhir_id"])
            for r in primed.collect()
        }
        # both pages followed; the non-study system and id-less entry dropped
        assert got == {
            ("s/patient", "P1", "Patient", "srv-patient-1"),
            ("s/patient", "P2", "Patient", "srv-patient-2"),
        }
    finally:
        srv.shutdown()

    obs = spark.createDataFrame(
        [
            (
                "Observation",
                [{"system": "s/observation", "value": "O1"}],
                {"identifier": {"system": "s/patient", "value": "P1"}},
            ),
        ],
        "resourceType string, identifier array<struct<system:string,value:string>>, "
        "subject struct<identifier:struct<system:string,value:string>>",
    )
    result = load_fixpoint(spark, obs, primed, ["subject"])
    # resolves in round 1 against the primed (pre-existing) server id
    assert result.rounds == 1 and not result.invalid.take(1)
    row = result.loaded_rounds[0].select("subject_ref").first()
    assert row["subject_ref"] == "Patient/srv-patient-1"
