"""CLI surface: extract end-to-end through main()."""

from __future__ import annotations

import json
import os

from ncpi_whistler_spark import cli
from tests.test_pipeline import study_dir  # fixture reuse  # noqa: F401


def test_cli_extract(spark, study_dir, tmp_path):  # noqa: F811
    json_out = str(tmp_path / "whistle_input.json")
    out_dir = str(tmp_path / "tables")
    rc = cli.main(
        [
            "extract",
            str(study_dir / "study.yaml"),
            "--out",
            out_dir,
            "--json-out",
            json_out,
        ]
    )
    assert rc == 0
    doc = json.loads(open(json_out).read())
    assert doc["study"]["id"] == "TESTSTUDY"
    assert "participant" in doc and len(doc["participant"]) == 3
    assert os.path.isdir(os.path.join(out_dir, "specimen"))
    back = spark.read.parquet(os.path.join(out_dir, "participant"))
    assert back.count() == 3


def test_cli_init_then_extract(spark, tmp_path):
    """init scaffolds a runnable project (reference init-play analog):
    extract on the generated study.yaml works end-to-end, and the
    harmony skeleton actually harmonizes the sample Sex column."""
    dest = str(tmp_path / "newstudy")
    rc = cli.main(["init", dest, "--study-id", "SCAFFOLD"])
    assert rc == 0
    for f in ("study.yaml", "participant.csv", "participant-dd.csv", "harmony.csv"):
        assert os.path.exists(os.path.join(dest, f))
    # refuses to clobber without --force
    assert cli.main(["init", dest, "--study-id", "SCAFFOLD"]) == 2
    assert cli.main(["init", dest, "--study-id", "SCAFFOLD", "--force"]) == 0

    out_dir = str(tmp_path / "tables")
    json_out = str(tmp_path / "wi.json")
    rc = cli.main(["extract", os.path.join(dest, "study.yaml"),
                   "--out", out_dir, "--json-out", json_out])
    assert rc == 0
    doc = json.loads(open(json_out).read())
    assert doc["study"]["id"] == "SCAFFOLD"
    back = spark.read.parquet(os.path.join(out_dir, "participant"))
    rows = {r["participant_id"]: r.asDict() for r in back.collect()}
    assert set(rows) == {"P0001", "P0002"}
    # harmony skeleton mapped the coded sex values
    sex_cols = [c for c in back.columns if c.startswith("sex")]
    assert sex_cols, back.columns


def test_cli_builddd_igload_ledger(spark, study_dir, tmp_path):  # noqa: F811
    import json as _json

    # builddd from the participant fixture CSV
    dd_out = str(tmp_path / "inferred-dd.csv")
    rc = cli.main(["builddd", str(study_dir / "participant.csv"), "--name",
                   "participant", "--out", dd_out])
    assert rc == 0 and os.path.exists(dd_out)

    # igload from a json file
    ig = tmp_path / "cs.json"
    ig.write_text(_json.dumps({"resourceType": "CodeSystem", "url": "http://x"}))
    ig_out = str(tmp_path / "ig_parquet")
    assert cli.main(["igload", str(ig), "--out", ig_out]) == 0
    assert spark.read.parquet(ig_out).count() == 1

    # ledger + purge dry run
    from ncpi_whistler_spark.sinks.ledger import append_ledger

    ledger = str(tmp_path / "ledger")
    ids = spark.createDataFrame(
        [("S1", "dev", "Patient", "p1")],
        "study_id string, host string, resource_type string, fhir_id string",
    )
    append_ledger(spark, ledger, ids)
    assert cli.main(["studyids", ledger]) == 0
    assert cli.main(["purge", ledger, "--study-id", "S1", "--host", "dev"]) == 0


def test_cli_resources_and_inspect(spark, study_dir, tmp_path):  # noqa: F811
    out = str(tmp_path / "resources")
    rc = cli.main(
        ["resources", str(study_dir / "study.yaml"), "--out", out,
         "--bundles", str(tmp_path / "bundles")]
    )
    assert rc == 0
    res = spark.read.parquet(out)
    assert res.count() > 0
    assert set(res.columns) == {"module", "resourceType", "resource_json"}
    # inspect returns 0 (clean) or 2 (violations) — both valid exits
    rc2 = cli.main(["inspect", out])
    assert rc2 in (0, 2)


def test_demo_study_example(spark, monkeypatch, tmp_path):
    """The shipped examples/demo_study config extracts end-to-end (paths
    are repo-root relative, like the README commands)."""
    import os

    from ncpi_whistler_spark.plans.config import StudyConfig
    from ncpi_whistler_spark.plans.pipeline import extract_dataset

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    monkeypatch.chdir(root)
    cfg = StudyConfig.from_yaml("examples/demo_study/study.yaml")
    ds = extract_dataset(spark, cfg)
    assert set(ds.tables) == {"participant", "specimen"}
    part = {r["participant_id"]: r for r in ds.tables["participant"].collect()}
    assert part["P0001"]["sex_display"] == "Male"
    meds = {m["code"]: m for m in part["P0001"]["medications"]}
    assert meds["aspirin"]["value"] == "81"
    spec = {r["sample_id"]: r for r in ds.tables["specimen"].collect()}
    assert len(spec["S1"]["file_manifest"]) == 2


def test_cli_buildcm_and_harmonyskel(spark, study_dir, tmp_path):  # noqa: F811
    cm_out = str(tmp_path / "harmony.json")
    rc = cli.main(["buildcm", str(study_dir / "study.yaml"), "--out", cm_out])
    assert rc == 0
    doc = json.loads(open(cm_out).read())
    types = [r["resourceType"] for rs in doc.values() for r in rs]
    assert types.count("ConceptMap") == 1 and "ValueSet" in types
    (cm,) = [r for rs in doc.values() for r in rs if r["resourceType"] == "ConceptMap"]
    assert len(cm["group"]) >= 1

    skel = str(tmp_path / "skeleton.csv")
    rc = cli.main(["harmonyskel", str(study_dir / "study.yaml"), "--out", skel])
    assert rc == 0
    import csv

    rows = list(csv.DictReader(open(skel)))
    # the DD's enumerated Sex variable (1=Male;2=Female) seeds the skeleton
    assert {(r["local code"], r["text"]) for r in rows} >= {("1", "Male"), ("2", "Female")}
    assert all(r["code"] == "" for r in rows)  # targets left blank for curation


def test_cli_bundleup_load_ddcsv(spark, study_dir, tmp_path):  # noqa: F811
    out = str(tmp_path / "resources")
    assert cli.main(["resources", str(study_dir / "study.yaml"), "--out", out]) == 0

    bundles = str(tmp_path / "bundles")
    assert cli.main(["bundleup", out, "--out", bundles, "--chunk", "5"]) == 0
    files = [
        os.path.join(root, f)
        for root, _, fs in os.walk(bundles)
        for f in fs
        if f.endswith(".json")
    ]
    assert files
    with open(files[0]) as fh:
        entry = json.loads(fh.readline())
    assert entry["fullUrl"].startswith("urn:whistler/")
    assert entry["request"]["method"] in ("POST", "PUT")

    # dry-run load through the CLI (InMemoryTransport)
    assert cli.main(["load", out]) == 0

    # ddcsv: JSON model → per-table CSVs
    model = {
        "tables": [
            {
                "table": "subject",
                "columns": [
                    {"variable_name": "subject_id", "data_type": "string",
                     "description": "id", "enumerations": ""},
                    {"variable_name": "status", "data_type": "enumeration",
                     "description": "status", "enumerations": "a=Active;i=Inactive"},
                ],
            }
        ]
    }
    mpath = tmp_path / "model.json"
    mpath.write_text(json.dumps(model))
    dd_dir = str(tmp_path / "dds")
    assert cli.main(["ddcsv", str(mpath), "--out", dd_dir]) == 0
    import csv

    rows = list(csv.DictReader(open(os.path.join(dd_dir, "subject.csv"))))
    assert rows[1]["data_type"] == "enumeration"
    assert "a=Active" in rows[1]["enumerations"]


def test_http_transport_against_local_server(tmp_path):
    """HttpTransport speaks real HTTP (stdlib server): POST path, PUT
    with id in URL, 429 surfaced as a retryable status."""
    import http.server
    import threading

    from ncpi_whistler_spark.sinks.rest import HttpTransport

    seen = []

    class Handler(http.server.BaseHTTPRequestHandler):
        def _handle(self):
            body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
            seen.append((self.command, self.path, body.decode()))
            if self.path.endswith("/Throttled"):
                self.send_response(429)
                self.end_headers()
                return
            self.send_response(200)
            self.send_header("Content-Type", "application/fhir+json")
            self.end_headers()
            self.wfile.write(b'{"id": "srv-1"}')

        do_POST = _handle
        do_PUT = _handle

        def log_message(self, *a):  # silence
            pass

    srv = http.server.HTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        base = f"http://127.0.0.1:{srv.server_port}/fhir"
        transport = HttpTransport(base_url=base)
        r = transport("POST", "Patient", '{"resourceType": "Patient"}')
        assert (r.status, r.fhir_id) == (200, "srv-1")
        r2 = transport("PUT", "Patient", '{"resourceType": "Patient", "id": "p9"}')
        assert r2.status == 200
        r3 = transport("POST", "Throttled", "{}")
        assert r3.status == 429
    finally:
        srv.shutdown()
    assert ("POST", "/fhir/Patient", '{"resourceType": "Patient"}') in seen
    assert any(m == "PUT" and p == "/fhir/Patient/p9" for m, p, _ in seen)


def test_cli_sql(spark, tmp_path, capsys):
    from tests.conftest import SF_DIR

    out = str(tmp_path / "sqlout")
    rc = cli.main(
        ["sql", "SELECT o_orderstatus, COUNT(*) AS n FROM orders GROUP BY 1",
         "--sf-dir", SF_DIR, "--out", out]
    )
    assert rc == 0
    back = spark.read.parquet(out)
    assert back.count() >= 2 and set(back.columns) == {"o_orderstatus", "n"}


def test_cli_load_via_named_host(spark, study_dir, tmp_path, monkeypatch):  # noqa: F811
    """load --host resolves the URL from the fhir_hosts file and speaks
    real HTTP to it — the reference's `play --host dev` contract
    end-to-end."""
    import http.server
    import threading

    out = str(tmp_path / "resources")
    assert cli.main(["resources", str(study_dir / "study.yaml"), "--out", out]) == 0

    hits = []

    class Handler(http.server.BaseHTTPRequestHandler):
        def _handle(self):
            self.rfile.read(int(self.headers.get("Content-Length", 0)))
            hits.append(self.path)
            self.send_response(200)
            self.send_header("Content-Type", "application/fhir+json")
            self.end_headers()
            self.wfile.write(b'{"id": "srv-1"}')

        do_POST = _handle
        do_PUT = _handle

        def log_message(self, *a):
            pass

    srv = http.server.HTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        hosts = tmp_path / "fhir_hosts"
        hosts.write_text(
            "dev:\n"
            "  host_desc: Local test server\n"
            f"  target_service_url: http://127.0.0.1:{srv.server_port}/fhir\n"
            "  auth_type: no_auth\n"
        )
        assert (
            cli.main(["load", out, "--host", "dev", "--hosts-file", str(hosts)])
            == 0
        )
    finally:
        srv.shutdown()
    assert hits and all(p.startswith("/fhir/") for p in hits)


def test_cli_load_auth_round_trip(spark, study_dir, tmp_path):  # noqa: F811
    """Auth headers actually reach the wire: the server REJECTS requests
    without the expected Authorization (401), and `load --host` succeeds
    for both auth_basic and auth_bearer host entries while a no_auth
    entry against the same server fails."""
    import base64
    import http.server
    import threading

    out = str(tmp_path / "resources")
    assert cli.main(["resources", str(study_dir / "study.yaml"), "--out", out]) == 0

    basic_tok = base64.b64encode(b"alice:s3cret").decode()
    seen: list[str | None] = []

    class Handler(http.server.BaseHTTPRequestHandler):
        def _handle(self):
            self.rfile.read(int(self.headers.get("Content-Length", 0)))
            auth = self.headers.get("Authorization")
            seen.append(auth)
            if auth not in (f"Basic {basic_tok}", "Bearer tok-123"):
                self.send_response(401)
                self.end_headers()
                self.wfile.write(b'{"issue": "unauthorized"}')
                return
            self.send_response(200)
            self.send_header("Content-Type", "application/fhir+json")
            self.end_headers()
            self.wfile.write(b'{"id": "srv-1"}')

        do_POST = _handle
        do_PUT = _handle

        def log_message(self, *a):
            pass

    srv = http.server.HTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        url = f"http://127.0.0.1:{srv.server_port}/fhir"
        hosts = tmp_path / "fhir_hosts"
        hosts.write_text(
            "basic:\n"
            "  host_desc: basic-auth server\n"
            f"  target_service_url: {url}\n"
            "  auth_type: auth_basic\n"
            "  username: alice\n"
            "  password: s3cret\n"
            "bearer:\n"
            "  host_desc: bearer server\n"
            f"  target_service_url: {url}\n"
            "  auth_type: auth_bearer\n"
            "  token: tok-123\n"
            "anon:\n"
            "  host_desc: no auth creds\n"
            f"  target_service_url: {url}\n"
            "  auth_type: no_auth\n"
        )
        hf = ["--hosts-file", str(hosts)]
        assert cli.main(["load", out, "--host", "basic", *hf]) == 0
        assert cli.main(["load", out, "--host", "bearer", *hf]) == 0
        # same server, credentials withheld -> 401s -> nonzero exit
        assert cli.main(["load", out, "--host", "anon", *hf]) == 2
    finally:
        srv.shutdown()
    assert f"Basic {basic_tok}" in seen and "Bearer tok-123" in seen
    assert None in seen  # the rejected anonymous attempt hit the server


def test_cli_play_end_to_end_with_incremental_skip(spark, study_dir, tmp_path, capsys):  # noqa: F811
    """The one-command play pipeline: first run builds resources +
    bundles, inspects, and dry-run-loads; second run SKIPS the build
    (manifest current); touching a data file rebuilds; --force always
    rebuilds."""
    import os
    import time

    work = str(tmp_path / "work")
    rc = cli.main(["play", str(study_dir / "study.yaml"), "--workdir", work])
    out1 = capsys.readouterr().out
    assert rc == 0
    assert "rebuilt" in out1 and '"dry_run": true' in out1
    assert os.path.isdir(os.path.join(work, "resources"))
    assert os.listdir(os.path.join(work, "bundles"))

    rc = cli.main(["play", str(study_dir / "study.yaml"), "--workdir", work])
    out2 = capsys.readouterr().out
    assert rc == 0 and "up-to-date, skipped" in out2

    # stale input -> rebuild
    time.sleep(0.01)
    os.utime(str(study_dir / "participant.csv"))
    rc = cli.main(["play", str(study_dir / "study.yaml"), "--workdir", work])
    out3 = capsys.readouterr().out
    assert rc == 0 and "rebuilt" in out3

    rc = cli.main(["play", str(study_dir / "study.yaml"), "--workdir", work, "--force"])
    out4 = capsys.readouterr().out
    assert rc == 0 and "rebuilt" in out4
