"""Output checks for the pipeline benchmark.

Every expected figure is recomputed here in plain Python from the
generated input files (csv module, a dictionary lookup over the harmony
CSV), never taken from the program or from a saved copy of its output.
A check returns a list of problems; an empty list means it passed.
"""

from __future__ import annotations

import csv
import glob
import hashlib
import json
import os
from collections import Counter

import pyarrow.parquet as pq

MISSING = ("NA", "", "Not Provided")
BUNDLE_CHUNK = 15_000
RACE_URL = "http://hl7.org/fhir/us/core/StructureDefinition/us-core-race"


def _rows(path: str) -> list[dict]:
    with open(path, newline="") as fh:
        return list(csv.DictReader(fh))


def _is_enumerated(dd_row: dict) -> bool:
    enums = dd_row["enumerations"]
    return bool(enums) and (";" in enums or "=" in enums)


class StudyExpectation:
    """What one forced play of a generated study must produce."""

    def __init__(self, study_dir: str):
        participants = _rows(os.path.join(study_dir, "participant.csv"))
        specimens = _rows(os.path.join(study_dir, "specimen.csv"))
        manifest = _rows(os.path.join(study_dir, "file_manifest.csv"))
        dd = _rows(os.path.join(study_dir, "participant-dd.csv"))
        harmony = _rows(os.path.join(study_dir, "harmony.csv"))

        n, enumerated = len(participants), sum(map(_is_enumerated, dd))
        self.counts = Counter({
            "Observation": n,
            "QuestionnaireResponse": n,
            "Patient": n,
            "Specimen": len(specimens),
            "CodeSystem": 1 + enumerated,
            "ValueSet": enumerated + 2,
            "ObservationDefinition": len(dd),
            "ActivityDefinition": 1,
            "Questionnaire": 1,
            "ConceptMap": 1,
        })
        # harmony lookup: (local system, local code) -> target codings
        codings: dict[tuple[str, str], list[tuple]] = {}
        for r in harmony:
            codings.setdefault((r["local code system"], r["local code"]), []).append(
                (r["code"], r["display"], r["code system"])
            )

        def first_mapped(system: str, value: str):
            found = codings.get((system, value))
            return min(found)[0] if found else None

        self.genders = Counter(first_mapped("sex", p["Sex"]) for p in participants)
        self.races = Counter(
            first_mapped("race", p["Race"]) or "text-only"
            for p in participants
            if p["Race"] not in MISSING
        )
        files = Counter(m["sample_id"] for m in manifest)
        self.specimen_files = {s["sample_id"]: files[s["sample_id"]] for s in specimens}

        # harmony vocabulary: rows with a table name feed the ConceptMap and
        # the two harmony ValueSets (all generated rows carry one)
        mapped = [r for r in harmony if r["table_name"]]
        #: ConceptMap groups: one per (table, local system, target system)
        self.cm_groups = len({(r["table_name"], r["local code system"], r["code system"]) for r in mapped})
        #: (target system, local code, target code) edges of the ConceptMap
        self.cm_edges = Counter(
            {(r["code system"], r["local code"], r["code"]): 1 for r in mapped}
        )
        #: "sources" ValueSet: local codes per (local system, table, variable)
        sources: dict[tuple, set] = {}
        for r in mapped:
            key = (r["local code system"], r["table_name"], r["parent_varname"])
            sources.setdefault(key, set()).add(r["local code"])
        self.vs_sources = sorted(len(codes) for codes in sources.values())
        #: "targets" ValueSet: (system, code) of every target coding
        self.vs_targets = Counter({(r["code system"], r["code"]): 1 for r in mapped})


def check_load_counts(stdout: str, expected: Counter) -> tuple[list[str], int]:
    """The per-type ``ok``/``err`` JSON ``whistler-spark play`` prints last; returns the
    problems and the resources acknowledged."""
    start = stdout.rfind('{\n  "dry_run"')
    if start < 0:
        return ["play printed no load counts"], 0
    counts = json.loads(stdout[start:])["counts"]
    problems = []
    for rtype, want in expected.items():
        got = counts.get(rtype, {"ok": 0, "err": 0})
        if got["ok"] != want or got["err"] != 0:
            problems.append(f"load {rtype}: ok={got['ok']} err={got['err']}, want ok={want}")
    extra = set(counts) - set(expected)
    if extra:
        problems.append(f"load of unexpected types {sorted(extra)}")
    return problems, sum(c["ok"] for c in counts.values())


def check_resources(res_dir: str, exp: StudyExpectation) -> list[str]:
    table = pq.read_table(res_dir, columns=["resourceType", "resource_json"])
    types = table.column("resourceType").to_pylist()
    docs = table.column("resource_json").to_pylist()
    problems = []
    got = Counter(types)
    if got != exp.counts:
        problems.append(f"resource counts {dict(got)} != expected {dict(exp.counts)}")
    genders, races, files = Counter(), Counter(), {}
    for rtype, doc in zip(types, docs):
        if rtype == "Patient":
            p = json.loads(doc)
            genders[p.get("gender")] += 1
            for ext in p.get("extension", ()):
                if ext["url"] == RACE_URL:
                    races[ext.get("ombCategory", {}).get("code", "text-only")] += 1
        elif rtype == "Specimen":
            s = json.loads(doc)
            files[s["identifier"][0]["value"]] = len(s.get("extension", ()))
    if genders != exp.genders:
        problems.append(f"Patient genders {dict(genders)} != {dict(exp.genders)}")
    if races != exp.races:
        problems.append(f"Patient race codings {dict(races)} != {dict(exp.races)}")
    if files != exp.specimen_files:
        bad = sum(files.get(k) != v for k, v in exp.specimen_files.items())
        problems.append(f"{bad} Specimens carry the wrong number of file extensions")
    return problems


def check_harmony_vocabulary(res_dir: str, exp: StudyExpectation) -> list[str]:
    """The ConceptMap's groups and edges and the two harmony ValueSets'
    includes against the harmony CSV."""
    table = pq.read_table(res_dir, columns=["resourceType", "resource_json"])
    cm, vs = None, {}
    for rtype, doc in zip(*(c.to_pylist() for c in table.columns)):
        if rtype not in ("ConceptMap", "ValueSet"):
            continue
        doc = json.loads(doc)
        if rtype == "ConceptMap":
            cm = doc
            continue
        # the harmony ValueSets' urls end in /ConceptMap/ValueSet/<study>/<role>
        head, _, role = doc.get("url", "").rpartition("/")
        if "/ConceptMap/ValueSet/" in head:
            vs[role] = doc["compose"].get("include", [])
    problems = []
    groups = (cm or {}).get("group", [])
    edges = Counter(
        (g["target"], el["code"], t["code"])
        for g in groups for el in g.get("element", ()) for t in el.get("target", ())
    )
    if len(groups) != exp.cm_groups or edges != exp.cm_edges:
        problems.append(
            f"ConceptMap: {len(groups)} groups and {sum(edges.values())} edges, "
            f"want {exp.cm_groups} and {sum(exp.cm_edges.values())} from the harmony CSV"
        )
    sources = sorted(len(inc.get("concept", ())) for inc in vs.get("sources", ()))
    targets = Counter(
        (inc["system"], c["code"]) for inc in vs.get("targets", ()) for c in inc.get("concept", ())
    )
    if sources != exp.vs_sources:
        problems.append(
            f"harmony ValueSet sources: {len(sources)} includes of {sum(sources)} codes, "
            f"want {len(exp.vs_sources)} of {sum(exp.vs_sources)}"
        )
    if targets != exp.vs_targets:
        problems.append(
            f"harmony ValueSet targets: {sum(targets.values())} codes, "
            f"want {sum(exp.vs_targets.values())}"
        )
    return problems


def check_bundles(bundles_dir: str, expected_total: int) -> tuple[list[str], int]:
    """Bundle entries must equal the distinct fullUrls (no duplicate entry)
    and every resource; no file may exceed the 15,000-entry chunk."""
    problems, urls, entries = [], set(), 0
    for path in glob.glob(os.path.join(bundles_dir, "**", "*.json"), recursive=True):
        with open(path) as fh:
            lines = fh.readlines()
        if len(lines) > BUNDLE_CHUNK:
            problems.append(f"{path} holds {len(lines)} entries")
        entries += len(lines)
        urls.update(json.loads(line)["fullUrl"] for line in lines)
    if entries != len(urls) or entries != expected_total:
        problems.append(
            f"bundles: {entries} entries, {len(urls)} distinct fullUrls, "
            f"{expected_total} resources"
        )
    return problems, entries


class ChainExpectation:
    """What a reference-resolving load of the chain rows must produce."""

    def __init__(self, rows: list[tuple], planted: set[str]):
        self.planted = planted
        self.type_of = {ident[0]["value"]: rtype for rtype, ident, _ in rows}
        self.target = {
            ident[0]["value"]: subject["identifier"]["value"] if subject else None
            for _, ident, subject in rows
        }
        self.loadable = Counter(
            rtype for rtype, ident, _ in rows if ident[0]["value"] not in planted
        )

    def reference(self, value: str) -> str:
        return f"{self.type_of[value]}/{hashlib.sha1(value.encode()).hexdigest()}"


def check_chain(exp: ChainExpectation, rounds: list[list], invalid: set[str], acked: Counter) -> list[str]:
    """``rounds`` holds per loading round rows of (identifier value,
    resolved subject reference)."""
    problems = []
    if invalid != exp.planted:
        problems.append(
            f"invalid set: {len(invalid)} resources, {len(invalid & exp.planted)} of "
            f"{len(exp.planted)} planted"
        )
    round_of = {}
    for i, rows in enumerate(rounds):
        for value, _ in rows:
            round_of[value] = i
    want = {v for v in exp.type_of if v not in exp.planted}
    if set(round_of) != want:
        problems.append(f"{len(want - set(round_of))} loadable resources never loaded")
    bad = 0
    for i, rows in enumerate(rounds):
        for value, ref in rows:
            target = exp.target[value]
            if target is None:
                bad += ref is not None
            elif ref != exp.reference(target) or round_of.get(target, i) >= i:
                bad += 1
    if bad:
        problems.append(f"{bad} references resolved wrongly or to a later round")
    if acked != exp.loadable:
        problems.append(f"acknowledged {dict(acked)} != loadable {dict(exp.loadable)}")
    return problems
