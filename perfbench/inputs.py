"""Seeded synthetic inputs for the pipeline benchmark (stdlib only).

Two kinds of input, both a pure function of ``seed`` and a shape:

* a study directory -- participant CSV (typed DD variables plus ``med_*``
  aggregator columns), its DD CSV and harmony CSV, a specimen table and a
  file manifest embedded into it, and the study YAML that wires them to
  ``examples/demo_study/projector``;
* a typed resource frame with reference chains several levels deep and a
  planted set of dangling references, as plain rows for
  ``sinks.idresolve.load_fixpoint``.

Nothing here imports the program; the checks (checks.py) recompute every
expected figure from the files written here, not from these generators.
"""

from __future__ import annotations

import csv
import json
import os
import random
from dataclasses import dataclass

STUDY_ID = "PBSTUDY"
PREFIX = "https://example.org/pbstudy"
GENDER_SYSTEM = "http://hl7.org/fhir/administrative-gender"
RACE_SYSTEM = "urn:oid:2.16.840.1.113883.6.238"

#: sex code -> target gender code ("9" stays unmapped on purpose)
SEX_CODES = {
    "1": ("Male", "male"), "2": ("Female", "female"),
    "3": ("Unknown", "unknown"), "9": ("Refused", None),
}
#: race text -> target OMB codings; one local code maps to two targets so
#: the first-mapped-coding order matters
RACE_CODES = {
    "White": [("2106-3", "White")],
    "Black or African American": [("2054-5", "Black or African American")],
    "Asian": [("2028-9", "Asian")],
    "American Indian or Alaska Native": [("1002-5", "American Indian or Alaska Native")],
    "More than one race": [("2131-1", "Other Race"), ("2106-3", "White")],
    "Unreported": [],
}
ETHNICITY = ["Hispanic or Latino", "Not Hispanic or Latino"]
MISSING = ["NA", "Not Provided", ""]
MAX_SPECIMENS = 3  # per participant, uniform 0..3
MAX_FILES = 3  # per specimen, uniform 0..3
MEDS = ["aspirin", "statin", "metformin", "lisinopril", "warfarin"]
SAMPLE_TYPES = ["blood", "saliva", "tissue", "urine"]
FILE_TYPES = ["bam", "vcf", "cram", "fastq"]
WORDS = "alpha beta gamma delta kappa sigma omega lumen vortex quartz ember".split()


@dataclass(frozen=True)
class StudyShape:
    participants: int
    enum_vars: int  # enumerated columns, each in the DD and the harmony map
    codes_per_var: int  # codes "1".."n", the same list for every variable
    #: further harmonized variables that only the harmony map names (a
    #: study-wide harmony file shared with tables outside this extraction)
    harmony_only_vars: int = 0
    #: how many of those carry local codes of their own ("q<var>-<n>")
    #: instead of "1".."n"; each adds ``codes_per_var`` keys to the
    #: value-keyed display map that every extracted column looks up
    distinct_code_vars: int = 0


@dataclass(frozen=True)
class ChainShape:
    roots: int  # resources at level 0 (no references)
    depth: int  # levels, so load_fixpoint needs ``depth`` loading rounds
    dangling: int  # planted resources whose reference never resolves


CHAIN_TYPES = [
    "Patient", "Specimen", "DocumentReference", "Observation",
    "DiagnosticReport", "Task", "Provenance", "Communication",
]


def _write_csv(path: str, header: list[str], rows) -> None:
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(header)
        w.writerows(rows)


def write_study(root: str, seed: int, shape: StudyShape, projector_lib: str) -> str:
    """Write one study into ``root``; returns the study YAML path."""
    rng = random.Random(seed)
    os.makedirs(root, exist_ok=True)
    enum_names = [f"Q{v:03d} Score" for v in range(shape.enum_vars)]

    # -- data dictionary ----------------------------------------------------
    dd = [
        ["Participant ID", "Unique participant identifier", "identifier", "", "", "", ""],
        ["Sex", "Sex assigned at birth", "enumeration",
         ";".join(f"{k}={v[0]}" for k, v in SEX_CODES.items()), "", "", ""],
        ["Race", "Self-reported race", "enumeration", ";".join(RACE_CODES), "", "", ""],
        ["Ethnicity", "Self-reported ethnicity", "enumeration", ";".join(ETHNICITY), "", "", ""],
        ["Age (years)", "Age at enrollment", "number", "", "0", "120", "years"],
        ["Visit Count", "Visits attended", "integer", "", "0", "50", ""],
        ["Clinic Note", "Free text note", "string", "", "", "", ""],
    ]
    for v, name in enumerate(enum_names):
        enums = ";".join(
            f"{j + 1}=Answer {j} of {name}" for j in range(shape.codes_per_var)
        )
        dd.append([name, f"Enumerated item {v}", "enumeration", enums, "", "", ""])
    _write_csv(
        os.path.join(root, "participant-dd.csv"),
        ["variable_name", "description", "data_type", "enumerations", "min", "max", "units"],
        dd,
    )

    # -- harmony ------------------------------------------------------------
    harmony = []
    for code, (text, target) in SEX_CODES.items():
        if target:
            harmony.append([code, text, "sex", target, text, GENDER_SYSTEM, "participant", "sex", ""])
    for text, targets in RACE_CODES.items():
        for tcode, tdisp in targets:
            harmony.append([text, text, "race", tcode, tdisp, RACE_SYSTEM, "participant", "race", ""])
    for v in range(shape.enum_vars + shape.harmony_only_vars):
        name = f"Q{v:03d} Score"
        local_system = name.lower().replace(" ", "_")
        own_codes = v >= shape.enum_vars + shape.harmony_only_vars - shape.distinct_code_vars
        for j in range(shape.codes_per_var):
            harmony.append([
                f"q{v:03d}-{j + 1}" if own_codes else str(j + 1),
                f"Answer {j} of {name}", local_system,
                f"T{v:03d}.{j:03d}", f"Target {j} of {name}",
                f"https://example.org/vocab/q{v:03d}", "participant", local_system, "",
            ])
    _write_csv(
        os.path.join(root, "harmony.csv"),
        ["local code", "text", "local code system", "code", "display",
         "code system", "table_name", "parent_varname", "comment"],
        harmony,
    )

    # -- participants, specimens, file manifest -----------------------------
    header = ["Participant ID", "Sex", "Race", "Ethnicity", "Age (years)",
              "Visit Count", "Clinic Note", *enum_names, *[f"med_{m}" for m in MEDS]]
    races = list(RACE_CODES) + ["NA", "Not Provided"]
    participants, specimens, files = [], [], []
    for i in range(shape.participants):
        pid = f"P{i:07d}"
        row = [
            pid,
            rng.choice(list(SEX_CODES) + ["NA"]),
            rng.choice(races),
            rng.choice(ETHNICITY + MISSING),
            "NA" if rng.random() < 0.05 else f"{rng.uniform(1, 99):.1f}",
            str(rng.randint(0, 50)),
            " ".join(rng.choice(WORDS) for _ in range(rng.randint(0, 6))),
        ]
        for v in range(shape.enum_vars):
            row.append("NA" if rng.random() < 0.1 else str(rng.randint(1, shape.codes_per_var)))
        row += ["NA" if rng.random() < 0.6 else str(rng.choice((5, 10, 20, 81, 325)))
                for _ in MEDS]
        participants.append(row)
        for _ in range(rng.randint(0, MAX_SPECIMENS)):
            sid = f"S{len(specimens):07d}"
            specimens.append([sid, pid, rng.choice(SAMPLE_TYPES), f"{rng.uniform(0.1, 5):.2f}"])
            for _ in range(rng.randint(0, MAX_FILES)):
                ftype = rng.choice(FILE_TYPES)
                files.append([sid, f"f{len(files):08d}.{ftype}", ftype, str(rng.randint(1, 900))])
    _write_csv(os.path.join(root, "participant.csv"), header, participants)
    _write_csv(os.path.join(root, "specimen.csv"),
               ["sample_id", "participant_id", "sample_type", "volume"], specimens)
    _write_csv(os.path.join(root, "file_manifest.csv"),
               ["sample_id", "file_name", "file_type", "size_mb"], files)

    # -- study config (JSON scalars are valid YAML) --------------------------
    q = json.dumps
    path = lambda name: q(os.path.join(root, name))  # noqa: E731
    yaml_path = os.path.join(root, "study.yaml")
    with open(yaml_path, "w") as fh:
        fh.write(
            f"study_id: {STUDY_ID}\n"
            f"study_title: Benchmark Study\n"
            f"identifier_prefix: {q(PREFIX)}\n"
            f"id_colname: participant_id\n"
            f"projector_lib: {q(projector_lib)}\n"
            "curies: {}\n"
            "active_tables:\n  ALL: true\n"
            "dataset:\n"
            "  participant:\n"
            f"    filename: {path('participant.csv')}\n"
            f"    code_harmonization: {path('harmony.csv')}\n"
            "    aggregators:\n      medications: \"^med_\"\n"
            "    aggregator-splitter: \"_\"\n"
            "    data_dictionary:\n"
            f"      filename: {path('participant-dd.csv')}\n"
            "  specimen:\n"
            f"    filename: {path('specimen.csv')}\n"
            "  file_manifest:\n"
            f"    filename: {path('file_manifest.csv')}\n"
            "    embed:\n      dataset: specimen\n      colname: sample_id\n"
        )
    return yaml_path


def chain_rows(seed: int, shape: ChainShape) -> tuple[list[tuple], set[str]]:
    """Resource rows ``(resourceType, identifier, subject)`` where
    ``subject`` points at a resource one level down, so a level-``k``
    resource resolves in loading round ``k + 1``. The planted rows sit on
    the top level (nothing references them) and point at identifiers no
    row carries; their identifier values are returned as the expected
    invalid set."""
    rng = random.Random(seed)
    rows: list[tuple] = []
    below: list[dict] = []  # identifiers of the previous level
    for lvl in range(shape.depth):
        rtype = CHAIN_TYPES[lvl % len(CHAIN_TYPES)]
        mine = []
        for i in range(shape.roots):
            ident = {"system": f"{PREFIX}/{rtype.lower()}",
                     "value": f"{rtype[:3].upper()}{lvl}-{i:06d}-{rng.randrange(10**6):06d}"}
            subject = {"identifier": rng.choice(below)} if below else None
            rows.append((rtype, [ident], subject))
            mine.append(ident)
        below = mine
    planted = set()
    top = CHAIN_TYPES[shape.depth % len(CHAIN_TYPES)]
    for i in range(shape.dangling):
        value = f"DANGLING-{i:05d}-{rng.randrange(10**6):06d}"
        ghost = {"identifier": {"system": f"{PREFIX}/patient", "value": f"GHOST-{i:05d}"}}
        rows.append((top, [{"system": f"{PREFIX}/{top.lower()}", "value": value}], ghost))
        planted.add(value)
    rng.shuffle(rows)
    return rows, planted


CHAIN_SCHEMA = (
    "resourceType string, "
    "identifier array<struct<system:string,value:string>>, "
    "subject struct<identifier:struct<system:string,value:string>>"
)
