"""Command-line surface mirroring the reference's entry points
(pyproject scripts: play / extractjson / bundleup / builddd — reference
wstlr/play.py:152-497, wstlr/extractor.py:376-399).

Subcommands:

- ``extract``  — study YAML → extracted tables as parquet (or JSON
                 document for whistle-input parity) [extractjson analog]
- ``resources``— study YAML → FHIR resource rows (module-partitioned
                 parquet + optional bundle files) [play transform analog]
- ``inspect``  — resource parquet → validation report [inspections]
- ``profile``  — any table → per-column profile [builddd profiling pass]
- ``buildcm``  — harmony CSVs → ConceptMap/ValueSets JSON [buildcm]
- ``bundleup`` — resource parquet → transaction bundles [bundleup]
- ``ddcsv``    — JSON data model → per-table DD CSVs [dd-json-to-csv]
- ``harmonyskel`` — study DDs → starter harmony CSV [wstlr.harmony]
- ``load``     — resource parquet → FHIR REST sink, dry-run default [load]

All subcommands accept ``--master`` (default local[*]) so the same CLI
drives a cluster via spark-submit.
"""

from __future__ import annotations

import argparse
import json
import sys


def _spark(args):
    from ncpi_whistler_spark.session import get_spark

    return get_spark(app_name=f"whistler-spark-{args.cmd}", master=args.master)


def cmd_extract(args) -> int:
    from ncpi_whistler_spark.plans.config import StudyConfig
    from ncpi_whistler_spark.plans.pipeline import extract_dataset, to_whistle_input

    spark = _spark(args)
    cfg = StudyConfig.from_yaml(args.config)
    ds = extract_dataset(spark, cfg)
    if args.json_out:
        with open(args.json_out, "w") as fh:
            json.dump(to_whistle_input(ds), fh, indent=2, default=str)
        print(f"wrote whistle-input document: {args.json_out}")
    if args.out:
        for name, df in ds.tables.items():
            df.write.mode("overwrite").parquet(f"{args.out}/{name}")
            print(f"wrote table {name}")
    return 0


def _generate_resources(spark, cfg):
    """Extraction DAG → the full FHIR resource frame the reference's play
    pipeline emits (observations, QRs, DD resource set, harmony CM/VS).
    Returns the union DataFrame, or None when no table yields resources."""
    from ncpi_whistler_spark.plans.pipeline import extract_dataset
    from ncpi_whistler_spark.plans.resources import (
        dd_activity_definitions,
        dd_codesystems,
        dd_observation_definitions,
        dd_valuesets,
        observations_with_components,
        questionnaire_responses,
        questionnaires,
        resources_to_json,
    )

    ds = extract_dataset(spark, cfg)
    frames = []
    for name, df in ds.tables.items():
        dd = ds.dds.get(name)
        if dd is None:
            continue
        tbl_cfg = cfg.dataset[name]
        subject = tbl_cfg.subject_id or cfg.id_colname
        if subject is None or subject not in df.columns:
            continue
        keys = (
            [k.strip() for k in tbl_cfg.key_columns.split(",")]
            if tbl_cfg.key_columns
            else None
        )
        frames.append(
            resources_to_json(
                observations_with_components(df, dd, cfg, name, subject, keys)
            )
        )
        frames.append(
            resources_to_json(
                questionnaire_responses(df, dd, cfg, name, subject, keys)
            )
        )
    if ds.dds:
        # the full DD resource set the reference's play pipeline emits
        for gen in (dd_codesystems, dd_valuesets, dd_observation_definitions,
                    dd_activity_definitions, questionnaires):
            frames.append(resources_to_json(gen(spark, ds.dds, cfg)))
    if ds.concept_map is not None:
        from ncpi_whistler_spark.plans.resources import (
            harmony_conceptmap,
            harmony_valuesets,
        )

        frames.append(resources_to_json(harmony_conceptmap(spark, ds.concept_map, cfg)))
        frames.append(resources_to_json(harmony_valuesets(spark, ds.concept_map, cfg)))
    # user-authored projectors (whistle_src/projector_lib analog,
    # wstlr/play.py:46-76): study-registered Python builders merge their
    # frames into the same resource union the whistle output would
    if cfg.whistle_src or cfg.projector_lib:
        from ncpi_whistler_spark.plans.projectors import (
            load_projector_lib,
            run_projectors,
        )

        registry = load_projector_lib(cfg)
        if registry.names():
            print(f"custom projectors: {', '.join(registry.names())}")
        frames.extend(run_projectors(spark, registry, ds, cfg))
    if not frames:
        return None
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def cmd_resources(args) -> int:
    from ncpi_whistler_spark.plans.config import StudyConfig
    from ncpi_whistler_spark.sinks.bundle import prepare_bundle_entries, write_bundles

    spark = _spark(args)
    cfg = StudyConfig.from_yaml(args.config)
    out = _generate_resources(spark, cfg)
    if out is None:
        print("no resource frames produced (check subject_id/id_colname)", file=sys.stderr)
        return 1
    out.write.mode("overwrite").partitionBy("module").parquet(args.out)
    print(f"wrote resources: {args.out}")
    if args.bundles:
        write_bundles(prepare_bundle_entries(out), args.bundles)
        print(f"wrote bundles: {args.bundles}")
    return 0


def cmd_play(args) -> int:
    """play analog — the reference's one-command pipeline
    (wstlr/play.py:152-497): extract → resources (+bundles) → inspect →
    load, with the mtime-manifest incremental skip (the resources stage
    re-runs only when config/data/DD/harmony inputs changed; --force
    overrides — wstlr/play.py:79-117,361-383) and an optional --host for
    the real REST load (dry-run counts otherwise)."""
    import os

    from ncpi_whistler_spark.operators.inspector import module_summary, run_inspections
    from ncpi_whistler_spark.plans.config import StudyConfig
    from ncpi_whistler_spark.plans.incremental import run_if_stale
    from ncpi_whistler_spark.sinks.bundle import prepare_bundle_entries, write_bundles

    spark = _spark(args)
    cfg = StudyConfig.from_yaml(args.config)
    work = args.workdir
    os.makedirs(work, exist_ok=True)
    res_dir = os.path.join(work, "resources")
    bundles_dir = os.path.join(work, "bundles")

    # the reference's check_latest_update input set: config + data files
    # + DDs + harmony CSVs
    inputs = [args.config]
    for t in cfg.dataset.values():
        inputs += [
            f.strip()
            for f in (t.filename or "").split(",")
            if f.strip() and f.strip().lower() != "none"
        ]
        if t.code_harmonization:
            inputs.append(t.code_harmonization)
        dd = t.data_dictionary
        if dd and dd.filename and dd.filename.lower() != "none":
            inputs.append(dd.filename)
    # user projector sources count as pipeline inputs, like the reference's
    # whistle files in check_latest_update (wstlr/play.py:119-150)
    if cfg.whistle_src:
        inputs.append(cfg.whistle_src)
    if cfg.projector_lib and os.path.isdir(cfg.projector_lib):
        inputs += [
            os.path.join(cfg.projector_lib, f)
            for f in sorted(os.listdir(cfg.projector_lib))
            if f.endswith(".py") and not f.startswith("_")
        ]
    inputs = [p for p in dict.fromkeys(inputs) if os.path.exists(p)]

    def build() -> None:
        out = _generate_resources(spark, cfg)
        if out is None:
            raise RuntimeError(
                "no resource frames produced (check subject_id/id_colname)"
            )
        out.write.mode("overwrite").partitionBy("module").parquet(res_dir)
        write_bundles(prepare_bundle_entries(spark.read.parquet(res_dir)), bundles_dir)

    # a surviving manifest with a deleted or half-written output dir must
    # not skip the rebuild: an output without the writer's _SUCCESS marker
    # counts as missing, whatever the input mtimes say
    outputs_missing = not all(
        os.path.exists(os.path.join(d, "_SUCCESS")) for d in (res_dir, bundles_dir)
    )
    ran = run_if_stale(
        os.path.join(work, ".manifest-resources.json"), inputs, build,
        force=args.force or outputs_missing,
    )
    print(f"resources: {'rebuilt' if ran else 'up-to-date, skipped'} -> {res_dir}")

    res = spark.read.parquet(res_dir)
    checks = run_inspections(res)
    module_summary(res).show(100, truncate=False)
    if any(checks.values()):
        print(json.dumps(checks, indent=2))
        return 2

    return _load_via_args(res, args)


def cmd_inspect(args) -> int:
    from ncpi_whistler_spark.operators.inspector import module_summary, run_inspections

    spark = _spark(args)
    res = spark.read.parquet(args.resources)
    checks = run_inspections(res)
    module_summary(res).show(100, truncate=False)
    print(json.dumps(checks, indent=2))
    return 0 if not any(checks.values()) else 2


def cmd_builddd(args) -> int:
    """builddd analog: profile observed data → inferred DD CSV
    (reference wstlr/dd/dd_from_fhir.py)."""
    from ncpi_whistler_spark.operators.profiling import profile_columns
    from ncpi_whistler_spark.plans.resources import dd_from_profile

    spark = _spark(args)
    df = (
        spark.read.parquet(args.table)
        if args.table.endswith(("parquet", "/"))
        else spark.read.option("header", True).csv(args.table)
    )
    prof = [r.asDict() for r in profile_columns(df).collect()]
    dd = dd_from_profile(prof, args.name)
    dd.to_csv(args.out)
    print(f"wrote inferred DD: {args.out} ({len(dd.variables)} variables)")
    return 0


def cmd_igload(args) -> int:
    """igload analog: IG definitions → resource frame parquet
    (reference wstlr/igload/__init__.py)."""
    from ncpi_whistler_spark.sources.igload import load_ig_files, load_ig_zip

    spark = _spark(args)
    exclusions = args.exclude or []
    if args.source.endswith(".zip"):
        df = load_ig_zip(spark, args.source, exclusions)
    else:
        df = load_ig_files(spark, [args.source], exclusions)
    df.write.mode("overwrite").parquet(args.out)
    print(f"wrote {df.count()} IG resources: {args.out}")
    return 0


def cmd_studyids(args) -> int:
    """studyids analog: show the ledgered ids per (study, host, type)
    (reference wstlr/studyids.py)."""
    from ncpi_whistler_spark.sinks.ledger import read_ledger

    spark = _spark(args)
    ledger = read_ledger(spark, args.ledger)
    ledger.groupBy("study_id", "host", "resource_type").count().orderBy(
        "study_id", "host", "resource_type"
    ).show(1000, truncate=False)
    return 0


def cmd_purge(args) -> int:
    """delfhir analog: dependency-ordered purge of a study's ledgered ids
    (reference wstlr/purge.py). Dry-run by default — pass --execute with
    a transport module for real deletes."""
    import json as _json

    from ncpi_whistler_spark.sinks.ledger import purge_study

    spark = _spark(args)
    deleted: list = []

    def dry_delete(rt: str, fid: str) -> bool:
        return True  # dry run counts only

    counts = purge_study(spark, args.ledger, args.study_id, args.host, dry_delete)
    print(_json.dumps({"would_delete": counts, "order": list(counts)}, indent=2))
    _ = deleted
    return 0


def cmd_buildcm(args) -> int:
    """buildcm analog: the study's harmony CSVs → FHIR ConceptMap +
    sources/targets ValueSets as a module-keyed JSON document
    (reference wstlr/conceptmap.py exec → harmony/<prefix>.json)."""
    from ncpi_whistler_spark.plans.config import StudyConfig
    from ncpi_whistler_spark.plans.resources import (
        harmony_conceptmap,
        harmony_valuesets,
        resources_to_json,
    )
    from ncpi_whistler_spark.sources.harmony import ConceptMap

    spark = _spark(args)
    cfg = StudyConfig.from_yaml(args.config)
    harmony = cfg.harmony_files()
    if not harmony:
        print("config declares no harmony files", file=sys.stderr)
        return 1
    cm = ConceptMap.from_csv(spark, harmony, curies=cfg.curies)
    doc: dict[str, list] = {}
    for frame in (harmony_conceptmap(spark, cm, cfg), harmony_valuesets(spark, cm, cfg)):
        for r in resources_to_json(frame).collect():
            doc.setdefault(r["module"], []).append(json.loads(r["resource_json"]))
    with open(args.out, "w") as fh:
        json.dump(doc, fh, indent=2)
    n = sum(len(v) for v in doc.values())
    print(f"wrote {n} harmony resources: {args.out}")
    return 0


def cmd_bundleup(args) -> int:
    """bundleup analog: resource parquet → chunked transaction-bundle
    JSON files (reference wstlr/bundle.py:190-222)."""
    from ncpi_whistler_spark.sinks.bundle import prepare_bundle_entries, write_bundles

    spark = _spark(args)
    res = spark.read.parquet(args.resources)
    write_bundles(prepare_bundle_entries(res), args.out, chunk=args.chunk)
    print(f"wrote bundles: {args.out}")
    return 0


def cmd_ddcsv(args) -> int:
    """dd-json-to-csv analog: AnVIL-style JSON data model → one DD CSV
    per table (reference wstlr/dd/json_parser.py:54-87)."""
    import os

    from ncpi_whistler_spark.sources.dd import DataDictionary

    with open(args.model) as fh:
        model = json.load(fh)
    os.makedirs(args.out, exist_ok=True)
    names = [t.get("table") for t in model.get("tables", [])]
    for name in names:
        dd = DataDictionary.from_json_model(model, name)
        dd.to_csv(os.path.join(args.out, f"{name}.csv"))
        print(f"wrote DD: {name}.csv ({len(dd.variables)} variables)")
    return 0 if names else 1


def cmd_harmonyskel(args) -> int:
    """Harmony-skeleton generator: study DDs → starter harmony CSV
    (reference wstlr/harmony.py:77-123)."""
    import csv

    from ncpi_whistler_spark.plans.config import StudyConfig
    from ncpi_whistler_spark.plans.resources import harmony_skeleton
    from ncpi_whistler_spark.sources.dd import DataDictionary

    spark = _spark(args)
    cfg = StudyConfig.from_yaml(args.config)
    dds = {
        name: DataDictionary.from_csv(spark, tbl.data_dictionary.filename, name)
        for name, tbl in cfg.dataset.items()
        if tbl.data_dictionary and tbl.data_dictionary.filename
    }
    rows = harmony_skeleton(dds)
    if not rows:
        print("no enumerated variables found in the study DDs", file=sys.stderr)
        return 1
    with open(args.out, "w", newline="") as fh:
        w = csv.DictWriter(fh, fieldnames=list(rows[0]))
        w.writeheader()
        w.writerows(rows)
    print(f"wrote harmony skeleton: {args.out} ({len(rows)} rows)")
    return 0


def _load_via_args(res, args) -> int:
    """Shared REST-load tail for ``load`` and ``play``: resolve the
    target (--url / --host entry / dry run), push the resource frame
    through the transport, print per-type counts; nonzero on errors."""
    from ncpi_whistler_spark.sinks.rest import (
        HttpTransport,
        InMemoryTransport,
        auth_header,
        load_resources,
    )

    url = getattr(args, "url", None)
    headers: dict[str, str] = {}
    if getattr(args, "host", None):
        from ncpi_whistler_spark.sources.hostfile import resolve_host

        host = resolve_host(args.host, getattr(args, "hosts_file", None))
        url = host["target_service_url"]
        headers = auth_header(host)
    if url:
        factory = lambda: HttpTransport(base_url=url, headers=headers)  # noqa: E731
    else:
        factory = lambda: InMemoryTransport()  # noqa: E731
    counts = load_resources(res, factory, parallelism=args.threads)
    rows = {r["resourceType"]: {"ok": r["ok"], "err": r["err"]} for r in counts.collect()}
    print(json.dumps({"dry_run": not url, "counts": rows}, indent=2))
    return 0 if all(v["err"] == 0 for v in rows.values()) else 2


def cmd_load(args) -> int:
    """load analog: resource parquet → FHIR REST sink (reference
    wstlr/load.py:473-607). Dry run (in-memory transport) unless --url."""
    spark = _spark(args)
    res = spark.read.parquet(args.resources)
    if args.module:
        from pyspark.sql import functions as F

        res = res.filter(F.col("module").isin(*args.module))
    return _load_via_args(res, args)


def cmd_init(args) -> int:
    """init analog: scaffold a ready-to-run study project (reference
    ``wstlr/init.py`` init-play — template-rendered starter files for a
    named study). Emits a study YAML wired to a sample participant CSV,
    a DD skeleton, and a harmony CSV with one mapped variable, so
    ``init`` → ``extract`` works end-to-end and every file shows the
    expected column layout for real data."""
    import os

    study_id = args.study_id
    dest = args.directory
    os.makedirs(dest, exist_ok=True)
    existing = [
        f
        for f in ("study.yaml", "participant.csv", "participant-dd.csv", "harmony.csv")
        if os.path.exists(os.path.join(dest, f))
    ]
    if existing and not args.force:
        print(f"refusing to overwrite {existing} in {dest} (use --force)")
        return 2

    def emit(name: str, text: str) -> None:
        path = os.path.join(dest, name)
        with open(path, "w") as fh:
            fh.write(text)
        print(path)

    # Absolute paths + JSON-style quoting (JSON scalars are valid YAML):
    # a relative dest would scaffold a config that only works from the
    # init-time CWD, and YAML-special characters in study_id/dest would
    # silently produce an invalid or wrong config.
    q = json.dumps
    absdest = os.path.abspath(dest)
    emit(
        "study.yaml",
        f"""# Starter study config — edit filenames/columns for your data.
study_id: {q(study_id)}
study_title: {q(args.title or study_id)}
identifier_prefix: {q("https://example.org/" + study_id.lower())}
id_colname: participant_id
curies: {{}}
active_tables:
  ALL: true
# custom projector plugin point (reference whistle_src/projector_lib
# analog): Python files whose build_* functions emit extra resources
projector_lib: {q(os.path.join(absdest, "projector"))}
dataset:
  participant:
    filename: {q(os.path.join(absdest, "participant.csv"))}
    code_harmonization: {q(os.path.join(absdest, "harmony.csv"))}
    data_dictionary:
      filename: {q(os.path.join(absdest, "participant-dd.csv"))}
""",
    )
    os.makedirs(os.path.join(dest, "projector"), exist_ok=True)
    emit(
        os.path.join("projector", "patient.py"),
        '''"""Sample custom projector — the analog of a study's user-authored
whistle projector library. Each build_* function receives (spark,
dataset, study) and returns a typed resource frame; see
examples/demo_study/projector/ for richer patterns."""

from pyspark.sql import functions as F

from ncpi_whistler_spark.functions.harmonize import (
    harmonize_as_code,
    key_identifier,
    study_meta,
)
from ncpi_whistler_spark.operators.harmonize import harmonize


def build_patients(spark, dataset, study):
    df = dataset.tables["participant"]
    df = harmonize(df, "sex", "sex", dataset.concept_map, output_col="_sex")
    return df.select(
        F.lit("custom").alias("module"),
        F.lit("Patient").alias("resourceType"),
        F.struct(F.array(study_meta(study.study_id)).alias("tag")).alias("meta"),
        F.array(
            key_identifier("participant_id", study.identifier_prefix, "Patient")
        ).alias("identifier"),
        harmonize_as_code("_sex").alias("gender"),
    )
''',
    )
    emit(
        "participant.csv",
        "Participant ID,Sex,Age (years)\n"
        "P0001,1,34\n"
        "P0002,2,41\n",
    )
    emit(
        "participant-dd.csv",
        "variable_name,description,data_type,enumerations,min,max,units\n"
        "Participant ID,Unique participant identifier,identifier,,,,\n"
        "Sex,Sex assigned at birth,enumeration,1=Male;2=Female,,,\n"
        "Age (years),Age at enrollment,number,,0,120,years\n",
    )
    emit(
        "harmony.csv",
        "local code,text,local code system,code,display,code system,"
        "table_name,parent_varname,comment\n"
        "1,Male,sex,male,Male,http://hl7.org/fhir/administrative-gender,"
        "participant,sex,\n"
        "2,Female,sex,female,Female,http://hl7.org/fhir/administrative-gender,"
        "participant,sex,\n",
    )
    print(
        f"next: whistler-spark extract {dest}/study.yaml --out {dest}/tables"
    )
    return 0


def cmd_sql(args) -> int:
    """Ad-hoc SQL over the fixture catalog (or any parquet dir laid out
    as <dir>/<table>.parquet): the full Catalyst SQL surface as a CLI.
    The reference has no query CLI at all — this is the 'general
    relational query capability' extension (SURVEY.md §0)."""
    from ncpi_whistler_spark.catalog import register_views

    spark = _spark(args)
    register_views(spark, args.sf_dir)
    df = spark.sql(args.query)
    if args.out:
        df.write.mode("overwrite").parquet(args.out)
        print(f"wrote result: {args.out}")
    else:
        df.show(args.limit, truncate=False)
    return 0


def cmd_profile(args) -> int:
    from ncpi_whistler_spark.operators.profiling import profile_columns

    spark = _spark(args)
    df = (
        spark.read.parquet(args.table)
        if args.table.endswith(("parquet", "/"))
        else spark.read.option("header", True).csv(args.table)
    )
    profile_columns(df).show(1000, truncate=False)
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="whistler-spark")
    p.add_argument("--master", default=None, help="spark master (default local[*])")
    sub = p.add_subparsers(dest="cmd", required=True)

    pe = sub.add_parser("extract", help="extraction pipeline (extractjson analog)")
    pe.add_argument("config")
    pe.add_argument("--out", help="parquet output dir")
    pe.add_argument("--json-out", help="whistle-input JSON path (parity/debug)")
    pe.set_defaults(fn=cmd_extract)

    pr = sub.add_parser("resources", help="generate FHIR resources (play analog)")
    pr.add_argument("config")
    pr.add_argument("--out", required=True)
    pr.add_argument("--bundles", help="also write transaction bundles here")
    pr.set_defaults(fn=cmd_resources)

    py = sub.add_parser(
        "play",
        help="full pipeline: extract → resources → inspect → load "
        "(incremental skip; dry-run load unless --host)",
    )
    py.add_argument("config")
    py.add_argument("--workdir", required=True)
    py.add_argument("--force", action="store_true", help="ignore the manifest and rebuild")
    py.add_argument("--host", help="fhir_hosts entry name for a real REST load")
    py.add_argument("--hosts-file", help="override fhir_hosts path")
    py.add_argument("--threads", type=int, default=10)
    py.set_defaults(fn=cmd_play)

    pi = sub.add_parser("inspect", help="validation suite over resource parquet")
    pi.add_argument("resources")
    pi.set_defaults(fn=cmd_inspect)

    pp = sub.add_parser("profile", help="per-column profile of a table")
    pp.add_argument("table")
    pp.set_defaults(fn=cmd_profile)

    pb = sub.add_parser("builddd", help="infer a data dictionary from data")
    pb.add_argument("table")
    pb.add_argument("--name", default="table")
    pb.add_argument("--out", required=True)
    pb.set_defaults(fn=cmd_builddd)

    pg = sub.add_parser("igload", help="load FHIR IG definitions")
    pg.add_argument("source", help="definitions zip, json file, or directory")
    pg.add_argument("--out", required=True)
    pg.add_argument("--exclude", nargs="*")
    pg.set_defaults(fn=cmd_igload)

    ps = sub.add_parser("studyids", help="show ledgered study ids")
    ps.add_argument("ledger")
    ps.set_defaults(fn=cmd_studyids)

    pd = sub.add_parser("purge", help="dependency-ordered purge (dry run)")
    pd.add_argument("ledger")
    pd.add_argument("--study-id", required=True)
    pd.add_argument("--host", required=True)
    pd.set_defaults(fn=cmd_purge)

    pc = sub.add_parser("buildcm", help="harmony CSVs → ConceptMap JSON (buildcm analog)")
    pc.add_argument("config")
    pc.add_argument("--out", required=True)
    pc.set_defaults(fn=cmd_buildcm)

    pu = sub.add_parser("bundleup", help="resource parquet → transaction bundles")
    pu.add_argument("resources")
    pu.add_argument("--out", required=True)
    pu.add_argument("--chunk", type=int, default=15000)
    pu.set_defaults(fn=cmd_bundleup)

    pj = sub.add_parser("ddcsv", help="JSON data model → per-table DD CSVs")
    pj.add_argument("model")
    pj.add_argument("--out", required=True)
    pj.set_defaults(fn=cmd_ddcsv)

    ph = sub.add_parser("harmonyskel", help="study DDs → starter harmony CSV")
    ph.add_argument("config")
    ph.add_argument("--out", required=True)
    ph.set_defaults(fn=cmd_harmonyskel)

    pl = sub.add_parser("load", help="resource parquet → FHIR REST sink")
    pl.add_argument("resources")
    pl.add_argument("--url", help="FHIR base URL (omit for dry run)")
    pl.add_argument(
        "--host",
        help="named host from the fhir_hosts file (reference CLI contract: "
        "play config.yaml --host dev; wstlr/hostfile.py)",
    )
    pl.add_argument(
        "--hosts-file", help="hosts file path (default: ./fhir_hosts)"
    )
    pl.add_argument("--threads", type=int, default=10)
    pl.add_argument("--module", nargs="*", help="only load these modules")
    pl.set_defaults(fn=cmd_load)

    pn = sub.add_parser("init", help="scaffold a starter study project (init-play analog)")
    pn.add_argument("directory")
    pn.add_argument("--study-id", default="MYSTUDY")
    pn.add_argument("--title", default=None)
    pn.add_argument("--force", action="store_true", help="overwrite existing scaffold files")
    pn.set_defaults(fn=cmd_init)

    pq = sub.add_parser("sql", help="ad-hoc SQL over a parquet table dir")
    pq.add_argument("query")
    pq.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    pq.add_argument("--out", help="write result parquet instead of showing")
    pq.add_argument("--limit", type=int, default=50)
    pq.set_defaults(fn=cmd_sql)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
