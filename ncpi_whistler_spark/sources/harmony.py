"""Harmony CSV → ConceptMap (SURVEY.md §2.1 S4, §2.4 A5/A6/A7, §2.3 J3).

Reference pipeline (wstlr/conceptmap.py:380-550): read one or more harmony
CSVs (lowercased headers; required columns ``local code, text, local code
system, code, display, code system``), union them, dedupe exact mappings on
the 4-tuple (local system, local code, system, code), curie-prefix target
codes, and emit a nested ConceptMap with an implicit ``self`` group whose
display is the local text.

Spark design: the ConceptMap is a mapping DataFrame whose deduplicated
rows are collected to the driver once (``_collected``) — the harmony
ConceptMap and ValueSet resources are single rows holding every edge, so
they are built from that list. ``harmonize`` compiles maps of up to
``MAX_DRIVER_ROWS`` rows into a literal ``create_map``; larger maps use
``codings_df()``, which pre-groups the frame to one row per
(local_code, local_system) with a deterministically-sorted
``array<struct<code,display,system>>``, so harmonizing a 100 TB fact column
is a single broadcast-hash join with no shuffle of the fact side.
"""

from __future__ import annotations

from typing import Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ncpi_whistler_spark.functions.core import curie_prefix_col
from ncpi_whistler_spark.functions.harmonize import SELF_SYSTEM

#: harmony CSV headers → engine column names
_HARMONY_COLS = {
    "local code": "local_code",
    "text": "text",
    "local code system": "local_system",
    "code": "code",
    "display": "display",
    "code system": "system",
}
#: optional grouping columns (the harmony ValueSets, G5); ConceptMap
#: defaults them to "" — the reference's value for absent columns
_OPTIONAL_COLS = ("table_name", "parent_varname")


def scan_harmony_csv(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """Scan harmony CSV(s) into the normalized mapping frame
    (reference column contract: docs/ref/harmony_files.md:6-32)."""
    if isinstance(paths, str):
        paths = [p.strip() for p in paths.split(",") if p.strip()]
    raw = (
        spark.read.option("header", True).option("quote", '"').csv(paths)
    )
    lower = {c.lower().strip(): c for c in raw.columns}
    missing = [k for k in _HARMONY_COLS if k not in lower]
    if missing:
        raise ValueError(f"harmony file missing required columns: {missing}")
    cols = [F.col(lower[src]).alias(dst) for src, dst in _HARMONY_COLS.items()]
    cols += [F.col(lower[opt]).alias(opt) for opt in _OPTIONAL_COLS if opt in lower]
    return raw.select(*cols)


def read_code_details(paths: str | list[str]) -> dict[str, str]:
    """The extractor's code_details map: local code → display, last
    occurrence wins, keyed by VALUE ONLY (not scoped per column) —
    reference-exact (wstlr/extractor.py:274-282). Driver-side: harmony
    files are config-scale and the last-wins rule depends on file order."""
    import csv

    if isinstance(paths, str):
        paths = [p.strip() for p in paths.split(",") if p.strip()]
    details: dict[str, str] = {}
    for path in paths:
        with open(path, newline="") as fh:
            for row in csv.DictReader(fh, delimiter=",", quotechar='"'):
                row = {(k or "").lower(): v for k, v in row.items()}
                details[row["local code"]] = row.get("display", "")
    return details


class ConceptMap:
    """A harmonization dictionary backed by a small mapping DataFrame.

    ``mappings`` columns: local_code, text, local_system, code, display,
    system, table_name, parent_varname — one row per (local → target)
    edge, already deduped; the two grouping columns are "" when absent.
    """

    #: largest map (in rows) that ``codings_lookup`` compiles to a literal
    #: ``create_map`` expression; above it ``harmonize`` broadcast-joins
    #: ``codings_df`` instead, since a literal of that many structs makes
    #: the plan itself the cost
    MAX_DRIVER_ROWS = 10_000

    def __init__(self, mappings: DataFrame, curies: Mapping[str, str] | None = None):
        for opt in _OPTIONAL_COLS:
            mappings = mappings.withColumn(
                opt,
                F.coalesce(F.col(opt), F.lit(""))
                if opt in mappings.columns
                else F.lit(""),
            )
        mappings = mappings.dropDuplicates(
            ["local_system", "local_code", "system", "code"]
        )  # A5, wstlr/conceptmap.py:410-428
        if curies:
            mappings = mappings.withColumn(
                "code", curie_prefix_col(F.col("code"), F.col("system"), curies)
            )  # F6, wstlr/conceptmap.py:83-85
        self.mappings = mappings
        # driver-side caches
        self._rows: list | None = None
        self._lookup_cache: dict[str, dict[str, list[tuple]]] = {}

    @classmethod
    def from_csv(
        cls,
        spark: SparkSession,
        paths: str | list[str],
        curies: Mapping[str, str] | None = None,
    ) -> "ConceptMap":
        return cls(scan_harmony_csv(spark, paths), curies)

    @classmethod
    def from_rows(
        cls,
        spark: SparkSession,
        rows: list[tuple[str, str, str, str, str, str]],
        curies: Mapping[str, str] | None = None,
    ) -> "ConceptMap":
        """Build from (local_code, text, local_system, code, display,
        system) tuples — used for config-literal maps and tests."""
        df = spark.createDataFrame(
            rows,
            "local_code string, text string, local_system string, "
            "code string, display string, system string",
        )
        cm = cls(df, curies)
        if not curies:
            # rows are already on the driver — prefill the cache so the
            # literal-map path never runs a Spark job (same keep-one
            # dedupe as __init__'s dropDuplicates)
            seen: set[tuple] = set()
            deduped = []
            for lc, text, ls, code, display, system in rows:
                k = (ls, lc, system, code)
                if k in seen:
                    continue
                seen.add(k)
                deduped.append(
                    {
                        "local_code": lc,
                        "text": text,
                        "local_system": ls,
                        "code": code,
                        "display": display,
                        "system": system,
                        **dict.fromkeys(_OPTIONAL_COLS, ""),
                    }
                )
            cm._rows = deduped
        return cm

    def codings_df(self) -> DataFrame:
        """One row per (local_code, local_system) with all target codings
        *plus* the self coding (code=local_code, display=text,
        system='self'; reference: wstlr/conceptmap.py:445-447).

        The array is sorted by (system, code) — the reference relies on
        file order (A7, wstlr/conceptmap.py:455-469); a distributed engine
        needs an explicit deterministic order instead.
        """
        m = self.mappings
        targets = m.select(
            "local_code",
            "local_system",
            F.struct("code", "display", "system").alias("coding"),
        )
        selfs = m.select("local_code", "local_system", "text").dropDuplicates(
            ["local_code", "local_system"]
        ).select(
            "local_code",
            "local_system",
            F.struct(
                F.col("local_code").alias("code"),
                F.col("text").alias("display"),
                F.lit(SELF_SYSTEM).alias("system"),
            ).alias("coding"),
        )
        return (
            targets.unionByName(selfs)
            .groupBy("local_code", "local_system")
            .agg(F.array_sort(F.collect_list("coding")).alias("codings"))
        )

    def _collected(self) -> list:
        """Every deduplicated mapping row, collected to the driver once."""
        if self._rows is None:
            self._rows = self.mappings.collect()
        return self._rows

    def codings_lookup(self, local_system: str) -> dict[str, list[tuple]] | None:
        """Driver-side twin of ``codings_df`` for one local_system:
        ``local_code → [(code, display, system), ...]`` with the self
        coding included and the exact ordering ``array_sort`` would give
        (struct field order (code, display, system); null fields first,
        matching Spark's ascending null-first struct comparison).

        Returns None when the map exceeds MAX_DRIVER_ROWS; used by
        ``operators.harmonize`` to compile config-scale maps into literal
        ``create_map`` expressions — zero joins, zero extra jobs."""
        if local_system in self._lookup_cache:
            return self._lookup_cache[local_system]
        rows = self._collected()
        if len(rows) > self.MAX_DRIVER_ROWS:
            return None
        out: dict[str, list[tuple]] = {}
        texts: dict[str, str] = {}
        for r in rows:
            if r["local_system"] != local_system:
                continue
            lc = r["local_code"]
            out.setdefault(lc, []).append((r["code"], r["display"], r["system"]))
            texts.setdefault(lc, r["text"])
        key = lambda t: tuple((x is not None, x or "") for x in t)  # noqa: E731
        for lc, codings in out.items():
            codings.append((lc, texts[lc], SELF_SYSTEM))
            codings.sort(key=key)
        self._lookup_cache[local_system] = out
        return out

    def display_map_df(self) -> DataFrame:
        """(local_system, local_code) → first display, for the extractor's
        ``<col>_display`` derivation (P2, wstlr/extractor.py:274-282,
        189-191). 'First' is made deterministic with min(display)."""
        return self.mappings.groupBy("local_system", "local_code").agg(
            F.min("display").alias("display")
        )


#: reference's default terminology url base (wstlr/__init__.py:14)
SYSTEM_BASE = "https://nih-ncpi.github.io/ncpi-fhir-ig"


def whistle_harmony_obj(
    path: str,
    curies: Mapping[str, str] | None = None,
    consent_group: str | None = None,
    url_base: str = SYSTEM_BASE,
) -> dict:
    """One harmony CSV → the whistle-input document's nested harmony
    object (source_codes / target_codes / mappings), reference-shape-exact
    (wstlr/conceptmap.py:35-219: per-(system,table,parent) source
    value-set components with curie-prefixed codes, last-wins target
    codings, first-wins mapping elements, file order preserved).

    Driver-side by design: this object IS part of the single JSON
    inter-stage document (S8), and harmony files are config-scale. The
    engine's scale path — the broadcast ConceptMap DataFrame — never
    routes through here.
    """
    import csv

    from ncpi_whistler_spark.functions.core import dd_system_url

    curies = curies or {}

    def prefixed(code: str, system: str) -> str:
        return f"{curies[system]}:{code}" if system in curies else code

    vs_sources: dict[tuple[str, str, str], list[dict]] = {}
    targets: dict[str, dict[str, dict]] = {}
    mappings: dict[str, dict] = {}
    with open(path, newline="") as fh:
        for line in csv.DictReader(fh, delimiter=",", quotechar='"'):
            table = line["table_name"]
            if table.strip() == "":
                continue
            local_cs, local_code = line["local code system"], line["local code"]
            target_cs, target_code = line["code system"], line["code"]
            parent = line["parent_varname"]

            vs_sources.setdefault((local_cs, table, parent), []).append(
                {"code": prefixed(local_code, local_cs), "display": line["text"]}
            )
            targets.setdefault(target_cs, {})[target_code] = {
                "code": prefixed(target_code, target_cs),
                "display": line["display"],
            }
            m = mappings.setdefault(
                local_cs, {"table": table, "parent": parent, "group": {}}
            )
            codes = m["group"].setdefault(target_cs, {})
            el = codes.setdefault(
                local_code, {"display": line["text"], "target": {}}
            )
            el["target"][target_code] = line["display"]

    obj: dict = {"source_codes": [], "target_codes": [], "mappings": []}
    for (local_cs, table, parent), codes in vs_sources.items():
        obj["source_codes"].append(
            {
                "system": dd_system_url(
                    url_base, "CodeSystem", consent_group, table, local_cs
                ),
                "table_name": table,
                "parent_varname": parent,
                "codes": list(codes),
            }
        )
    for target_cs, code_map in targets.items():
        obj["target_codes"].append(
            {
                "system": target_cs,
                "table_name": "",
                "parent_varname": "",
                "codes": [
                    {"code": c["code"], "display": c["display"]}
                    for c in code_map.values()
                ],
            }
        )
    for local_cs, m in mappings.items():
        src_url = dd_system_url(
            url_base, "CodeSystem", consent_group, m["table"], local_cs
        )
        for target_cs, codes in m["group"].items():
            obj["mappings"].append(
                {
                    "source": src_url,
                    "table": m["table"],
                    "parent": m["parent"],
                    "target": target_cs,
                    "element": [
                        {
                            "code": code,
                            "display": el["display"],
                            "target": [
                                {"code": tc, "display": td}
                                for tc, td in el["target"].items()
                            ],
                        }
                        for code, el in codes.items()
                    ],
                }
            )
    return obj
