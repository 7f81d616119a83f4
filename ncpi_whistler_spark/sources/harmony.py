"""Harmony CSV → ConceptMap (SURVEY.md §2.1 S4, §2.4 A5/A6/A7, §2.3 J3).

Reference pipeline (wstlr/conceptmap.py:380-550): read one or more harmony
CSVs (lowercased headers; required columns ``local code, text, local code
system, code, display, code system``), union them, dedupe exact mappings on
the 4-tuple (local system, local code, system, code), curie-prefix target
codes, and emit a nested ConceptMap with an implicit ``self`` group whose
display is the local text.

Harmony files are config-scale, so, as in the reference, they are read on
the driver with the ``csv`` module, by one reader (``read_harmony_csv``):
RFC 4180 quoting (doubled quotes, quoted newlines), a UTF-8 BOM dropped,
headers lowercased and stripped, file order kept. Everything else is built
from the rows it returns, without a Spark job:

- ``ConceptMap`` keeps the deduplicated mapping rows (``_collected``),
  which the harmony ConceptMap and ValueSet resources are built from, and
  groups them per (local_system, local_code) into the sorted codings that
  ``operators.harmonize`` looks up;
- ``read_code_details`` gives the extractor's value-keyed display map;
- ``whistle_harmony_obj`` gives the whistle-input document's harmony
  object.
"""

from __future__ import annotations

import csv
from typing import Iterable, Mapping

from pyspark.sql import DataFrame, SparkSession

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
#: the six mapping columns, in ``from_rows``' tuple order
_MAPPING_COLS = tuple(_HARMONY_COLS.values())
#: optional grouping columns (the harmony ValueSets, G5); ConceptMap
#: defaults them to "" — the reference's value for absent columns
_OPTIONAL_COLS = ("table_name", "parent_varname")
#: the type of ``harmonize``'s output column and of ``codings_df().codings``
CODINGS_TYPE = "array<struct<code:string,display:string,system:string>>"


def read_harmony_csv(
    paths: str | list[str], required: Iterable[str] = tuple(_HARMONY_COLS)
) -> list[dict[str, str | None]]:
    """Every row of the harmony CSV(s), in file order, keyed by the
    lowercased, stripped header (reference column contract:
    docs/ref/harmony_files.md:6-32). A comma-separated string names
    several files. A field missing from a short row is None; an empty one
    is "". Raises ValueError when a file lacks a ``required`` column."""
    if isinstance(paths, str):
        paths = [p.strip() for p in paths.split(",") if p.strip()]
    rows: list[dict[str, str | None]] = []
    for path in paths:
        with open(path, newline="", encoding="utf-8-sig") as fh:
            reader = csv.DictReader(fh)
            reader.fieldnames = [h.strip().lower() for h in reader.fieldnames or []]
            missing = [c for c in required if c not in reader.fieldnames]
            if missing:
                raise ValueError(f"harmony file missing required columns: {missing}")
            rows.extend(reader)
    return rows


def curie_prefixed(code: str | None, system: str | None, curies: Mapping[str, str]) -> str | None:
    """``<CURIE>:code`` when the code's system has a curie, else the code
    (F6, wstlr/conceptmap.py:83-85)."""
    curie = curies.get(system)
    return code if curie is None or code is None else f"{curie}:{code}"


def read_code_details(paths: str | list[str]) -> dict[str, str]:
    """The extractor's code_details map: local code → display, last
    occurrence wins, keyed by VALUE ONLY (not scoped per column) —
    reference-exact (wstlr/extractor.py:274-282). The last-wins rule
    depends on file order."""
    return {
        row["local code"]: row.get("display", "")
        for row in read_harmony_csv(paths, required=("local code",))
    }


def _coding_order(coding: tuple) -> tuple:
    # array_sort's ascending struct order: field by field, nulls first;
    # str order is Spark's UTF-8 binary order
    return tuple((x is not None, x or "") for x in coding)


class ConceptMap:
    """A harmonization dictionary: its mapping rows, held on the driver.

    Each row is a dict with local_code, text, local_system, code, display,
    system, table_name and parent_varname: one (local → target) edge,
    the first in file order of each (local_system, local_code, system,
    code) (A5, wstlr/conceptmap.py:410-428), its code curie-prefixed
    after the dedupe; the two grouping columns are "" when absent.
    """

    def __init__(
        self,
        spark: SparkSession,
        rows: Iterable[Mapping[str, str | None]],
        curies: Mapping[str, str] | None = None,
    ):
        self.spark = spark
        self._rows: list[dict[str, str | None]] = []
        seen: set[tuple] = set()
        for row in rows:
            key = (row["local_system"], row["local_code"], row["system"], row["code"])
            if key in seen:
                continue
            seen.add(key)
            r = {c: row[c] for c in _MAPPING_COLS}
            r.update({c: row.get(c) or "" for c in _OPTIONAL_COLS})
            if curies:
                r["code"] = curie_prefixed(r["code"], r["system"], curies)
            self._rows.append(r)

    @classmethod
    def from_csv(
        cls,
        spark: SparkSession,
        paths: str | list[str],
        curies: Mapping[str, str] | None = None,
    ) -> "ConceptMap":
        """From harmony CSV(s); an empty mapping field is None."""
        cols = {**_HARMONY_COLS, **{c: c for c in _OPTIONAL_COLS}}
        rows = read_harmony_csv(paths)
        return cls(
            spark,
            ({dst: line.get(src) or None for src, dst in cols.items()} for line in rows),
            curies,
        )

    @classmethod
    def from_rows(
        cls,
        spark: SparkSession,
        rows: list[tuple[str, str, str, str, str, str]],
        curies: Mapping[str, str] | None = None,
    ) -> "ConceptMap":
        """Build from (local_code, text, local_system, code, display,
        system) tuples — used for config-literal maps and tests."""
        return cls(spark, (dict(zip(_MAPPING_COLS, r)) for r in rows), curies)

    def codings(self) -> dict[tuple[str | None, str | None], list[tuple]]:
        """(local_system, local_code) → all target (code, display, system)
        codings *plus* the self coding (code=local_code, display=the first
        text, system='self'; reference: wstlr/conceptmap.py:445-447).

        Each list is sorted by (code, display, system), nulls first — the
        order ``array_sort`` gives the struct array. The reference relies
        on file order (A7, wstlr/conceptmap.py:455-469); the sort keeps
        the order explicit and independent of the row order.
        """
        groups: dict[tuple, list[tuple]] = {}
        for r in self._rows:
            key = (r["local_system"], r["local_code"])
            if key not in groups:
                groups[key] = [(r["local_code"], r["text"], SELF_SYSTEM)]
            groups[key].append((r["code"], r["display"], r["system"]))
        for codings in groups.values():
            codings.sort(key=_coding_order)
        return groups

    def codings_df(self) -> DataFrame:
        """``codings()`` as a (local_code, local_system, codings) frame."""
        return self.spark.createDataFrame(
            [(lc, ls, codings) for (ls, lc), codings in self.codings().items()],
            f"local_code string, local_system string, codings {CODINGS_TYPE}",
        )

    def _collected(self) -> list[dict[str, str | None]]:
        """Every deduplicated mapping row."""
        return self._rows


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

    This object IS part of the single JSON inter-stage document (S8).
    Like the reference's ``line['table_name']``, a file without the
    table_name or parent_varname column raises.
    """
    from ncpi_whistler_spark.functions.core import dd_system_url

    curies = curies or {}
    vs_sources: dict[tuple[str, str, str], list[dict]] = {}
    targets: dict[str, dict[str, dict]] = {}
    mappings: dict[str, dict] = {}
    for line in read_harmony_csv(path, required=(*_HARMONY_COLS, *_OPTIONAL_COLS)):
        table = line["table_name"]
        if (table or "").strip() == "":
            continue
        local_cs, local_code = line["local code system"], line["local code"]
        target_cs, target_code = line["code system"], line["code"]
        parent = line["parent_varname"]

        vs_sources.setdefault((local_cs, table, parent), []).append(
            {"code": curie_prefixed(local_code, local_cs, curies), "display": line["text"]}
        )
        targets.setdefault(target_cs, {})[target_code] = {
            "code": curie_prefixed(target_code, target_cs, curies),
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
