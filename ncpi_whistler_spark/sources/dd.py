"""Data-dictionary parsing (SURVEY.md §2.1 S5; reference wstlr/dd/*).

The DD is *plan-time* metadata — it describes columns, it is not data. The
reference parses DD CSVs (required columns variable_name/data_type/
enumerations, alternate spellings remapped — wstlr/dd/loader.py:18-49,
wstlr/dd/csv_parser.py:11-52) or a single JSON data model
(wstlr/dd/json_parser.py:14-52) into DdStudy/DdTable/DdVariable objects.

Here a DD compiles to a Spark ``StructType`` whose per-field ``Metadata``
carries description/enumerations/units/min/max, plus helpers the plan
compiler uses: the varname rename map (P1) and typed-cast expressions.
Parsing is driver-side, as in the reference: DDs are a few KB, and the
``csv`` module reads RFC 4180 quoting (doubled quotes, quoted newlines in
enumerations) from a local path or an http(s) URL alike.
"""

from __future__ import annotations

import csv
import io
import re
import tempfile
import urllib.request
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ncpi_whistler_spark.functions.core import (
    dd_system_url,
    fix_fieldname,
    parse_enumerations,
    standardize_dd_type,
)

def open_dd_file(filename: str):
    """Open a DD source from a local path OR an http(s) URL — the
    reference's loader contract (wstlr/dd/loader.py:51-65: URLs are
    fetched and spooled to a temp file; anything else opens locally).
    Text mode for the ``csv`` module (no newline translation), with a
    leading UTF-8 BOM dropped."""
    if re.search(r"^http[s]*:", filename):
        with urllib.request.urlopen(filename) as resp:  # noqa: S310
            body = resp.read()
        file = tempfile.TemporaryFile()
        file.write(body)
        file.seek(0)
        return io.TextIOWrapper(file, encoding="utf-8-sig", newline="")
    return open(filename, encoding="utf-8-sig", newline="")


#: base alternate-name map (reference: wstlr/dd/loader.py:43-49)
_BASE_COLNAMES = {
    "variable_name": ["variable_name", "varname", "name", "variable"],
    "description": ["description", "desc", "variable_description"],
    "data_type": ["data_type", "type"],
    "enumerations": ["enumerations", "values", "enums"],
    "min": ["min"],
    "max": ["max"],
    "units": ["units", "unit"],
    "key_component": ["key_component"],
    "required": ["required"],
}

_SPARK_TYPES = {
    "string": StringType(),
    "enumeration": StringType(),
    "date": StringType(),  # reference treats dates as strings (SURVEY §1.2)
    "int": LongType(),
    "number": DoubleType(),
    "boolean": BooleanType(),
}


@dataclass
class DdVariable:
    """One DD row (reference: wstlr/dd/variable.py:34-178)."""

    varname: str  # normalized via fix_fieldname
    raw_name: str
    data_type: str  # canonical DD type
    description: str = ""
    enumerations: dict[str, str] = field(default_factory=dict)
    units: str | None = None
    min: str | None = None
    max: str | None = None
    key_component: bool = False

    @property
    def desc(self) -> str:
        """description, falling back to the raw variable name
        (wstlr/dd/variable.py:75-79)."""
        if self.description is not None and self.description.strip():
            return self.description
        return self.raw_name

    def values_for_json(self) -> list[dict[str, str]]:
        """Enumerations as whistle-input value objects; empty/None
        descriptions fall back to the code (wstlr/dd/variable.py:167-178).
        """
        out = []
        for code, desc in self.enumerations.items():
            if desc is None or desc == "None" or not desc.strip():
                desc = code
            out.append({"code": code, "description": desc})
        return out

    def as_dd_entry(
        self, url_base: str, table_name: str, consent_group: str | None = None
    ) -> dict:
        """Whistle-input DD entry (wstlr/dd/variable.py:118-132): raw
        varname + canonical type + enum values, with values-url/-details
        only when enumerations exist."""
        obj: dict = {
            "varname": self.raw_name,
            "desc": self.desc,
            "type": self.data_type,
            "values": self.values_for_json(),
        }
        if obj["values"]:
            obj["values-url"] = dd_system_url(
                url_base, "CodeSystem", consent_group, table_name, self.raw_name
            )
            obj["values-details"] = {
                "table-name": table_name,
                "varname": self.raw_name,
            }
        return obj

    def as_cs(
        self,
        study_name: str,
        table_name: str,
        url_base: str,
        consent_group: str | None = None,
    ) -> dict:
        """Whistle-input code-system entry for this variable
        (wstlr/dd/variable.py:150-165)."""
        obj: dict = {
            "varname": self.raw_name,
            "url": dd_system_url(
                url_base, "CodeSystem", consent_group, table_name, self.raw_name
            ),
            "study": study_name,
            "table_name": table_name,
            "values": self.values_for_json(),
        }
        if consent_group is not None:
            obj["consent_group"] = consent_group
        return obj

    def spark_field(self) -> StructField:
        md = {
            "description": self.description,
            "dd_type": self.data_type,
            "raw_name": self.raw_name,
        }
        if self.enumerations:
            md["enumerations"] = self.enumerations
        if self.units:
            md["units"] = self.units
        if self.min is not None:
            md["min"] = self.min
        if self.max is not None:
            md["max"] = self.max
        return StructField(
            self.varname,
            _SPARK_TYPES[self.data_type],
            nullable=True,
            metadata=md,
        )


@dataclass
class DataDictionary:
    """A table's DD: ordered variables + key info
    (reference: wstlr/dd/table.py:14-149)."""

    table_name: str
    variables: list[DdVariable]

    @classmethod
    def from_rows(cls, table_name: str, rows: list[dict[str, str]]) -> "DataDictionary":
        """Build from parsed CSV rows with alternate-column-name
        resolution (wstlr/dd/loader.py:43-49) and first-duplicate-wins
        variable naming (wstlr/dd/table.py duplicate handling)."""
        out: list[DdVariable] = []
        seen: set[str] = set()
        for row in rows:
            lowered = {(k or "").strip().lower(): (v if v is not None else "") for k, v in row.items()}
            resolved: dict[str, str] = {}
            for canon, alts in _BASE_COLNAMES.items():
                for alt in alts:
                    if alt in lowered and lowered[alt] != "":
                        resolved[canon] = lowered[alt]
                        break
            raw = resolved.get("variable_name", "")
            if not raw:
                continue
            name = fix_fieldname(raw)
            if name in seen:
                continue
            seen.add(name)
            out.append(
                DdVariable(
                    varname=name,
                    raw_name=raw,
                    data_type=standardize_dd_type(resolved.get("data_type", "string")),
                    description=resolved.get("description", ""),
                    enumerations=parse_enumerations(resolved.get("enumerations")),
                    units=resolved.get("units") or None,
                    min=resolved.get("min") or None,
                    max=resolved.get("max") or None,
                    key_component=(resolved.get("key_component", "").lower() in ("true", "yes", "1")),
                )
            )
        return cls(table_name, out)

    @classmethod
    def from_csv(cls, spark: SparkSession, path: str, table_name: str) -> "DataDictionary":
        """Parse a DD CSV from a local path or an http(s) URL (S5 URL
        path, wstlr/dd/loader.py:51-65). ``spark`` is unused: the file is
        read on the driver."""
        with open_dd_file(path) as fh:
            return cls.from_rows(table_name, list(csv.DictReader(fh)))

    @classmethod
    def from_json_path(cls, path: str, table_name: str) -> "DataDictionary":
        """JSON data model from a local path or http(s) URL."""
        import json

        with open_dd_file(path) as fh:
            model = json.load(fh)
        return cls.from_json_model(model, table_name)

    @classmethod
    def from_json_model(cls, model: dict, table_name: str) -> "DataDictionary":
        """AnVIL-style JSON data model: {tables: [{table, columns: [...]}]}
        (wstlr/dd/json_parser.py:35-52)."""
        for tbl in model.get("tables", []):
            if tbl.get("table") == table_name:
                return cls.from_rows(table_name, tbl.get("columns", []))
        raise KeyError(f"table {table_name!r} not in JSON data model")

    # -- plan-compiler helpers ------------------------------------------

    def schema(self) -> StructType:
        return StructType([v.spark_field() for v in self.variables])

    def rename_map(self) -> dict[str, str]:
        """raw header (normalized) → DD varname; identity here because
        varname IS the normalized header, but kept as the P1 hook for
        'long descriptive name → code' lookups
        (wstlr/dd/variable.py:63-72)."""
        return {fix_fieldname(v.raw_name): v.varname for v in self.variables}

    def key_columns(self) -> list[str]:
        return [v.varname for v in self.variables if v.key_component]

    def typed(self, df: DataFrame) -> DataFrame:
        """Opt-in typed view: try_cast string columns per DD type (the
        reference parses lazily inside whistle with $ParseInt/$ParseFloat
        guards — try_cast reproduces the no-throw semantics)."""
        cols = []
        for c in df.columns:
            v = next((x for x in self.variables if x.varname == c), None)
            if v is None:
                cols.append(F.col(c))
            else:
                cols.append(F.col(c).try_cast(_SPARK_TYPES[v.data_type].simpleString()).alias(c))
        return df.select(*cols)

    # -- whistle-input document shapes (task S8 full-doc parity) ----------
    #
    # Reference: wstlr/dd/table.py:86-149 + wstlr/dd/study.py:51-91. The
    # "desc" of a table falls back to its name; variable lists keep DD
    # row order (the reference's insertion-ordered dict).

    def table_url(self, url_base: str, consent_group: str | None = None) -> str:
        return dd_system_url(
            url_base, "CodeSystem", consent_group, self.table_name, None
        )

    def table_desc(self) -> str:
        return self.table_name  # CSV DDs carry no table description

    def as_dd_table(self, url_base: str, consent_group: str | None = None) -> dict:
        """obj_as_dd_table (wstlr/dd/table.py:118-130): per-variable DD
        entries under the table url."""
        return {
            "table_name": self.table_name,
            "url": self.table_url(url_base, consent_group),
            "variables": [
                v.as_dd_entry(url_base, self.table_name, consent_group)
                for v in self.variables
            ],
        }

    def as_table_cs(
        self, study_name: str, url_base: str, consent_group: str | None = None
    ) -> dict:
        """obj_as_cs (wstlr/dd/table.py:131-149): the table itself as a
        code system whose codes are its variable names."""
        return {
            "varname": None,
            "url": self.table_url(url_base, consent_group),
            "study": study_name,
            "values": [
                {"code": v.raw_name, "description": v.desc} for v in self.variables
            ],
            "table_name": self.table_name,
        }

    def variables_as_cs(
        self, study_name: str, url_base: str, consent_group: str | None = None
    ) -> list[dict]:
        """variables_as_cs (wstlr/dd/table.py:108-116): one code-system
        entry per variable (including enum-less ones, matching the
        reference's unconditional append)."""
        return [
            v.as_cs(study_name, self.table_name, url_base, consent_group)
            for v in self.variables
        ]

    def as_study_member_entry(
        self, url_base: str, consent_group: str | None = None
    ) -> dict:
        """obj_as_dd_variable at table grain (wstlr/dd/table.py:86-107):
        the table as ONE entry of the study-level DataSet DD."""
        return {
            "varname": self.table_name,
            "desc": self.table_desc(),
            "type": "DD-Table",
            "url": self.table_url(url_base, consent_group),
            "values": [
                {"code": v.raw_name, "description": v.desc} for v in self.variables
            ],
        }

    def to_csv(self, path: str) -> None:
        """S12: DD → CSV file (the JsonParser.convert_to_csv analog,
        wstlr/dd/json_parser.py:54-87). Driver-side — DDs are tiny."""
        with open(path, "w", newline="") as fh:
            w = csv.writer(fh)
            w.writerow(
                ["variable_name", "description", "data_type", "enumerations", "min", "max", "units"]
            )
            for v in self.variables:
                enums = ";".join(
                    f"{k}={d}" if k != d else k for k, d in v.enumerations.items()
                )
                w.writerow(
                    [v.raw_name, v.description, v.data_type, enums, v.min or "", v.max or "", v.units or ""]
                )

    def enum_concept_rows(self, system_base: str) -> list[tuple[str, str, str, str, str, str]]:
        """Enumerations as ConceptMap self-rows for G3-style CodeSystem
        generation (wstlr/dd/variable.py:150-178)."""
        rows = []
        for v in self.variables:
            for code, desc in v.enumerations.items():
                rows.append(
                    (code, desc, v.varname, code, desc, f"{system_base}/{self.table_name}/{v.varname}")
                )
        return rows
