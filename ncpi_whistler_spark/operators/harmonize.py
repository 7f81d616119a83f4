"""Harmonize: ConceptMap and display lookups as one broadcast map (J3/H1, P2).

Reference semantics (wstlr/wlib/core/_harmonize.wstl:7-9 + map built by
wstlr/conceptmap.py:380-550): ``$HarmonizeCode(code, system)`` returns ALL
target codings for (code, source-system), including the ``self`` entry that
carries the original display text. Every downstream Harmonize* variant
(functions/harmonize.py) is a filter/selector over that array. Next to it,
the extractor's ``code_details`` map (wstlr/extractor.py:274-282) gives
every column whose value is a harmony local code a ``<col>_display``.

Scale design: both are the same lookup, built from what the driver-side
harmony reader (sources/harmony.py) returned. The Python dict becomes a
one-row ``map<string, T>`` frame, that row is broadcast and cross-joined
onto the fact side, and every looked-up column is one ``element_at`` in
one projection. The plan is the same size whatever the size of the map (a
literal map expression of N keys costs seconds of driver-side plan
construction per thousand keys), and the fact side never shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ncpi_whistler_spark.sources.harmony import CODINGS_TYPE, ConceptMap

_MAP = "__lookup_map"


def _lookup(
    df: DataFrame, entries: dict, value_type: str, keys: dict[str, Column]
) -> DataFrame:
    """Add one column per ``keys`` item: the ``value_type`` value that
    ``entries`` holds for that key, NULL on a miss."""
    # a map key cannot be null; a null value never matches one
    lookup = df.sparkSession.createDataFrame(
        [({k: v for k, v in entries.items() if k is not None},)],
        f"{_MAP} map<string, {value_type}>",
    )
    out = df.crossJoin(F.broadcast(lookup))
    return out.withColumns(
        {
            name: F.element_at(F.col(_MAP), key.cast("string"))
            for name, key in keys.items()
        }
    ).drop(_MAP)


def harmonize(
    df: DataFrame,
    value_col: str | Column,
    local_system: str,
    concept_map: ConceptMap,
    output_col: str = "codings",
) -> DataFrame:
    """Add ``output_col: array<struct<code,display,system>>`` with all
    codings for (value, local_system). Unmapped values get an empty array
    (whistle returns nil; empty array keeps downstream HOFs total)."""
    value = F.col(value_col) if isinstance(value_col, str) else value_col
    codings = {
        lc: c for (ls, lc), c in concept_map.codings().items() if ls == local_system
    }
    out = _lookup(df, codings, CODINGS_TYPE, {output_col: value})
    empty = F.array().cast(CODINGS_TYPE)
    return out.withColumn(output_col, F.coalesce(F.col(output_col), empty))


def add_display_columns(
    df: DataFrame,
    columns: list[str],
    code_details: dict[str, str],
    suffix: str = "_display",
) -> DataFrame:
    """P2 (reference-exact): for every listed column whose VALUE appears
    in the code_details map (local code → display, keyed by value only —
    wstlr/extractor.py:189-191,274-282), add ``<col><suffix>``.

    The reference omits the key entirely on a miss; NULL plus the
    null-dropping serialization reproduces that (SURVEY §7 risk 4).
    """
    if not code_details:
        return df
    return _lookup(df, code_details, "string", {c + suffix: F.col(c) for c in columns})
