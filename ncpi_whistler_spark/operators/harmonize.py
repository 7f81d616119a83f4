"""Harmonize: broadcast ConceptMap lookup as an equi-join (J3/H1).

Reference semantics (wstlr/wlib/core/_harmonize.wstl:7-9 + map built by
wstlr/conceptmap.py:380-550): ``$HarmonizeCode(code, system)`` returns ALL
target codings for (code, source-system), including the ``self`` entry that
carries the original display text. Every downstream Harmonize* variant
(functions/harmonize.py) is a filter/selector over that array.

Scale design: maps of up to ``ConceptMap.MAX_DRIVER_ROWS`` rows (the
reference's harmony CSVs are human-authored, so usually far fewer)
compile to a literal ``create_map`` expression driver-side, so
harmonizing a column on a 100 TB fact table is a pure map-side
expression: no join, nothing broadcast, and N harmonized columns are N
expressions in one projection. Larger maps, whose literal would make plan
construction the cost, use a grouped-and-broadcast hash join — still zero
shuffle of the fact side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ncpi_whistler_spark.sources.harmony import ConceptMap


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
    empty = F.array().cast("array<struct<code:string,display:string,system:string>>")
    # Fast path: maps of up to MAX_DRIVER_ROWS rows compile to a
    # create_map literal. Pure map-side expression: no join, no extra
    # Spark jobs building the lookup, and on a 100 TB fact table no
    # broadcast to ship.
    table = concept_map.codings_lookup(local_system)
    if table is not None:
        if not table:
            return df.withColumn(output_col, empty)
        pairs: list[Column] = []
        for lc, codings in table.items():
            arr = F.array(
                *[
                    F.struct(
                        F.lit(c).alias("code"),
                        F.lit(d).alias("display"),
                        F.lit(s).alias("system"),
                    )
                    for c, d, s in codings
                ]
            )
            pairs.extend([F.lit(lc), arr])
        m = F.create_map(*pairs)
        return df.withColumn(
            output_col,
            F.coalesce(F.try_element_at(m, value.cast("string")), empty),
        )
    lookup = (
        concept_map.codings_df()
        .where(F.col("local_system") == local_system)
        .select(
            F.col("local_code").alias("__h_code"),
            F.col("codings").alias(output_col),
        )
    )
    out = df.join(
        F.broadcast(lookup), on=value.cast("string") == F.col("__h_code"), how="left"
    ).drop("__h_code")
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

    The map is config-scale, so it compiles to a ``create_map`` literal —
    a pure map-side lookup, no join at all.
    """
    if not code_details:
        return df
    pairs: list[Column] = []
    for k, v in code_details.items():
        pairs.extend([F.lit(k), F.lit(v)])
    lookup = F.create_map(*pairs)
    out = df
    for c in columns:
        out = out.withColumn(
            c + suffix, F.element_at(lookup, F.col(c).cast("string"))
        )
        # reference omits the key entirely on miss; NULL + null-dropping
        # serialization reproduces that (SURVEY §7 risk 4)
    return out


def add_display_columns_scoped(
    df: DataFrame,
    columns: list[str],
    concept_map: ConceptMap,
    suffix: str = "_display",
) -> DataFrame:
    """Stricter variant: display scoped per (column == local_system) via
    broadcast joins — avoids cross-column code collisions the reference's
    global map allows. Not reference-exact; offered as the safer option.
    """
    disp = concept_map.display_map_df()
    out = df
    for c in columns:
        lkp = F.broadcast(
            disp.where(F.col("local_system") == c).select(
                F.col("local_code").alias(f"__d_{c}"),
                F.col("display").alias(c + suffix),
            )
        )
        out = out.join(
            lkp, on=F.col(c).cast("string") == F.col(f"__d_{c}"), how="left"
        ).drop(f"__d_{c}")
    return out
