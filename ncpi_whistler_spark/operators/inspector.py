"""Pre-load sanity inspections (E8; reference wstlr/inspector.py:27-97) and
module summaries (A3; wstlr/module_summary.py:9-41) as DataFrame checks.

Each check returns a DataFrame of violations — empty means pass — and
``run_inspections`` counts the whole suite in one aggregation over the
resources, so it scales with the data and scans it once.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _identifier() -> Column:
    return F.get_json_object("resource_json", "$.identifier[0].value")


def _no_meta_tag() -> Column:
    return F.get_json_object("resource_json", "$.meta.tag[0].code").isNull()


def _observation_without_code() -> Column:
    code = F.get_json_object("resource_json", "$.code")
    return (F.col("resourceType") == "Observation") & code.isNull()


def duplicate_identifiers(resources: DataFrame) -> DataFrame:
    """Identifiers used by more than one resource (the reference's
    duplicate-identifier check, wstlr/inspector.py:27-63)."""
    return (
        resources.select("resourceType", _identifier().alias("identifier"))
        .where(F.col("identifier").isNotNull())
        .groupBy("resourceType", "identifier")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
    )


def missing_meta_tag(resources: DataFrame) -> DataFrame:
    """Resources without the required study meta.tag
    (wstlr/inspector.py:63-77)."""
    return resources.where(_no_meta_tag()).select(
        "module", "resourceType", "resource_json"
    )


def observations_without_code(resources: DataFrame) -> DataFrame:
    """Observation.code required (wstlr/inspector.py:79-97)."""
    return resources.where(_observation_without_code()).select(
        "module", "resource_json"
    )


def module_summary(resources: DataFrame) -> DataFrame:
    """module × resourceType counts with percent of that resourceType's
    total (reference semantics: the %% column is per-type, not global —
    wstlr/module_summary.py:36-41)."""
    from pyspark.sql.window import Window

    counts = resources.groupBy("module", "resourceType").agg(
        F.count(F.lit(1)).alias("n")
    )
    per_type = Window.partitionBy("resourceType")
    return counts.withColumn(
        "pct", F.round(F.col("n") * 100.0 / F.sum("n").over(per_type), 2)
    )


def run_inspections(resources: DataFrame) -> dict[str, int]:
    """Run the suite; returns violation counts keyed by check name (the
    reference prints warnings — callers decide whether to fail).

    One aggregation over (resourceType, identifier) groups counts all three
    checks, so the suite is one scan of the resources, not one per check.
    """
    per_identifier = resources.groupBy(
        "resourceType", _identifier().alias("identifier")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(_no_meta_tag()).alias("no_tag"),
        F.count_if(_observation_without_code()).alias("no_code"),
    )
    return per_identifier.agg(
        F.count_if(
            F.col("identifier").isNotNull() & (F.col("n") > 1)
        ).alias("duplicate_identifiers"),
        # a sum over no groups is NULL
        F.coalesce(F.sum("no_tag"), F.lit(0)).alias("missing_meta_tag"),
        F.coalesce(F.sum("no_code"), F.lit(0)).alias("observations_without_code"),
    ).first().asDict()
