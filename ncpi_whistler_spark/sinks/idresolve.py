"""Identifier→id cache and reference-resolution fixpoint (J4/E2/E6).

Reference behavior: resources carry ``{identifier: {system, value}}``
stubs where references belong; at load time each stub is replaced with
``reference: "Type/id"`` from the id cache (wstlr/load.py:53-83,
wstlr/idcache.py:26-113). Resources whose references can't resolve yet go
to a retry queue, re-attempted after each pass, max 10 rounds
(wstlr/play.py:477-493).

Spark design: the cache is an id-map DataFrame (persistable as parquet —
the sqlite analog). Resolution is a broadcast join per pass; the fixpoint
is a driver loop over *levels of the reference DAG*: each round loads
every resource whose references all resolve, appends the new ids to the
map, and repeats — the same convergence contract, but each round is one
distributed join instead of row-at-a-time retries.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ncpi_whistler_spark.operators.tuning import materialize_shared

MAX_ROUNDS = 10  # reference fixpoint cap, wstlr/play.py:477-488

ID_MAP_SCHEMA = "system string, identifier string, resource_type string, fhir_id string"


def empty_id_map(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], ID_MAP_SCHEMA)


def resolve_references(
    resources: DataFrame, id_map: DataFrame, ref_cols: list[str]
) -> DataFrame:
    """Replace identifier-stub struct columns with resolved references.

    Each ``ref_cols`` entry is a column of
    ``struct<identifier:struct<system:string,value:string>>``. Adds
    ``<col>_ref`` (``"Type/id"`` or NULL) and ``_unresolved`` (any ref
    missing). Joins are broadcast — the id map is small relative to data.
    """
    out = resources
    unresolved = F.lit(False)
    for c in ref_cols:
        lkp = id_map.select(
            F.col("system").alias(f"__s_{c}"),
            F.col("identifier").alias(f"__i_{c}"),
            F.concat_ws("/", "resource_type", "fhir_id").alias(f"{c}_ref"),
        )
        out = out.join(
            F.broadcast(lkp),
            on=(
                (F.col(f"{c}.identifier.system") == F.col(f"__s_{c}"))
                & (F.col(f"{c}.identifier.value") == F.col(f"__i_{c}"))
            ),
            how="left",
        ).drop(f"__s_{c}", f"__i_{c}")
        unresolved = unresolved | (
            F.col(c).isNotNull() & F.col(f"{c}_ref").isNull()
        )
    return out.withColumn("_unresolved", unresolved)


@dataclass
class FixpointResult:
    loaded_rounds: list[DataFrame]
    invalid: DataFrame  # resources never resolvable (→ invalid-references.json)
    id_map: DataFrame
    rounds: int


def load_fixpoint(
    spark: SparkSession,
    resources: DataFrame,
    id_map: DataFrame,
    ref_cols: list[str],
    identifier_col: str = "identifier",
    type_col: str = "resourceType",
    max_rounds: int = MAX_ROUNDS,
) -> FixpointResult:
    """Topological-level loading: round N loads everything whose
    references resolve against ids from rounds < N.

    Mirrors the reference's retry-until-fixpoint (E2) with the same
    ≤ ``max_rounds`` bound; leftovers are the invalid-reference set
    (wstlr/load.py:195-222).

    Each round's resolved frame and id map go through
    ``materialize_shared``: computed once, and on single-JVM ``local[N]``
    masters checkpointed, which cuts the lineage so the plan of round N
    does not nest every earlier round. On multi-JVM masters that helper
    keeps the lineage by design — executor loss must stay recomputable —
    so there the plan still grows with the round count.
    """
    pending = resources
    loaded_rounds: list[DataFrame] = []
    rounds = 0
    for _ in range(max_rounds):
        if not pending.take(1):
            break
        rounds += 1
        resolved = materialize_shared(resolve_references(pending, id_map, ref_cols))
        ready = resolved.where(~F.col("_unresolved"))
        if not ready.take(1):
            break  # no progress → remaining are invalid
        loaded_rounds.append(ready)
        # newly assigned server ids: deterministic surrogate from the
        # identifier (real servers return them; parity keeps it stable)
        new_ids = ready.select(
            F.col(f"{identifier_col}")[0]["system"].alias("system"),
            F.col(f"{identifier_col}")[0]["value"].alias("identifier"),
            F.col(type_col).alias("resource_type"),
            F.sha1(F.col(f"{identifier_col}")[0]["value"]).alias("fhir_id"),
        )
        id_map = materialize_shared(id_map.unionByName(new_ids))
        pending = resolved.where(F.col("_unresolved")).select(resources.columns)
    return FixpointResult(
        loaded_rounds=loaded_rounds,
        invalid=pending,
        id_map=id_map,
        rounds=rounds,
    )


def http_fetch_json(
    url: str, headers: dict[str, str] | None = None, timeout: float = 30.0
):
    """GET a FHIR JSON document (stdlib; injectable for tests)."""
    import json as _json
    import urllib.request

    req = urllib.request.Request(
        url, headers={"Accept": "application/fhir+json", **(headers or {})}
    )
    with urllib.request.urlopen(req, timeout=timeout) as resp:
        return _json.loads(resp.read().decode("utf-8"))


def prime_id_map(
    spark: SparkSession,
    base_url: str,
    resource_types: list[str],
    identifier_prefix: str | None = None,
    fetch=None,
    headers: dict[str, str] | None = None,
    page_size: int = 1000,
    max_pages: int = 100_000,
) -> DataFrame:
    """Bulk-prefetch EXISTING server ids into an id-map DataFrame — the
    remote half of the reference's id cache (E6): before loading, the
    reference primes its cache from the target FHIR server in one bulk
    pull per study (wstlr/play.py:427-434, wstlr/idcache.py:45-71,
    docs/ref/pipeline_overview.md:69), so an incremental re-load reuses
    the ids the server already assigned instead of minting new ones.

    Implementation: one paged FHIR search per resource type
    (``GET {base}/{type}?_count=N&_elements=id,identifier``), following
    Bundle ``link[relation=next]`` — the plain REST API already modeled
    by sinks/rest.py; ``identifier_prefix`` keeps only the study's own
    identifier systems (the reference scopes its cache per study).

    The paging loop is driver-side by design: this mirrors the
    reference's single bulk pull, and an id map is metadata-sized
    (identifiers, not data). The result unions into the id map passed to
    :func:`load_fixpoint`; persist it as parquet alongside the
    self-assigned ids for reuse across runs.
    """
    if fetch is None:
        fetch = lambda u: http_fetch_json(u, headers)  # noqa: E731
    rows: list[tuple] = []
    for rt in resource_types:
        url = (
            f"{base_url.rstrip('/')}/{rt}"
            f"?_count={page_size}&_elements=id,identifier"
        )
        pages = 0
        while url and pages < max_pages:
            bundle = fetch(url)
            for entry in bundle.get("entry") or []:
                res = entry.get("resource") or {}
                rid = res.get("id")
                if not rid:
                    continue
                for ident in res.get("identifier") or []:
                    system, value = ident.get("system"), ident.get("value")
                    if not value:
                        continue
                    if identifier_prefix and not (system or "").startswith(
                        identifier_prefix
                    ):
                        continue
                    rows.append((system, value, res.get("resourceType", rt), rid))
            url = next(
                (
                    ln.get("url")
                    for ln in bundle.get("link") or []
                    if ln.get("relation") == "next"
                ),
                None,
            )
            pages += 1
    return spark.createDataFrame(rows, ID_MAP_SCHEMA)
