"""Profiling / summary operators (A3, A4, E8-style validation checks).

Reference: module×resourceType count summaries (wstlr/module_summary.py:
9-41), per-variable value-count + min/max profiling with a 50-distinct
cutoff (wstlr/dd/dd_from_fhir.py:41-125), duplicate-identifier inspection
(wstlr/inspector.py:27-97).

All pure DataFrame aggregations: partial (map-side) aggregation + one
shuffle per profile; the multi-column profile unions per-column aggs so
each column is scanned/pruned independently by Catalyst.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def count_summary(df: DataFrame, group_cols: list[str]) -> DataFrame:
    """A3: counts per group plus percent-of-total (wstlr/module_summary.py:
    9-41, wstlr/load.py:455-470). Percent via a window over the grouped
    (already tiny) result — no second scan of the input."""
    counts = df.groupBy(*group_cols).agg(F.count(F.lit(1)).alias("n"))
    total = Window.partitionBy()
    return counts.withColumn(
        "pct",
        F.round(F.col("n") * 100.0 / F.sum("n").over(total), 2),
    )


def profile_columns(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """A4: per-column profile — row/distinct/null counts and numeric
    min/max under the reference's try-float guard
    (wstlr/dd/dd_from_fhir.py:41-54).

    Output: (variable, n, n_distinct, n_null, min_num, max_num).
    One aggregate pass per column, unioned; each branch prunes to a single
    column so the parquet scan reads only what it profiles.
    """
    columns = columns or df.columns
    parts = []
    for c in columns:
        num = F.col(c).cast("string").try_cast("double")
        parts.append(
            df.select(
                F.lit(c).alias("variable"),
                F.col(c).alias("value"),
                num.alias("num"),
            ).agg(
                F.first("variable").alias("variable"),
                F.count(F.lit(1)).cast("long").alias("n"),
                F.count_distinct("value").cast("long").alias("n_distinct"),
                F.sum(F.when(F.col("value").isNull(), 1).otherwise(0))
                .cast("long")
                .alias("n_null"),
                F.min("num").cast("double").alias("min_num"),
                F.max("num").cast("double").alias("max_num"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def value_counts(
    df: DataFrame, column: str, max_distinct: int = 50
) -> DataFrame:
    """A4: value histogram with the reference's >50-distinct suppression
    (wstlr/dd/dd_from_fhir.py:75,88): if the column exceeds the cutoff the
    result is empty (the reference drops the histogram, keeping min/max).

    Fully lazy AND distributed: the distinct count is a scalar aggregate
    over the grouped result, broadcast back via cross join — no eager
    collect at plan-build, no single-partition window, and ReuseExchange
    dedups the shared groupBy shuffle (count_distinct(column) ==
    count of non-null groups, so no second scan of ``df``)."""
    counts = df.groupBy(F.col(column).alias("value")).agg(
        F.count(F.lit(1)).alias("n")
    )
    nd = counts.agg(F.count("value").alias("__nd"))
    return (
        counts.crossJoin(F.broadcast(nd))
        .where(F.col("__nd") <= max_distinct)
        .drop("__nd")
    )


def hll60_distinct(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    p: int = 10,
) -> DataFrame:
    """Explicit HyperLogLog distinct-count sketch on the cross-engine h60
    hash — every intermediate is integer-exact, so the whole estimate is
    reproducible in ANSI SQL (unlike engine-native HLL sketches, whose
    binary register layout is implementation-specific).

    Construction (m = 2^p buckets): bucket = h % m; w = h div m (60-p
    bits); rho = (60-p) - bit_length(w) + 1 (leading zeros + 1, via the
    integer-exact ``length(conv(w, 10, 2))`` — no floating log2);
    register R_j = max rho per bucket. The harmonic denominator is kept
    as the EXACT integer T = Σ_j 2^((60-p+1) - R_j) (scaled by
    2^(60-p+1); absent buckets contribute the full 2^(60-p+1)), so the
    only floating-point step is the final single division — bit-identical
    on any engine given the same constant. Raw estimate, no small-range
    correction (ln is libm-dependent); the sketch itself is mergeable
    (max per bucket), which is what matters at 100 TB: the shuffle
    carries ≤ m register rows per group, never the distinct-key set.

    Output: group_cols + (harmonic_denom bigint, hll_estimate double).
    """
    from ncpi_whistler_spark.operators.dedup import h60

    m = 1 << p
    wbits = 60 - p
    maxrho = wbits + 1
    alpha = 0.7213 / (1 + 1.079 / m)
    numer = float(alpha * m * m * (1 << maxrho))

    # explicit string cast: md5-of-decimal-text on both engines (Spark's
    # implicit long->binary cast would hash 8 raw bytes instead); NULLs
    # are ignored like COUNT(DISTINCT)
    df = df.where(F.col(value_col).isNotNull())
    h = h60(F.col(value_col).cast("string"))
    rows = df.select(
        *group_cols,
        (h % F.lit(m)).alias("__bkt"),
        # integer shift, NOT division (h > 2^53 would lose bits in double)
        F.shiftright(h, p).alias("__w"),
    ).select(
        *group_cols,
        "__bkt",
        F.when(F.col("__w") == 0, F.lit(maxrho))
        .otherwise(F.lit(maxrho) - F.length(F.conv(F.col("__w"), 10, 2)))
        .alias("__rho"),
    )
    regs = rows.groupBy(*group_cols, "__bkt").agg(F.max("__rho").alias("__r"))
    per_group = regs.groupBy(*group_cols).agg(
        F.sum(F.expr(f"shiftleft(1L, {maxrho} - __r)")).alias("__t_present"),
        F.count(F.lit(1)).alias("__n_present"),
    )
    t = (
        F.col("__t_present")
        + (F.lit(m) - F.col("__n_present")) * F.lit(1 << maxrho).cast("long")
    ).cast("long")
    raw = F.lit(numer) / t.cast("double")
    # Small-range correction (n ≲ 2.5m): linear counting m·ln(m/V) over
    # V = empty buckets. ln comes from a PYTHON-computed literal table
    # indexed by V (V ∈ [1, m]) — zero libm-at-runtime, so the corrected
    # estimate is the same double on any engine (the oracle embeds the
    # identical literals).
    import math

    lc = F.array(*[F.lit(m * math.log(m / v)) for v in range(1, m + 1)])
    v_empty = (F.lit(m) - F.col("__n_present")).cast("int")
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (v_empty > 0),
        F.element_at(lc, v_empty),
    ).otherwise(raw)
    return per_group.select(
        *group_cols,
        t.alias("harmonic_denom"),
        est.alias("hll_estimate"),
    )


def cms_sketch(
    df: DataFrame,
    value_col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Explicit Count-Min sketch over a value stream on the cross-engine
    h60 hash — like hll60_distinct, every intermediate is integer-exact,
    so the sketch and every estimate drawn from it reproduce in ANSI SQL
    (engine-native frequency sketches carry implementation-specific
    binary layouts).

    Construction: ``depth`` independent hash rows, each mapping a value
    to one of ``width`` counters via h60('<row>|' || value) % width; the
    counter is a plain SUM of occurrences. The sketch is ≤ depth·width
    rows REGARDLESS of corpus size — built with one partial-aggregated
    shuffle of (row, col) keys — and MERGEABLE by summing counters
    cell-wise, which is the property that matters at 100 TB: per-shard
    sketches combine without touching the value stream again
    (test_llm_ops pins split-build-merge == whole-corpus-build).

    Output: (row int, col int, counter bigint).
    """
    from ncpi_whistler_spark.operators.dedup import h60

    vals = df.where(F.col(value_col).isNotNull()).select(
        F.col(value_col).cast("string").alias("__v")
    )
    rows = vals.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("row"),
                        (
                            h60(F.concat(F.lit(f"{r}|"), F.col("__v")))
                            % F.lit(width)
                        ).alias("col"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("rc")
    )
    return (
        rows.select(F.col("rc.row").alias("row"), F.col("rc.col").alias("col"))
        .groupBy("row", "col")
        .agg(F.count(F.lit(1)).alias("counter"))
    )


def cms_estimate(
    sketch: DataFrame,
    queries: DataFrame,
    value_col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Point-frequency estimates from a cms_sketch: est(v) = min over
    rows of counter[row, h_row(v) % width] (the classic CM upper bound —
    never an underestimate). Each hash row becomes ONE broadcast left
    join of the query frame against that row's ≤ ``width`` sketch cells
    (probe column derived map-side), and the min folds as a ``least``
    expression — no explode, no groupBy, NO shuffle at all, so the
    estimate plan is a pure map-side chain of ``depth`` tiny broadcast
    joins. Missing cells count 0 (value never touched that counter).

    Each input row keeps its own output row — duplicate query rows stay
    duplicated, and because there is no row-identity bookkeeping (no
    generated ids, no aggregation) the result is deterministic under
    partial-stage retries. ``queries`` must not already contain the
    output column ``cms_est`` or any ``__cms_``-prefixed column (the
    join plumbing); a collision raises rather than silently producing
    an ambiguous schema.

    The sketch is persisted here before slicing: the ``depth``
    row-filtered BroadcastExchanges are distinct sub-plans Spark cannot
    reuse, so WITHOUT the persist a lazy (unpersisted) sketch would
    re-run its corpus-scale aggregation once per hash row. The cache
    holds ≤ depth·width tiny counter rows for the lifetime of the
    returned frame (the histogram_quantile_brackets ``cum.persist``
    precedent) — never corpus data. Long-lived sessions calling this
    many times accumulate one such entry per call (no unpersist handle
    exists — the returned plan reads the cache lazily); call
    ``spark.catalog.clearCache()`` periodically if that matters, and
    note cached sketches substitute into later canonically-equal plans
    (plan-shape tests must clear the cache first).

    Output: queries' columns + (cms_est bigint).
    """
    from ncpi_whistler_spark.operators.dedup import h60

    if not sketch.is_cached:
        sketch = sketch.persist()

    reserved = {
        c for c in queries.columns if c == "cms_est" or c.startswith("__cms_")
    }
    if reserved:
        raise ValueError(
            f"cms_estimate: queries frame uses reserved column name(s) "
            f"{sorted(reserved)}; rename them before probing"
        )
    out = queries
    for r in range(depth):
        probe_col = (
            h60(F.concat(F.lit(f"{r}|"), F.col(value_col).cast("string")))
            % F.lit(width)
        )
        sk_r = sketch.where(F.col("row") == r).select(
            F.col("col").alias(f"__cms_c{r}"),
            F.col("counter").alias(f"__cms_n{r}"),
        )
        out = out.join(
            F.broadcast(sk_r), on=probe_col == F.col(f"__cms_c{r}"), how="left"
        )
    est = F.least(
        *[F.coalesce(f"__cms_n{r}", F.lit(0)) for r in range(depth)]
    ).cast("long")
    return out.select(*queries.columns, est.alias("cms_est"))


def histogram_sketch(
    df: DataFrame,
    value_cents: Column | str,
    lo_cents: int,
    hi_cents: int,
    bins: int = 1024,
) -> DataFrame:
    """Explicit equi-width histogram sketch over an integer-cents value
    column — the quantile member of the explicit-sketch family (HLL =
    hll60_distinct, frequency = cms_sketch). ≤ ``bins`` rows at ANY data
    size, one partial-aggregated shuffle, mergeable by summing bin
    counts. Values outside [lo, hi] clamp into the edge bins (counted,
    never dropped — totals stay exact). All BIGINT arithmetic, so the
    sketch and every bracket drawn from it replay in ANSI SQL.

    Output: (bin, n) rows."""
    v = F.col(value_cents) if isinstance(value_cents, str) else value_cents
    span = hi_cents - lo_cents + 1
    bin_expr = F.expr(
        f"least({bins - 1}, greatest(0, ((__v - {lo_cents}) * {bins}) div {span}))"
    )
    return (
        df.where(v.isNotNull())
        .select(v.cast("long").alias("__v"))
        .select(bin_expr.cast("long").alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def histogram_quantile_brackets(
    sketch: DataFrame,
    qs_ppm: list[int],
    lo_cents: int,
    hi_cents: int,
    bins: int = 1024,
) -> DataFrame:
    """Quantile BRACKETS from a histogram_sketch: for each requested
    quantile q (ppm), the bin whose cumulative count first exceeds
    rank = (N−1)·q div 1e6, reported as its exact [lo, hi) cent bounds
    plus the cumulative count — the honest answer an equi-width sketch
    supports (a bracket of width ~(hi−lo)/bins, not a fake interpolated
    point). Integer arithmetic end to end. The bounds are the TRUE bin
    membership interval: a value c lands in bin b iff
    (c−lo)·bins div span == b, i.e. c−lo ∈ [⌈b·span/bins⌉,
    ⌈(b+1)·span/bins⌉), so both edges use ceiling division — floor on
    the upper edge would exclude the bin's largest member whenever bins
    does not divide (b+1)·span. Containment holds for in-range values;
    the two edge bins additionally absorb clamped out-of-range values.

    Duplicate entries in ``qs_ppm`` are deduplicated (one output row per
    distinct quantile). The ≤ ``bins``-row ``cum`` frame is persisted for
    the plan's three consumers and stays cached for the lifetime of the
    returned DataFrame — by design, like semantic_dedup's centroid cache:
    unpersisting before the caller collects would re-run the corpus-scale
    aggregation behind the sketch per consumer. It holds ≤ ``bins`` tiny
    rows; call ``spark.catalog.clearCache()`` in long-lived sessions if
    even that matters.

    The cumulative walk is a window over the ≤ ``bins``-row sketch —
    bounded by the sketch size, never by the data (the one place a
    single-partition window is correct by construction). The cum frame
    is persisted: the plan below references it twice (quantile hit +
    bracket join-back) and total_n once more, and without the persist
    each reference would re-run the corpus-scale aggregation behind the
    sketch — a 3-consumer frame per the repo's persist policy, and it
    caches ≤ ``bins`` rows, never data.

    Output per quantile: (q_ppm, bin, bracket_lo_cents, bracket_hi_cents,
    cum_n, total_n)."""
    span = hi_cents - lo_cents + 1
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = sketch.select(
        "bin",
        "n",
        F.sum("n").over(w).alias("cum_n"),
        F.sum("n").over(wall).alias("total_n"),
    ).persist()
    qdf = cum.sparkSession.createDataFrame(
        [(q,) for q in sorted({int(q) for q in qs_ppm})], "q_ppm long"
    )
    hit = (
        cum.crossJoin(F.broadcast(qdf))
        .where(F.col("cum_n") > F.expr("((total_n - 1) * q_ppm) div 1000000"))
        .groupBy("q_ppm", "total_n")
        .agg(
            F.min("bin").alias("bin"),
        )
        .join(cum.select("bin", "cum_n"), on="bin")
    )
    return hit.select(
        "q_ppm",
        F.col("bin").cast("long"),
        (
            F.lit(lo_cents) + F.expr(f"(bin * {span} + {bins - 1}) div {bins}")
        ).cast("long").alias("bracket_lo_cents"),
        (
            F.lit(lo_cents) + F.expr(f"((bin + 1) * {span} + {bins - 1}) div {bins}")
        ).cast("long").alias("bracket_hi_cents"),
        F.col("cum_n").cast("long"),
        F.col("total_n").cast("long"),
    )
