"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
and embedding-cosine near-dup.

Scale design notes (the whole point of these at 100 TB):

- Exact dedup is a hash aggregation on the fingerprint — one shuffle of
  (key, id) pairs, never of document bodies.
- Candidate generation for fuzzy dedup is always *inverted-index shaped*:
  explode small keys (shingles / band hashes / hyperplane buckets), shuffle
  the keys, and only materialize same-bucket pairs. No all-pairs products.
- Hot keys (a shingle present in half the corpus) are the skew bomb; every
  generator takes a document-frequency cap that drops keys more common
  than ``max_df`` before the self-join (stopword shingles carry no signal).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ncpi_whistler_spark.operators.text import fingerprint, tokens

# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------


def exact_dedup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Groups of exact (normalized) duplicates: one row per fingerprint
    with multiplicity and the keeper (min id). Downstream: anti-join ids
    not equal to keeper to drop dups."""
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("keeper_id"),
        )
    )


def drop_exact_dups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id representative of each fingerprint group — a
    deterministic dropDuplicates."""
    w = df.select(F.col(id_col), fingerprint(text_col).alias("fp"), "*")
    keepers = w.groupBy("fp").agg(F.min(id_col).alias(id_col))
    return df.join(keepers.select(id_col), on=id_col, how="left_semi")


# --------------------------------------------------------------------------
# Word n-gram shingles + Jaccard similarity (exact fuzzy-dup measure)
# --------------------------------------------------------------------------


def shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the lowercased text, as a single
    Column. NOTE: interpreted HOF lambdas re-evaluate the token split per
    array element — fine for single values; corpus-scale jobs use
    shingle_rows (tokens materialize once at the explode boundary)."""
    toks = tokens(text)
    cnt = F.size(toks)
    # guard: sequence(1, 0) would produce a DESCENDING [1, 0] sequence
    idx = F.when(cnt >= n, F.sequence(F.lit(1), cnt - n + 1)).otherwise(
        F.array().cast("array<int>")
    )
    return F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " "))
    )


def shingle_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    persist: bool = True,
) -> DataFrame:
    """(id, n_sh, shingle) exploded distinct-shingle rows — the corpus
    plan: posexplode tokens (split runs once per doc), lead() window
    stitches n-grams, distinct per doc, distinct-count windowed back on.
    One shuffle on id; everything else is codegen string concat.

    ``persist`` (default) caches the result: every dedup operator
    consumes this table 2–7× (both self-join sides, size lookup,
    signature build), and column pruning specializes each copy so
    ReuseExchange cannot dedup them — uncached, the corpus is re-scanned
    and re-shingled per consumer. Spark's cache manager matches the
    canonicalized plan, so repeated pipelines over the same corpus in one
    session share a single materialization. At 100 TB prefer writing the
    shingle table once (storage.write_bucketed on id) and reading it
    back."""
    from pyspark.sql.window import Window

    ex = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(text_col)).alias("pos", "tok"),
    )
    w = Window.partitionBy("id").orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", k).over(w) for k in range(1, n)]
    sh = (
        ex.select("id", *[p.alias(f"t{i}") for i, p in enumerate(parts)])
        .where(F.col(f"t{n - 1}").isNotNull())
        .select("id", F.concat_ws(" ", *[F.col(f"t{i}") for i in range(n)]).alias("shingle"))
    )
    # collect_set per id: dedups AND counts in one aggregation that
    # REUSES the window's hash partitioning on id — the whole operator is
    # a single shuffle (vs window + dropDuplicates + count-window = 3)
    agg = sh.groupBy("id").agg(F.collect_set("shingle").alias("shs"))
    out = agg.select(
        "id", F.size("shs").alias("n_sh"), F.explode("shs").alias("shingle")
    )
    if not persist:
        return out
    from ncpi_whistler_spark.operators.tuning import materialize_shared

    # r13: eager barrier instead of lazy persist — the 2-7 consumers'
    # stage jobs are submitted concurrently by AQE and each re-ran this
    # whole pipeline on a cold cache (interleaved cold A/B: q24
    # 10.7-159 s lazy vs 2.9-17.2 s barriered, q79 7.3-115 s vs
    # 3.8-21.9 s, every aligned rep ahead; same mechanism as q94).
    return materialize_shared(out)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """All document pairs with n-gram Jaccard >= threshold, via an
    inverted-index self-join (explode shingles → join on shingle →
    count intersections → Jaccard from |A|+|B|-|A∩B|).

    ``max_df`` drops shingles appearing in more than that many docs before
    the join — the skew/blowup guard at scale. ``shingles`` (a
    shingle_rows output, ideally persisted) lets pipelines share one
    shingle materialization: the subtree feeds both join sides, and
    column pruning makes the copies non-identical, so ReuseExchange can
    NOT dedup them — without sharing, the corpus is rescanned per side.
    """
    exploded = shingles if shingles is not None else shingle_rows(df, text_col, id_col, n)
    if max_df is not None:
        hot = (
            exploded.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") > max_df)
            .select("shingle")
        )
        exploded = exploded.join(F.broadcast(hot), on="shingle", how="left_anti")
    a = exploded.select(
        F.col("shingle"),
        F.col("id").alias("id_a"),
        F.col("n_sh").alias("n_a"),
    )
    b = exploded.select(
        F.col("shingle"),
        F.col("id").alias("id_b"),
        F.col("n_sh").alias("n_b"),
    )
    common = (
        a.join(b, on="shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = common.withColumn(
        "jaccard",
        F.col("n_common").cast("double")
        / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
    )
    return jac.where(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", "n_common", F.round("jaccard", 6).alias("jaccard")
    )


# --------------------------------------------------------------------------
# MinHash + LSH (approximate Jaccard at scale)
# --------------------------------------------------------------------------

# 31-bit Mersenne prime: a*h + b stays under 2^62, safe in ANSI long math
_MERSENNE = (1 << 31) - 1


def h60(col: Column | str) -> Column:
    """60-bit cross-engine hash: first 15 hex digits of md5, parsed base
    16 — always positive, fits signed 64.

    The DuckDB twin is ``('0x' || substring(md5(x), 1, 15))::BIGINT``
    (verified bit-equal), which is what makes the sketch operators below
    oracle-checkable: pass ``hash_fn='md5'`` and every signature, band
    key, and sketch bit is reproducible in ANSI SQL. xxhash64 stays the
    default for production (one JVM intrinsic vs md5's digest cost)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def _base_hash(col: Column | str, hash_fn: str) -> Column:
    if hash_fn == "md5":
        return h60(col)
    return F.xxhash64(F.col(col) if isinstance(col, str) else col)


def _perm_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) permutation parameters via an LCG (no numpy
    dependency in the plan; fixed seed ⇒ identical signatures every run)."""
    params = []
    state = seed
    for _ in range(num_hashes):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (state % (_MERSENNE - 1)) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % _MERSENNE
        params.append((a, b))
    return params


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 128,
    seed: int = 42,
    shingle_n: int = 3,
    shingles: DataFrame | None = None,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, sig: array<long>) via the columnar plan: shingle rows (tokens
    split once per doc), project ``num_hashes`` permuted-hash columns
    (pure codegen arithmetic), aggregate element-wise min per doc in one
    shuffle. ``hash_fn='md5'`` → oracle-reproducible h60 base hash."""
    ex = (shingles if shingles is not None else shingle_rows(df, text_col, id_col, shingle_n)).select("id", "shingle")
    h = F.pmod(_base_hash("shingle", hash_fn), F.lit(_MERSENNE))
    proj = ex.select(
        "id",
        *[
            F.pmod(h * F.lit(a) + F.lit(b), F.lit(_MERSENNE)).alias(f"h{i}")
            for i, (a, b) in enumerate(_perm_params(num_hashes, seed))
        ],
    )
    agg = proj.groupBy("id").agg(
        *[F.min(f"h{i}").alias(f"h{i}") for i in range(num_hashes)]
    )
    return agg.select(
        "id", F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig")
    )


def minhash_signatures_arrow(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 128,
    seed: int = 42,
    shingle_n: int = 3,
    shingles: DataFrame | None = None,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Arrow twin of :func:`minhash_signatures` — BIT-IDENTICAL
    signatures (test-pinned, both hash modes). The expression form
    projects ``num_hashes`` pmod columns per shingle row (the measured
    hot stage of the fuzzy-dedup pipelines); here each Arrow batch
    computes base hashes vectorized (bucketed-length numpy XXH64, or
    hashlib md5-h60 for the oracle mode), the permutation family as one
    (rows × num_hashes) uint64 broadcast multiply — wrapping mod 2⁶⁴
    exactly like JVM long arithmetic, then pmod — and a per-batch
    partial MIN per doc id, so only |ids|-sized partials reach the same
    final min-merge aggregation the expression form uses. The
    distributed shape (one shuffle, map-side combine) is unchanged."""
    import numpy as np

    from ncpi_whistler_spark.operators.text import xxh64_bytes_vec

    ex = (
        shingles
        if shingles is not None
        else shingle_rows(df, text_col, id_col, shingle_n)
    ).select("id", "shingle")
    id_type = dict(ex.dtypes)["id"]
    params = _perm_params(num_hashes, seed)
    a_vec = np.array([a for a, _ in params], dtype=np.uint64)
    b_vec = np.array([b for _, b in params], dtype=np.uint64)
    cols = [f"h{i}" for i in range(num_hashes)]

    def gen(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            if hash_fn == "md5":
                base = np.fromiter(
                    (
                        int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
                        for s in pdf["shingle"]
                    ),
                    dtype=np.int64,
                    count=len(pdf),
                )
            else:
                base = xxh64_bytes_vec(pdf["shingle"])
            base_u = (base % _MERSENNE).astype(np.uint64)
            prod = base_u[:, None] * a_vec[None, :] + b_vec[None, :]
            sig = prod.view(np.int64) % _MERSENNE
            part = pd.DataFrame(sig, columns=cols)
            part.insert(0, "id", pdf["id"].to_numpy())
            yield part.groupby("id", sort=False).min().reset_index()

    schema = f"id {id_type}, " + ", ".join(f"{c} long" for c in cols)
    proj = ex.mapInPandas(gen, schema=schema)
    agg = proj.groupBy("id").agg(*[F.min(c).alias(c) for c in cols])
    return agg.select("id", F.array(*[F.col(c) for c in cols]).alias("sig"))


def _sig_band_entries(
    sig: DataFrame, num_hashes: int, bands: int, hash_fn: str
) -> DataFrame:
    """(id, band, bh) band entries from a signature frame — the unit the
    banded self-join AND the persistent ingest-dedup index share."""
    r = num_hashes // bands
    return sig.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bidx: F.struct(
                    bidx.alias("band"),
                    _base_hash(
                        F.array_join(
                            F.transform(
                                F.slice("sig", bidx * r + 1, r),
                                lambda v: v.cast("string"),
                            ),
                            ",",
                        ),
                        hash_fn,
                    ).alias("bh"),
                ),
            )
        ).alias("e"),
    ).select("id", F.col("e.band").alias("band"), F.col("e.bh").alias("bh"))


def minhash_band_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
    shingle_n: int = 3,
    hash_fn: str = "xxhash64",
    sig_mode: str = "arrow",
) -> DataFrame:
    """The persistent corpus-side dedup index: (id, band, bh) band
    entries. Write once (``.write.partitionBy("band").parquet(...)``) and
    reuse across ingest batches — at 100 TB the corpus is hashed exactly
    once, and each incoming batch joins against the stored index instead
    of re-sketching petabytes (see dedup_against_corpus).

    ``sig_mode`` picks the signature builder; the default is the
    vectorized Arrow twin (bit-identical to the expression form,
    test-pinned) — measured faster in BOTH hash modes at sf0.1
    (r12 A/B, min-of-3 on the cached shingle table: xxhash64 0.67 s vs
    1.09 s, md5 0.86 s vs 1.27 s), because the 64 pmod projections per
    shingle row collapse into one numpy broadcast multiply with a
    per-batch partial min (guide §4.2: batch-vectorized native code
    beats row-expression codegen for bulk arithmetic)."""
    assert num_hashes % bands == 0
    builder = minhash_signatures_arrow if sig_mode == "arrow" else minhash_signatures
    sig = builder(
        df, text_col, id_col, num_hashes, seed, shingle_n, None, hash_fn
    )
    return _sig_band_entries(sig, num_hashes, bands, hash_fn)


def dedup_against_corpus(
    new_docs: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold_ppm: int = 800_000,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
    shingle_n: int = 3,
    hash_fn: str = "xxhash64",
    index: DataFrame | None = None,
    persist: bool = True,
) -> DataFrame:
    """Incremental ingest dedup: drop new documents that are near-dups
    of ANY existing corpus document (the crawl-ingest shape: the corpus
    is settled, only the batch is in question — corpus rows are never
    dropped).

    Two-phase like fuzzy_dedup_keep: banded-LSH candidates restricted to
    cross (batch × corpus) collisions, then exact n-gram Jaccard on the
    candidate set only. Pass ``index`` (a stored minhash_band_index
    frame) to skip re-sketching the corpus — the batch side is the only
    thing hashed per ingest, and the candidate join reads just the
    colliding index partitions.

    Requires disjoint id spaces between batch and corpus. Returns the
    SURVIVING new_docs rows."""
    new_bands = minhash_band_index(
        new_docs, text_col, id_col, num_hashes, bands, seed, shingle_n, hash_fn
    )
    corpus_bands = (
        index
        if index is not None
        else minhash_band_index(
            corpus, text_col, id_col, num_hashes, bands, seed, shingle_n, hash_fn
        )
    )
    cand = (
        new_bands.select("band", "bh", F.col("id").alias("id_a"))
        .join(
            corpus_bands.select("band", "bh", F.col("id").alias("id_b")),
            on=["band", "bh"],
        )
        .select("id_a", "id_b")
        .distinct()
    )
    # the candidate set feeds three consumers (both semi-joins + the
    # verify); ``persist`` (default) caches it for the call. The cache
    # lives as long as the returned lazy frame — long-lived sessions
    # running many ingests should clearCache()/unpersist between batches
    # (bench.py does), or pass persist=False to trade recompute for
    # memory (same contract as shingle_rows).
    if persist:
        from ncpi_whistler_spark.operators.tuning import materialize_shared

        cand = materialize_shared(cand)
    # verify shingles ONLY candidate docs (semi-join both sides first):
    # otherwise every ingest re-tokenizes the whole settled corpus and
    # the stored index buys nothing — verify cost must be ∝ candidates.
    batch_cand = new_docs.join(
        cand.select(F.col("id_a").alias(id_col)).distinct(), on=id_col, how="semi"
    )
    corpus_cand = corpus.join(
        cand.select(F.col("id_b").alias(id_col)).distinct(), on=id_col, how="semi"
    )
    both = batch_cand.select(
        F.col(id_col).alias(id_col), F.col(text_col).alias(text_col)
    ).unionByName(corpus_cand.select(F.col(id_col), F.col(text_col)))
    verified = jaccard_for_pairs(both, cand, text_col, id_col, shingle_n)
    dup_new_ids = (
        verified.where(F.col("jaccard_ppm") >= threshold_ppm)
        .select(F.col("id_a").alias(id_col))
        .distinct()
    )
    return new_docs.join(dup_new_ids, on=id_col, how="left_anti")


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 128,
    bands: int = 32,
    seed: int = 42,
    shingle_n: int = 3,
    shingles: DataFrame | None = None,
    hash_fn: str = "xxhash64",
    sig_mode: str = "arrow",
) -> DataFrame:
    """Candidate near-dup pairs via banded LSH over MinHash signatures.

    rows-per-band r = num_hashes/bands; a pair collides when any band's
    r-slice hashes equal. Output: (id_a, id_b, n_bands) — callers verify
    candidates with ngram_jaccard_pairs on the (tiny) candidate set.
    Plan shape: columnar signature aggregation (one shuffle on id),
    explode ``bands`` rows per doc, one shuffle on (band, band_hash),
    self-join inside buckets only — never an all-pairs product.
    """
    assert num_hashes % bands == 0
    # |docs|-row signature frame feeds both band-join sides: persist so
    # the signature aggregation runs once. Measured r13 and kept LAZY:
    # stacking an eager materialize_shared barrier here on top of the
    # shingle barrier LOST 15-30% on 5-rep interleaved cold A/B (q27
    # med 3.17→4.29, q80 5.49→6.30, q39 4.27→4.68) — the signature
    # build from the checkpointed shingle table is one cheap map pass
    # whose raced duplicate hides in idle cores, while the extra
    # barrier job serializes the pipeline. sig_mode='arrow' swaps in
    # the bit-identical vectorized signature build
    # (minhash_signatures_arrow) — the measured hot stage of the
    # fuzzy-dedup pipelines.
    sig_builder = (
        minhash_signatures_arrow if sig_mode == "arrow" else minhash_signatures
    )
    sig = sig_builder(
        df, text_col, id_col, num_hashes, seed, shingle_n, shingles, hash_fn
    ).persist()
    band_entries = _sig_band_entries(sig, num_hashes, bands, hash_fn)
    a = band_entries.select("band", "bh", F.col("id").alias("id_a"))
    b = band_entries.select("band", "bh", F.col("id").alias("id_b"))
    return (
        a.join(b, on=["band", "bh"])
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_bands"))
    )


def ngram_containment_pairs(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold_ppm: int = 800_000,
    max_df: int | None = None,
) -> DataFrame:
    """Train/eval decontamination: eval documents whose n-gram sets are
    ≥threshold CONTAINED in some training document — the asymmetric
    overlap measure decontamination needs (|train∩eval| / |eval|: a short
    eval doc quoted inside a long train doc scores ~1.0 where Jaccard
    would dilute it to ~0).

    Same inverted-index shape as ngram_jaccard_pairs: explode both
    corpora's shingles, join on shingle, count per pair — cost ∝ shared
    shingle co-occurrences, never |train|×|eval|. ``max_df`` (applied to
    the TRAIN index, where the volume is) drops boilerplate shingles.
    At 100 TB the train index is the big side: both explodes shuffle on
    the shingle key once; per-pair counts reuse that partitioning.

    Output: (eval_id, train_id, n_common, containment_ppm) with exact
    integer ppm (engine-reproducible across engines).
    """
    sht = shingle_rows(train, text_col, id_col, n).select(
        F.col("id").alias("train_id"), "shingle"
    )
    if max_df is not None:
        hot = (
            sht.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") > max_df)
            .select("shingle")
        )
        sht = sht.join(F.broadcast(hot), on="shingle", how="left_anti")
    she = shingle_rows(eval_df, text_col, id_col, n).select(
        F.col("id").alias("eval_id"), F.col("n_sh").alias("n_eval"), "shingle"
    )
    common = (
        she.join(sht, on="shingle")
        .groupBy("eval_id", "train_id", "n_eval")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    ppm = F.expr("(1000000 * n_common) div n_eval")
    return (
        common.select(
            "eval_id", "train_id", "n_common", ppm.alias("containment_ppm")
        )
        .where(F.col("containment_ppm") >= threshold_ppm)
    )


def jaccard_for_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard for a GIVEN candidate pair set — the verify
    stage of the two-phase dedup pipeline (candidates from LSH, exact
    similarity only where it matters). Cost ∝ |candidates| × shingles,
    never corpus².

    ``pairs``: (id_a, id_b). Output: (id_a, id_b, n_common, jaccard_ppm).
    """
    sh = shingles if shingles is not None else shingle_rows(df, text_col, id_col, n)
    sizes = sh.select("id", "n_sh").dropDuplicates(["id"])
    sa = sh.select(F.col("id").alias("id_a"), F.col("shingle").alias("sh_a"))
    sb = sh.select(F.col("id").alias("__idb"), F.col("shingle").alias("sh_b"))
    common = (
        pairs.select("id_a", "id_b")
        .join(sa, on="id_a")
        .join(
            sb,
            on=(F.col("id_b") == F.col("__idb")) & (F.col("sh_a") == F.col("sh_b")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    out = (
        common.join(sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a")), on="id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b")), on="id_b")
    )
    return out.select(
        "id_a",
        "id_b",
        "n_common",
        F.expr("(1000000 * n_common) div (n_a + n_b - n_common)").alias("jaccard_ppm"),
    )


def fuzzy_dedup_keep(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold_ppm: int = 800_000,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    transitive: bool = False,
    hash_fn: str = "xxhash64",
    sig_mode: str = "arrow",
) -> DataFrame:
    """The end-to-end fuzzy-dedup pipeline: MinHash+LSH candidates →
    exact Jaccard verify on candidates only → keeper rule.

    Keeper rules:

    - greedy (default): drop any doc with a ≥threshold pair to a lower
      id. Simple, one pass — but on similarity CHAINS a~b~c it can drop
      both b and c even when b was the only link to c.
    - ``transitive=True``: connected components over the verified pair
      graph (min-label propagation); exactly one doc — the minimum id —
      survives per similarity cluster, chains included.

    This is the canonical 100 TB dedup shape (Lee et al. dedup pipelines):
    every stage is inverted-index bounded; the corpus is never compared
    all-pairs. Returns the kept rows of ``df``.
    """
    # ONE shingle materialization for the whole pipeline (see
    # shingle_rows: unshared, the corpus is re-scanned ~7x because column
    # pruning defeats ReuseExchange across the consumers)
    sh = shingle_rows(df, text_col, id_col, shingle_n)
    cands = minhash_lsh_pairs(
        df, text_col, id_col, num_hashes=num_hashes, bands=bands,
        shingle_n=shingle_n, shingles=sh, hash_fn=hash_fn, sig_mode=sig_mode,
    )
    verified = jaccard_for_pairs(df, cands, text_col, id_col, shingle_n, shingles=sh)
    sim_pairs = verified.where(F.col("jaccard_ppm") >= threshold_ppm)
    if transitive:
        # CC over edge-incident nodes ONLY: an isolated doc is trivially
        # its own (kept) component and can never be a dupe, so label
        # propagation runs on the candidate-pair graph (similar-doc
        # scale), not the corpus — identical keep set, ~corpus/|edges|×
        # less per-iteration work.
        cc = connected_components(
            sim_pairs.select("id_a", "id_b"),
            src="id_a",
            dst="id_b",
            id_col=id_col,
        )
        dupes = cc.where(F.col(id_col) != F.col("component")).select(id_col)
    else:
        dupes = sim_pairs.select(F.col("id_b").alias(id_col)).dropDuplicates()
    # the dup-id set is tiny relative to the corpus — broadcast the anti
    # join so the kept-side never shuffles
    return df.join(F.broadcast(dupes), on=id_col, how="left_anti")


# --------------------------------------------------------------------------
# SimHash (near-dup via Hamming distance on a 64-bit sketch)
# --------------------------------------------------------------------------


def simhash64(text: Column | str, bits: int = 64) -> Column:
    """64-bit SimHash over word tokens: per bit, sum +1/-1 of each token
    hash's bit, take the sign. One aggregate fold per bit over the
    token-hash array (single pass; bit index is a plan-time literal so the
    shifts compile into codegen)."""
    th = F.transform(tokens(text), lambda t: F.xxhash64(t))

    def _vote_merge(bit: int):
        # closure factory: HOF lambdas must be exactly 2-ary (pyspark
        # derives lambda variables from the signature)
        return lambda acc, h: acc + F.when(
            F.shiftright(h, bit).bitwiseAND(F.lit(1)) == 1, F.lit(1)
        ).otherwise(F.lit(-1))

    out = F.lit(0).cast("long")
    for b in range(bits):
        vote = F.aggregate(th, F.lit(0).cast("long"), _vote_merge(b))
        # bit 63 as signed-long min keeps the sum in range (sets the sign bit)
        weight = F.lit((1 << b) if b < 63 else -(1 << 63)).cast("long")
        out = out + F.when(vote > 0, weight).otherwise(F.lit(0).cast("long"))
    return out


def simhash_sketches(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, sh) via the columnar plan: explode tokens, project ±1 vote
    columns (codegen bit arithmetic), sum per doc in one shuffle, fold
    the vote signs into the sketch. Same result as simhash64 for
    non-empty docs, ~10× faster (no interpreted HOF lambdas).

    ``hash_fn='md5'`` → 60-bit sketches from the oracle-reproducible h60
    hash (bits 0..59; same near-dup quality, every bit SQL-checkable);
    default xxhash64 → full 64 bits."""
    bits = 60 if hash_fn == "md5" else 64
    # NOTE (r12): input spreading (spread_small_input) was measured here
    # and REVERTED — the keyless repartition ships the raw text bodies
    # through an extra exchange (plus the sort-before-repartition pass),
    # which costs more than the map-side parallelism buys even though
    # the vote projection runs as ONE task on a single-file corpus
    # (isolated A/B at sf0.1: 1.63 s base vs 2.39-2.67 s spread at
    # 5/16 partitions; agrees with the round's fact-table sweep).
    ex = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("t")
    )
    h = _base_hash("t", hash_fn)
    proj = ex.select(
        "id",
        *[
            (F.shiftright(h, b).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"v{b}")
            for b in range(bits)
        ],
    )
    agg = proj.groupBy("id").agg(
        *[F.sum(f"v{b}").alias(f"v{b}") for b in range(bits)]
    )
    sh = F.lit(0).cast("long")
    for b in range(bits):
        weight = F.lit((1 << b) if b < 63 else -(1 << 63)).cast("long")
        sh = sh + F.when(F.col(f"v{b}") > 0, weight).otherwise(F.lit(0).cast("long"))
    return agg.select("id", sh.alias("sh"))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    blocks: int = 4,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming, using the
    pigeonhole block trick: split the sketch into ``blocks`` chunks; any
    pair within distance < blocks shares at least one exact chunk → join
    on (block_idx, chunk) then verify the full distance. One shuffle on
    the chunk key; no all-pairs."""
    width = (60 if hash_fn == "md5" else 64) // blocks
    # the sketch frame is |docs| rows (tiny next to the corpus) and feeds
    # BOTH self-join sides — eager barrier so the token explode +
    # 64-column aggregation runs once, not once per concurrent side
    # (materialize_shared: lazy persist raced under AQE, r13)
    from ncpi_whistler_spark.operators.tuning import materialize_shared

    s = materialize_shared(simhash_sketches(df, text_col, id_col, hash_fn))
    chunk_structs = [
        F.struct(
            F.lit(i).alias("blk"),
            F.shiftright(F.col("sh"), i * width)
            .bitwiseAND(F.lit((1 << width) - 1))
            .alias("chunk"),
        )
        for i in range(blocks)
    ]
    chunks = s.select(
        "id", "sh", F.explode(F.array(*chunk_structs)).alias("e")
    ).select("id", "sh", F.col("e.blk").alias("blk"), F.col("e.chunk").alias("chunk"))
    a = chunks.select("blk", "chunk", F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = chunks.select("blk", "chunk", F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    cand = (
        a.join(b, on=["blk", "chunk"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.select(
        "id_a", "id_b", hamming.alias("hamming")
    ).where(F.col("hamming") <= max_hamming)


# --------------------------------------------------------------------------
# Embedding near-dup (cosine over array<float> columns)
# --------------------------------------------------------------------------


def dot_product(x: Column, y: Column) -> Column:
    """Deterministic dot product: sequential left-fold in double —
    bit-identical across engines that fold left-to-right (verified
    against DuckDB list_dot_product)."""
    return F.aggregate(
        F.zip_with(x, y, lambda p, q: p.cast("double") * q.cast("double")),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def dot_product_arrow(x: Column, y: Column) -> Column:
    """Arrow-batched twin of :func:`dot_product` — BIT-IDENTICAL values
    (test-asserted): the dot is accumulated sequentially across
    dimensions (``acc += a[:, d] * b[:, d]``), element-for-element the
    fold's left-to-right order in double, vectorized across rows. Use on
    pair-scoring hot paths (10⁵+ candidate pairs) where the interpreted
    HOF fold dominates; the fold form stays the oracle-replay shape."""

    @F.pandas_udf("double")
    def pair_dot(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series([], dtype="float64")
        ma = np.stack(a.to_numpy()).astype(np.float64)
        mb = np.stack(b.to_numpy()).astype(np.float64)
        acc = np.zeros(len(ma), dtype=np.float64)
        for d in range(ma.shape[1]):
            acc += ma[:, d] * mb[:, d]
        return pd.Series(acc)

    return pair_dot(x, y)


def cosine(a: Column, b: Column) -> Column:
    """Deterministic cosine similarity. For pairwise workloads prefer
    precomputing per-row norms once (see embedding_dup_pairs) — the
    value is bit-identical, the work is 3× less."""
    return dot_product(a, b) / (
        F.sqrt(dot_product(a, a)) * F.sqrt(dot_product(b, b))
    )


def embedding_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    bucket_bits: int = 0,
    seed: int = 42,
    dim: int | None = None,
    bucket_mode: str = "arrow",
    tables: int = 24,
    allow_quadratic: bool = False,
    quadratic_cap: int | None = None,
) -> DataFrame:
    """Embedding pairs with cosine >= threshold.

    bucket_bits=0: exact all-pairs (quadratic — small corpora / verify
    path; row-count-GUARDED via similarity.guard_quadratic — above
    ``quadratic_cap`` (default 1e5) it fails loud unless
    ``allow_quadratic=True``, so corpus-scale data can never hit the
    n² tier silently). bucket_bits>0: random-hyperplane LSH prefilter — pairs must
    share the sign-bit bucket, trading recall for a 2^bits fan-in cut
    (the scale path; see similarity.hyperplane_bucket). Pass ``dim`` to
    skip the vector-length probe job; ``bucket_mode='fold'`` selects the
    expression-form bucket for oracle replay (bit-identical either way).

    ``tables`` — OR-amplification: L independent hyperplane families
    (seed-varied); a pair is a candidate when it collides in ANY table.
    A same-bucket collision has probability p^bits with
    p = 1 - θ/π, so single-table recall collapses at wide angles
    (measured: 0.17 at cosine 0.4, bits=4 — exactly theory); L tables
    lift recall to 1-(1-p^bits)^L at L× index cost, still linear in the
    corpus. The DEFAULT tables=24 is the measured recall-≥0.9
    production config (RECALL.json: bits=4 L=16 → 0.944 on the
    synthetic corpus; the fixture's wider-angle 0.4-pairs need L=24 →
    0.970, pinned ≥0.9 by a regression test; tables is ignored when
    bucket_bits=0 — the exact tier needs no amplification). The
    oracle-replayable registry form (q40) pins tables=1 EXPLICITLY for
    DuckDB bucket parity — oracle-only.
    """
    from ncpi_whistler_spark.operators.similarity import _usable_norm, _vecs
    from ncpi_whistler_spark.operators.tuning import spread_small_input

    # per-row bucket/norm work and the per-pair dot fold inherit the
    # input partitioning; a single-file input must not serialize them
    # onto one core (no-op at production widths)
    df = spread_small_input(df)
    # norms once per vector (not per pair): same bits, 3× less fold work.
    # _vecs + _usable_norm: NULL / all-zeros / NaN vectors score no pair
    # (the rows the oracle's list_dot_product(NULL, v) >= t comparison
    # drops; zero norm would raise DIVIDE_BY_ZERO under ANSI mode). The
    # norm gate is one comparison on the column computed here anyway.
    v = _vecs(df, vec_col).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.sqrt(dot_product(F.col(vec_col), F.col(vec_col))).alias("nrm"),
    ).where(_usable_norm(F.col("nrm")))
    if bucket_bits > 0:
        from ncpi_whistler_spark.operators.similarity import (
            hyperplane_bucket,
            hyperplane_bucket_arrow,
        )

        if dim is None:
            probe = v.select("v").first()  # v is already _vecs-filtered
            if probe is None:  # no vector with geometry: no pairs, schema unchanged
                return df.select(
                    F.col(id_col).alias("id_a"),
                    F.col(id_col).alias("id_b"),
                    F.lit(None).cast("double").alias("cos_sim"),
                ).limit(0)
            dim = len(probe[0])
        bucket_fn = (
            hyperplane_bucket if bucket_mode == "fold" else hyperplane_bucket_arrow
        )
        if tables > 1:
            # one (table, bucket) entry per family; the join key includes
            # the table id so families never cross-collide
            entries = F.array(
                *[
                    F.struct(
                        F.lit(t).alias("tbl"),
                        bucket_fn(
                            F.col("v"), dim, bucket_bits, seed + 7919 * t
                        ).alias("bkt"),
                    )
                    for t in range(tables)
                ]
            )
            v = v.select("*", F.explode(entries).alias("e")).select(
                "id", "v", "nrm", F.col("e.tbl").alias("tbl"), F.col("e.bkt").alias("bkt")
            )
            key = ["tbl", "bkt"]
        else:
            v = v.withColumn("bkt", bucket_fn(F.col("v"), dim, bucket_bits, seed))
            key = ["bkt"]
        a = v.select(*key, F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na"))
        b = v.select(*key, F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"))
        pairs = a.join(b, on=key).where(F.col("id_a") < F.col("id_b"))
        if tables > 1:
            # a pair colliding in several tables must score once
            pairs = pairs.dropDuplicates(["id_a", "id_b"])
    else:
        from ncpi_whistler_spark.operators.similarity import (
            QUADRATIC_CAP_DEFAULT,
            guard_quadratic,
        )

        guard_quadratic(
            v,
            allow_quadratic,
            QUADRATIC_CAP_DEFAULT if quadratic_cap is None else quadratic_cap,
            "embedding_dup_pairs(bucket_bits=0)",
        )
        a = v.select(F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na"))
        b = v.select(F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"))
        pairs = a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
    sim = pairs.select(
        "id_a",
        "id_b",
        (dot_product(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias("sim"),
    )
    # threshold on the UNROUNDED similarity (the oracle's WHERE), round
    # after. nanvl: Spark compares NaN ABOVE every double, so one
    # corrupt vector would otherwise pair with its whole bucket — and
    # transitive dedup would then delete the bucket; the blocked-numpy
    # twin drops NaN by IEEE semantics and the paths must agree. The
    # NaN guard is folded INTO the one threshold comparison (NaN →
    # -inf → fails) because a second `~isnan(sim)` predicate would be
    # substitution-inlined by pushdown and re-evaluate the
    # expression-fold dot per candidate pair (the round-8 q40 bench
    # regression); non-NaN values pass through nanvl bit-unchanged, so
    # the oracle comparison is unaffected.
    return sim.where(
        F.nanvl(F.col("sim"), F.lit(float("-inf"))) >= threshold
    ).select("id_a", "id_b", F.round("sim", 6).alias("cos_sim"))


# --------------------------------------------------------------------------
# Connected components (near-dup pairs -> dedup clusters)
# --------------------------------------------------------------------------


def _lineage_cutter(df: DataFrame, checkpoint_dir: str | None):
    """Per-round lineage cut for iterative algorithms. ``checkpoint_dir``
    None → localCheckpoint (executor-local blocks: fastest, but a lost
    executor forfeits them and the lineage is GONE — single-node / bench
    use). Set it to reliable storage (HDFS/S3 path) on a real cluster:
    rounds then checkpoint through the FileSystem so losing an executor
    costs one round's re-read, not the whole iteration chain. Both modes
    produce identical labels (test-asserted).

    The local branch cuts lineage LAZILY: every call site follows the
    cut with a full-scan aggregate (the convergence check), so the
    blocks materialize inside that job instead of paying a dedicated
    eager job per round — one scheduler round trip per iteration
    instead of two. The reliable branch stays eager: a deferred
    checkpoint would leave rounds unprotected until the next action."""
    if checkpoint_dir is None:
        return df.localCheckpoint(eager=False)
    sc = df.sparkSession.sparkContext
    if sc._jsc.sc().getCheckpointDir().isEmpty():
        sc.setCheckpointDir(checkpoint_dir)
    return df.checkpoint(eager=True)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    vertices: DataFrame | None = None,
    id_col: str = "node",
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components over an undirected edge list — the missing
    step between near-dup PAIRS and dedup GROUPS: transitive closure
    assigns every document the minimum doc-id reachable through the
    similarity graph, so exactly one keeper survives per cluster
    (pairwise keeper rules double-drop on chains a~b~c).

    Algorithm: iterative min-label propagation on DataFrames. labels
    start as the node id; each round every node takes the min label over
    itself and its neighbors (one shuffle join + one hash aggregation),
    until the global label sum stops decreasing — labels only ever
    decrease, so an unchanged sum IS the fixpoint, and the convergence
    test is a cheap scalar aggregate instead of a change-count join.
    Rounds needed = graph diameter. Near-dup graphs are unions of dense
    near-cliques (banded LSH emits most intra-cluster pairs directly),
    so 2-4 rounds close them in practice; for adversarially long chains
    switch to the large-star/small-star rewrite (Kiveris et al., "CC in
    MapReduce and Beyond") which converges in O(log n) rounds on the
    same join+agg primitive.

    Every round ends in an eager lineage cut: iterative self-joins
    otherwise stack an exponentially growing lineage that Catalyst
    re-analyzes per round (the classic iterative-DataFrame trap).
    Default is localCheckpoint (single-node); pass ``checkpoint_dir``
    (reliable storage) on a real cluster so a lost executor doesn't
    recompute the whole chain — see _lineage_cutter.

    ``vertices`` (single-column DataFrame) adds isolated nodes, which
    come back as their own singleton component. The reference engine has
    nothing transitive — its dedup is exact-key only
    (wstlr/conceptmap.py:391); this is the corpus-curation extension.

    Returns (``id_col``, component) with component = min reachable id.
    """
    e = edges.select(
        F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
    )
    # symmetrize in ONE pass over the edge pipeline: the union-of-two-
    # subtrees form evaluated the (often expensive — q79 feeds a full
    # shingle self-join here) upstream plan twice when the persisted
    # frame first materialized; exploding each edge into both directions
    # keeps it a single map-side pass with identical rows (r12, guide
    # §2.4 — don't compute things twice when one pass suffices)
    sym = e.select(
        F.explode(
            F.array(
                F.struct(F.col("u"), F.col("v")),
                F.struct(F.col("v").alias("u"), F.col("u").alias("v")),
            )
        ).alias("p")
    ).select("p.u", "p.v")
    nodes = sym.select(F.col("u").alias(id_col))
    if vertices is not None:
        nodes = nodes.union(
            vertices.select(F.col(vertices.columns[0]).cast("long").alias(id_col))
        )
    sym = sym.persist()
    labels = _lineage_cutter(
        nodes.distinct().select(F.col(id_col), F.col(id_col).alias("component")),
        checkpoint_dir,
    )
    prev = labels.agg(F.sum("component")).first()[0]
    for _ in range(max_iter):
        if prev is None:  # empty graph
            break
        prop = (
            sym.join(labels.withColumnRenamed(id_col, "v"), on="v")
            .select(F.col("u").alias(id_col), "component")
        )
        labels_new = _lineage_cutter(
            labels.union(prop)
            .groupBy(id_col)
            .agg(F.min("component").alias("component")),
            checkpoint_dir,
        )
        cur = labels_new.agg(F.sum("component")).first()[0]
        converged = cur == prev
        labels = labels_new
        prev = cur
        if converged:
            break
    sym.unpersist()
    return labels


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    min_len: int = 0,
) -> DataFrame:
    """C4-style line-level corpus dedup: any line occurring in more than
    one place in the corpus keeps only its FIRST occurrence (ordered by
    (doc id, position)); documents are reconstructed from their surviving
    lines in order. Lines shorter than ``min_len`` are never treated as
    duplicates (short boilerplate like empty lines survives everywhere).

    Plan: posexplode lines → one shuffle on the line key (64-bit xxhash —
    at 100 TB the shuffle carries (hash, id, pos), never the line bodies
    twice) → min-(id,pos) window pick → reconstruct via collect_list over
    the id partition. Two shuffles total, both key-bounded.

    Output: (id_col, text) with the cleaned text (documents whose every
    line was deduplicated away come back as '').
    """
    from pyspark.sql.window import Window

    # NOTE (r12): input spreading (spread_small_input) was measured here
    # and REVERTED — the split+posexplode stage is cheap relative to the
    # two key-bounded shuffles, and the final reconstruct left-join
    # consumes df again, so the extra exchange cost both sides
    # (isolated A/B: 0.94 s base vs 1.04-1.33 s spread).
    lines = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "line"),
    )
    w = Window.partitionBy("line")
    first_key = F.min(F.struct(F.col("id"), F.col("pos"))).over(w)
    kept = lines.withColumn(
        "__keep",
        (F.length("line") < min_len)
        | ((first_key["id"] == F.col("id")) & (first_key["pos"] == F.col("pos"))),
    ).where(F.col("__keep"))
    rebuilt = (
        kept.groupBy("id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("pos"), F.col("line")))
                    ),
                    lambda s: s["line"],
                ),
                sep,
            ).alias(text_col)
        )
        .withColumnRenamed("id", id_col)
    )
    # documents that lost every line still come back (empty text)
    return (
        df.select(id_col)
        .join(rebuilt, on=id_col, how="left")
        .select(id_col, F.coalesce(F.col(text_col), F.lit("")).alias(text_col))
    )


def paragraph_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 0,
) -> DataFrame:
    """RefinedWeb-style paragraph-level corpus dedup: the C4 line keeper
    generalized to paragraph units. Runs of 2+ newlines are first
    normalized to one blank-line break (so ragged source formatting maps
    to one canonical paragraph boundary), then any paragraph occurring in
    more than one place keeps only its first (doc id, position)
    occurrence and documents are rebuilt from surviving paragraphs —
    exactly :func:`line_dedup` with the paragraph separator, sharing its
    two-shuffle key-bounded plan.
    """
    norm = df.withColumn(
        text_col, F.regexp_replace(F.col(text_col), r"\n{2,}", "\n\n")
    )
    return line_dedup(
        norm, text_col=text_col, id_col=id_col, sep="\n\n", min_len=min_len
    )


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    vertices: DataFrame | None = None,
    id_col: str = "node",
    max_iter: int = 30,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components via alternating large-star / small-star edge
    rewrites (Kiveris et al., "Connected Components in MapReduce and
    Beyond") — O(log n) rounds on ANY topology, vs rounds ∝ diameter for
    min-label propagation (connected_components). Use this variant when
    the similarity graph can contain long chains; both return the same
    (id_col, component = min reachable id) contract (equality is
    property-tested on random graphs).

    Each rewrite is one groupBy over the edge list:

    - large-star: per node u, attach every LARGER neighbor to
      m = min(Γ(u) ∪ {u});
    - small-star: per node u (edges held as max→min), attach every
      not-larger neighbor and u itself to m = min(Γ(u) ∪ {u}).

    Edges only ever move toward smaller ids, and the edge multiset is
    monotonically non-increasing in (sum of endpoints), so convergence is
    detected with the same cheap scalar-aggregate trick as min-label CC.
    Per round: two shuffles (groupBy u, dedup), localCheckpoint lineage
    cut. At 100 TB each round's shuffle carries |E| rows — the O(log n)
    round count is what makes adversarial diameters tractable.
    """
    e = (
        edges.select(
            F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .dropDuplicates()
        .persist()
    )
    all_nodes = e.select(F.col("a").alias(id_col)).union(
        e.select(F.col("b").alias(id_col))
    )
    if vertices is not None:
        all_nodes = all_nodes.union(
            vertices.select(F.col(vertices.columns[0]).cast("long").alias(id_col))
        )
    all_nodes = all_nodes.distinct().persist()

    def _large_star(cur: DataFrame) -> DataFrame:
        sym = cur.union(cur.select(F.col("b").alias("a"), F.col("a").alias("b")))
        adj = sym.groupBy("a").agg(
            F.collect_set("b").alias("nbrs"),
        )
        m = F.least(F.array_min("nbrs"), F.col("a"))
        out = adj.select(
            F.col("a"), m.alias("m"), F.explode("nbrs").alias("v")
        ).where(F.col("v") > F.col("a"))
        return out.select(F.col("v").alias("a"), F.col("m").alias("b"))

    def _small_star(cur: DataFrame) -> DataFrame:
        directed = cur.select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        )
        adj = directed.groupBy("a").agg(F.collect_set("b").alias("nbrs"))
        m = F.least(F.array_min("nbrs"), F.col("a"))
        out = adj.select(
            F.col("a"),
            m.alias("m"),
            F.explode(
                F.array_union(F.col("nbrs"), F.array(F.col("a")))
            ).alias("v"),
        ).where(F.col("v") != F.col("m"))
        return out.select(F.col("v").alias("a"), F.col("m").alias("b"))

    cur = e
    prev_sig = None
    converged = False
    for _ in range(max_iter):
        nxt = _lineage_cutter(
            _small_star(_large_star(cur))
            .where(F.col("a") != F.col("b"))
            .dropDuplicates(),
            checkpoint_dir,
        )
        sig = nxt.agg(
            F.count(F.lit(1)).alias("n"), F.sum(F.col("a") + F.col("b")).alias("s")
        ).first()
        sig = (sig["n"], sig["s"])
        if sig == prev_sig:
            cur = nxt
            converged = True
            break
        cur = nxt
        prev_sig = sig
    if not converged:
        # Without fixpoint the edge set is not yet a union of stars and the
        # star-center labeling below would silently mislabel components.
        e.unpersist()
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} "
            "iterations; raise max_iter (rounds needed is O(log n))"
        )
    # converged edge set is a union of stars max→min: component(child) =
    # its (unique) star center; centers and isolated nodes label themselves
    child = cur.select(
        F.greatest("a", "b").alias(id_col), F.least("a", "b").alias("component")
    ).groupBy(id_col).agg(F.min("component").alias("component"))
    labels = (
        all_nodes.join(child, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce(F.col("component"), F.col(id_col)).alias("component"),
        )
    )
    e.unpersist()
    return labels


# --------------------------------------------------------------------------
# Cross-document exact-substring coverage (Lee et al. 2021 analytics form)
# --------------------------------------------------------------------------


def exact_substring_coverage(
    df: DataFrame,
    window: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
    keep_max_ppm: int = 300_000,
) -> DataFrame:
    """Per-document coverage by exact token spans shared with ANOTHER
    document — the analytics form of exact-substring deduplication
    ("Deduplicating Training Data Makes Language Models Better", Lee et
    al. 2021, which removes any ≥50-token span occurring twice in the
    corpus; here the span grain is ``window`` tokens and the output is a
    coverage audit + keep flag rather than a rewrite).

    Every ``window``-token sliding window is hashed; a window is
    *duplicated* when its hash occurs in ≥2 DISTINCT documents. Token
    positions inside any duplicated window are unioned per document (the
    q94/gopher positional-coverage rule — overlapping spans never
    double-count) and converted to character ppm.

    Scale shape — deliberately LINEAR, never pairwise: the only
    corpus-wide aggregate is groupBy(window-hash) → distinct-doc count,
    and only the duplicated windows (a small fraction) explode into
    positions. There is no pair join at all, so a boilerplate span shared
    by f documents costs f rows, not f² — this operator needs no max_df
    guard for that reason.

    Window keys are a Karp-Rabin polynomial over PER-TOKEN hashes (each
    token hashed once, reduced mod the chain modulus, then
    Horner-combined across the ``window`` offsets — the q35 winnowing
    trick lifted from characters to tokens). That is n token digests
    instead of n·k window-string digests with zero string copying, and
    it is built MAP-SIDE from the token array — no lead()-window
    stitch, so nothing shuffles or sorts the token stream just to
    assemble windows.

    Key width: the oracle mode (``hash_fn='md5'``, h60 base hashes —
    replays bit-for-bit in DuckDB) uses the single 41-bit chain
    (KR_BASE/KR_MOD), a fixture-scale candidate-hash tradeoff. The
    PRODUCTION mode (``hash_fn='xxhash64'``) pairs it with a second,
    fully independent chain — a second xxhash64 pass (seed-tweaked via
    a leading literal column, so base hashes are independent, not a
    re-reduction of the same 64 bits) reduced mod KR_MOD2 = 2⁵⁴−33
    (prime) and Horner-combined with KR_BASE2 = 269 — and the window
    key is the (wh1, wh2) struct: ~95 bits, so at 10¹¹ windows the
    expected false dup marks drop from ~10⁹ (41-bit) to ~10⁻⁷. Every
    Horner step of both chains stays < 2⁶³ (exact BIGINT).

    Returns: (doc_id, total_chars, dup_chars, dup_ppm, keep).
    """
    from ncpi_whistler_spark.operators.text import (
        KR_BASE,
        KR_BASE2,
        KR_MOD,
        KR_MOD2,
        tokens,
    )

    from ncpi_whistler_spark.operators.tuning import spread_small_input

    # the tokenize + per-token hash + Horner-chain map stage is the
    # operator's hot loop and inherits the input partitioning — spread a
    # single-file corpus across cores (no-op at production widths;
    # measured q91 2.0 → 1.0 s at sf0.1)
    df = spread_small_input(df)
    paired = hash_fn != "md5"
    toks = tokens(text_col)
    th_cols = [
        F.transform(toks, lambda t: F.pmod(_base_hash(t, hash_fn), F.lit(KR_MOD))).alias(
            "th"
        )
    ]
    if paired:
        th_cols.append(
            F.transform(
                toks,
                lambda t: F.pmod(F.xxhash64(F.lit(1), t), F.lit(KR_MOD2)),
            ).alias("th2")
        )
    tdf = df.select(F.col(id_col).alias("id"), toks.alias("toks"), *th_cols)
    # two consumers only (totals + the dup_chars length join) — below the
    # repo's measured persist threshold (3+), and caching a corpus-scale
    # token explode would pin executor storage for the frame's lifetime
    tok = tdf.select("id", F.posexplode("toks").alias("pos", "tok"))
    totals = tok.groupBy("id").agg(F.sum(F.length("tok")).alias("total_chars"))

    n = F.size("toks")

    def _chain(s, arr, base, mod):
        # Horner over the window's token hashes; every step stays < 2⁶³
        # (chain 1: 2⁴¹·263 < 2⁵⁰; chain 2: 2⁵⁴·270 < 2⁶³), inside exact
        # BIGINT range in Spark and DuckDB alike
        h = F.lit(0)
        for j in range(window):
            h = F.pmod(h * F.lit(base) + F.element_at(arr, s + j), F.lit(mod))
        return h

    def _window_hash(s):
        h1 = _chain(s, "th", KR_BASE, KR_MOD)
        if not paired:
            return F.struct(h1.alias("h1"))
        return F.struct(h1.alias("h1"), _chain(s, "th2", KR_BASE2, KR_MOD2).alias("h2"))

    wins = tdf.where(n >= window).select(
        "id",
        F.posexplode(
            F.transform(F.sequence(F.lit(1), n - (window - 1)), _window_hash)
        ).alias("pos", "wh"),
    )
    dup_hashes = (
        wins.groupBy("wh")
        .agg(F.count_distinct("id").alias("dc"))
        .where(F.col("dc") >= 2)
        .select("wh")
    )
    covered = (
        wins.join(dup_hashes, on="wh", how="semi")
        .select("id", F.explode(F.sequence(F.col("pos"), F.col("pos") + (window - 1))).alias("cpos"))
        .distinct()
    )
    dup_chars = (
        covered.join(
            tok.select("id", F.col("pos").alias("cpos"), F.length("tok").alias("L")),
            on=["id", "cpos"],
        )
        .groupBy("id")
        .agg(F.sum("L").alias("dup_chars"))
    )
    out = (
        df.select(F.col(id_col).alias("id"))
        .join(totals, on="id", how="left")
        .join(dup_chars, on="id", how="left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("total_chars", F.lit(0)).cast("long").alias("total_chars"),
            F.coalesce("dup_chars", F.lit(0)).cast("long").alias("dup_chars"),
        )
        .withColumn(
            "dup_ppm",
            F.when(
                F.col("total_chars") > 0,
                F.expr("(1000000 * dup_chars) div total_chars"),
            )
            .otherwise(F.lit(0))
            .cast("long"),
        )
        .withColumn("keep", F.col("dup_ppm") <= keep_max_ppm)
    )
    return out
