"""Text-analysis operators for training-data pipelines.

All hot-path expressions are native Column functions (regexp/array HOFs in
whole-stage codegen) — no Python UDFs, so they run at full JVM speed over
100 TB document tables. Heuristics are deliberately deterministic (exact
regexp counts, fixed stopword lists) so results are oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# --------------------------------------------------------------------------
# Tokenization / counting
# --------------------------------------------------------------------------

TOKEN_RE = r"\S+"
#: BPE-ish subword split: runs of letters, runs of digits, or single
#: non-alphanumeric-non-space characters (GPT-2-style pre-tokenizer shape).
BPE_ISH_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def token_count(text: Column | str, pattern: str = TOKEN_RE) -> Column:
    """Whitespace token count via regexp_count — O(n), no array
    materialization."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(c, F.lit(pattern))


def tokens(text: Column | str) -> Column:
    """Token array (lowercased). Used by shingling/minhash."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.lower(c), r"\s+"), lambda t: t != "")


def avg_token_len(text: Column | str) -> Column:
    """Mean token length in exact rational form (total token chars /
    token count) — deterministic double."""
    c = F.col(text) if isinstance(text, str) else text
    total_chars = F.length(F.regexp_replace(c, r"\s+", ""))
    n = token_count(c)
    return F.when(n > 0, total_chars.cast("double") / n).otherwise(F.lit(0.0))


# --------------------------------------------------------------------------
# Language identification (stopword-hit heuristic)
# --------------------------------------------------------------------------

#: tiny per-language function-word lists; deterministic and fast. Real
#: deployments swap in fastText via mapInPandas (multimodal.py pattern).
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for"],
    "es": ["el", "la", "de", "que", "y", "los", "las", "una"],
    "fr": ["le", "la", "les", "des", "et", "est", "une", "dans"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit"],
    "zh": ["的", "是", "了", "在", "我", "有", "和", "不"],
}


def _marker_regex(words: list[str]) -> str:
    return r"\b(" + "|".join(words) + r")\b"


def lang_scores(text: Column | str) -> dict[str, Column]:
    """Per-language stopword-hit counts."""
    c = F.lower(F.col(text) if isinstance(text, str) else text)
    return {
        lang: F.regexp_count(c, F.lit(_marker_regex(words)))
        for lang, words in LANG_MARKERS.items()
    }


def lang_guess(text: Column | str) -> Column:
    """Argmax language with deterministic tie-break (lexicographic lang
    code); 'und' when no marker hits at all."""
    scores = lang_scores(text)
    # array of (score, lang) structs; array_max picks by score then lang,
    # with lang DESCENDING as tie-break via reverse trick — instead sort
    # explicitly: max on (score, reversed-lang) would be opaque; use
    # greatest-first reduce for clarity.
    best = None
    for lang in sorted(scores, reverse=True):  # later (smaller) langs win ties
        s = scores[lang]
        if best is None:
            best = F.struct(s.alias("score"), F.lit(lang).alias("lang"))
        else:
            best = F.when(
                (s > best["score"]) | ((s == best["score"]) & (F.lit(lang) < best["lang"])),
                F.struct(s.alias("score"), F.lit(lang).alias("lang")),
            ).otherwise(best)
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


# --------------------------------------------------------------------------
# Quality scoring
# --------------------------------------------------------------------------


def punct_ratio(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    n = F.length(c)
    return F.when(n > 0, F.regexp_count(c, F.lit(r"[^A-Za-z0-9\s]")).cast("double") / n).otherwise(0.0)


def stopword_ratio(text: Column | str, lang: str = "en") -> Column:
    c = F.col(text) if isinstance(text, str) else text
    n = token_count(c)
    hits = F.regexp_count(F.lower(c), F.lit(_marker_regex(LANG_MARKERS[lang])))
    return F.when(n > 0, hits.cast("double") / n).otherwise(0.0)


def quality_bucket(
    text: Column | str,
    min_tokens: int = 16,
    max_punct_ratio: float = 0.3,
    min_stopword_ratio: float = 0.01,
) -> Column:
    """Gopher-style heuristic quality gate collapsed to a bucket label:
    'short' | 'punct' | 'no_stopwords' | 'ok' (first failing rule names
    the bucket — deterministic cascade)."""
    c = F.col(text) if isinstance(text, str) else text
    return (
        F.when(token_count(c) < min_tokens, F.lit("short"))
        .when(punct_ratio(c) > max_punct_ratio, F.lit("punct"))
        .when(stopword_ratio(c) < min_stopword_ratio, F.lit("no_stopwords"))
        .otherwise(F.lit("ok"))
    )


# --------------------------------------------------------------------------
# Fingerprinting
# --------------------------------------------------------------------------


def normalized_text(text: Column | str) -> Column:
    """Canonical form for near-exact dedup: lowercase, strip punctuation,
    collapse whitespace."""
    c = F.col(text) if isinstance(text, str) else text
    c = F.lower(c)
    c = F.regexp_replace(c, r"[^a-z0-9\s]", "")
    c = F.trim(F.regexp_replace(c, r"\s+", " "))
    return c


def fingerprint(text: Column | str) -> Column:
    """md5 of the normalized text — the exact-dup key. Stable across
    engines (md5 of utf-8 bytes)."""
    return F.md5(normalized_text(text))


def winnowing_fingerprint_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
    keep_every: int = 4,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, fp) rows of sparse k-gram fingerprints — the columnar plan:
    normalize once per row, explode window positions, hash each substring
    with plain codegen expressions. Use this for corpus-scale jobs; the
    Column variant below re-evaluates the normalization inside the HOF
    lambda per element (fine for single values, quadratic for documents).
    ``hash_fn='md5'`` → oracle-reproducible h60 k-gram hashes;
    ``hash_fn='kr'`` → the Karp-Rabin polynomial of the winnowing paper
    (base 263 mod 2⁴¹−1 = KR_MOD; not prime — chosen for BIGINT Horner
    headroom) — also oracle-reproducible (pure integer SQL) and ~an
    order of magnitude cheaper than md5; ``hash_fn='kr2'`` → the
    PRODUCTION KR mode: two independent Horner chains (KR_BASE/KR_MOD
    and KR_BASE2/KR_MOD2) packed into one ~63-bit key
    (wh1·2²² + wh2 mod 2²²), shrinking the per-window collision rate
    from 2⁻⁴¹ to ~2⁻⁶³ — at 10¹¹ windows that is ~5·10² expected false
    shared-fingerprint marks corpus-wide (m²/2 / 2⁶³) instead of ~10⁹;
    negligible against the n_shared/keep thresholds. Where even that
    matters, exact_substring_coverage's paired-struct form carries the
    full 95 bits (~10⁻⁷ expected marks). Use 'kr2' at corpus scale;
    'kr'/'md5' stay byte-identical for oracle replay.
    """
    from pyspark.sql import functions as FF

    from ncpi_whistler_spark.operators.dedup import _base_hash

    norm = df.select(
        FF.col(id_col).alias("id"), normalized_text(text_col).alias("nt")
    ).withColumn("n", FF.length("nt"))
    pos = norm.where(FF.col("n") >= window).select(
        "id",
        "nt",
        FF.explode(FF.sequence(FF.lit(1), FF.col("n") - window + 1)).alias("i"),
    )
    if hash_fn in ("kr", "kr2"):
        h = FF.lit(0).cast("long")
        for j in range(window):
            h = (h * KR_BASE + FF.ascii(FF.col("nt").substr(FF.col("i") + j, FF.lit(1)))) % KR_MOD
        if hash_fn == "kr2":
            h2 = FF.lit(0).cast("long")
            for j in range(window):
                h2 = (
                    h2 * KR_BASE2
                    + FF.ascii(FF.col("nt").substr(FF.col("i") + j, FF.lit(1)))
                ) % KR_MOD2
            h = h * FF.lit(1 << KR2_PACK) + FF.pmod(h2, FF.lit(1 << KR2_PACK))
    else:
        h = _base_hash(FF.col("nt").substr(FF.col("i"), FF.lit(window)), hash_fn)
    return (
        pos.select("id", h.alias("fp"))
        .where(FF.col("fp") % keep_every == 0)
        .dropDuplicates(["id", "fp"])
    )


#: Karp-Rabin fingerprint parameters — shared by the Spark expression
#: form, the numpy Arrow twin, and the DuckDB oracle SQL (kr_hash_sql).
#: Base 263 (odd, ≢1 mod small powers of two, so the mod-p selection
#: bits mix); modulus 2⁴¹−1 (composite; primality is irrelevant here —
#: what matters is base⊥mod and BIGINT headroom) keeps every Horner
#: step h*263+255 < 2⁵⁰, inside exact BIGINT range in Spark, DuckDB
#: AND uint64 numpy alike.
KR_BASE = 263
KR_MOD = (1 << 41) - 1

#: Second, independent Karp-Rabin chain for PRODUCTION key widening
#: (hash_fn='kr2' here; exact_substring_coverage's xxhash64 mode): a
#: different base AND a different modulus, so a chain-1 collision says
#: nothing about chain 2. KR_MOD2 = 2⁵⁴ − 33 is prime (Miller-Rabin
#: verified, deterministic bases to 37); the worst Horner step —
#: the token-level chain h*269 + th with h, th < KR_MOD2 — is
#: (KR_MOD2−1)·270 < 2⁶³, exact BIGINT in Spark, DuckDB and numpy
#: uint64 alike. Paired with chain 1 the window key is 41+54 = 95 bits
#: (two columns) or 41+22 = 63 bits (packed single BIGINT, KR2_PACK
#: low bits of chain 2).
KR_BASE2 = 269
KR_MOD2 = (1 << 54) - 33
KR2_PACK = 22


def kr_hash_sql(text_expr: str, pos_expr: str, window: int) -> str:
    """The ANSI-SQL twin of the ``hash_fn='kr'`` fingerprint: a nested
    Horner chain over ``window`` characters of ``text_expr`` starting at
    1-based ``pos_expr`` — replayable by DuckDB without any hash
    builtin."""
    h = "0"
    for j in range(window):
        c = f"ascii(substring({text_expr}, {pos_expr} + {j}, 1))"
        h = f"(({h}) * {KR_BASE} + {c}) % {KR_MOD}"
    return h


def _xxh64_fixed_rows(win, seed: int = 42):
    """Vectorized XXH64 over an (n, L) uint8 matrix — one hash per row,
    bit-identical to Spark's ``xxhash64`` on the same bytes (Spark hashes
    UTF-8 bytes with seed 42; test-pinned across window sizes covering
    the <4, 4-byte, 8-byte and ≥32 stripe paths). All arithmetic in
    numpy uint64, which wraps mod 2⁶⁴ exactly like the reference
    implementation's C semantics."""
    import numpy as np

    P1 = np.uint64(0x9E3779B185EBCA87)
    P2 = np.uint64(0xC2B2AE3D27D4EB4F)
    P3 = np.uint64(0x165667B19E3779F9)
    P4 = np.uint64(0x85EBCA77C2B2AE63)
    P5 = np.uint64(0x27D4EB2F165667C5)
    u64 = np.uint64

    def rotl(x, r):
        r = u64(r)
        return (x << r) | (x >> (u64(64) - r))

    n, L = win.shape
    mask = (1 << 64) - 1
    i = 0
    if L >= 32:
        # accumulator seeds wrap mod 2^64 by design — compute in Python
        # ints to avoid numpy scalar-overflow warnings
        v1 = np.full(n, u64((seed + int(P1) + int(P2)) & mask), dtype=np.uint64)
        v2 = np.full(n, u64((seed + int(P2)) & mask), dtype=np.uint64)
        v3 = np.full(n, u64(seed), dtype=np.uint64)
        v4 = np.full(n, u64((seed - int(P1)) & mask), dtype=np.uint64)
        while i + 32 <= L:
            lanes = np.ascontiguousarray(win[:, i : i + 32]).view("<u8")
            v1 = rotl(v1 + lanes[:, 0] * P2, 31) * P1
            v2 = rotl(v2 + lanes[:, 1] * P2, 31) * P1
            v3 = rotl(v3 + lanes[:, 2] * P2, 31) * P1
            v4 = rotl(v4 + lanes[:, 3] * P2, 31) * P1
            i += 32
        h = rotl(v1, 1) + rotl(v2, 7) + rotl(v3, 12) + rotl(v4, 18)
        for v in (v1, v2, v3, v4):
            h = (h ^ (rotl(v * P2, 31) * P1)) * P1 + P4
    else:
        h = np.full(n, u64((seed + int(P5)) & mask), dtype=np.uint64)
    h = h + u64(L)
    while i + 8 <= L:
        k = np.ascontiguousarray(win[:, i : i + 8]).view("<u8").ravel()
        h = rotl(h ^ (rotl(k * P2, 31) * P1), 27) * P1 + P4
        i += 8
    if i + 4 <= L:
        k = (
            np.ascontiguousarray(win[:, i : i + 4])
            .view("<u4")
            .ravel()
            .astype(np.uint64)
        )
        h = rotl(h ^ (k * P1), 23) * P2 + P3
        i += 4
    while i < L:
        h = rotl(h ^ (win[:, i].astype(np.uint64) * P5), 11) * P1
        i += 1
    h ^= h >> u64(33)
    h *= P2
    h ^= h >> u64(29)
    h *= P3
    h ^= h >> u64(32)
    return h.view(np.int64)


def xxh64_bytes_vec(strings, seed: int = 42):
    """Vectorized Spark-compatible xxhash64 over a sequence of Python
    strings (variable length): rows are bucketed by byte length and each
    bucket hashed as one fixed-width matrix via
    :func:`_xxh64_fixed_rows`. Returns an int64 numpy array aligned with
    the input order — bit-identical to ``F.xxhash64(col)`` (test-pinned
    via the minhash Arrow twin)."""
    import numpy as np

    encoded = [s.encode() for s in strings]
    lens = np.fromiter((len(b) for b in encoded), dtype=np.int64, count=len(encoded))
    out = np.empty(len(encoded), dtype=np.int64)
    arr = np.empty(len(encoded), dtype=object)
    arr[:] = encoded
    for L in np.unique(lens):
        idx = np.nonzero(lens == L)[0]
        if L == 0:
            # xxh64 of empty input = finalized seed state
            out[idx] = _xxh64_fixed_rows(np.empty((len(idx), 0), dtype=np.uint8), seed)
            continue
        mat = np.frombuffer(b"".join(arr[idx]), dtype=np.uint8).reshape(len(idx), int(L))
        out[idx] = _xxh64_fixed_rows(mat, seed)
    return out


def winnowing_fingerprint_rows_arrow(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
    keep_every: int = 4,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Arrow twin of :func:`winnowing_fingerprint_rows` — BIT-IDENTICAL
    rows (test-pinned in every hash mode, including the packed
    two-chain 'kr2' production mode). The expression form explodes
    one row per window position, materializing the normalized text once
    PER POSITION (~300× write amplification on typical docs) before
    hashing; here each doc crosses to Python exactly once and all its
    window hashes are computed in one vectorized pass — numpy XXH64
    (``_xxh64_fixed_rows``) for the production mode, hashlib md5-h60 for
    the oracle-replayable mode. Normalization stays a JVM expression
    (identical semantics to the fold form by construction); after it the
    text is pure ASCII ``[a-z0-9 ]``, so byte windows == char windows.
    """
    import numpy as np

    id_type = dict(df.dtypes)[id_col]
    norm = (
        df.select(F.col(id_col).alias("id"), normalized_text(text_col).alias("nt"))
        .where(F.length("nt") >= window)
    )

    def gen(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids: list = []
            fps: list = []
            for doc_id, nt in zip(pdf["id"], pdf["nt"]):
                b = nt.encode()
                if len(b) < window:
                    continue
                if hash_fn == "md5":
                    hs = np.fromiter(
                        (
                            int(hashlib.md5(b[i : i + window]).hexdigest()[:15], 16)
                            for i in range(len(b) - window + 1)
                        ),
                        dtype=np.int64,
                    )
                elif hash_fn in ("kr", "kr2"):
                    win = np.lib.stride_tricks.sliding_window_view(
                        np.frombuffer(b, dtype=np.uint8), window
                    )
                    h = np.zeros(win.shape[0], dtype=np.uint64)
                    base = np.uint64(KR_BASE)
                    mod = np.uint64(KR_MOD)
                    for j in range(window):
                        h = (h * base + win[:, j].astype(np.uint64)) % mod
                    if hash_fn == "kr2":
                        h2 = np.zeros(win.shape[0], dtype=np.uint64)
                        base2 = np.uint64(KR_BASE2)
                        mod2 = np.uint64(KR_MOD2)
                        for j in range(window):
                            h2 = (h2 * base2 + win[:, j].astype(np.uint64)) % mod2
                        h = h * np.uint64(1 << KR2_PACK) + (
                            h2 % np.uint64(1 << KR2_PACK)
                        )
                    hs = h.astype(np.int64)
                else:
                    win = np.lib.stride_tricks.sliding_window_view(
                        np.frombuffer(b, dtype=np.uint8), window
                    )
                    hs = _xxh64_fixed_rows(win)
                kept = np.unique(hs[hs % keep_every == 0])
                ids.extend([doc_id] * len(kept))
                fps.append(kept)
            out = pd.DataFrame(
                {
                    "id": ids,
                    "fp": np.concatenate(fps) if fps else np.array([], dtype=np.int64),
                }
            )
            yield out

    return norm.mapInPandas(gen, schema=f"id {id_type}, fp long")


def winnowing_shared_pairs(
    fp: DataFrame,
    min_shared: int = 10,
    max_df: int | None = None,
) -> DataFrame:
    """Shared-fingerprint pair counts over (id, fp) rows with the
    ``max_df`` stop-hash guard (the q81/q24 pattern applied to
    winnowing): a boilerplate k-gram shared by f docs contributes f²
    pair rows before any filter, so fingerprints whose document
    frequency exceeds ``max_df`` are dropped from the inverted index via
    a broadcast anti join (the hot set is tiny by definition — it is the
    df histogram's tail above the cutoff). Output:
    (id_a, id_b, n_shared) with id_a < id_b and n_shared ≥ min_shared.

    The fp frame feeds three consumers (df histogram + both join
    sides); callers producing fp through a non-trivial pass (Arrow
    fingerprinting) should persist it — q35 does.
    """
    if max_df is not None:
        hot = (
            fp.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") > max_df)
            .select("fp")
        )
        fp = fp.join(F.broadcast(hot), on="fp", how="left_anti")
    a = fp.select("fp", F.col("id").alias("id_a"))
    b = fp.select("fp", F.col("id").alias("id_b"))
    return (
        a.join(b, on="fp")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def chunk_tokens(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    size: int = 128,
    stride: int = 64,
) -> DataFrame:
    """Overlapping token-window chunking — the training-window op: every
    document becomes ceil-strided chunks of ``size`` tokens stepping by
    ``stride`` (the last chunk may be short; empty docs produce none).

    Output: (id, chunk_id, n_tok, chunk). Pure per-row expressions +
    explode — map-side only, no shuffle; at 100 TB chunking parallelism
    is scan parallelism.

    The tokenization is materialized in a CHILD projection and the
    chunk lambdas slice the bound attribute: higher-order-function
    lambda bodies are interpreted and common-subexpression elimination
    does not reach into them, so an inline ``tokens(text)`` would
    re-run the regexp split once per chunk — quadratic in document
    length (a single 600k-token document took >9 minutes; materialized,
    the same fixture chunks in seconds)."""
    base = df.select(
        F.col(id_col).alias("id"), tokens(text_col).alias("__toks")
    )
    toks = F.col("__toks")
    n = F.size(toks)
    # chunk starts: 0, stride, 2·stride, … while start < n, keeping a
    # start only if the PREVIOUS chunk didn't already reach the document
    # end (no fully-redundant tail windows)
    starts = F.when(
        n > 0,
        F.filter(
            F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(stride)),
            lambda s: (s == 0) | (s + size - stride < n),
        ),
    ).otherwise(F.array().cast("array<int>"))
    ch = F.transform(
        starts,
        lambda s: F.struct(
            (s / stride).cast("long").alias("chunk_id"),
            F.slice(toks, s + 1, size).alias("ctoks"),
        ),
    )
    ex = base.select("id", F.explode(ch).alias("c"))
    return ex.select(
        "id",
        F.col("c.chunk_id").alias("chunk_id"),
        F.size("c.ctoks").cast("long").alias("n_tok"),
        F.array_join("c.ctoks", " ").alias("chunk"),
    )


# --------------------------------------------------------------------------
# PII scrubbing (pre-training redaction pass)
# --------------------------------------------------------------------------

#: conservative, cross-engine-identical patterns (verified byte-equal
#: between Spark's Java regex and DuckDB's RE2 on shared fixtures)
PII_PATTERNS: dict[str, str] = {
    "EMAIL": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "PHONE": r"(\+?[0-9]{1,3}[-. ])?(\([0-9]{3}\)[ ]?|[0-9]{3}[-. ])[0-9]{3}[-. ][0-9]{4}",
    "IP": r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b",
}


def scrub_pii(text: Column | str, patterns: dict[str, str] | None = None) -> Column:
    """Redact PII spans with ``<TYPE>`` tags — the standard pre-training
    scrub pass. Pure chained ``regexp_replace`` (whole-stage codegen, no
    UDF); patterns apply in dict order, so composite matches (a phone
    inside an email local part) resolve deterministically."""
    c = F.col(text) if isinstance(text, str) else text
    for tag, pat in (patterns or PII_PATTERNS).items():
        c = F.regexp_replace(c, pat, f"<{tag}>")
    return c


def pii_counts(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document PII span counts, one column per pattern (lower-cased
    names) — the audit twin of scrub_pii. Map-side only."""
    return df.select(
        id_col,
        *[
            F.regexp_count(F.col(text_col), F.lit(pat)).cast("long").alias(f"n_{tag.lower()}")
            for tag, pat in PII_PATTERNS.items()
        ],
    )


# --------------------------------------------------------------------------
# Sequence packing (training-data prep)
# --------------------------------------------------------------------------


def global_prefix_sum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str = "prefix",
    bucket_size: int = 100_000,
) -> DataFrame:
    """Exclusive prefix sum of ``value_col`` in ``order_col`` order,
    WITHOUT the single-task global window: rows are range-bucketed by
    the order key (bucket = key // bucket_size), per-bucket totals are
    cumulated across the (tiny) bucket list with one broadcast join, and
    the within-bucket running sum is a per-bucket window. Two bounded
    shuffles; every sort is bucket-local, so at 100 TB the parallelism
    is |keys|/bucket_size instead of 1.

    Deterministic for any numeric ``order_col`` with unique values.
    """
    from pyspark.sql.window import Window

    b = df.withColumn("__bkt", (F.col(order_col) / bucket_size).cast("long"))
    # per-bucket totals -> exclusive cumsum over buckets (|buckets| rows)
    bw = Window.orderBy("__bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        b.groupBy("__bkt")
        .agg(F.sum(value_col).alias("__tot"))
        .withColumn("__bktoff", F.coalesce(F.sum("__tot").over(bw), F.lit(0)))
        .select("__bkt", "__bktoff")
    )
    iw = (
        Window.partitionBy("__bkt")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        b.join(F.broadcast(offsets), on="__bkt")
        .withColumn(
            out_col,
            F.col("__bktoff") + F.coalesce(F.sum(value_col).over(iw), F.lit(0)),
        )
        .drop("__bkt", "__bktoff")
    )


def pack_sequences(
    df: DataFrame,
    seq_len: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    token_col: str | None = None,
    bucket_size: int = 100_000,
) -> DataFrame:
    """Concat-and-chunk sequence packing: documents are laid end-to-end
    in ``id_col`` order and cut into fixed ``seq_len`` token windows —
    the GPT-style pretraining sample layout, computed as pure arithmetic
    on an exclusive global prefix sum (no concatenation materialized).

    Output per document: (id, n_tokens, start_seq, start_pos, end_seq) —
    which training sequence the document starts in, at which offset, and
    where it ends (empty documents stay at their boundary:
    end_seq = start_seq). Downstream shard writers group by start_seq;
    the prefix sum comes from :func:`global_prefix_sum`, so the whole
    plan is two bounded shuffles at any corpus size.
    """
    n = (
        F.col(token_col)
        if token_col
        else token_count(F.col(text_col), r"\S+").cast("long")
    )
    base = df.select(F.col(id_col), n.alias("n_tokens"))
    with_off = global_prefix_sum(
        base, id_col, "n_tokens", out_col="__off", bucket_size=bucket_size
    )
    start_seq = (F.col("__off") / seq_len).cast("long")
    end_seq = F.when(
        F.col("n_tokens") > 0,
        ((F.col("__off") + F.col("n_tokens") - 1) / seq_len).cast("long"),
    ).otherwise(start_seq)
    return with_off.select(
        id_col,
        "n_tokens",
        start_seq.alias("start_seq"),
        (F.col("__off") % seq_len).cast("long").alias("start_pos"),
        end_seq.alias("end_seq"),
    )


# --------------------------------------------------------------------------
# Gopher rule filters (Rae et al. 2021, "Scaling Language Models" C.2)
# --------------------------------------------------------------------------

#: the Gopher stopword set used for the "contains common English words"
#: rule (the paper's list)
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality_flags(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stopword_hits: int = 2,
) -> DataFrame:
    """Gopher rule filters as pure Column expressions — one map-side pass
    emitting every rule's flag plus the aggregate keep decision, so a
    curation pipeline can both filter and AUDIT why documents fell out.

    All ratios are exact rationals over integer counts (deterministic
    doubles; ties impossible at the comparison thresholds used here).
    Map-side only: at 100 TB this adds zero shuffles to a curation plan.
    """
    t = F.col(text_col)
    n_words = token_count(t, r"\S+")
    total_word_chars = F.length(F.regexp_replace(t, r"\s+", ""))
    mean_wl = F.when(
        n_words > 0, total_word_chars.cast("double") / n_words
    ).otherwise(F.lit(0.0))
    n_symbols = F.regexp_count(t, F.lit(r"#|\.\.\."))
    lines = F.filter(F.split(t, "\n"), lambda ln: ln != "")
    n_lines = F.size(lines)
    bullet_lines = F.size(
        F.filter(lines, lambda ln: ln.rlike(r"^\s*(•|\*|-)\s"))
    )
    ellipsis_lines = F.size(F.filter(lines, lambda ln: ln.rlike(r"\.\.\.\s*$")))
    # lookaround-free forms so the DuckDB (RE2) oracle can replay them
    alpha_words = F.size(
        F.filter(
            F.split(t, r"\s+"),
            lambda w: (w != "") & w.rlike("[A-Za-z]"),
        )
    )
    stop_hits = sum(
        (
            F.when(
                F.lower(t).rlike(rf"\b{w}\b"), F.lit(1)
            ).otherwise(F.lit(0))
            for w in GOPHER_STOPWORDS
        ),
        F.lit(0),
    )

    flags = {
        "ok_word_count": (n_words >= min_words) & (n_words <= max_words),
        "ok_mean_word_len": (mean_wl >= min_mean_word_len)
        & (mean_wl <= max_mean_word_len),
        "ok_symbol_ratio": (n_words > 0)
        & (n_symbols.cast("double") / n_words < max_symbol_word_ratio),
        "ok_bullet_lines": (n_lines == 0)
        | (bullet_lines.cast("double") / n_lines < max_bullet_line_frac),
        "ok_ellipsis_lines": (n_lines == 0)
        | (ellipsis_lines.cast("double") / n_lines < max_ellipsis_line_frac),
        "ok_alpha_words": (n_words > 0)
        & (alpha_words.cast("double") / n_words >= min_alpha_word_frac),
        "ok_stopwords": stop_hits >= min_stopword_hits,
    }
    out = df.select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        *[v.alias(k) for k, v in flags.items()],
    )
    keep = None
    for k in flags:
        keep = F.col(k) if keep is None else (keep & F.col(k))
    return out.withColumn("keep", keep)


#: Gopher repetition thresholds (Rae et al. 2021 Table A1): fraction of
#: characters in the most frequent n-gram / in duplicated n-grams, ppm
GOPHER_TOP_LIMITS_PPM = {2: 200_000, 3: 180_000, 4: 160_000}
GOPHER_DUP_LIMITS_PPM = {
    5: 150_000, 6: 140_000, 7: 130_000, 8: 120_000, 9: 110_000, 10: 100_000,
}


def gopher_repetition_profile(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_ns: tuple = (2, 3, 4),
    dup_ns: tuple = (5, 10),
) -> DataFrame:
    """The Gopher repetition suite beyond q68's dup-3-gram ratio: per
    document, the fraction of characters covered by the single most
    frequent n-gram (``top{n}_ppm``, count ties → larger coverage) and
    by ALL duplicated n-grams via POSITIONAL coverage (``dup{n}_ppm`` —
    token positions inside any duplicated n-gram are unioned first, so
    overlapping repeats never double-count), plus the aggregate ``keep``
    under the paper's thresholds.

    Plan (r12/r13 — one window pass for every grain, materialized
    once): one posexplode of tokens, then a SINGLE lead()-window
    projection computing the max_n-1 lookaheads once; that narrow
    lookahead frame is eagerly local-checkpointed (see the inline
    note — a lazy persist() raced under AQE's concurrent consumer
    jobs and re-ran the window up to 14×), and every grain's n-gram
    string is derived from it as codegen map work. Before r12 each
    grain ran its own exchange+sort over the token stream — five
    window sorts where one suffices (guide §2.4: operations keyed the
    same way share one exchange). Downstream per grain: one (id,
    ngram) count aggregation, and for dup grains a position-explode →
    distinct → char-sum join (served from the same shared frame).
    Integer ppm throughout — no float rounding hazard, exact oracle
    replay.
    """
    from pyspark.sql.window import Window

    if not top_ns and not dup_ns:
        raise ValueError(
            "gopher_repetition_profile: top_ns and dup_ns are both empty — "
            "at least one grain is required"
        )
    max_n = max([*top_ns, *dup_ns])
    tok = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(text_col)).alias("pos", "tok"),
    )
    w = Window.partitionBy("id").orderBy("pos")
    lead_cols = [F.col("tok").alias("t0")] + [
        F.lead("tok", k).over(w).alias(f"t{k}") for k in range(1, max_n)
    ]
    grains = sorted(set(top_ns) | set(dup_ns))
    ng_cols = [
        F.when(
            F.col(f"t{n-1}").isNotNull(),
            F.concat_ws(" ", *[F.col(f"t{i}") for i in range(n)]),
        ).alias(f"ng{n}")
        for n in grains
    ]
    # r13: the shared frame is MATERIALIZED EAGERLY (localCheckpoint)
    # before the grain pipelines are built. The r12 lazy persist() lost
    # badly on cold runs: AQE submits the ~8 consumer subtrees' stage
    # jobs concurrently, and concurrent jobs do NOT wait on each other's
    # in-flight cache partitions — the driver-measured job profile
    # showed FOURTEEN 33-task jobs each re-running the full
    # 9-lookahead window (467 tasks, 19.0 s) vs ONE materialization
    # here (155 tasks, 6.5 s, same session back-to-back). The
    # checkpoint is taken on the NARROW lookahead frame (id, pos, L,
    # t0..t{max_n-1}) — ~40% of the bytes of the per-grain n-gram
    # strings — and every grain's concat is re-derived from it as
    # cheap codegen map work, no re-sort. materialize_shared picks the
    # barrier durability by master: localCheckpoint on single-JVM
    # local[N], persist+eager-count (lineage retained, executor-loss
    # recoverable) on multi-JVM masters.
    from ncpi_whistler_spark.operators.tuning import materialize_shared

    looked = materialize_shared(
        tok.select("id", "pos", F.length("tok").alias("L"), *lead_cols)
    )
    shared = looked.select("id", "pos", "L", *ng_cols)
    totals = shared.groupBy("id").agg(F.sum("L").alias("total_chars"))

    def ngram_rows(n: int) -> DataFrame:
        return shared.where(F.col(f"ng{n}").isNotNull()).select(
            "id", "pos", F.col(f"ng{n}").alias("ng")
        )

    out = df.select(F.col(id_col).alias("id")).distinct().join(
        totals, on="id", how="left"
    )
    ppm_cols: list[str] = []

    for n in top_ns:
        counts = ngram_rows(n).groupBy("id", "ng").agg(F.count(F.lit(1)).alias("c"))
        cover = F.col("c") * F.length(F.regexp_replace("ng", " ", ""))
        top = counts.groupBy("id").agg(
            F.max(F.struct(F.col("c").alias("c"), cover.alias("cover")))["cover"]
            .alias(f"__cov{n}")
        )
        out = out.join(top, on="id", how="left")
        ppm_cols.append(f"top{n}_ppm")
        out = out.withColumn(
            f"top{n}_ppm",
            F.when(
                F.col("total_chars") > 0,
                F.expr(f"(1000000 * coalesce(__cov{n}, 0)) div total_chars"),
            ).otherwise(F.lit(0)).cast("long"),
        ).drop(f"__cov{n}")

    for n in dup_ns:
        ng = ngram_rows(n)
        dup_ng = (
            ng.groupBy("id", "ng")
            .agg(F.count(F.lit(1)).alias("c"), F.collect_list("pos").alias("ps"))
            .where(F.col("c") > 1)
        )
        covered = (
            dup_ng.select(
                "id", F.explode("ps").alias("p0")
            )
            .select("id", F.explode(F.sequence(F.col("p0"), F.col("p0") + (n - 1))).alias("cpos"))
            .distinct()
        )
        chars = (
            covered.join(
                shared.select("id", F.col("pos").alias("cpos"), "L"),
                on=["id", "cpos"],
            )
            .groupBy("id")
            .agg(F.sum("L").alias(f"__dcov{n}"))
        )
        out = out.join(chars, on="id", how="left")
        ppm_cols.append(f"dup{n}_ppm")
        out = out.withColumn(
            f"dup{n}_ppm",
            F.when(
                F.col("total_chars") > 0,
                F.expr(f"(1000000 * coalesce(__dcov{n}, 0)) div total_chars"),
            ).otherwise(F.lit(0)).cast("long"),
        ).drop(f"__dcov{n}")

    keep = None
    for n in top_ns:
        c = F.col(f"top{n}_ppm") <= GOPHER_TOP_LIMITS_PPM[n]
        keep = c if keep is None else (keep & c)
    for n in dup_ns:
        c = F.col(f"dup{n}_ppm") <= GOPHER_DUP_LIMITS_PPM[n]
        keep = c if keep is None else (keep & c)
    return out.select(
        F.col("id").alias(id_col),
        F.coalesce(F.col("total_chars"), F.lit(0)).cast("long").alias("total_chars"),
        *[F.col(c) for c in ppm_cols],
        keep.alias("keep"),
    )


# --------------------------------------------------------------------------
# BPE tokenizer training / application (distributed merge learning)
# --------------------------------------------------------------------------


def _sq(s: str) -> str:
    """Single-quote a string for embedding in a SQL expression."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _merge_pair_sql(syms_sql: str, left: str, right: str) -> str:
    """One BPE merge applied to a symbol-array SQL expression, greedy
    left-to-right non-overlapping (the standard rule: in 'a a a' the
    pair ('a','a') merges the FIRST two, leaving 'aa a'). An aggregate()
    fold carrying one pending symbol — interpreted HOF, which is fine
    because every caller runs it over the vocabulary-sized word table,
    never the corpus token stream. Emitted as ONE SQL string (merge
    chains compose by nesting strings) so a k-merge plan costs one
    expr() parse instead of thousands of Py4J Column calls — the
    round-4 plan-builder lesson (NOTES.md q29)."""
    l, r, lr = _sq(left), _sq(right), _sq(left + right)
    return (
        f"aggregate({syms_sql}, "
        "struct(cast(array() as array<string>) as out, cast(null as string) as p), "
        "(acc, s) -> case "
        "when acc.p is null then struct(acc.out as out, s as p) "
        f"when acc.p = {l} and s = {r} then "
        f"struct(concat(acc.out, array({lr})) as out, cast(null as string) as p) "
        "else struct(concat(acc.out, array(acc.p)) as out, s as p) end, "
        "acc -> case when acc.p is null then acc.out "
        "else concat(acc.out, array(acc.p)) end)"
    )


#: end-of-word marker (the classic Sennrich et al. 2016 convention)
BPE_EOW = "</w>"

#: Longest "word" that participates in merge learning/segmentation.
#: Real words are <100 chars; anything longer is binary-as-text garbage
#: — and the merge-rewrite aggregate() fold is O(len²) per word (each
#: fold step copies the accumulator array), so ONE 2 MB no-whitespace
#: "word" costs ~4×10¹² operations (measured: a single such doc hung a
#: merge round for >9 minutes). Over-cap words become one opaque
#: symbol: they contribute no pairs, fold in O(1), and keep their row
#: (segmenting to themselves as a single piece).
BPE_MAX_WORD_CHARS = 1024


def bpe_syms(w: Column | str, max_word_chars: int = BPE_MAX_WORD_CHARS) -> Column:
    """Character symbol array + </w> for a word — or one opaque
    ``<word></w>`` symbol past ``max_word_chars`` (see
    BPE_MAX_WORD_CHARS; CaseWhen branches evaluate lazily, so the
    char split never runs on over-cap strings)."""
    c = F.col(w) if isinstance(w, str) else w
    chars = F.filter(F.split(c, ""), lambda x: x != "")
    return F.when(
        F.length(c) <= max_word_chars,
        F.concat(chars, F.array(F.lit(BPE_EOW))),
    ).otherwise(F.array(F.concat(c, F.lit(BPE_EOW))))


def bpe_word_table(
    df: DataFrame,
    text_col: str = "text",
    max_word_chars: int = BPE_MAX_WORD_CHARS,
) -> DataFrame:
    """(w, n, syms) word-frequency table with character-level symbol
    arrays + the </w> marker — BPE's training input. This is the ONLY
    corpus-scale pass in BPE training: one explode + one groupBy; every
    merge iteration afterwards touches just this vocabulary-sized table
    (the property that makes BPE training tractable at 100 TB — the
    corpus is never re-read)."""
    return (
        df.select(F.explode(tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("w", "n", bpe_syms("w", max_word_chars).alias("syms"))
    )


def bpe_train(
    df: DataFrame,
    num_merges: int = 16,
    text_col: str = "text",
    min_pair_count: int = 2,
    max_word_chars: int = BPE_MAX_WORD_CHARS,
) -> list[tuple[str, str, int]]:
    """Learn ``num_merges`` BPE merges from the corpus (Sennrich et al.
    2016): repeatedly find the most frequent adjacent symbol pair
    (weighted by word frequency) and fuse it everywhere.

    Distributed shape — the k-means/Lloyd's precedent: the corpus is
    read ONCE into the vocabulary-sized word table; each iteration is a
    small pair-count aggregate whose single argmax row comes back to the
    driver (1 row per iteration, like the centroid loop), then a
    map-side fold rewrites the word table's symbol arrays. The table is
    localCheckpointed every iteration to cut the k-deep lineage exactly
    as connected_components does.

    Ties break deterministically: (count DESC, left ASC, right ASC).
    Stops early when the best pair's count < ``min_pair_count``.

    Per-iteration overhead control: the word table is repartitioned to
    ~1M words per partition once up front (an argmax round on a small
    vocabulary must not schedule 32-task stages); each round's rewrite
    is ONE F.expr parse (see _merge_pair_sql) followed by an eager
    localCheckpoint lineage cut.

    Returns the merge list [(left, right, pair_count)] in rank order.
    (``bpe_fit`` additionally returns the fully-merged word table, which
    the loop has already materialized — re-deriving it by re-nesting k
    aggregate() folds costs ~2 s of Catalyst ANALYSIS per nesting level,
    the measured failure mode bpe_segment_words' chunking also avoids.)
    """
    return bpe_fit(df, num_merges, text_col, min_pair_count,
                   max_word_chars=max_word_chars)[0]


def bpe_fit(
    df: DataFrame,
    num_merges: int = 16,
    text_col: str = "text",
    min_pair_count: int = 2,
    scratch_dir: str | None = None,
    max_word_chars: int = BPE_MAX_WORD_CHARS,
) -> tuple[list[tuple[str, str, int]], DataFrame]:
    """bpe_train + the final segmented word table (w, n, syms) in one
    pass — see bpe_train for the distributed shape.

    ``scratch_dir``: materialize the corpus-scale word-table build to
    parquet instead of a localCheckpoint (storage.scratch_materialize —
    the q104 disk tier): the one corpus pass lands on job scratch
    storage rather than executor block storage, which is the right home
    for a frame whose size tracks the vocabulary of a 100 TB corpus.
    Iteration-state checkpoints are unaffected (vocabulary-bounded)."""
    if scratch_dir is not None:
        from ncpi_whistler_spark.storage import scratch_materialize

        words = scratch_materialize(
            bpe_word_table(df, text_col, max_word_chars), scratch_dir, "bpe_words"
        )
        vocab_n = words.count()
        # the scratch parquet IS the materialization — no localCheckpoint
        # into executor block storage (the point of the scratch tier);
        # coalesce (not repartition) trims the scan to the argmax-round
        # grain without a shuffle
        words = words.coalesce(max(1, vocab_n // 1_000_000 + 1))
    else:
        words = bpe_word_table(df, text_col, max_word_chars).localCheckpoint()
        vocab_n = words.count()
        words = (
            words.repartition(max(1, vocab_n // 1_000_000 + 1)).localCheckpoint()
        )
    merges: list[tuple[str, str, int]] = []
    for i in range(num_merges):
        n = F.size("syms")
        pairs = (
            words.where(n >= 2)
            .select(
                "n",
                F.explode(
                    F.zip_with(
                        F.slice("syms", 1, n - 1),
                        F.slice("syms", 2, n - 1),
                        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                    )
                ).alias("p"),
            )
            .groupBy("p.l", "p.r")
            .agg(F.sum("n").alias("c"))
        )
        best = pairs.orderBy(
            F.col("c").desc(), F.col("l").asc(), F.col("r").asc()
        ).limit(1).collect()
        if not best or best[0]["c"] < min_pair_count:
            break
        l, r, c = best[0]["l"], best[0]["r"], best[0]["c"]
        merges.append((l, r, c))
        # LAZY localCheckpoint (r12 optimization): the lineage cut is
        # identical, but materialization folds into the NEXT round's
        # argmax job instead of paying a dedicated eager job per round —
        # one job per merge instead of two (q100 jobs 46 → 35 at sf0.1;
        # wall-clock neutral locally since these vocabulary-grain jobs
        # are ~10 ms, but at cluster scale every job is a scheduling
        # round trip).
        words = words.select(
            "w", "n", F.expr(_merge_pair_sql("syms", l, r)).alias("syms")
        ).localCheckpoint(eager=False)
    return merges, words


def bpe_segment_words(
    words: DataFrame,
    merges: list[tuple[str, str, int]],
    chunk: int = 3,
) -> DataFrame:
    """Apply learned merges (in rank order) to a (w, n, syms) word table,
    returning (w, n, subwords). Same vocabulary-scale fold as training —
    tokenizing a 100 TB corpus is then one broadcast/hash join of this
    table back to the token stream, never per-document re-segmentation.

    Merges are applied ``chunk`` at a time with a localCheckpoint
    between chunks: Catalyst's ANALYSIS of nested aggregate() lambdas
    costs ~2 s PER NESTING LEVEL (measured: a 12-deep chain took 22 s
    to analyze for a 31-row table), so deep nesting is the one thing
    this function must never do. Within a chunk the merges still
    compose into one expr() parse."""
    for i in range(0, len(merges), chunk):
        sql = "syms"
        for l, r, _ in merges[i : i + chunk]:
            sql = _merge_pair_sql(sql, l, r)
        words = words.select("w", "n", F.expr(sql).alias("syms"))
        if i + chunk < len(merges):
            # LAZY (r12): the analysis cut happens at definition either
            # way (the Dataset is rebased onto a LogicalRDD
            # immediately); eager=False folds the per-chunk
            # materialization jobs into the consumer's single job over
            # the RDD chain — one scheduler round trip per chunk saved
            # on a vocabulary-grain table (the bpe_fit precedent).
            words = words.localCheckpoint(eager=False)
    return words.withColumnRenamed("syms", "subwords")


def token_entropy(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    low_u: int = 2_800_000,
    high_u: int = 3_250_000,
) -> DataFrame:
    """Per-document token-distribution Shannon entropy in integer
    micro-nats — the gibberish/degenerate-repetition signal (too-low
    entropy ⇒ one token dominates; too-high for its length ⇒ random
    token soup; both are classic pretraining-corpus rejects).

        H_u = Σ_w floor(1e6 · (n_w/N) · ln(N/n_w))

    Each distinct (doc, token) term is quantized to a BIGINT before the
    per-doc SUM, so aggregation order cannot change bits and the whole
    computation replays in ANSI SQL. Plan: one explode → one
    (id, tok) count aggregation; the per-doc total N rides on a
    sort-free window over the SAME id partitioning (partitionBy only —
    no global ordering anywhere), entropy terms are map-side, and the
    final rollup reuses the id partitioning.

    Returns (doc_id, n_tokens, n_distinct, entropy_u, flag) where flag ∈
    {'low', 'ok', 'high'} at the given micro-nat cutoffs.
    """
    from pyspark.sql.window import Window

    tok = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("tok")
    )
    counts = tok.groupBy("id", "tok").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("id")
    terms = counts.select(
        "id",
        F.sum("n").over(w).alias("N"),
        F.floor(
            F.lit(1_000_000)
            * (F.col("n").cast("double") / F.sum("n").over(w).cast("double"))
            * F.log(F.sum("n").over(w).cast("double") / F.col("n").cast("double"))
        )
        .cast("long")
        .alias("h_u"),
    )
    scored = terms.groupBy("id").agg(
        F.max("N").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum("h_u").alias("entropy_u"),
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(scored, on="id", how="left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("n_distinct", F.lit(0)).cast("long").alias("n_distinct"),
            F.coalesce("entropy_u", F.lit(0)).cast("long").alias("entropy_u"),
        )
        .withColumn(
            "flag",
            F.when(F.col("entropy_u") < low_u, F.lit("low"))
            .when(F.col("entropy_u") > high_u, F.lit("high"))
            .otherwise(F.lit("ok")),
        )
    )
