"""Text-analysis + document-dedup expression builders (north-star
LLM-data-pipeline operators; BASELINE.json scope beyond the reference).

Everything here is built-in column expressions — no UDFs — so Catalyst
optimizes end-to-end (whole-stage codegen, pushdown). Hash functions
are md5-hex based so a DuckDB oracle reproduces them bit-for-bit:
``hex_hash`` maps a string to a bigint via the first 15 hex chars of
md5; minhash signatures are lexicographic minima of seeded md5 strings
(a valid random permutation family).

Scale notes:
- tokenize/shingle/fingerprint: narrow per-row ops, no shuffle;
- minhash: ONE md5 per shingle, then n_hashes affine permutations
  ``(a*h + b) % p`` folded into a single map-side-combined groupBy(doc)
  — one shuffle, shuffle volume bounded by n_docs x n_hashes longs;
- LSH banding: join only within band buckets — never all-pairs;
- simhash: per-row array aggregation over hashed tokens — map-only,
  ZERO shuffles (a doc's fingerprint depends only on its own tokens).

Explode discipline: never ``explode`` an expensive higher-order-function
array expression directly — Spark's Generate re-evaluates the generator
per emitted element, turning an O(n) shingle build into O(n^2) per doc
(measured 17x slower at sf0.1). :func:`exploded_shingles` instead
explodes a cheap index ``sequence`` and builds each shingle AFTER the
Generate, once per output row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")

# Affine minhash permutation family over Z_p: h_j(x) = (a_j*x + b_j) mod p.
# p = 2^31 - 1 keeps a_j * (h mod p) < 2^62 — no 64-bit overflow in any
# engine, so a DuckDB oracle reproduces signatures exactly.
MINHASH_PRIME = 2_147_483_647
MINHASH_SEEDS: tuple[tuple[int, int], ...] = (
    (1103515245, 12345),
    (214013, 2531011),
    (134775813, 1),
    (22695477, 7777),
    (69069, 12321),
    (1664525, 1013904223),
    (48271, 111),
    (16807, 65537),
)


def tokenize(col: Column | str) -> Column:
    """Whitespace tokens of trimmed text."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), r"\s+")


def quality_score_parts(text_col: Column) -> dict[str, Column]:
    """THE quality heuristic, in one place: length saturation x lexical
    diversity, penalized by stopword density. Shared by
    ``plans/text.text_quality_score`` (the published metric) and
    ``plans/dedup.dedup_cluster_keepers`` (keeper selection) so the two
    cannot drift — keeper choice is defined to use the identical
    expression tree as the metric it ranks by. Returns the named parts;
    ratios are NULL (not an ANSI /0 error) for an empty token list."""
    toks = tokenize(text_col)
    n_tokens = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    denom = F.nullif(n_tokens, F.lit(0))
    stop_ratio = n_stop / denom
    diversity = n_distinct / denom
    score = (
        F.least(F.lit(1.0), n_tokens / F.lit(50.0))
        * (F.lit(0.5) + F.lit(0.5) * diversity)
        * (F.lit(1.0) - F.lit(0.5) * stop_ratio)
    )
    return {
        "n_tokens": n_tokens,
        "stop_ratio": stop_ratio,
        "diversity": diversity,
        "score": score,
    }


def bpe_piece_count(col: Column | str) -> Column:
    """BPE-ish piece count: alpha runs, digit runs, single punctuation."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"))


def shingles_expr(tokens_field: str, k: int = 3) -> Column:
    """k-token shingles over an existing array column name."""
    parts = ", ".join(f"{tokens_field}[i+{j}]" for j in range(k))
    return F.when(
        F.size(F.col(tokens_field)) >= k,
        F.expr(
            f"transform(sequence(0, size({tokens_field}) - {k}),"
            f" i -> concat_ws(' ', {parts}))"
        ),
    ).otherwise(F.array().cast("array<string>"))


def hex_hash(col: Column, seed: str = "") -> Column:
    """Deterministic 60-bit integer hash reproducible in any engine with
    md5: bigint of the first 15 hex chars."""
    return F.conv(F.substring(F.md5(F.concat(F.lit(seed), col)), 1, 15), 16, 10).cast(
        "long"
    )


def hex_hash16(col: Column, seed: str = "") -> Column:
    """16-bit variant (simhash bit source)."""
    return F.conv(F.substring(F.md5(F.concat(F.lit(seed), col)), 1, 4), 16, 10).cast(
        "int"
    )


def fingerprint(tokens_col: Column) -> Column:
    """Canonical content fingerprint: md5 over sorted distinct tokens
    (catches token-order shuffles and repeated-run near-dups)."""
    return F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(tokens_col))))


def exploded_shingles(
    docs: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """(id, shingle) rows, one per k-token window (duplicates kept —
    callers needing set semantics apply ``.distinct()``).

    Explodes an index ``sequence`` and assembles the shingle after the
    Generate so the token array is built once per doc, not once per
    emitted shingle (see module docstring)."""
    toks = docs.select(F.col(id_col), tokenize(F.col(text_col)).alias("__toks"))
    ixed = toks.filter(F.size("__toks") >= k).select(
        F.col(id_col),
        "__toks",
        F.explode(F.sequence(F.lit(0), F.size("__toks") - k)).alias("__i"),
    )
    shingle = F.concat_ws(
        " ", *[F.col("__toks")[F.col("__i") + j] for j in range(k)]
    )
    return ixed.select(F.col(id_col), shingle.alias("shingle"))


def minhash_signature(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 8,
    k: int = 3,
    include_all_docs: bool = True,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """One row per doc: m0..m{n-1} bigint minhash values. Docs with < k
    tokens get NULL signatures (``include_all_docs=False`` drops them
    instead, skipping the doc-preserving left join — use it when the
    consumer filters null signatures anyway, e.g. the LSH pairs path).

    One md5 per shingle, n_hashes affine permutations folded into a
    single partial-aggregated groupBy — min() is duplicate-insensitive,
    so no distinct pass is needed. Shuffle volume = n_docs x n_hashes
    longs regardless of corpus size."""
    if n_hashes > len(MINHASH_SEEDS):
        raise ValueError(f"n_hashes > {len(MINHASH_SEEDS)} seeds available")
    # ``shingles``: an already-built (id, shingle) table to reuse (r14 —
    # dedup_lsh_sweep shares ONE distinct shingle pass between its
    # signature and ground-truth legs). min() is duplicate-insensitive,
    # so raw and distinct shingle sets give identical signatures.
    sh = shingles if shingles is not None else exploded_shingles(docs, id_col, text_col, k)
    h = hex_hash(F.col("shingle")) % MINHASH_PRIME
    sig = sh.withColumn("__h", h).groupBy(id_col).agg(
        *[
            F.min((F.lit(a) * F.col("__h") + F.lit(b)) % MINHASH_PRIME).alias(f"m{j}")
            for j, (a, b) in enumerate(MINHASH_SEEDS[:n_hashes])
        ]
    )
    if not include_all_docs:
        return sig
    return docs.select(F.col(id_col)).join(sig, id_col, "left")


def lsh_candidate_pairs(
    signatures: DataFrame, id_col: str, n_hashes: int = 8, rows_per_band: int = 2
) -> DataFrame:
    """Band the signature and join within buckets (never all-pairs).
    Returns distinct (id_a < id_b) candidate pairs.

    Banding is a single explode over an array of (band, bucket) structs
    — NOT a union of per-band selects, which would re-execute the whole
    signature aggregation once per band."""
    n_bands = n_hashes // rows_per_band
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                "|",
                *[F.col(f"m{b * rows_per_band + r}") for r in range(rows_per_band)],
            ).alias("bucket"),
        )
        for b in range(n_bands)
    ]
    banded = (
        signatures.filter(F.col("m0").isNotNull())
        .select(F.col(id_col), F.explode(F.array(*band_structs)).alias("__bb"))
        .select(F.col(id_col), F.col("__bb.band").alias("band"), F.col("__bb.bucket").alias("bucket"))
    )
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b")
        )
        .distinct()
    )


def jaccard_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    candidates: DataFrame | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """n-gram Jaccard similarity for (candidate) pairs sharing >=1
    shingle. Without ``candidates`` every co-shingled pair is scored.
    ``shingles``: a pre-built (id, shingle) table to reuse instead of
    re-exploding the corpus (only valid without ``candidates``, whose
    semi-join must subset the docs first). It is deduplicated here, since
    a repeated (id, shingle) row would inflate both the shared and the
    per-doc shingle counts."""
    if shingles is not None:
        if candidates is not None:
            raise ValueError("shingles= cannot be combined with candidates=")
        sh = shingles.select(id_col, "shingle").distinct().localCheckpoint(eager=False)
        sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
        a, b = sh.alias("a"), sh.alias("b")
        shared = (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            )
            .groupBy(
                F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
            )
            .agg(F.count(F.lit(1)).alias("n_shared"))
        )
        sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_shingles").alias("n_a"))
        sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_shingles").alias("n_b"))
        out = shared.join(sa, "id_a").join(sb, "id_b")
        jac = F.col("n_shared") / (F.col("n_a") + F.col("n_b") - F.col("n_shared"))
        return out.select("id_a", "id_b", "n_shared", "n_a", "n_b", jac.alias("jaccard"))
    if candidates is not None:
        # verify only candidate docs: explode shingles for that subset alone
        cand_ids = (
            candidates.select(F.col("id_a").alias(id_col))
            .unionByName(candidates.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        docs = docs.join(cand_ids, id_col, "left_semi")
    # the distinct shingle set feeds three consumers (both sides of the
    # co-shingle self-join + the per-doc sizes); materialize it once
    # instead of re-running tokenize/explode/distinct per consumer
    sh = exploded_shingles(docs, id_col, text_col, k).distinct().localCheckpoint(eager=False)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    a, b = sh.alias("a"), sh.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    if candidates is not None:
        shared = shared.join(candidates, ["id_a", "id_b"], "left_semi")
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_shingles").alias("n_b"))
    out = shared.join(sa, "id_a").join(sb, "id_b")
    jac = F.col("n_shared") / (F.col("n_a") + F.col("n_b") - F.col("n_shared"))
    return out.select("id_a", "id_b", "n_shared", "n_a", "n_b", jac.alias("jaccard"))


def _simhash_fp_expr(hs_field: str, nbits: int, as_long: bool = False) -> Column:
    """Whole simhash fingerprint as ONE SQL expression over a hashed-
    token ARRAY column — no explode, no groupBy: a doc's fingerprint
    depends only on its own tokens, so simhash is a narrow map-only op
    (the exploded token stream the groupBy formulation shuffled would
    be the pipeline's largest shuffle at 100 TB; this has zero).

    Per bit b the majority vote is ``2 * ones_b > n_tokens`` where
    ``ones_b`` is an ``aggregate`` shift-and-add over the array —
    identical values to the +1/-1 vote sum formulation. Emitted as a
    single ``F.expr`` string rather than {nbits} ``F.aggregate`` DSL
    calls: each Python-side lambda costs several py4j round-trips, and
    building 60 of them measured ~3.5s of pure client time per query —
    the JVM parses this one string in milliseconds."""
    zero = "CAST(0 AS BIGINT)" if as_long else "0"
    terms = []
    for b in range(nbits):
        weight = f"CAST({1 << b} AS BIGINT)" if as_long else str(1 << b)
        ones = (
            f"aggregate({hs_field}, 0,"
            f" (acc, x) -> acc + CAST((shiftright(x, {b}) & 1) AS INT))"
        )
        terms.append(
            f"IF(2 * {ones} - size({hs_field}) > 0, {weight}, {zero})"
        )
    return F.expr(" + ".join(terms))


def simhash16(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """16-bit simhash per doc: majority vote per bit over token hashes
    (token multiplicity = weight). Map-only — see ``_simhash_fp_expr``.
    NULL-text docs are dropped, matching the explode formulation this
    replaced (explode of a NULL array emits no rows)."""
    base = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.transform(
            tokenize(F.col(text_col)), lambda t: hex_hash16(t)
        ).alias("__hs"),
    )
    return base.select(
        F.col(id_col), _simhash_fp_expr("__hs", 16).alias("simhash")
    )


SIMHASH60_BITS = 60


def simhash60(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """60-bit simhash per doc (the Manku et al. 2007 near-dup shape,
    sized to the repo's 60-bit md5-derived hash): majority vote per bit
    over token hashes, token multiplicity = weight.

    This is the PRODUCTION fingerprint width: banding a b-bit simhash
    into (r+1) bands guarantees Hamming<=r pairs collide on a band
    (pigeonhole), but the band-value space is 2^(b/(r+1)) — with the
    16-bit pedagogical variant that is 2^8 = 256 values, which
    SATURATES as the corpus grows and the band join degrades toward
    all-pairs (tools/scale_curve.py measures exactly this: exponent
    ~2.0 at 16 bits vs ~1 at 60 bits). 60 bits / 4 bands = 2^15
    values per band keeps bucket occupancy bounded far past the
    corpus sizes where 16 bits collapses."""
    base = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.transform(
            tokenize(F.col(text_col)), lambda t: hex_hash(t, seed="sh60")
        ).alias("__hs"),
    )
    return base.select(
        F.col(id_col),
        _simhash_fp_expr("__hs", SIMHASH60_BITS, as_long=True).alias("simhash60"),
    )


def simhash_fused(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """BOTH simhash fingerprints — 16-bit ``simhash`` and 60-bit
    ``simhash60`` — from ONE corpus scan.

    Bit-for-bit identical to running :func:`simhash16` and
    :func:`simhash60` separately (same hash derivations, same majority
    votes) — but a consumer that needs both (e.g. the three-way
    ``dedup_method_agreement`` migration artifact) pays one scan and,
    like the single-width forms, zero shuffles (map-only per-row array
    aggregation — see ``_simhash_fp_expr``)."""
    base = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.transform(
            tokenize(F.col(text_col)), lambda t: hex_hash16(t)
        ).alias("__h16"),
        F.transform(
            tokenize(F.col(text_col)), lambda t: hex_hash(t, seed="sh60")
        ).alias("__h60"),
    )
    return base.select(
        F.col(id_col),
        _simhash_fp_expr("__h16", 16).alias("simhash"),
        _simhash_fp_expr("__h60", SIMHASH60_BITS, as_long=True).alias("simhash60"),
    )
