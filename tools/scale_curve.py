"""Empirical scale-curve evidence for the Sigma|bucket|^2 claims
(VERDICT r5 item 3).

The 100-TB arguments for the near-dup / semantic-dedup families are
analytic: candidate work is the sum over buckets/cells of |b|^2, which
stays ~linear in corpus size N as long as bucket count scales with N.
This tool backs the claim with measurements: it synthesizes an S-times
corpus IN MEMORY (never touching the driver's testdata), runs the same
candidate-generation code paths the registered queries use, and checks
that candidate counts grow ~linearly in N while the all-pairs baseline
grows ~quadratically.

Corpus expansion keeps duplicate DENSITY constant (the property that
makes the comparison meaningful): copy k of the documents table
suffixes every token with ``_k``, so shingles/tokens never collide
across copies while each copy's internal near-dup structure is
isomorphic to the base; copy k of the embeddings table cyclically
shifts vector dimensions by k, preserving within-copy geometry while
decorrelating copies. A synthesized 10x corpus is therefore 10
statistically-equivalent shards — exactly how a 10x production crawl
relates to a 1x one.

Families measured (same operators the queries call):
* minhash_lsh  — ``operators.textops.minhash_signature`` +
  ``lsh_candidate_pairs`` (rows_per_band=2), the
  ``dedup_minhash_pairs`` / ``curate_corpus`` candidate stage;
* simhash60   — ``operators.textops.simhash60`` + the 4x15-bit
  pigeonhole band join of ``dedup_simhash_band60`` (the PRODUCTION
  simhash path);
* semdedup    — ``plans.kmeans.assign`` with K scaled proportionally
  to N (the IVF sizing rule the 100-TB argument relies on), candidate
  pairs = sum over cells of n*(n-1)/2; centroids are sampled ACROSS
  the expanded corpus (hash-ordered), so centroid coverage scales with
  N as the rule requires;
* phash / afp — the media near-dup band joins
  (``multimodal_phash_neardup`` / ``multimodal_audio_fp_neardup``'s
  candidate stages) under the PRODUCTION sizing rule ``band-value
  space ~ N`` (:func:`media_bucket_count`): wide gradient-bit bands
  (which come free with asset size — bigger image -> more
  pixel-neighbor pairs, longer clip -> more window-energy pairs)
  bucketed down to B ~ N values, preserving the pigeonhole recall
  guarantee while pinning expected bucket occupancy. The registered
  queries' fixed 4x15 configuration is this curve's B=2^15 point.
  md5-uniform fingerprints mean these two families measure the pure
  random-collision floor — the hardest case, since no near-dup
  structure hides saturation.

``--include-pedagogical`` additionally measures the BOUNDED 16-bit
simhash fixture (``dedup_simhash_pairs``) for documentation: its 256
band values saturate and its exponent is expected ~2 — that family is
labeled and EXEMPT from the exit-code gate, because the registered
query fail-fasts beyond its envelope instead of running at scale.

Usage:
    python tools/scale_curve.py [--sf-dir /root/testdata/sf0.1]
                                [--scales 1,3,10]
                                [--include-pedagogical]

Prints one row per (family, scale) plus a fitted log-log growth
exponent per family; exits non-zero if any gated family's
candidate-count exponent reaches 1.5 (i.e. looks closer to quadratic
than linear). tests/test_scale_curve.py runs the same measurement at
sf0.01 with scales (1, 3) as a regression gate.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EXPONENT_LIMIT = 1.5  # fail when candidate growth looks quadratic


def expand_documents(docs: DataFrame, scale: int) -> DataFrame:
    """S copies; copy k>0 suffixes every token with _k (disjoint
    shingle space across copies, isomorphic structure within)."""
    parts = [docs.select("doc_id", "text")]
    for k in range(1, scale):
        parts.append(
            docs.select(
                (F.col("doc_id") + k * 10_000_000).alias("doc_id"),
                F.regexp_replace("text", r"(\S+)", f"$1_{k}").alias("text"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def expand_embeddings(emb: DataFrame, scale: int, dim: int) -> DataFrame:
    """S copies; copy k>0 cyclically shifts dimensions by k (norms and
    within-copy cosines preserved, cross-copy geometry decorrelated)."""
    parts = [emb.select("vec_id", "x")]
    for k in range(1, scale):
        shift = k % dim or 1
        parts.append(
            emb.select(
                (F.col("vec_id") + k * 10_000_000).alias("vec_id"),
                F.concat(
                    F.slice("x", shift + 1, dim - shift), F.slice("x", 1, shift)
                ).alias("x"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def minhash_lsh_candidates(docs: DataFrame) -> int:
    from wikistream_event_data_pipeline_aws_spark.operators.textops import (
        lsh_candidate_pairs,
        minhash_signature,
    )

    sigs = minhash_signature(
        docs, "doc_id", "text", n_hashes=8, include_all_docs=False
    )
    return lsh_candidate_pairs(sigs, "doc_id", n_hashes=8, rows_per_band=2).count()


def simhash16_candidates(docs: DataFrame) -> int:
    """The bounded pedagogical 16-bit fixture's band join (diagnostic
    only — see module docstring; the registered query fail-fasts past
    its envelope, so this family is exempt from the gate)."""
    from wikistream_event_data_pipeline_aws_spark.operators.textops import simhash16

    sig = simhash16(docs, "doc_id", "text")
    banded = sig.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("bi"), (F.col("simhash") % 256).alias("bv")),
                F.struct(F.lit(1).alias("bi"), F.expr("simhash div 256").alias("bv")),
            )
        ).alias("band"),
    ).select("doc_id", F.col("band.bi").alias("bi"), F.col("band.bv").alias("bv"))
    l, r = banded.alias("l"), banded.alias("r")
    return (
        l.join(
            r,
            (F.col("l.bi") == F.col("r.bi"))
            & (F.col("l.bv") == F.col("r.bv"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select("l.doc_id", "r.doc_id")
        .distinct()
        .count()
    )


def simhash60_candidates(docs: DataFrame) -> int:
    """The PRODUCTION simhash band join (``dedup_simhash_band60``):
    60-bit fingerprint, 4 bands x 15 bits -> 2^15 band values stay
    sparse as the corpus grows."""
    from wikistream_event_data_pipeline_aws_spark.operators.textops import simhash60
    from wikistream_event_data_pipeline_aws_spark.plans.dedup import SIMHASH60_BANDS

    sig = simhash60(docs, "doc_id", "text")
    banded = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("bi"),
                        F.shiftright(F.col("simhash60"), 15 * j)
                        .bitwiseAND(0x7FFF)
                        .alias("bv"),
                    )
                    for j in range(SIMHASH60_BANDS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", F.col("band.bi").alias("bi"), F.col("band.bv").alias("bv"))
    l, r = banded.alias("l"), banded.alias("r")
    return (
        l.join(
            r,
            (F.col("l.bi") == F.col("r.bi"))
            & (F.col("l.bv") == F.col("r.bv"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select("l.doc_id", "r.doc_id")
        .distinct()
        .count()
    )


N_MEDIA_BANDS = 4  # pigeonhole-complete at Hamming<=3, like simhash60
MEDIA_BAND_BITS = 24  # tool fingerprint: wide bands, bucketed down


def media_bucket_count(n_assets: int) -> int:
    """The media-fingerprint PRODUCTION sizing rule (the banded-join
    analogue of embedding-LSH's ``n_planes ~ log2(N)`` and semdedup's
    ``K ~ N``): the band-value space B grows linearly with the asset
    count, keeping expected bucket occupancy — and therefore candidate
    pairs per asset — constant as the corpus grows. Implemented as
    ``band_value % B`` over a fingerprint whose bands are WIDER than
    log2(B) (wide bands come free with asset size: a bigger image has
    more pixel-neighbor gradient pairs, a longer clip more
    window-energy pairs). Bucketing down preserves the pigeonhole
    recall guarantee exactly — two assets within Hamming<=3 share an
    EQUAL band, and equal band values land in the same bucket for any
    B — it only admits extra candidates (different values, same
    bucket), which this rule holds to ~N/2 total. The registered
    queries' fixed 4x15 configuration is the B=2^15 point of this
    curve, correct up to ~2^12 assets per modality."""
    return max(64, 4 * n_assets)


def _md5_byte_exprs(n_bytes: int) -> list[str]:
    """Spark-SQL exprs for the md5-chain payload bytes the media
    corpus builder derives from the document text (block 0 =
    md5(text), block m = md5(text || '#m')) — the same byte definition
    ``plans.multimodal._payload_hex`` materializes, computed inline so
    this tool isolates the JOIN's growth from the codec plumbing
    (their identity is what the registered queries' oracles prove)."""
    out = []
    for i in range(n_bytes):
        blk = i // 16
        h = "md5(text)" if blk == 0 else f"md5(concat(text, '#{blk}'))"
        out.append(
            f"CAST(conv(substring({h}, {2 * (i % 16) + 1}, 2), 16, 10) AS INT)"
        )
    return out


def _banded_pair_count(sig: DataFrame) -> int:
    """Distinct candidate pairs of the (band index, band value)
    equi-join over ``bv0..bv{N_MEDIA_BANDS-1}`` signature columns —
    the identical join shape every banded Hamming query runs."""
    banded = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("bi"), F.col(f"bv{j}").alias("bv")
                    )
                    for j in range(N_MEDIA_BANDS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", F.col("band.bi").alias("bi"), F.col("band.bv").alias("bv"))
    l, r = banded.alias("l"), banded.alias("r")
    return (
        l.join(
            r,
            (F.col("l.bi") == F.col("r.bi"))
            & (F.col("l.bv") == F.col("r.bv"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select("l.doc_id", "r.doc_id")
        .distinct()
        .count()
    )


def phash_candidates(docs: DataFrame, n_buckets: int) -> int:
    """The perceptual-hash band join (``multimodal_phash_neardup``'s
    candidate stage) under the production sizing rule: a 4-row image
    grid gives one dHash gradient-bit band per pixel row (bands
    independent by construction — the registered query's 16x4 grid is
    this shape at 15 bits), each band bucketed to ``n_buckets ~ N``
    values (:func:`media_bucket_count`)."""
    w = MEDIA_BAND_BITS
    px = _md5_byte_exprs(N_MEDIA_BANDS * (w + 1))
    band_exprs = []
    for j in range(N_MEDIA_BANDS):
        row = px[(w + 1) * j : (w + 1) * (j + 1)]
        bits = " + ".join(
            f"IF({row[k]} < {row[k + 1]}, CAST({1 << k} AS BIGINT), "
            f"CAST(0 AS BIGINT))"
            for k in range(w)
        )
        band_exprs.append(f"pmod({bits}, {n_buckets})")
    sig = docs.filter(F.col("doc_id") % 3 == 0).select(
        "doc_id", *[F.expr(b).alias(f"bv{j}") for j, b in enumerate(band_exprs)]
    )
    return _banded_pair_count(sig)


def afp_candidates(docs: DataFrame, n_buckets: int) -> int:
    """The acoustic-fingerprint band join
    (``multimodal_audio_fp_neardup``'s candidate stage) under the
    production sizing rule: a (4w+4)-sample clip gives 2w+1
    overlapping 4-sample windows x 2 even/odd sub-bands, whose
    consecutive-window energy-gradient signs are 4 bands of w
    Haitsma-Kalker bits (the registered query's 64-sample fingerprint
    is this shape at w=15), each band bucketed to ``n_buckets ~ N``
    values (:func:`media_bucket_count`)."""
    w = MEDIA_BAND_BITS
    b = _md5_byte_exprs(4 * w + 4)

    def e(i: int, sub: int) -> str:
        return (
            f"({b[2 * i + sub]} * {b[2 * i + sub]}"
            f" + {b[2 * i + 2 + sub]} * {b[2 * i + 2 + sub]})"
        )

    band_exprs = []
    for j in range(N_MEDIA_BANDS):
        bits = []
        for k in range(w):
            t = j * w + k
            sub, i = t // (2 * w), t % (2 * w)
            bits.append(
                f"IF({e(i, sub)} < {e(i + 1, sub)}, CAST({1 << k} AS BIGINT), "
                f"CAST(0 AS BIGINT))"
            )
        band_exprs.append(f"pmod({' + '.join(bits)}, {n_buckets})")
    sig = docs.filter(F.col("doc_id") % 3 == 1).select(
        "doc_id", *[F.expr(x).alias(f"bv{j}") for j, x in enumerate(band_exprs)]
    )
    return _banded_pair_count(sig)


def embedding_lsh_candidates(emb: DataFrame, n_planes: int, dim: int) -> int:
    """Candidate-pair count of the multi-table random-hyperplane LSH
    self-join (``operators.similarity.embedding_near_duplicates``'s
    candidate stage), under the PRODUCTION sizing rule: ``n_planes``
    grows with log2(N) so the 2^n_planes bucket space keeps expected
    bucket size constant — the hyperplane count is a knob, exactly as
    IVF's K is, and linearity holds only if you turn it (a fixed plane
    count saturates the same way 16-bit simhash bands do)."""
    from wikistream_event_data_pipeline_aws_spark.operators.similarity import (
        lsh_bucket_key,
    )

    n_tables = 4
    sigs = emb.select(
        F.col("vec_id").alias("vid"),
        F.posexplode(
            F.array(
                *[
                    lsh_bucket_key("x", dim, n_planes, table=t)
                    for t in range(n_tables)
                ]
            )
        ).alias("table", "bucket"),
    ).localCheckpoint(eager=True)
    return (
        sigs.join(
            sigs.select(F.col("vid").alias("vid_b"), "table", "bucket"),
            ["table", "bucket"],
        )
        .filter(F.col("vid") < F.col("vid_b"))
        .select("vid", "vid_b")
        .distinct()
        .count()
    )


def semdedup_candidates(emb: DataFrame, k_cells: int) -> int:
    """Within-cell pair count under nearest-centroid assignment with
    K ~ N. Centroids are a hash-ordered sample of the WHOLE (expanded)
    corpus — not the first k ids, which at scale S would all come from
    the base 1x copy and leave the S-1 decorrelated copies force-fitted
    to foreign centroids, under-measuring the K~N rule the 100-TB
    argument relies on."""
    from wikistream_event_data_pipeline_aws_spark.plans.kmeans import assign

    cents = (
        emb.orderBy(F.md5(F.col("vec_id").cast("string")))
        .limit(k_cells)
        .select(F.col("vec_id").alias("cid"), F.col("x").alias("c"))
    )
    a = assign(emb, cents)
    row = (
        a.groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.sum(F.expr("n * (n - 1) / 2")).alias("cand"))
        .first()
    )
    return int(row["cand"] or 0)


def containment_candidates(docs: DataFrame) -> int:
    """``dedup_containment``'s candidate-generating work: the rare-
    shingle self-join emits sum over shingles with df <= CONTAIN_DF_MAX
    of df*(df-1)/2 ordered pairs (its downstream integer prune and the
    exact rescoring are candidate-bounded, so this join IS the scale
    term). The corpus expansion keeps per-copy shingle universes
    disjoint, so df per shingle is scale-invariant and the sum grows
    ~linearly in N — the claim this family measures."""
    from wikistream_event_data_pipeline_aws_spark.operators.textops import (
        exploded_shingles,
    )
    from wikistream_event_data_pipeline_aws_spark.plans.dedup import (
        CONTAIN_DF_MAX,
    )

    sh = exploded_shingles(docs, "doc_id", "text", k=3).distinct()
    row = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= CONTAIN_DF_MAX)
        .agg(F.sum(F.expr("df * (df - 1) / 2")).alias("cand"))
        .first()
    )
    return int(row["cand"] or 0)


def substring_candidates(docs: DataFrame, clone_offset: int = 500_000_000) -> int:
    """``dedup_substring_spans``'s scale-carrying term: the number of
    duplicated-window OCCURRENCES that survive the md5-keyed hash agg
    and flow into the per-doc gaps-and-islands window (everything
    upstream is a map-side projection; everything downstream is
    per-doc bounded). The op has no pairwise stage at all, so this IS
    its only data-dependent fan-out — expected exponent ~1.0. Each
    corpus copy gets its own planted whole-doc clones (ids offset past
    the expansion's 10M stride), mirroring the registered query's
    augmented corpus, so duplicate density is scale-invariant like the
    other families.

    ``clone_offset`` must clear every expansion copy's id range:
    expand_documents strides copies at k·10M, so a fixed 500M offset
    aliases real expansion rows once a copy index reaches 50 — callers
    with user-supplied scales pass (max(scales)+1)·10M instead (run()
    does), keeping clone ids disjoint from the corpus at any scale."""
    from wikistream_event_data_pipeline_aws_spark.plans.dedup import (
        _substring_spans,
    )

    max_id = docs.agg(F.max("doc_id")).first()[0] or 0
    if max_id >= clone_offset:
        raise ValueError(
            f"clone_offset {clone_offset} does not clear the corpus id "
            f"range (max doc_id {max_id}) — planted clones would alias "
            "real rows; pass a larger offset"
        )
    clones = docs.filter(F.col("doc_id") % 10_000_000 < 10).select(
        (F.col("doc_id") + clone_offset).alias("doc_id"), "text"
    )
    res = _substring_spans(docs.unionByName(clones))
    row = res.agg(F.sum("n_dup_windows").alias("cand")).first()
    return int(row["cand"] or 0)


def bootstrap_b_family(
    spark: SparkSession, sf_dir: str, bs: list[int]
) -> dict:
    """The ``stats_bootstrap_ci_mean`` B-knob cost curve (VERDICT r10
    item 4): the docstring claims CPU linear in B with the shuffle
    pinned at |types|·B rows regardless of B — "production raises B to
    1000+" is only honest if that's MEASURED. Axis here is B (not
    corpus size): per B, run the real factored plan
    (``plans.stats._bootstrap_ci_plan``) end-to-end and time it, and
    count the rows the (type, b) partial agg actually shuffles.
    ``candidates`` = measured shuffle rows (expected exactly |types|·B,
    exponent 1.0); ``all_pairs`` = N·B, the naive full-resample
    materialization a per-resample repartition would carry;
    ``time_exponent`` = fitted wall-clock growth vs B — overhead
    deflates it below 1 at small B, a shuffle cliff would push it
    past the gate. The timing leg is best-of-2 per B (hypervisor steal
    inflates individual runs 10-35x on this host — r11's all-day
    degradation — but barely touches the minimum across repeats, the
    same robustness argument behind the bench gate's min-baseline) and
    is ADVISORY: the hard gate is the shuffle-row exponent, which no
    amount of host contention can move."""
    import time

    from wikistream_event_data_pipeline_aws_spark.catalog import load_table
    from wikistream_event_data_pipeline_aws_spark.plans.stats import (
        _bootstrap_ci_plan,
    )

    n_events = load_table(spark, sf_dir, "events").count()
    rows = []
    for b in bs:
        shuffle_rows = _bootstrap_ci_plan(
            spark, sf_dir, b, means_only=True
        ).count()
        dt = None
        for _ in range(2):
            t0 = time.monotonic()
            _bootstrap_ci_plan(spark, sf_dir, b).collect()
            run = time.monotonic() - t0
            dt = run if dt is None else min(dt, run)
        rows.append(
            {
                "scale": b,
                "n": b,
                "candidates": shuffle_rows,
                "all_pairs": n_events * b,
                "seconds": round(dt, 3),
            }
        )
    exp_c = fit_exponent([(r["n"], r["candidates"]) for r in rows])
    exp_t = fit_exponent(
        [(r["n"], max(int(r["seconds"] * 1000), 1)) for r in rows]
    )
    return {
        "rows": rows,
        "candidate_exponent": round(exp_c, 3),
        "all_pairs_exponent": round(
            fit_exponent([(r["n"], r["all_pairs"]) for r in rows]), 3
        ),
        "time_exponent": round(exp_t, 3),
        # the hard linearity verdict rides on the shuffle-row exponent
        # alone; the wall-clock exponent (two timed points on a host
        # with documented steal windows) is reported separately, outside
        # the verdict, so a noisy run can't flip the gate
        "linear": exp_c < EXPONENT_LIMIT,
        "time_linear": exp_t < EXPONENT_LIMIT,
        "gated": True,
    }


def fit_exponent(points: list[tuple[int, int]]) -> float:
    """Least-squares slope of log(candidates) vs log(N)."""
    xs = [math.log(n) for n, _ in points]
    ys = [math.log(max(c, 1)) for _, c in points]
    mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
    denom = sum((x - mx) ** 2 for x in xs)
    if denom == 0:
        return float("nan")
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / denom


GATE_EXEMPT = {"simhash16_pedagogical"}


def run(
    sf_dir: str,
    scales: list[int],
    spark: SparkSession | None = None,
    include_pedagogical: bool = False,
    boot_bs: tuple[int, ...] = (64, 256),
) -> dict:
    owns = spark is None
    if owns:
        spark = (
            SparkSession.builder.master(f"local[{os.cpu_count() or 8}]")
            .config("spark.sql.shuffle.partitions", "32")
            .config("spark.ui.enabled", "false")
            # 32 local executor threads in the default 1g heap OOM on the
            # scale-10 band joins; size like the engine session does
            .config(
                "spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
            )
            .getOrCreate()
        )
    from wikistream_event_data_pipeline_aws_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("x")
    )
    dim = len(emb.select("x").first()["x"])
    n_docs, n_vecs = docs.count(), emb.count()
    # K ~ N: target cell size fixed, cells grow with the corpus (IVF rule)
    k_base = max(4, n_vecs // 100)

    families = [
        "minhash_lsh", "simhash60", "semdedup", "embedding_lsh",
        "phash", "afp", "containment_rare", "substring_dup",
    ]
    if include_pedagogical:
        families.append("simhash16_pedagogical")
    results: dict[str, list[dict]] = {f: [] for f in families}
    # clone ids must clear EVERY expansion copy's k*10M id stride at the
    # largest requested scale (a fixed 500M offset aliases copy k=50)
    clone_offset = (max(scales) + 1) * 10_000_000
    for s in scales:
        d_s = expand_documents(docs, s).localCheckpoint(eager=True)
        e_s = expand_embeddings(emb, s, dim).localCheckpoint(eager=True)
        nd, nv = n_docs * s, n_vecs * s
        # n_planes ~ log2(N): keep expected bucket occupancy constant
        # as the corpus grows (the embedding-LSH analogue of K ~ N)
        n_planes = max(6, math.ceil(math.log2(max(nv, 2) / 8)))
        # band-bucket space ~ N: the media-fingerprint knob (one
        # modality is ~nd/3 assets after the residue slice)
        b_media = media_bucket_count(nd // 3)
        rows = [
            ("minhash_lsh", nd, minhash_lsh_candidates(d_s)),
            ("simhash60", nd, simhash60_candidates(d_s)),
            ("semdedup", nv, semdedup_candidates(e_s, k_base * s)),
            ("embedding_lsh", nv, embedding_lsh_candidates(e_s, n_planes, dim)),
            ("phash", nd, phash_candidates(d_s, b_media)),
            ("afp", nd, afp_candidates(d_s, b_media)),
            ("containment_rare", nd, containment_candidates(d_s)),
            ("substring_dup", nd, substring_candidates(d_s, clone_offset)),
        ]
        if include_pedagogical:
            rows.append(("simhash16_pedagogical", nd, simhash16_candidates(d_s)))
        for fam, n, cand in rows:
            results[fam].append(
                {
                    "scale": s,
                    "n": n,
                    "candidates": cand,
                    "all_pairs": n * (n - 1) // 2,
                }
            )

    summary = {}
    for fam, rows in results.items():
        exp_c = fit_exponent([(r["n"], r["candidates"]) for r in rows])
        exp_a = fit_exponent([(r["n"], r["all_pairs"]) for r in rows])
        summary[fam] = {
            "rows": rows,
            "candidate_exponent": round(exp_c, 3),
            "all_pairs_exponent": round(exp_a, 3),
            "linear": exp_c < EXPONENT_LIMIT,
            "gated": fam not in GATE_EXEMPT,
        }
    summary["bootstrap_B"] = bootstrap_b_family(spark, sf_dir, list(boot_bs))
    if owns:
        spark.stop()
    return summary


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    ap.add_argument("--scales", default="1,3,10")
    ap.add_argument("--boot-bs", default="64,256,1024")
    ap.add_argument("--include-pedagogical", action="store_true")
    args = ap.parse_args()
    scales = [int(s) for s in args.scales.split(",")]
    boot_bs = tuple(int(b) for b in args.boot_bs.split(","))
    summary = run(
        args.sf_dir,
        scales,
        include_pedagogical=args.include_pedagogical,
        boot_bs=boot_bs,
    )
    ok = True
    for fam, s in summary.items():
        for r in s["rows"]:
            print(
                f"{fam:20s} scale={r['scale']:>3} n={r['n']:>7} "
                f"candidates={r['candidates']:>10} all_pairs={r['all_pairs']:>14}"
            )
        print(
            f"{fam:20s} growth exponent: candidates {s['candidate_exponent']}"
            f" vs all-pairs {s['all_pairs_exponent']} -> "
            + ("LINEAR-ISH" if s["linear"] else "TOO STEEP")
            + ("" if s["gated"] else " (pedagogical, gate-exempt)")
        )
        ok = ok and (s["linear"] or not s["gated"])
    print(json.dumps({f: {k: v for k, v in s.items() if k != "rows"} for f, s in summary.items()}))
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
