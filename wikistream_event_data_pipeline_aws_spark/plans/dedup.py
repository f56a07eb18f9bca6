"""Document deduplication queries (north-star LLM-data ops).

The synthetic documents are all distinct, so near-dup queries augment
the corpus inside the query with cloned/perturbed copies (doc_id +
100000) — the dedup operators must then find exactly those planted
pairs plus any organic ones, all DuckDB-verifiable.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.clusters import connected_components
from ..operators.textops import (
    MINHASH_PRIME,
    MINHASH_SEEDS,
    STOPWORDS,
    exploded_shingles,
    fingerprint,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signature,
    simhash16,
    simhash60,
    tokenize,
)

CLONE_OFFSET = 100_000


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition to the session's default parallelism.

    The map-only simhash signatures inherit the parquet scan's split
    count — at small SF that is 1-2 partitions, and once the signature
    is localCheckpoint-fenced the (broadcast) banded self-join downstream
    would run on those few partitions, serializing the expensive bucket
    expansion. One cheap shuffle of the slim (id, fingerprint) rows
    restores full parallelism; at 100 TB the scan has thousands of
    splits and this is a near-no-op rebalance of ~16 bytes/doc."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n)


_DOCS_AUG_SQL = f"""
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {CLONE_OFFSET} AS doc_id,
         concat(text, ' cloned tail token') AS text
  FROM documents WHERE doc_id < 20
"""


def _docs_augmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    clones = (
        d.filter(F.col("doc_id") < 20)
        .select(
            (F.col("doc_id") + CLONE_OFFSET).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" cloned tail token")).alias("text"),
        )
    )
    return d.unionByName(clones)


# -- exact dedup ---------------------------------------------------------------


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact hash-groupBy dedup over the canonical token fingerprint:
    per group keep min doc_id, count members."""
    d = _docs_augmented(spark, sf_dir)
    fp = fingerprint(tokenize(F.col("text")))
    return (
        d.withColumn("fp", fp)
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


DEDUP_EXACT_SQL = rf"""
WITH docs_aug AS ({_DOCS_AUG_SQL}),
fps AS (
  SELECT doc_id,
         md5(array_to_string(list_sort(list_distinct(string_split_regex(trim(text), '\s+'))), ' ')) AS fp
  FROM docs_aug
)
SELECT fp, COUNT(*) AS n_docs, MIN(doc_id) AS keeper_doc_id
FROM fps GROUP BY fp HAVING COUNT(*) > 1
"""

# -- minhash signatures ---------------------------------------------------------

N_HASHES = 8


def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return minhash_signature(d, "doc_id", "text", n_hashes=N_HASHES)


# one md5 per shingle -> 60-bit int -> affine permutations mod p
# (mirrors textops.hex_hash + MINHASH_SEEDS exactly)
_MH_HASH_SQL = (
    "CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT)"
    f" % {MINHASH_PRIME}"
)
_MH_COLS = ",\n       ".join(
    f"MIN(({a} * h + {b}) % {MINHASH_PRIME}) AS m{j}"
    for j, (a, b) in enumerate(MINHASH_SEEDS[:N_HASHES])
)

_SHINGLES_SQL = r"""
  SELECT doc_id,
         unnest(CASE WHEN len(t) >= 3
                     THEN list_transform(range(1, len(t) - 1),
                                         i -> concat_ws(' ', t[i], t[i+1], t[i+2]))
                     ELSE [] END) AS shingle
  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM {src})
"""

_SIGS_SQL = rf"""
  SELECT doc_id, {_MH_COLS}
  FROM (SELECT doc_id, {_MH_HASH_SQL} AS h FROM ({{shingles}}))
  GROUP BY doc_id
"""

DEDUP_MINHASH_SIGNATURES_SQL = rf"""
WITH sh AS ({_SHINGLES_SQL.format(src="documents")}),
sigs AS ({_SIGS_SQL.format(shingles="SELECT * FROM sh")})
SELECT d.doc_id, {", ".join(f"m{j}" for j in range(N_HASHES))}
FROM (SELECT doc_id FROM documents) d
LEFT JOIN sigs USING (doc_id)
"""

# -- minhash LSH near-dup pairs -------------------------------------------------


def _minhash_pairs_from_docs(d: DataFrame) -> DataFrame:
    """Full LSH pipeline over a (doc_id, text) DataFrame: shingle ->
    minhash -> band -> bucket join -> exact Jaccard verify. Factored so
    consumers that already hold a fenced corpus (``dedup_method_
    agreement``) share it instead of re-reading and re-augmenting."""
    sigs = minhash_signature(
        d, "doc_id", "text", n_hashes=N_HASHES, include_all_docs=False
    )
    cands = lsh_candidate_pairs(sigs, "doc_id", n_hashes=N_HASHES, rows_per_band=2)
    # materialize the (tiny) candidate set once: the verify stage references
    # it three times and would otherwise recompute the banding join each time
    cands = cands.localCheckpoint(eager=True)
    pairs = jaccard_pairs(d, "doc_id", "text", k=3, candidates=cands)
    return pairs.filter(F.col("jaccard") >= 0.5).select(
        "id_a", "id_b", "n_shared", "n_a", "n_b", "jaccard"
    )


# (applicationId, sf_dir, data_fingerprint) -> the verified LSH pair
# set over the augmented corpus. r13 optimization (guide §1.2 "don't
# compute things twice", same memo discipline as plans/bpe.py's
# _word_grain: app-id eviction + file-identity fingerprint): SIX
# queries consume this exact kernel per session — dedup_minhash_pairs
# itself, dedup_clusters, dedup_cluster_keepers, split_leakage_audit
# (all via dedup_minhash_pairs) and both agreement queries' lsh leg —
# and each used to re-run the corpus-scale shingle explode + minhash
# agg + band bucket join + exact-Jaccard verify from the parquet scan.
# At 100 TB that corpus pass IS the family's dominant cost; one lazy
# localCheckpoint makes the first consumer materialize it and the rest
# reuse the checkpointed blocks. Nothing is persisted across sessions
# (the app-id key dies with the SparkContext) and results are
# bit-identical: the memo wraps the unchanged pair algebra.
def _minhash_pairs_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.memo import session_memo

    # N_HASHES is in the key (ADVICE r13): the cached plan bakes it in,
    # so a same-session constant change must be a cache miss
    # NOT _spread: measured same-window A/B (r14) — unlike the map-only
    # simhash votes, the md5-per-shingle volume here is partial-agg'd
    # straight off the scan and is not the cost at bench SF (2.29s
    # no-spread vs 2.57s spread warm); the extra exchange buys nothing.
    return session_memo(
        spark,
        "minhash_pairs",
        sf_dir,
        ("documents",),
        (N_HASHES,),
        lambda: _minhash_pairs_from_docs(_docs_augmented(spark, sf_dir)).localCheckpoint(
            eager=False
        ),
    )


def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full LSH pipeline: shingle -> minhash -> band -> bucket join ->
    exact Jaccard verify. Planted clones must surface."""
    return _minhash_pairs_shared(spark, sf_dir)


DEDUP_MINHASH_PAIRS_SQL = rf"""
WITH docs_aug AS ({_DOCS_AUG_SQL}),
sh_all AS ({_SHINGLES_SQL.format(src="docs_aug")}),
sh AS (SELECT DISTINCT doc_id, shingle FROM sh_all),
sigs AS ({_SIGS_SQL.format(shingles="SELECT * FROM sh_all")}),
banded AS (
  SELECT doc_id, 0 AS band, concat_ws('|', m0, m1) AS bucket FROM sigs
  UNION ALL SELECT doc_id, 1, concat_ws('|', m2, m3) FROM sigs
  UNION ALL SELECT doc_id, 2, concat_ws('|', m4, m5) FROM sigs
  UNION ALL SELECT doc_id, 3, concat_ws('|', m6, m7) FROM sigs
),
cands AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM banded l JOIN banded r
    ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
),
sizes AS (
  SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id
),
shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
verified AS (
  SELECT s.id_a, s.id_b, s.n_shared,
         sa.n_shingles AS n_a, sb.n_shingles AS n_b,
         s.n_shared / CAST(sa.n_shingles + sb.n_shingles - s.n_shared AS DOUBLE) AS jaccard
  FROM shared s
  JOIN cands c ON s.id_a = c.id_a AND s.id_b = c.id_b
  JOIN sizes sa ON s.id_a = sa.doc_id
  JOIN sizes sb ON s.id_b = sb.doc_id
)
SELECT id_a, id_b, n_shared, n_a, n_b, jaccard
FROM verified WHERE jaccard >= CAST(0.5 AS DOUBLE)
"""

# -- n-gram Jaccard (no LSH pre-filter) -----------------------------------------


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-co-shingled-pairs Jaccard — the quadratic baseline the
    LSH path is measured against. Bounded to a deterministic 2000-doc
    slice: the unbounded form is exactly what minhash+LSH exists to
    avoid at scale."""
    d = _docs_augmented(spark, sf_dir).filter(
        (F.col("doc_id") % CLONE_OFFSET) < 2000
    )
    return (
        jaccard_pairs(d, "doc_id", "text", k=3)
        .filter(F.col("jaccard") >= 0.6)
        .select("id_a", "id_b", "jaccard")
    )


DEDUP_NGRAM_JACCARD_SQL = rf"""
WITH docs_aug AS ({_DOCS_AUG_SQL}),
toks AS (
  -- the 2000-doc slice MUST mirror the Spark side: invisible at
  -- sf<=0.01 (every doc_id falls inside it), a 65-vs-278-row mismatch
  -- at sf0.1 (caught by the full-parity replay at sf0.1, round 5)
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
  FROM docs_aug WHERE doc_id % {CLONE_OFFSET} < 2000
),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(CASE WHEN len(t) >= 3
                     THEN list_transform(range(1, len(t) - 1),
                                         i -> concat_ws(' ', t[i], t[i+1], t[i+2]))
                     ELSE [] END) AS shingle
  FROM toks
),
sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b,
       n_shared / CAST(sa.n_shingles + sb.n_shingles - n_shared AS DOUBLE) AS jaccard
FROM shared
JOIN sizes sa ON id_a = sa.doc_id
JOIN sizes sb ON id_b = sb.doc_id
WHERE n_shared / CAST(sa.n_shingles + sb.n_shingles - n_shared AS DOUBLE) >= CAST(0.6 AS DOUBLE)
"""

# -- near-dup clusters (pairs -> transitive closure -> canonical keeper) --------


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resolution step of near-dup dedup: the verified LSH pair graph
    collapsed into clusters via smallest-label propagation
    (``operators.clusters.connected_components``), one deterministic
    canonical keeper (the minimum doc_id) per cluster. This is what a
    dedup POLICY consumes — pairs alone can't tell you which docs to
    drop when clones chain (a~b, b~c)."""
    pairs = dedup_minhash_pairs(spark, sf_dir).select("id_a", "id_b")
    labels = connected_components(pairs, "id_a", "id_b")
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        (F.col("node") == F.col("label")).alias("is_keeper"),
    )


DEDUP_CLUSTERS_SQL = rf"""
WITH RECURSIVE pairs AS ({DEDUP_MINHASH_PAIRS_SQL}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(node, label) AS (
  SELECT src AS node, src AS label FROM edges
  UNION
  SELECT e.dst AS node, r.label
  FROM reach r JOIN edges e ON e.src = r.node
)
SELECT node AS doc_id,
       MIN(label) AS cluster_id,
       node = MIN(label) AS is_keeper
FROM reach
GROUP BY node
"""

def dedup_cluster_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical-document selection — the policy refinement
    of ``dedup_clusters``: within each near-dup cluster keep the HIGHEST
    quality-score member (min doc_id only breaks exact ties), which is
    what a curation pipeline actually wants — dropping the cleaner copy
    because it has a larger id throws away signal. The score is the
    ``text_quality_score`` heuristic evaluated over the augmented corpus
    with the identical expression tree on both engines, so even the
    float ordering is reproducible; the keeper flag is a row_number over
    a cluster-partitioned window (clusters are tiny by construction —
    LSH-verified near-dups — so the window never skews)."""
    d = _docs_augmented(spark, sf_dir)
    pairs = dedup_minhash_pairs(spark, sf_dir).select("id_a", "id_b")
    labels = connected_components(pairs, "id_a", "id_b")
    # the SHARED expression tree from operators/textops — keeper choice
    # is defined to rank by the exact published text_quality_score
    from ..operators.textops import quality_score_parts

    score = quality_score_parts(F.col("text"))["score"]
    q = d.select("doc_id", score.alias("quality_score"))
    j = labels.join(q, labels["node"] == q["doc_id"]).select(
        "doc_id", F.col("label").alias("cluster_id"), "quality_score"
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality_score").desc(), F.col("doc_id").asc()
    )
    return j.withColumn("is_keeper_quality", F.row_number().over(w) == 1)


# SQL quality expression over the augmented corpus: same token split and
# stopword list as plans/text.py's TEXT_QUALITY_SCORE_SQL (kept literal
# here because the source relation differs: docs_aug, not documents).
_TOKS_AUG_SQL = r"string_split_regex(trim(text), '\s+')"
_STOP_LIST_SQL = "[" + ", ".join(f"'{s}'" for s in STOPWORDS) + "]"

DEDUP_CLUSTER_KEEPERS_SQL = rf"""
WITH RECURSIVE pairs AS ({DEDUP_MINHASH_PAIRS_SQL}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(node, label) AS (
  SELECT src AS node, src AS label FROM edges
  UNION
  SELECT e.dst AS node, r.label
  FROM reach r JOIN edges e ON e.src = r.node
),
labels AS (
  SELECT node, MIN(label) AS cluster_id FROM reach GROUP BY node
),
docs_aug AS ({_DOCS_AUG_SQL}),
m AS (
  SELECT doc_id,
         CAST(len({_TOKS_AUG_SQL}) AS INTEGER) AS n_tokens,
         len(list_filter({_TOKS_AUG_SQL}, x -> list_contains({_STOP_LIST_SQL}, x))) AS n_stop,
         len(list_distinct({_TOKS_AUG_SQL})) AS n_distinct
  FROM docs_aug
),
q AS (
  SELECT doc_id,
         LEAST(CAST(1.0 AS DOUBLE), n_tokens / CAST(50.0 AS DOUBLE))
           * (CAST(0.5 AS DOUBLE) + CAST(0.5 AS DOUBLE) * (n_distinct / NULLIF(CAST(n_tokens AS DOUBLE), 0.0)))
           * (CAST(1.0 AS DOUBLE) - CAST(0.5 AS DOUBLE) * (n_stop / NULLIF(CAST(n_tokens AS DOUBLE), 0.0))) AS quality_score
  FROM m
)
SELECT l.node AS doc_id, l.cluster_id, q.quality_score,
       ROW_NUMBER() OVER (PARTITION BY l.cluster_id
                          ORDER BY q.quality_score DESC, l.node ASC) = 1
         AS is_keeper_quality
FROM labels l JOIN q ON q.doc_id = l.node
"""


_SWEEP_ROWS_PER_BAND = (1, 2, 4, 8)  # over the 8 minhash values


def dedup_lsh_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH band-configuration tuning frontier for near-dup DEDUP — the
    dedup twin of ``similarity_ann_sweep``: for every (bands ×
    rows-per-band) factorization of the 8-value signature, the
    candidate volume, recall against the exact-Jaccard ground truth
    (J ≥ 0.5 over co-shingled pairs — computed ONCE), and precision.
    More rows per band → higher bucket specificity → fewer candidates
    but lower recall; this artifact is how the threshold is chosen for
    a real corpus instead of folklore. Signatures are computed ONCE and
    checkpoint-fenced; each config re-bands the same 8 values (a
    projection, not a recompute); ground truth is checkpoint-fenced and
    reused by all configs. The truth leg carries the shared SAMPLING
    KNOB (``plans.similarity.AUDIT_SAMPLE_PER_MILLE``, 1000 = audit
    everything at test SF): recall/precision are measured against the
    exact-Jaccard pairs whose anchor (id_a) falls in the md5-sampled
    audit subset, so the expensive exact leg is a tunable fraction at
    100x — an unbiased recall estimate, same discipline as
    ``similarity_ann_recall``. All counts exact; the two rates are
    single float divisions."""
    from .similarity import AUDIT_SAMPLE_PER_MILLE, audit_sample_pred

    # audit-all (the test-SF default) takes the hash-free path: the
    # sampling predicate is one md5 per CANDIDATE row in the precision
    # denominator, which is pure waste when every anchor passes
    audit_all = AUDIT_SAMPLE_PER_MILLE >= 1000

    d = _docs_augmented(spark, sf_dir)
    # r14 (guide §2.3): ONE distinct shingle pass feeds BOTH legs — the
    # signature build (min over affine perms is duplicate-insensitive,
    # so distinct vs raw shingles is value-identical) and the exact-
    # Jaccard ground truth, which used to re-explode the corpus
    # separately. At 100 TB the shingle explode is the sweep's dominant
    # per-leg cost; here it is one pass instead of two.
    sh = (
        exploded_shingles(d, "doc_id", "text", k=3)
        .distinct()
        .localCheckpoint(eager=False)
    )
    sigs = minhash_signature(
        d, "doc_id", "text", n_hashes=N_HASHES, include_all_docs=False, shingles=sh
    ).localCheckpoint(eager=True)
    truth = jaccard_pairs(d, "doc_id", "text", k=3, shingles=sh).filter(
        F.col("jaccard") >= 0.5
    )
    if not audit_all:
        truth = truth.filter(
            audit_sample_pred(F.col("id_a"), AUDIT_SAMPLE_PER_MILLE)
        )
    truth = truth.select("id_a", "id_b").localCheckpoint(eager=True)
    n_truth = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    # r13 (guide §2.4): the (1, 2, 4, 8) rows-per-band grid is a
    # divisibility chain, so every config's candidate set is a SUBSET
    # of the single-row-band (r=1) collision set — a fully agreeing
    # r-band implies each of its 1-value sub-bands agrees. ONE bucket
    # join at r=1 with both signature vectors carried therefore feeds
    # every config as a per-pair flag column (any r-band fully equal),
    # and the per-config candidate/hit counts collapse into one scalar
    # agg + one truth join — the old shape paid a banded self-join,
    # a distinct and two scalar aggs per config.
    sig_arr = sigs.select(
        "doc_id", F.array(*[F.col(f"m{j}") for j in range(N_HASHES)]).alias("sig")
    )
    banded = sig_arr.select(
        "doc_id",
        "sig",
        F.explode(
            F.array(*[F.lit(j) for j in range(N_HASHES)])
        ).alias("band"),
    ).select(
        "doc_id", "sig", "band", F.col("sig")[F.col("band")].alias("bucket")
    )
    collided = (
        banded.alias("l")
        .join(
            banded.alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("id_a"),
            F.col("r.doc_id").alias("id_b"),
            F.col("l.sig").alias("__sa"),
            F.col("r.sig").alias("__sb"),
        )
    )

    def band_flag(r: int) -> F.Column:
        # any of the 8/r consecutive r-value bands fully agrees
        per_band = [
            reduce(
                lambda x, y: x & y,
                [
                    F.col("__sa")[b * r + p] == F.col("__sb")[b * r + p]
                    for p in range(r)
                ],
            )
            for b in range(N_HASHES // r)
        ]
        return reduce(lambda x, y: x | y, per_band)

    flagged = collided.select(
        "id_a",
        "id_b",
        *[
            band_flag(r).cast("int").alias(f"__f_{r}")
            for r in _SWEEP_ROWS_PER_BAND
        ],
    )
    pair_flags = (
        flagged.groupBy("id_a", "id_b")
        .agg(
            *[
                F.max(f"__f_{r}").alias(f"__f_{r}")
                for r in _SWEEP_ROWS_PER_BAND
            ]
        )
        .localCheckpoint(eager=False)
    )
    # n_candidates is the COST axis (always the full volume);
    # precision's denominator is the AUDITED-anchor candidate count
    # so the rate stays unbiased under truth sampling (the two are
    # equal at 1000 per-mille, where the hash is skipped entirely)
    audited = (
        F.lit(1).cast("long")
        if audit_all
        else audit_sample_pred(F.col("id_a"), AUDIT_SAMPLE_PER_MILLE).cast(
            "long"
        )
    )
    zero = F.lit(0).cast("long")
    n_c = pair_flags.agg(
        *[
            c
            for r in _SWEEP_ROWS_PER_BAND
            for c in (
                F.coalesce(F.sum(f"__f_{r}"), zero).alias(f"__n_{r}"),
                F.coalesce(F.sum(F.col(f"__f_{r}") * audited), zero).alias(
                    f"__na_{r}"
                ),
            )
        ]
    )
    n_h = pair_flags.join(truth, ["id_a", "id_b"]).agg(
        *[
            F.coalesce(F.sum(f"__f_{r}"), zero).alias(f"__h_{r}")
            for r in _SWEEP_ROWS_PER_BAND
        ]
    )
    summary = (
        n_c.crossJoin(n_h)
        .crossJoin(F.broadcast(n_truth))
        .localCheckpoint(eager=False)
    )
    parts = [
        summary.select(
            F.lit(N_HASHES // r).alias("n_bands"),
            F.lit(r).alias("rows_per_band"),
            F.col(f"__n_{r}").alias("n_candidates"),
            "n_truth",
            F.col(f"__h_{r}").alias("n_hits"),
            # zero-candidate / zero-truth guards (NULLIF both
            # engines): a one-band config can yield no candidates,
            # and a tiny slice no true pairs — 0/0 would RAISE under
            # Spark ANSI and NaN under DuckDB; undefined rate = NULL
            (
                F.col(f"__h_{r}").cast("double")
                / F.nullif(F.col("n_truth").cast("double"), F.lit(0.0))
            ).alias("recall"),
            (
                F.col(f"__h_{r}").cast("double")
                / F.nullif(F.col(f"__na_{r}").cast("double"), F.lit(0.0))
            ).alias("precision"),
        )
        for r in _SWEEP_ROWS_PER_BAND
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _lsh_sweep_sql() -> str:
    from .similarity import AUDIT_SAMPLE_PER_MILLE, audit_sample_sql

    aud_a = audit_sample_sql("id_a", AUDIT_SAMPLE_PER_MILLE)
    cfg_sql = []
    for r in _SWEEP_ROWS_PER_BAND:
        n_bands = N_HASHES // r
        cfg_sql.append(
            f"""
SELECT {n_bands} AS n_bands, {r} AS rows_per_band,
       (SELECT COUNT(*) FROM cands_{r}) AS n_candidates,
       (SELECT COUNT(*) FROM truth) AS n_truth,
       (SELECT COUNT(*) FROM cands_{r} c JOIN truth t
          ON c.id_a = t.id_a AND c.id_b = t.id_b) AS n_hits,
       CAST((SELECT COUNT(*) FROM cands_{r} c JOIN truth t
          ON c.id_a = t.id_a AND c.id_b = t.id_b) AS DOUBLE)
         / NULLIF(CAST((SELECT COUNT(*) FROM truth) AS DOUBLE), 0.0) AS recall,
       CAST((SELECT COUNT(*) FROM cands_{r} c JOIN truth t
          ON c.id_a = t.id_a AND c.id_b = t.id_b) AS DOUBLE)
         / NULLIF(CAST((SELECT COUNT(*) FROM cands_{r} WHERE {aud_a}) AS DOUBLE),
                  0.0) AS precision"""
        )
    bands_ctes = ",\n".join(
        f"""banded_{r} AS (
  {"  UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, concat_ws('|', "
        + ", ".join(f"m{b * r + i}" for i in range(r))
        + ") AS bucket FROM sigs"
        for b in range(N_HASHES // r)
    )}
),
cands_{r} AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM banded_{r} l JOIN banded_{r} r
    ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
)"""
        for r in _SWEEP_ROWS_PER_BAND
    )
    return rf"""
WITH docs_aug AS ({_DOCS_AUG_SQL}),
sh_all AS ({_SHINGLES_SQL.format(src="docs_aug")}),
sh AS (SELECT DISTINCT doc_id, shingle FROM sh_all),
sigs AS ({_SIGS_SQL.format(shingles="SELECT * FROM sh_all")}),
sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
truth AS (
  SELECT s.id_a, s.id_b
  FROM shared s
  JOIN sizes sa ON s.id_a = sa.doc_id
  JOIN sizes sb ON s.id_b = sb.doc_id
  WHERE s.n_shared / CAST(sa.n_shingles + sb.n_shingles - s.n_shared AS DOUBLE)
        >= CAST(0.5 AS DOUBLE)
    AND {audit_sample_sql("s.id_a", AUDIT_SAMPLE_PER_MILLE)}
),
{bands_ctes}
{" UNION ALL ".join(cfg_sql)}
"""


DEDUP_LSH_SWEEP_SQL = _lsh_sweep_sql()


# -- simhash --------------------------------------------------------------------


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return simhash16(d, "doc_id", "text")


_SIMHASH_BITS_SQL = " + ".join(
    f"(CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(16)
)
_SIMHASH_SUMS_SQL = ",\n       ".join(
    f"CAST(SUM(CASE WHEN ((h >> {b}) & 1) = 1 THEN 1 ELSE -1 END) AS BIGINT) AS b{b}"
    for b in range(16)
)

DEDUP_SIMHASH_SQL = rf"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
  FROM documents
),
hashed AS (
  SELECT doc_id, CAST(concat('0x', substr(md5(token), 1, 4)) AS INTEGER) AS h
  FROM tok
),
bit_sums AS (
  SELECT doc_id,
       {_SIMHASH_SUMS_SQL}
  FROM hashed GROUP BY doc_id
)
SELECT doc_id, {_SIMHASH_BITS_SQL} AS simhash
FROM bit_sums
"""


SIMHASH_HAM_MAX = 1  # pairs within this Hamming distance


SIMHASH16_MAX_DOCS = 20_000  # fail-fast envelope for the 16-bit fixture


def _check_sim16_envelope(n_docs: int) -> None:
    if n_docs > SIMHASH16_MAX_DOCS:
        raise ValueError(
            f"dedup_simhash_pairs is a bounded pedagogical fixture: {n_docs:,} "
            f"documents exceed its {SIMHASH16_MAX_DOCS:,}-doc envelope (256 "
            "band values saturate -> measured ~quadratic candidate growth); "
            "use dedup_simhash_band60 (2^15-value bands, measured ~linear)"
        )


def _simhash16_pairs_from_sig(sig: DataFrame) -> DataFrame:
    """Band a (doc_id, simhash) 16-bit signature DF into 2x8-bit bands,
    bucket-join, and keep pairs within ``SIMHASH_HAM_MAX``. The caller
    owns the signature fence (localCheckpoint) and the corpus-size
    envelope check."""
    banded = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("bi"), (F.col("simhash") % 256).alias("bv")),
                F.struct(
                    F.lit(1).alias("bi"), F.expr("simhash div 256").alias("bv")
                ),
            )
        ).alias("band"),
    ).select(
        "doc_id", "simhash", F.col("band.bi").alias("bi"), F.col("band.bv").alias("bv")
    )
    l, r = banded.alias("l"), banded.alias("r")
    cands = (
        l.join(
            r,
            (F.col("l.bi") == F.col("r.bi"))
            & (F.col("l.bv") == F.col("r.bv"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("id_a"),
            F.col("r.doc_id").alias("id_b"),
            F.col("l.simhash").alias("sim_a"),
            F.col("r.simhash").alias("sim_b"),
        )
        .distinct()
    )
    # single JVM bit_count(xor) — fingerprints are 16-bit non-negative
    # ints, so counting over the full int width equals the 16-term
    # bit-test ladder this replaced (the ORACLE keeps the explicit CASE
    # sum: same values, and the SQL stays self-documenting)
    ham = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).cast("int")
    return cands.withColumn("hamming", ham).filter(
        F.col("hamming") <= SIMHASH_HAM_MAX
    )


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PEDAGOGICAL 16-bit simhash near-dup pairs — BOUNDED, not the
    production path (that is :func:`dedup_simhash_band60`). The 16-bit
    fingerprint splits into two 8-bit bands; any pair within Hamming
    distance {HAM} must agree on at least one band (pigeonhole), so the
    candidate join is a band-value equi-join with zero false negatives
    at the threshold. BUT two 8-bit bands give only 256 distinct band
    values: past a few hundred documents every band value is occupied
    and the "equi-join" decays toward all-pairs — ``tools/
    scale_curve.py`` MEASURES candidate growth at exponent ~2.0 for
    this variant (vs ~1.0 for the 60-bit band join, whose 2^15-value
    bands keep buckets sparse). It therefore fail-fasts beyond
    {SIMHASH16_MAX_DOCS:,} documents instead of silently going
    quadratic on a large corpus; use ``dedup_simhash_band60`` at scale.
    Verification recounts the exact Hamming distance as a 16-term
    bit-test sum (identical expression both engines). Planted clones
    (one appended token) perturb few bit majorities, so they surface
    here just as they do in the LSH path."""
    return _simhash16_pairs_shared(spark, sf_dir)


# session-shared 16-bit pair set (r13, guide §1.2): consumed by
# dedup_simhash_pairs (it IS the query) and dedup_sim16_agreement's
# sim16 leg. The memo holds (signature, pairs): the fail-fast envelope
# is PART OF THE QUERY CONTRACT, so it runs on EVERY call against the
# memoized signature count — a cheap job over checkpointed blocks —
# never cached away with the result (the invariants suite monkeypatches
# the envelope and expects a raise even when the pair set is memoized).
def _s16_key(sf_dir: str) -> tuple:
    # SIMHASH_HAM_MAX is baked into the cached pair plan (ADVICE r13)
    return ("simhash16_pairs", sf_dir, ("documents",), (SIMHASH_HAM_MAX,))


def _s16_entry(sig: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The memoized value over an eagerly fenced (doc_id, simhash)
    signature: (signature, lazily fenced pairs)."""
    return sig, _simhash16_pairs_from_sig(sig).localCheckpoint(eager=False)


def _simhash16_pairs_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.memo import session_memo

    # spread BEFORE the signature projection: the parquet scan yields
    # 1-2 splits at test SFs and repartitioning the OUTPUT leaves the
    # expensive per-row bit votes serialized on those splits (measured
    # ~4s of the fused build at sf0.1); shuffling the slim (id, text)
    # rows first runs the votes on every core, and at 100 TB the scan
    # already has thousands of splits so this stays a near-no-op
    sig, pairs = session_memo(
        spark,
        *_s16_key(sf_dir),
        lambda: _s16_entry(
            simhash16(_spread(_docs_augmented(spark, sf_dir)), "doc_id", "text")
            .localCheckpoint(eager=True)
        ),
    )
    # envelope guard on the already-materialized signature rows (one per
    # non-NULL-text doc, ADVICE r7): the signature build is map-only
    # O(N) and safe at any scale — the guard protects the band join
    _check_sim16_envelope(sig.count())
    return pairs


_HAM_SQL = " + ".join(
    f"(CASE WHEN ((a.simhash >> {b}) & 1) != ((b2.simhash >> {b}) & 1) THEN 1 ELSE 0 END)"
    for b in range(16)
)

DEDUP_SIMHASH_PAIRS_SQL = rf"""
WITH docs_aug AS ({_DOCS_AUG_SQL}),
tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
  FROM docs_aug
),
hashed AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(token), 1, 4)) AS INTEGER) AS h
  FROM tok
),
bit_sums AS (
  SELECT doc_id,
       {_SIMHASH_SUMS_SQL}
  FROM hashed GROUP BY doc_id
),
sigs AS (
  SELECT doc_id, {_SIMHASH_BITS_SQL} AS simhash FROM bit_sums
),
banded AS (
  SELECT doc_id, simhash, 0 AS bi, simhash % 256 AS bv FROM sigs
  UNION ALL
  SELECT doc_id, simhash, 1, simhash // 256 FROM sigs
),
cands AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
         l.simhash AS sim_a, r.simhash AS sim_b
  FROM banded l JOIN banded r
    ON l.bi = r.bi AND l.bv = r.bv AND l.doc_id < r.doc_id
)
SELECT id_a, id_b, sim_a, sim_b,
       ({_HAM_SQL.replace("a.simhash", "sim_a").replace("b2.simhash", "sim_b")}) AS hamming
FROM cands
WHERE ({_HAM_SQL.replace("a.simhash", "sim_a").replace("b2.simhash", "sim_b")}) <= {SIMHASH_HAM_MAX}
"""


SIMHASH60_BANDS = 4  # 60 bits / 4 bands = 15-bit band values (2^15 space)
SIMHASH60_HAM_MAX = SIMHASH60_BANDS - 1  # pigeonhole-complete radius


def dedup_simhash_band60(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION-width simhash near-dup pairs: 60-bit fingerprint
    (``operators.textops.simhash60``), 4 bands x 15 bits, Hamming<=3
    (pigeonhole-complete at 4 bands). This exists because the 16-bit
    pedagogical variant (``dedup_simhash_pairs``) has only 2^8 = 256
    band values — ``tools/scale_curve.py`` measures its candidate
    count growing with exponent ~2.0 (bucket saturation: past a few
    hundred docs every band value is occupied and the band join decays
    toward all-pairs), while this 60-bit path measures ~linear. The
    Hamming verify is a single JVM ``bit_count(xor)`` — no bit-test
    ladder. Reference scope: the reference dedups exact-only
    (silver_batch_job.py row_number); simhash banding is the 100 TB
    near-dup path (Manku et al., WWW 2007)."""
    return _simhash60_pairs_shared(spark, sf_dir)


# session-shared 60-bit band-join pair set (r13, guide §1.2): THREE
# queries consume this exact kernel — dedup_simhash_band60 (it IS the
# query), dedup_method_agreement's sim60 leg, and
# dedup_sim16_agreement's sim60 leg (whose fused signature is
# documented bit-for-bit identical to simhash60 — operators/textops
# simhash_fused) — memoized once per session (operators/memo.py)
def _s60_key(sf_dir: str) -> tuple:
    return ("simhash60_pairs", sf_dir, ("documents",), (SIMHASH60_BANDS, SIMHASH60_HAM_MAX))


def _simhash60_pairs_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.memo import session_memo

    def build() -> DataFrame:
        d = _spread(_docs_augmented(spark, sf_dir))  # spread before the votes
        sig = simhash60(d, "doc_id", "text").localCheckpoint(eager=True)
        return _simhash60_pairs_from_sig(sig).localCheckpoint(eager=False)

    return session_memo(spark, *_s60_key(sf_dir), build)


def _simhash60_pairs_from_sig(sig: DataFrame) -> DataFrame:
    """Band a (doc_id, simhash60) signature DF into 4x15-bit bands,
    bucket-join, JVM ``bit_count(xor)`` verify at ``SIMHASH60_HAM_MAX``.
    The caller owns the signature fence (localCheckpoint)."""
    banded = sig.select(
        "doc_id",
        "simhash60",
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
    ).select(
        "doc_id",
        "simhash60",
        F.col("band.bi").alias("bi"),
        F.col("band.bv").alias("bv"),
    )
    l, r = banded.alias("l"), banded.alias("r")
    cands = (
        l.join(
            r,
            (F.col("l.bi") == F.col("r.bi"))
            & (F.col("l.bv") == F.col("r.bv"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("id_a"),
            F.col("r.doc_id").alias("id_b"),
            F.col("l.simhash60").alias("sim_a"),
            F.col("r.simhash60").alias("sim_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        cands.withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= SIMHASH60_HAM_MAX)
        .select("id_a", "id_b", "hamming")
    )


DEDUP_SIMHASH_BAND60_SQL = rf"""
WITH docs_aug AS ({_DOCS_AUG_SQL}),
tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
  FROM docs_aug
),
hashed AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(concat('sh60', token)), 1, 15)) AS BIGINT) AS h
  FROM tok
),
bitsum AS (
  SELECT doc_id, t.b,
         SUM(CASE WHEN ((h >> t.b) & 1) = 1 THEN 1 ELSE -1 END) AS s
  FROM hashed, range(60) t(b) GROUP BY doc_id, t.b
),
sigs AS (
  SELECT doc_id,
         SUM(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS sh
  FROM bitsum GROUP BY doc_id
),
banded AS (
  SELECT doc_id, sh, t.j AS bi, (sh >> (15 * CAST(t.j AS INTEGER))) & 32767 AS bv
  FROM sigs, range({SIMHASH60_BANDS}) t(j)
),
cands AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
         l.sh AS sim_a, r.sh AS sim_b
  FROM banded l JOIN banded r
    ON l.bi = r.bi AND l.bv = r.bv AND l.doc_id < r.doc_id
)
SELECT id_a, id_b,
       CAST(bit_count(xor(sim_a, sim_b)) AS INTEGER) AS hamming
FROM cands
WHERE bit_count(xor(sim_a, sim_b)) <= {SIMHASH60_HAM_MAX}
"""


def _agreement_rollup(
    legs: list[tuple[DataFrame, str]],
) -> DataFrame:
    """Full-outer-join N (id_a, id_b) pair sets, label each pair with
    its membership class ('a+b+c', 'a+b', 'c_only', ...), flag planted
    pairs by id arithmetic, and roll up per-class counts — the shared
    shape of both method-agreement artifacts."""
    # r13 (guide §2.4): tag-union + ONE pair-keyed agg instead of N-1
    # full-outer sort-merge joins (each with its own exchange+sort of
    # the pair sets) — the same shape the DuckDB oracle always used, so
    # the membership algebra is now identical on both engines. Each leg
    # emits distinct pairs, so MAX(membership) over the union equals
    # the full-outer join's null pattern exactly.
    names = [name for _, name in legs]
    tagged = [
        df.select(
            "id_a",
            "id_b",
            *[
                F.lit(1 if n == name else 0).alias(f"in_{n}")
                for n in names
            ],
        )
        for df, name in legs
    ]
    u = tagged[0]
    for t in tagged[1:]:
        u = u.unionByName(t)
    j = u.groupBy("id_a", "id_b").agg(
        *[F.max(f"in_{n}").alias(f"in_{n}") for n in names]
    )
    cls = F.concat_ws(
        "+", *[F.when(F.col(f"in_{n}") == 1, n) for n in names]
    )
    n_members = sum(
        ((F.col(f"in_{n}") == 1).cast("int") for n in names), F.lit(0)
    )
    cls = F.when(n_members == 1, F.concat(cls, F.lit("_only"))).otherwise(cls)
    planted = (
        (F.col("id_a") >= CLONE_OFFSET) | (F.col("id_b") >= CLONE_OFFSET)
    ).cast("int")
    return (
        j.select(cls.alias("agreement"), planted.alias("is_planted"))
        .groupBy("agreement")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("is_planted").cast("bigint").alias("n_planted_pairs"),
        )
    )


def dedup_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-way PRODUCTION dedup-method comparison — the curator
    artifact that quantifies how the scale-path methods relate instead
    of arguing it (rebased off the capped 16-bit fixture per VERDICT
    r8 item 4; the fixture comparison lives on as the explicitly-capped
    :func:`dedup_sim16_agreement`): the verified minhash-LSH pair set
    (shingle Jaccard >= 0.5), the 60-bit simhash band join's pair set
    (Hamming<=3) and the content-defined-chunk pair set (docs sharing
    >= 1 non-trivial CDC chunk — ``plans/llmprep.py``'s
    ``dedup_chunk_shared`` grain), partitioned into agreement classes
    ('lsh+sim60+cdc', 'lsh+sim60', 'cdc_only', ...) with, per class,
    the pair count and how many pairs involve a PLANTED clone (ground
    truth by construction). Every leg is an already-registered
    production pipeline's candidate algebra — banded bucket joins and
    a chunk-fingerprint equi-join, all measured ~linear by
    tools/scale_curve.py — so the artifact itself carries NO fail-fast
    envelope and runs at 100x corpus growth.

    Cost discipline: the simhash + CDC legs share ONE fenced corpus
    materialization — the augmented docs are localCheckpoint-fenced
    once; the simhash leg bands one fenced signature set; the CDC leg
    (:func:`plans.llmprep.chunk_cdc` — token grain) consumes the
    fenced corpus instead of re-reading and re-augmenting the parquet
    (VERDICT r7 item 4). The minhash leg (different shingle grain, so
    it can't share those fences) comes from the SESSION-shared
    :func:`_minhash_pairs_shared` kernel — the same verified pair set
    five other queries consume — instead of re-running the LSH
    pipeline privately (r13)."""
    from .llmprep import CDC_MIN_CHUNK, chunk_cdc

    # spread the fenced corpus: every leg (bit votes, shingle md5,
    # token windows) otherwise runs its map stage on the scan's 1-2
    # splits
    d = _spread(_docs_augmented(spark, sf_dir)).localCheckpoint(eager=True)
    lsh = _minhash_pairs_shared(spark, sf_dir)
    s60 = _simhash60_pairs_shared(spark, sf_dir)  # session-shared (r13)
    chunks = (
        chunk_cdc(d)
        .filter(F.col("n_tokens") >= CDC_MIN_CHUNK)
        .localCheckpoint(eager=False)
    )
    a = chunks.select(F.col("doc_id").alias("id_a"), F.col("chunk_fp").alias("fp"))
    b = chunks.select(F.col("doc_id").alias("id_b"), F.col("chunk_fp").alias("fp"))
    cdc = (
        a.join(b, (a.fp == b.fp) & (F.col("id_a") < F.col("id_b")))
        .select("id_a", "id_b")
        .distinct()
    )
    return _agreement_rollup([(lsh, "lsh"), (s60, "sim60"), (cdc, "cdc")])


DEDUP_METHOD_AGREEMENT_SQL = rf"""
WITH lsh AS ({DEDUP_MINHASH_PAIRS_SQL}),
sim60 AS ({DEDUP_SIMHASH_BAND60_SQL}),
cdc AS (
  WITH docs_aug AS ({_DOCS_AUG_SQL}),
  {{cdc_segmented}},
  chunks AS (
    SELECT doc_id, md5(string_agg(token, ' ' ORDER BY pos)) AS fp
    FROM segmented GROUP BY doc_id, chunk_id
    HAVING COUNT(*) >= {{cdc_min_chunk}}
  )
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM chunks a JOIN chunks b ON a.fp = b.fp AND a.doc_id < b.doc_id
),
j AS (
  SELECT id_a, id_b,
         MAX(in_lsh) AS in_lsh, MAX(in_s60) AS in_s60, MAX(in_cdc) AS in_cdc
  FROM (
    SELECT id_a, id_b, 1 AS in_lsh, 0 AS in_s60, 0 AS in_cdc FROM lsh
    UNION ALL
    SELECT id_a, id_b, 0, 1, 0 FROM sim60
    UNION ALL
    SELECT id_a, id_b, 0, 0, 1 FROM cdc
  ) GROUP BY id_a, id_b
),
labeled AS (
  SELECT id_a, id_b,
         concat_ws('+',
           CASE WHEN in_lsh = 1 THEN 'lsh' END,
           CASE WHEN in_s60 = 1 THEN 'sim60' END,
           CASE WHEN in_cdc = 1 THEN 'cdc' END)
         || CASE WHEN in_lsh + in_s60 + in_cdc = 1 THEN '_only' ELSE '' END
           AS agreement
  FROM j
)
SELECT agreement,
       COUNT(*) AS n_pairs,
       CAST(SUM(CASE WHEN id_a >= {CLONE_OFFSET} OR id_b >= {CLONE_OFFSET}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_planted_pairs
FROM labeled
GROUP BY 1
"""


def _resolve_agreement_sql() -> str:
    # lazy import at the END of the template build: llmprep's own
    # module-level oracle build imports THIS module's minhash SQL (both
    # attributes are defined before either side's cross-import runs —
    # the same partial-import discipline SPLIT_LEAKAGE_SQL relies on)
    from .llmprep import CDC_MIN_CHUNK, _cdc_segmented_sql

    return DEDUP_METHOD_AGREEMENT_SQL.format(
        cdc_segmented=_cdc_segmented_sql(src="docs_aug"),
        cdc_min_chunk=CDC_MIN_CHUNK,
    )


DEDUP_METHOD_AGREEMENT_SQL = _resolve_agreement_sql()


def _seed_simhash_caches_fused(spark: SparkSession, sf_dir: str) -> None:
    """ADVICE r13: a COLD session running ``dedup_sim16_agreement``
    alone paid two corpus scans + two per-width bit-vote passes (one
    per simhash kernel). When BOTH pair caches are cold, build both
    signatures from ONE fused corpus pass
    (``operators/textops.simhash_fused`` — pinned bit-for-bit identical
    to the single-width builds by the invariants suite) and seed both
    caches through their owners' memos. No-op whenever either cache
    is already warm. In the bench battery's sorted order
    that is always so because ``dedup_method_agreement`` runs before
    ``dedup_sim16_agreement`` and warms the s60 cache (the owner queries
    ``dedup_simhash_band60``/``dedup_simhash_pairs`` sort after it, so
    they are not the reason). In-battery behavior is therefore
    unchanged; the s16 fail-fast envelope still runs per call in
    ``_simhash16_pairs_shared`` against the seeded signature count."""
    from ..operators.memo import is_memoized, session_memo
    from ..operators.textops import simhash_fused

    if is_memoized(spark, *_s16_key(sf_dir)) or is_memoized(spark, *_s60_key(sf_dir)):
        return
    fused = session_memo(
        spark,
        "simhash_fused_seed",
        sf_dir,
        ("documents",),
        (),
        lambda: simhash_fused(
            _spread(_docs_augmented(spark, sf_dir)), "doc_id", "text"
        ).localCheckpoint(eager=True),
    )
    session_memo(
        spark, *_s16_key(sf_dir), lambda: _s16_entry(fused.select("doc_id", "simhash"))
    )
    session_memo(
        spark,
        *_s60_key(sf_dir),
        lambda: _simhash60_pairs_from_sig(fused.select("doc_id", "simhash60")).localCheckpoint(
            eager=False
        ),
    )


def dedup_sim16_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EXPLICITLY-CAPPED fixture comparison (split out of
    ``dedup_method_agreement`` per VERDICT r8 item 4): the verified
    minhash-LSH pair set, the pedagogical 16-bit simhash pair set
    (Hamming<=1, 2x8-bit bands — the saturating fixture) and the
    production 60-bit band join's pair set (Hamming<=3), in the same
    agreement-class rollup. Pairs sim60 finds that sim16 misses are
    the recall the wider fingerprint buys; sim16_only pairs are 16-bit
    hash collisions — the migration evidence for retiring the fixture.
    Inherits ``dedup_simhash_pairs``' {cap:,}-doc fail-fast envelope
    because the sim16 leg saturates past it (that bound is the POINT
    of this artifact); the production agreement artifact carries no
    envelope. r13: ALL THREE legs come from SESSION-shared kernels
    (:func:`_minhash_pairs_shared`, :func:`_simhash16_pairs_shared` —
    which runs the envelope fail-fast at build time —
    :func:`_simhash60_pairs_shared`, bit-for-bit the fused 60-bit leg
    per operators/textops.simhash_fused's contract, which the
    invariants suite pins), so this rollup re-scans the corpus zero
    times when any leg's owner query already ran."""
    _seed_simhash_caches_fused(spark, sf_dir)  # one corpus pass when cold
    lsh = _minhash_pairs_shared(spark, sf_dir)
    s16 = _simhash16_pairs_shared(spark, sf_dir)
    s60 = _simhash60_pairs_shared(spark, sf_dir)
    return _agreement_rollup([(lsh, "lsh"), (s16, "sim16"), (s60, "sim60")])


dedup_sim16_agreement.__doc__ = dedup_sim16_agreement.__doc__.format(
    cap=SIMHASH16_MAX_DOCS
)


DEDUP_SIM16_AGREEMENT_SQL = rf"""
WITH lsh AS ({DEDUP_MINHASH_PAIRS_SQL}),
sim16 AS ({DEDUP_SIMHASH_PAIRS_SQL}),
sim60 AS ({DEDUP_SIMHASH_BAND60_SQL}),
j AS (
  SELECT id_a, id_b,
         MAX(in_lsh) AS in_lsh, MAX(in_s16) AS in_s16, MAX(in_s60) AS in_s60
  FROM (
    SELECT id_a, id_b, 1 AS in_lsh, 0 AS in_s16, 0 AS in_s60 FROM lsh
    UNION ALL
    SELECT id_a, id_b, 0, 1, 0 FROM sim16
    UNION ALL
    SELECT id_a, id_b, 0, 0, 1 FROM sim60
  ) GROUP BY id_a, id_b
),
labeled AS (
  SELECT id_a, id_b,
         concat_ws('+',
           CASE WHEN in_lsh = 1 THEN 'lsh' END,
           CASE WHEN in_s16 = 1 THEN 'sim16' END,
           CASE WHEN in_s60 = 1 THEN 'sim60' END)
         || CASE WHEN in_lsh + in_s16 + in_s60 = 1 THEN '_only' ELSE '' END
           AS agreement
  FROM j
)
SELECT agreement,
       COUNT(*) AS n_pairs,
       CAST(SUM(CASE WHEN id_a >= {CLONE_OFFSET} OR id_b >= {CLONE_OFFSET}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_planted_pairs
FROM labeled
GROUP BY 1
"""


PASSAGE_WORDS = 10


def dedup_passage_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level global dedup with reassembly — the C4/RefinedWeb
    'drop repeated lines across the corpus' op, at the fixed
    {PASSAGE_WORDS}-word-window grain this corpus supports (no
    newlines): each document splits into consecutive word passages; a
    passage survives only at its lexicographically-first
    (doc_id, passage_idx) occurrence corpus-wide; survivors reassemble
    in order. Output per doc: passage totals and the deduplicated text
    — a full string value-check of the reassembly.

    Scale shape: passage construction is one projection
    (transform/slice over the split array + posexplode — no join);
    first-occurrence selection is ONE window partitioned by passage
    text (the corpus-wide grouping key, hash-shuffled, never a global
    sort); reassembly is one hash aggregation with an in-group
    array_sort. On the augmented corpus the planted clones' bodies
    dedup against their originals while their distinct tails survive —
    planted evidence the oracle checks exactly."""
    d = _docs_augmented(spark, sf_dir)
    words = F.split(F.col("text"), " ")
    n_pass = F.ceil(F.size(words) / F.lit(PASSAGE_WORDS)).cast("int")
    passages = d.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_pass - 1),
                lambda i: F.concat_ws(
                    " ", F.slice(words, i * PASSAGE_WORDS + 1, PASSAGE_WORDS)
                ),
            )
        ).alias("passage_idx", "passage"),
    )
    w = Window.partitionBy("passage").orderBy("doc_id", "passage_idx")
    ranked = passages.withColumn("rn", F.row_number().over(w))
    kept_struct = F.when(
        F.col("rn") == 1, F.struct(F.col("passage_idx"), F.col("passage"))
    )
    return (
        ranked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_passages"),
            F.sum((F.col("rn") == 1).cast("long")).alias("n_kept"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s["passage"],
                ),
            ).alias("dedup_text"),
        )
    )


DEDUP_PASSAGE_EXACT_SQL = f"""
WITH aug AS ({_DOCS_AUG_SQL}),
docs AS (SELECT doc_id, string_split(text, ' ') AS words FROM aug),
passages AS (
  SELECT doc_id, CAST(i AS INTEGER) AS passage_idx,
         array_to_string(words[(i * {PASSAGE_WORDS} + 1):((i + 1) * {PASSAGE_WORDS})], ' ') AS passage
  FROM docs, UNNEST(range(CAST(ceil(len(words) / {PASSAGE_WORDS}.0) AS BIGINT))) AS t(i)
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY passage ORDER BY doc_id, passage_idx) AS rn
  FROM passages
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_passages,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       COALESCE(string_agg(CASE WHEN rn = 1 THEN passage END, ' ' ORDER BY passage_idx), '')
         AS dedup_text
FROM ranked GROUP BY doc_id
"""


# -- substring-level dedup (Lee et al. 2022) -----------------------------------

SUBSTR_K = 8  # tokens per window — the 'repeated substring' grain


def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level exact dedup evidence — the 'Deduplicating
    Training Data Makes Language Models Better' (Lee et al. 2022) op:
    find every {SUBSTR_K}-token window whose exact text occurs at two
    or more positions corpus-wide, then report per document the
    duplicated-window count and the LONGEST consecutive run of
    duplicated positions (the span a substring-dedup pass would elide).
    On the augmented corpus each planted clone's body duplicates its
    original end-to-end, so both carry near-full-length runs.

    Scale shape: window enumeration is one projection (transform over
    sequence + posexplode — no join, no shuffle of the token arrays);
    the corpus-wide occurrence count is ONE hash aggregation keyed on
    md5(window) (16-byte keys shuffle instead of ~50-byte strings; a
    collision would need ~2^64 windows); marking duplicated positions
    is a semi-join against the (small) duplicated-hash set; runs are
    gaps-and-islands windows partitioned per doc. Everything is linear
    in total tokens — no pairwise anything."""
    return _substring_spans(_docs_augmented(spark, sf_dir))


dedup_substring_spans.__doc__ = dedup_substring_spans.__doc__.format(
    SUBSTR_K=SUBSTR_K
)


def _substring_spans(d: DataFrame, k: int = SUBSTR_K) -> DataFrame:
    """Core of :func:`dedup_substring_spans` over any (doc_id, text)
    frame — factored so the hypothesis property test can drive it with
    randomized corpora against a brute-force reference."""
    # filter BEFORE sequence(): Spark's sequence(1, n) with n < 1 emits
    # a DESCENDING [1, 0, ...] sequence, not an empty one
    base = d.select("doc_id", tokenize(F.col("text")).alias("__toks")).filter(
        F.size("__toks") >= k
    )
    wins = base.select(
        "doc_id",
        F.size("__toks").alias("n_tokens"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("__toks") - k + 1),
                lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("__toks"), i, k))),
            )
        ).alias("pos0", "h"),
    )
    dup_h = (
        wins.groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .filter(F.col("n_occ") >= 2)
        .select("h")
    )
    dup_pos = wins.join(dup_h, "h", "left_semi")
    w = Window.partitionBy("doc_id").orderBy("pos0")
    runs = (
        dup_pos.withColumn("grp", F.col("pos0") - F.row_number().over(w))
        .groupBy("doc_id", "n_tokens", "grp")
        .agg(F.count(F.lit(1)).alias("run_len"))
    )
    return runs.groupBy("doc_id").agg(
        (F.min("n_tokens") - k + 1).cast("long").alias("n_windows"),
        F.sum("run_len").alias("n_dup_windows"),
        F.max("run_len").alias("longest_dup_run"),
    )


DEDUP_SUBSTRING_SPANS_SQL = rf"""
WITH docs_aug AS ({_DOCS_AUG_SQL}),
toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM docs_aug
),
wins AS (
  SELECT doc_id, len(t) AS n_tokens,
         unnest(range(1, GREATEST(len(t) - {SUBSTR_K} + 1, 0) + 1)) AS pos,
         unnest(list_transform(
             range(1, GREATEST(len(t) - {SUBSTR_K} + 1, 0) + 1),
             i -> array_to_string(list_slice(t, i, i + {SUBSTR_K} - 1), ' ')
         )) AS w
  FROM toks
),
dupw AS (SELECT w FROM wins GROUP BY w HAVING COUNT(*) >= 2),
dpos AS (
  SELECT doc_id, n_tokens, pos,
         pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM wins WHERE w IN (SELECT w FROM dupw)
),
runs AS (
  SELECT doc_id, MIN(n_tokens) AS n_tokens, COUNT(*) AS run_len
  FROM dpos GROUP BY doc_id, grp
)
SELECT doc_id,
       CAST(MIN(n_tokens) - {SUBSTR_K} + 1 AS BIGINT) AS n_windows,
       CAST(SUM(run_len) AS BIGINT) AS n_dup_windows,
       CAST(MAX(run_len) AS BIGINT) AS longest_dup_run
FROM runs
GROUP BY doc_id
"""


def dedup_substring_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY step of substring-level dedup (Lee et al. 2022) —
    companion to the evidence query :func:`dedup_substring_spans`:
    every duplicated window keeps only its corpus-wide FIRST occurrence
    (min (doc_id, pos) under the global total order); every other
    occurrence's token span is elided, and each document's survivors
    reassemble in token order. Output per doc: token counts, removed
    count and the md5 of the rewritten text — a full string value
    check of the transform (the ``dedup_passage_exact`` discipline one
    grain finer). Planted clones collapse to their unique 3-token tail
    (plus the window-boundary remainder); originals keep their text
    unless they repeat a window internally or echo a smaller-id doc.

    Scale shape: window enumeration and span expansion are pure
    projections; first-occurrence selection is ONE window partitioned
    by the window hash (hash-shuffled, never a global sort); the
    covered-position set joins back at (doc, idx) grain; reassembly is
    one hash agg with an in-group array_sort. Linear in total tokens."""
    return _substring_rewrite(_docs_augmented(spark, sf_dir))


def _substring_rewrite(d: DataFrame, k: int = SUBSTR_K) -> DataFrame:
    toks = tokenize(F.col("text"))
    base = d.select("doc_id", toks.alias("__toks")).localCheckpoint(eager=False)
    wins = base.filter(F.size("__toks") >= k).select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("__toks") - k + 1),
                lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("__toks"), i, k))),
            )
        ).alias("pos0", "h"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "h")
    w_first = Window.partitionBy("h").orderBy("doc_id", "pos")
    occ = Window.partitionBy("h")
    elide = (
        wins.withColumn("rn", F.row_number().over(w_first))
        .withColumn("n_occ", F.count(F.lit(1)).over(occ))
        .filter((F.col("n_occ") >= 2) & (F.col("rn") > 1))
    )
    covered = elide.select(
        "doc_id",
        F.explode(F.sequence(F.col("pos"), F.col("pos") + k - 1)).alias("idx"),
    ).distinct()
    all_toks = base.select(
        "doc_id",
        F.size("__toks").alias("n_tokens"),
        F.posexplode("__toks").alias("idx0", "token"),
    ).select("doc_id", "n_tokens", (F.col("idx0") + 1).alias("idx"), "token")
    kept = all_toks.join(covered, ["doc_id", "idx"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.min("n_tokens").alias("n_kept_base"),
        F.count(F.lit(1)).alias("n_kept"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("idx"), F.col("token")))
                    ),
                    lambda s: s["token"],
                ),
            )
        ).alias("rewritten_md5"),
    )
    # left join keeps fully-elided docs out only if EVERY token was
    # covered — emit those too, with the md5 of the empty string
    sizes = base.select("doc_id", F.size("__toks").alias("n_tokens"))
    return sizes.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0)))
        .cast("long")
        .alias("n_removed"),
        F.coalesce(F.col("rewritten_md5"), F.md5(F.lit(""))).alias(
            "rewritten_md5"
        ),
    )


DEDUP_SUBSTRING_REWRITE_SQL = rf"""
WITH docs_aug AS ({_DOCS_AUG_SQL}),
toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM docs_aug
),
wins AS (
  SELECT doc_id,
         unnest(range(1, GREATEST(len(t) - {SUBSTR_K} + 1, 0) + 1)) AS pos,
         unnest(list_transform(
             range(1, GREATEST(len(t) - {SUBSTR_K} + 1, 0) + 1),
             i -> array_to_string(list_slice(t, i, i + {SUBSTR_K} - 1), ' ')
         )) AS w
  FROM toks
),
marked AS (
  SELECT doc_id, pos,
         ROW_NUMBER() OVER (PARTITION BY w ORDER BY doc_id, pos) AS rn,
         COUNT(*) OVER (PARTITION BY w) AS n_occ
  FROM wins
),
covered AS (
  SELECT DISTINCT doc_id, unnest(range(pos, pos + {SUBSTR_K})) AS idx
  FROM marked WHERE n_occ >= 2 AND rn > 1
),
all_toks AS (
  SELECT doc_id, len(t) AS n_tokens,
         unnest(range(1, len(t) + 1)) AS idx,
         unnest(t) AS token
  FROM toks
),
kept AS (
  SELECT a.* FROM all_toks a
  LEFT JOIN covered c ON a.doc_id = c.doc_id AND a.idx = c.idx
  WHERE c.doc_id IS NULL
),
rebuilt AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         md5(string_agg(token, ' ' ORDER BY idx)) AS rewritten_md5
  FROM kept GROUP BY doc_id
)
SELECT s.doc_id,
       CAST(s.n_tokens AS BIGINT) AS n_tokens,
       CAST(s.n_tokens - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed,
       COALESCE(r.rewritten_md5, md5('')) AS rewritten_md5
FROM (SELECT doc_id, len(t) AS n_tokens FROM toks) s
LEFT JOIN rebuilt r ON s.doc_id = r.doc_id
"""


# -- asymmetric containment near-dup --------------------------------------------

CONTAIN_DF_MAX = 10  # document-frequency cut for candidate shingles
CONTAIN_TAU = 0.8


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric CONTAINMENT near-dup — catches doc-inside-doc
    duplication (quotes, concatenations, re-posts with boilerplate)
    that symmetric Jaccard under-scores: a small document fully
    embedded in a large one has Jaccard |A|/|B| (tiny) but containment
    |A∩B|/min(|A|,|B|) = 1. Pairs with containment >= {CONTAIN_TAU}
    are emitted with their exact set sizes. Each planted clone
    contains its original's shingle set completely (the appended tail
    only adds shingles), so the planted pairs all score 1.0.

    Scale shape — document-frequency cut plus a LOSSLESS count bound,
    the CC-Net/Gopher-style candidate discipline: the pair-generating
    self-join runs over RARE shingles only (corpus document frequency
    <= {CONTAIN_DF_MAX}), bounding its fan-out by df_max x
    total_shingles (linear at fixed df_max) instead of sum(df^2) over
    hot shingles. Candidates are then pruned EXACTLY before the
    expensive rescoring: containment >= tau needs
    shared >= tau * min(n_a, n_b), and shared can never exceed
    (rare shingles shared) + min(hot_a, hot_b), so any pair whose
    integer upper bound misses the threshold is dropped with zero
    false dismissals (the bound check is pure integer arithmetic —
    5*bound >= 4*min_n for tau = 0.8 — no float edge). Only the
    survivors (true near-dups plus a thin margin) get their exact
    full-set intersection recomputed via two keyed joins against the
    fenced shingle set. The oracle states the same semantics directly
    (candidates from rare co-occurrence, exact rescoring) — the prune
    is invisible to it by construction."""
    return _containment_pairs(_docs_augmented(spark, sf_dir))


dedup_containment.__doc__ = dedup_containment.__doc__.format(
    CONTAIN_TAU=CONTAIN_TAU, CONTAIN_DF_MAX=CONTAIN_DF_MAX
)


def _containment_pairs(d: DataFrame) -> DataFrame:
    """Core of :func:`dedup_containment` over any (doc_id, text) frame
    — factored so the hypothesis property test can prove the integer
    prune LOSSLESS against a brute-force (prune-free) reference."""
    assert CONTAIN_TAU == 0.8, "integer prune below encodes tau = 4/5"
    sh = (
        exploded_shingles(d, "doc_id", "text", k=3)
        .distinct()
        .localCheckpoint(eager=False)
    )
    # df via a shingle-partitioned window: one shuffle, no join, and —
    # unlike broadcasting the distinct-shingle table — it scales (the
    # shingle universe at 100 TB is billions of rows)
    shdf = sh.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
    )
    per_doc = shdf.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("df") > CONTAIN_DF_MAX).cast("long")).alias("n_hot"),
    )
    rare = shdf.filter(F.col("df") <= CONTAIN_DF_MAX).select("doc_id", "shingle")
    a, b = rare.alias("a"), rare.alias("b")
    prs = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_rare_shared"))
    )
    pa = per_doc.select(
        F.col("doc_id").alias("id_a"),
        F.col("n").alias("n_a"),
        F.col("n_hot").alias("hot_a"),
    )
    pb = per_doc.select(
        F.col("doc_id").alias("id_b"),
        F.col("n").alias("n_b"),
        F.col("n_hot").alias("hot_b"),
    )
    bound = F.col("n_rare_shared") + F.least("hot_a", "hot_b")
    surv = (
        prs.join(pa, "id_a")
        .join(pb, "id_b")
        .filter(5 * bound >= 4 * F.least("n_a", "n_b"))
        .select("id_a", "id_b", "n_a", "n_b")
    )
    sha = sh.select(F.col("doc_id").alias("id_a"), "shingle")
    shb = sh.select(F.col("doc_id").alias("id_b"), "shingle")
    scored = (
        surv.join(sha, "id_a")
        .join(shb, ["id_b", "shingle"])
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    containment = F.col("n_shared") / F.least("n_a", "n_b")
    return scored.filter(containment >= CONTAIN_TAU).select(
        "id_a",
        "id_b",
        "n_shared",
        "n_a",
        "n_b",
        containment.alias("containment"),
    )


DEDUP_CONTAINMENT_SQL = rf"""
WITH docs_aug AS ({_DOCS_AUG_SQL}),
toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM docs_aug
),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(CASE WHEN len(t) >= 3
                     THEN list_transform(range(1, len(t) - 1),
                                         i -> concat_ws(' ', t[i], t[i+1], t[i+2]))
                     ELSE [] END) AS shingle
  FROM toks
),
rare AS (
  SELECT shingle FROM sh GROUP BY shingle
  HAVING COUNT(*) <= {CONTAIN_DF_MAX}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  WHERE a.shingle IN (SELECT shingle FROM rare)
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
shared AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS n_shared
  FROM cand c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
  GROUP BY c.id_a, c.id_b
)
SELECT id_a, id_b,
       CAST(n_shared AS BIGINT) AS n_shared,
       CAST(sa.n AS BIGINT) AS n_a,
       CAST(sb.n AS BIGINT) AS n_b,
       n_shared / CAST(LEAST(sa.n, sb.n) AS DOUBLE) AS containment
FROM shared
JOIN sizes sa ON id_a = sa.doc_id
JOIN sizes sb ON id_b = sb.doc_id
WHERE n_shared / CAST(LEAST(sa.n, sb.n) AS DOUBLE) >= CAST({CONTAIN_TAU} AS DOUBLE)
"""


QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_passage_exact": dedup_passage_exact,
    "dedup_minhash_signatures": dedup_minhash_signatures,
    "dedup_minhash_pairs": dedup_minhash_pairs,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_simhash": dedup_simhash,
    "dedup_clusters": dedup_clusters,
    "dedup_cluster_keepers": dedup_cluster_keepers,
    "dedup_lsh_sweep": dedup_lsh_sweep,
    "dedup_simhash_pairs": dedup_simhash_pairs,
    "dedup_simhash_band60": dedup_simhash_band60,
    "dedup_method_agreement": dedup_method_agreement,
    "dedup_sim16_agreement": dedup_sim16_agreement,
    "dedup_substring_spans": dedup_substring_spans,
    "dedup_substring_rewrite": dedup_substring_rewrite,
    "dedup_containment": dedup_containment,
}

ORACLES = {
    "dedup_exact": DEDUP_EXACT_SQL,
    "dedup_passage_exact": DEDUP_PASSAGE_EXACT_SQL,
    "dedup_minhash_signatures": DEDUP_MINHASH_SIGNATURES_SQL,
    "dedup_minhash_pairs": DEDUP_MINHASH_PAIRS_SQL,
    "dedup_ngram_jaccard": DEDUP_NGRAM_JACCARD_SQL,
    "dedup_simhash": DEDUP_SIMHASH_SQL,
    "dedup_clusters": DEDUP_CLUSTERS_SQL,
    "dedup_cluster_keepers": DEDUP_CLUSTER_KEEPERS_SQL,
    "dedup_lsh_sweep": DEDUP_LSH_SWEEP_SQL,
    "dedup_simhash_pairs": DEDUP_SIMHASH_PAIRS_SQL,
    "dedup_simhash_band60": DEDUP_SIMHASH_BAND60_SQL,
    "dedup_method_agreement": DEDUP_METHOD_AGREEMENT_SQL,
    "dedup_sim16_agreement": DEDUP_SIM16_AGREEMENT_SQL,
    "dedup_substring_spans": DEDUP_SUBSTRING_SPANS_SQL,
    "dedup_substring_rewrite": DEDUP_SUBSTRING_REWRITE_SQL,
    "dedup_containment": DEDUP_CONTAINMENT_SQL,
}
