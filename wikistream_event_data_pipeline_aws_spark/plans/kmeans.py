"""Distributed k-means (Lloyd's algorithm) over the embeddings table.

The iterative-ML companion to the ANN family (``plans/similarity.py``):
the same broadcast-centroid / keyed-aggregation shape that trains
IVF coarse quantizers at scale. Two Lloyd iterations are unrolled into
one declarative plan — at 100 TB each iteration is: one broadcast
nested-loop of K centroids against the corpus (K rows, always
broadcast), one per-vector argmin (a vec_id-partitioned window over
exactly K candidate rows), and one (cluster, dim) hash aggregation of
K×DIM cells — no collect, no driver loop state beyond plan
construction.

Determinism scaffold (same policy as the md5-derived LSH hyperplanes):
- init centroids are the first K vectors by id (no RNG);
- squared-L2 distances are left-folds in double over the dim order —
  bit-identical in Spark (``F.aggregate``) and DuckDB (``list_sum``);
- centroid means fold member values in vec_id order
  (``sort_array(collect_list(...))`` vs ``list(... ORDER BY vec_id)``)
  so both engines sum identical doubles in identical order. At
  production scale the ordered fold would relax to a tree-reduce (mean
  drift ~1 ulp is irrelevant to clustering quality); here it makes the
  whole iterative algorithm value-hash checkable;
- argmin ties break on centroid id (``ORDER BY dist, cid``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from .similarity import _COS_SQL, _sq_dist

K = 4
DIM = 64


def assign(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: broadcast the K centroids, score
    each vector against all K, keep the argmin (dist, cid)."""
    scored = vectors.join(F.broadcast(centroids)).select(
        "vec_id", "x", "cid", _sq_dist(F.col("x"), F.col("c")).alias("dist")
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("dist").asc(), F.col("cid").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("vec_id", "x", "cid")
    )


def update(members: DataFrame) -> DataFrame:
    """Per-cluster mean centroid with a vec_id-ordered fold per dim."""
    dims = members.select(
        "cid", "vec_id", F.posexplode(F.col("x")).alias("i", "val")
    )
    per_dim = dims.groupBy("cid", "i").agg(
        (
            F.aggregate(
                F.sort_array(F.collect_list(F.struct("vec_id", "val"))),
                F.lit(0.0),
                lambda acc, s: acc + s["val"],
            )
            / F.count(F.lit(1))
        ).alias("mean_val")
    )
    return per_dim.groupBy("cid").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("i", "mean_val"))),
            lambda s: s["mean_val"],
        ).alias("c")
    )


def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two unrolled Lloyd iterations; output one row per cluster with
    its final membership count and the first component of the centroid
    it was assigned against (a compact, hash-checkable fingerprint of
    the full K×DIM centroid matrix)."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("x")
    )
    cent0 = e.filter(F.col("vec_id") < K).select(
        F.col("vec_id").alias("cid"), F.col("x").alias("c")
    )
    a1 = assign(e, cent0)
    cent1 = update(a1)
    a2 = assign(e, cent1)
    return (
        a2.join(F.broadcast(cent1), "cid")
        .groupBy(F.col("cid").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min(F.col("c")[0]).alias("centroid_dim0"),
        )
    )


_DIST_SQL = "list_sum(list_transform(list_zip({x}, {c}), t -> (t[1] - t[2]) * (t[1] - t[2])))"

KMEANS_EMBEDDINGS_SQL = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings
),
cent0 AS (
  SELECT vec_id AS cid, x AS c FROM e WHERE vec_id < {K}
),
d1 AS (
  SELECT e.vec_id, c0.cid, {_DIST_SQL.format(x="e.x", c="c0.c")} AS dist
  FROM e CROSS JOIN cent0 c0
),
a1 AS (
  SELECT vec_id, cid FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk FROM d1
  ) WHERE rk = 1
),
memb1 AS (
  SELECT a1.cid, e.vec_id, e.x FROM a1 JOIN e USING (vec_id)
),
cent1_dims AS (
  SELECT cid, i,
         list_sum(list(x[i] ORDER BY vec_id)) / COUNT(*) AS mean_val
  FROM memb1, (SELECT unnest(generate_series(1, {DIM})) AS i)
  GROUP BY cid, i
),
cent1 AS (
  SELECT cid, list(mean_val ORDER BY i) AS c FROM cent1_dims GROUP BY cid
),
d2 AS (
  SELECT e.vec_id, c1.cid, {_DIST_SQL.format(x="e.x", c="c1.c")} AS dist
  FROM e CROSS JOIN cent1 c1
),
a2 AS (
  SELECT vec_id, cid FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk FROM d2
  ) WHERE rk = 1
)
SELECT a2.cid AS cluster_id, COUNT(*) AS n_members,
       MIN(c1.c[1]) AS centroid_dim0
FROM a2 JOIN cent1 c1 ON a2.cid = c1.cid
GROUP BY a2.cid
"""


def embedding_class_scatter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-class scatter per label: mean squared distance of each
    label's vectors to their own centroid — the feature-quality /
    separability statistic (the within-class half of the Fisher
    criterion) an embedding pipeline monitors across training runs.
    Reuses the k-means determinism scaffold: centroid means and the
    per-class distance sums both fold in vec_id order, distances are
    left-folds over the dim order, so the whole statistic is
    value-hash checkable. Broadcast centroid join; one (label, dim)
    agg + one label agg."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("x")
    )
    members = e.select(F.col("label").alias("cid"), "vec_id", "x")
    cent = update(members).withColumnRenamed("cid", "label")
    d2 = _sq_dist(F.col("x"), F.col("c"))
    dists = e.join(F.broadcast(cent), "label").select(
        "label", "vec_id", d2.alias("d2")
    )
    return dists.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_members"),
        (
            F.aggregate(
                F.sort_array(F.collect_list(F.struct("vec_id", "d2"))),
                F.lit(0.0),
                lambda acc, s: acc + s["d2"],
            )
            / F.count(F.lit(1))
        ).alias("within_scatter"),
    )


EMBEDDING_CLASS_SCATTER_SQL = f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS x FROM embeddings),
cent_dims AS (
  SELECT label, i, list_sum(list(x[i] ORDER BY vec_id)) / COUNT(*) AS mv
  FROM e, (SELECT unnest(generate_series(1, {DIM})) AS i)
  GROUP BY label, i
),
cent AS (SELECT label, list(mv ORDER BY i) AS c FROM cent_dims GROUP BY label),
dists AS (
  SELECT e.label, e.vec_id,
         {_DIST_SQL.format(x="e.x", c="cent.c")} AS d2
  FROM e JOIN cent USING (label)
)
SELECT label, COUNT(*) AS n_members,
       list_sum(list(d2 ORDER BY vec_id)) / COUNT(*) AS within_scatter
FROM dists GROUP BY label
"""


PQ_M = 4  # product-quantization sub-vector blocks
_PQ_BLK = DIM // PQ_M


def embedding_pq_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization prep over the IVF coarse quantizer: assign
    each vector to its nearest coarse centroid (the k-means init
    centroids — the same broadcast-argmin kernel), split the RESIDUAL
    ``x − c`` into ``PQ_M`` sub-vector blocks, and report per
    (cluster, block) the residual energy — exactly the statistic that
    sizes per-block PQ codebooks (a block carrying 10× the energy of
    another needs more codewords, or the quantization error
    concentrates there).

    Determinism: residual block energies are per-row left-folds over
    the dim order (bit-stable), and the cross-row accumulation casts to
    DECIMAL(28,12) BEFORE summing — order-free exact, so no ordered
    collect_list fold is needed at all (the scalable alternative to the
    kmeans-update fold; the cast's 1e-12 truncation is the documented
    price). One broadcast argmin + one (cluster, block) hash agg."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("x")
    )
    cent0 = e.filter(F.col("vec_id") < K).select(
        F.col("vec_id").alias("cid"), F.col("x").alias("c")
    )
    a1 = assign(e, cent0)
    res = F.zip_with(F.col("x"), F.col("c"), lambda a, b: a - b)
    withres = a1.join(F.broadcast(cent0), "cid").select(
        "cid", "vec_id", res.alias("r")
    )

    def block_energy(m: int) -> Column:
        return F.aggregate(
            F.slice(F.col("r"), m * _PQ_BLK + 1, _PQ_BLK),
            F.lit(0.0),
            lambda acc, v: acc + v * v,
        )

    energies = withres.select(
        "cid",
        "vec_id",
        F.posexplode(F.array(*[block_energy(m) for m in range(PQ_M)])).alias(
            "block", "energy"
        ),
    )
    agg = energies.groupBy("cid", "block").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum(F.col("energy").cast("decimal(28,12)")).alias("esum"),
    )
    return agg.select(
        F.col("cid").alias("cluster_id"),
        "block",
        "n_vectors",
        F.col("esum").cast("double").alias("energy_sum"),
        (F.col("esum").cast("double") / F.col("n_vectors").cast("double")).alias(
            "mean_energy"
        ),
    )


_ESUM_D = "CAST(CAST(SUM(CAST(energy AS DECIMAL(28,12))) AS VARCHAR) AS DOUBLE)"

EMBEDDING_PQ_RESIDUALS_SQL = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings
),
cent0 AS (
  SELECT vec_id AS cid, x AS c FROM e WHERE vec_id < {K}
),
d1 AS (
  SELECT e.vec_id, c0.cid, {_DIST_SQL.format(x="e.x", c="c0.c")} AS dist
  FROM e CROSS JOIN cent0 c0
),
a1 AS (
  SELECT vec_id, cid FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk FROM d1
  ) WHERE rk = 1
),
withres AS (
  SELECT a1.cid, a1.vec_id,
         list_transform(list_zip(e.x, c0.c), t -> t[1] - t[2]) AS r
  FROM a1 JOIN e USING (vec_id) JOIN cent0 c0 ON a1.cid = c0.cid
),
energies AS (
  SELECT cid, vec_id, b.block,
         list_sum(list_transform(
           list_slice(r, b.block * {_PQ_BLK} + 1, b.block * {_PQ_BLK} + {_PQ_BLK}),
           v -> v * v)) AS energy
  FROM withres, (SELECT unnest(generate_series(0, {PQ_M - 1})) AS block) b
)
SELECT cid AS cluster_id, block, COUNT(*) AS n_vectors,
       {_ESUM_D} AS energy_sum,
       {_ESUM_D} / CAST(COUNT(*) AS DOUBLE) AS mean_energy
FROM energies GROUP BY cid, block
"""


KNN_K = 5
_KNN_TEST_MOD = 20  # vec_id % MOD == 0 -> held-out test vector


# session-shared exact-kNN prediction set (r13, guide §1.2): the
# classifier query AND the confusion scorecard consume the identical
# scoring join — memoized once per session (operators/memo.py)
def knn_classify_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.memo import session_memo

    return session_memo(
        spark,
        "knn_predictions",
        sf_dir,
        ("embeddings",),
        (KNN_K, _KNN_TEST_MOD),
        lambda: _knn_classify_embeddings(spark, sf_dir).localCheckpoint(eager=False),
    )


def _knn_classify_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN classification over the embedding space: every 20th vector
    is held out, classified by majority label among its {KNN_K} nearest
    labeled neighbors (exact squared-L2 via the deterministic dim-order
    fold; neighbor ties break on vec_id, vote ties on the smaller
    label) — the label-quality / embedding-quality probe an ML data
    pipeline runs after every re-embedding. This exact all-pairs path
    is the YARDSTICK at corpus scale the same candidate generation
    moves to the LSH/IVF buckets of ``plans/similarity.py`` — only the
    scoring set changes, the vote logic is identical. Output: one row
    per held-out vector with its true label, prediction and vote count.
    On THIS synthetic corpus accuracy sits at chance (~1/|labels|):
    the labels are assigned independently of the vector geometry
    (``embedding_class_scatter`` shows the same — within-class scatter
    ≈ global scatter), and the probe reporting exactly that is the
    point: it is the instrument that catches a broken re-embedding."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("x")
    )
    test = e.filter(F.col("vec_id") % _KNN_TEST_MOD == 0).select(
        F.col("vec_id").alias("t_id"), F.col("label").alias("true_label"), F.col("x").alias("tx")
    )
    train = e.filter(F.col("vec_id") % _KNN_TEST_MOD != 0).select(
        F.col("vec_id").alias("n_id"), F.col("label").alias("n_label"), F.col("x").alias("nx")
    )
    # broadcast the BOUNDED side: the held-out probe set is 1/20 of the
    # corpus by construction (and capped in practice); the train side is
    # corpus-scale and must stream, never sit in a driver broadcast
    scored = train.join(F.broadcast(test)).select(
        "t_id", "true_label", "n_id", "n_label", _sq_dist(F.col("tx"), F.col("nx")).alias("dist")
    )
    wk = Window.partitionBy("t_id").orderBy(F.col("dist").asc(), F.col("n_id").asc())
    topk = scored.withColumn("rk", F.row_number().over(wk)).filter(F.col("rk") <= KNN_K)
    votes = topk.groupBy("t_id", "true_label", "n_label").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    wv = Window.partitionBy("t_id").orderBy(
        F.col("n_votes").desc(), F.col("n_label").asc()
    )
    return (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select(
            F.col("t_id").alias("vec_id"),
            "true_label",
            F.col("n_label").alias("predicted_label"),
            "n_votes",
            (F.col("n_label") == F.col("true_label")).alias("correct"),
        )
    )


KNN_CLASSIFY_SQL = f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS x FROM embeddings),
test AS (
  SELECT vec_id AS t_id, label AS true_label, x AS tx
  FROM e WHERE vec_id % {_KNN_TEST_MOD} = 0
),
train AS (
  SELECT vec_id AS n_id, label AS n_label, x AS nx
  FROM e WHERE vec_id % {_KNN_TEST_MOD} != 0
),
scored AS (
  SELECT t_id, true_label, n_id, n_label,
         {_DIST_SQL.format(x="tx", c="nx")} AS dist
  FROM test CROSS JOIN train
),
topk AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY t_id ORDER BY dist, n_id) AS rk
    FROM scored
  ) WHERE rk <= {KNN_K}
),
votes AS (
  SELECT t_id, true_label, n_label, COUNT(*) AS n_votes
  FROM topk GROUP BY t_id, true_label, n_label
)
SELECT t_id AS vec_id, true_label, n_label AS predicted_label, n_votes,
       n_label = true_label AS correct
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY t_id
                               ORDER BY n_votes DESC, n_label ASC) AS vr
  FROM votes
) WHERE vr = 1
"""




SEM_T = 0.95  # within-cluster cosine threshold
SEM_CLONES = 10
SEM_OFFSET = 100_000


def semdedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication with the
    pair search BOUNDED BY CLUSTERS — assign every vector to its
    nearest coarse centroid (the broadcast-argmin kernel above), then
    compare ONLY within-cluster pairs with the exact left-fold cosine.
    Candidate work is sum over clusters of |cluster|^2, never corpus^2;
    at 100 TB the cluster count K scales with N (K ~ N / target cell
    size, the IVF sizing rule), so per-cell work stays bounded — same
    Sigma|bucket|^2 argument as the LSH band join, but driven by the
    embedding geometry instead of random planes, which is what lets it
    catch SEMANTIC duplicates LSH-on-text misses. Clones planted at
    +{SEM_OFFSET} (identical vectors -> identical centroid distances ->
    same cluster, deterministically) make the dup set non-trivial.
    Output: per-cluster dedup ledger — members, duplicate pairs found,
    rows the keep-lowest-id policy would drop."""
    from ..operators.similarity import cosine

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("x")
    )
    clones = e.filter(F.col("vec_id") < SEM_CLONES).select(
        (F.col("vec_id") + SEM_OFFSET).alias("vec_id"), "x"
    )
    aug = e.unionByName(clones)
    cent0 = e.filter(F.col("vec_id") < K).select(
        F.col("vec_id").alias("cid"), F.col("x").alias("c")
    )
    a1 = assign(aug, cent0)
    left = a1.select("cid", F.col("vec_id").alias("id_a"), F.col("x").alias("xa"))
    right = a1.select("cid", F.col("vec_id").alias("id_b"), F.col("x").alias("xb"))
    pairs = (
        left.join(right, "cid")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("cid", "id_a", "id_b", cosine("xa", "xb").alias("cos"))
        .filter(F.col("cos") >= SEM_T)
    )
    members = a1.groupBy("cid").agg(F.count(F.lit(1)).alias("n_members"))
    dup_stats = pairs.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_dup_pairs"),
        F.countDistinct("id_b").alias("n_removed"),
    )
    return (
        members.join(dup_stats, "cid", "left")
        .select(
            F.col("cid").alias("cluster_id"),
            "n_members",
            F.coalesce("n_dup_pairs", F.lit(0).cast("long")).alias("n_dup_pairs"),
            F.coalesce("n_removed", F.lit(0).cast("long")).alias("n_removed"),
        )
    )


# ONE exact-cosine oracle fragment repo-wide (similarity._COS_SQL; the
# ::DOUBLE[] casts are no-ops on these already-DOUBLE[] operands): two
# hand-synced copies of a parity-critical expression would drift on the
# next association-order tweak
SEMDEDUP_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings),
aug AS (
  SELECT vec_id, x FROM e
  UNION ALL
  SELECT vec_id + {SEM_OFFSET}, x FROM e WHERE vec_id < {SEM_CLONES}
),
cent0 AS (SELECT vec_id AS cid, x AS c FROM e WHERE vec_id < {K}),
d1 AS (
  SELECT aug.vec_id, c0.cid, {_DIST_SQL.format(x="aug.x", c="c0.c")} AS dist
  FROM aug CROSS JOIN cent0 c0
),
a1 AS (
  SELECT vec_id, cid FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk FROM d1
  ) WHERE rk = 1
),
ax AS (SELECT a1.cid, a1.vec_id, aug.x FROM a1 JOIN aug USING (vec_id)),
scored AS (
  SELECT a.cid, a.vec_id AS id_a, b.vec_id AS id_b,
         {_COS_SQL.format(a="a.x", b="b.x")} AS cos
  FROM ax a JOIN ax b ON a.cid = b.cid AND a.vec_id < b.vec_id
),
pairs AS (SELECT * FROM scored WHERE cos >= {SEM_T}),
members AS (SELECT cid, COUNT(*) AS n_members FROM a1 GROUP BY cid),
dup_stats AS (
  SELECT cid, COUNT(*) AS n_dup_pairs, COUNT(DISTINCT id_b) AS n_removed
  FROM pairs GROUP BY cid
)
SELECT m.cid AS cluster_id, m.n_members,
       COALESCE(d.n_dup_pairs, CAST(0 AS BIGINT)) AS n_dup_pairs,
       COALESCE(d.n_removed, CAST(0 AS BIGINT)) AS n_removed
FROM members m LEFT JOIN dup_stats d ON m.cid = d.cid
"""


PAIR_NEG_K = 5
PAIR_NEG_LO, PAIR_NEG_HI = 0.1, 0.9


def embedding_training_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive training-pair mining — the data deliverable an
    embedding-training pipeline actually ships: for each anchor (the
    {SEM_CLONES} clone originals), one POSITIVE (its planted clone,
    cosine ~1) and the top-{PAIR_NEG_K} HARD NEGATIVES — same coarse
    k-means cell (so they look close to the index), cosine inside
    [{PAIR_NEG_LO}, {PAIR_NEG_HI}] (so they are not true duplicates and
    not trivially far). Hard-negative candidates come from the CLUSTER
    join, not an all-pairs scan — the SemDeDup bound again; ranking is
    a per-anchor window over the bounded candidate set. Ties break on
    (cosine DESC, vec_id ASC); all cosines are the exact left-fold."""
    from ..operators.similarity import cosine

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("x")
    )
    clones = e.filter(F.col("vec_id") < SEM_CLONES).select(
        (F.col("vec_id") + SEM_OFFSET).alias("vec_id"), "x"
    )
    aug = e.unionByName(clones)
    cent0 = e.filter(F.col("vec_id") < K).select(
        F.col("vec_id").alias("cid"), F.col("x").alias("c")
    )
    a1 = assign(aug, cent0)
    anchors = a1.filter(F.col("vec_id") < SEM_CLONES).select(
        F.col("cid"), F.col("vec_id").alias("anchor_id"), F.col("x").alias("ax")
    )
    positives = (
        anchors.join(
            aug.select(F.col("vec_id").alias("pair_id"), F.col("x").alias("px")),
            F.col("pair_id") == F.col("anchor_id") + SEM_OFFSET,
        )
        .select(
            "anchor_id",
            "pair_id",
            F.lit("positive").alias("pair_type"),
            cosine("ax", "px").alias("cosine_sim"),
            F.lit(1).cast("long").alias("pair_rank"),
        )
    )
    cands = (
        anchors.join(
            a1.select("cid", F.col("vec_id").alias("pair_id"), F.col("x").alias("px")),
            "cid",
        )
        .filter(
            (F.col("pair_id") != F.col("anchor_id"))
            & (F.col("pair_id") != F.col("anchor_id") + SEM_OFFSET)
        )
        .select(
            "anchor_id", "pair_id", cosine("ax", "px").alias("cosine_sim")
        )
        .filter(F.col("cosine_sim").between(PAIR_NEG_LO, PAIR_NEG_HI))
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cosine_sim").desc(), F.col("pair_id").asc()
    )
    negatives = (
        cands.withColumn("pair_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("pair_rank") <= PAIR_NEG_K)
        .select(
            "anchor_id",
            "pair_id",
            F.lit("hard_negative").alias("pair_type"),
            "cosine_sim",
            "pair_rank",
        )
    )
    return positives.unionByName(negatives)


EMBEDDING_TRAINING_PAIRS_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings),
aug AS (
  SELECT vec_id, x FROM e
  UNION ALL
  SELECT vec_id + {SEM_OFFSET}, x FROM e WHERE vec_id < {SEM_CLONES}
),
cent0 AS (SELECT vec_id AS cid, x AS c FROM e WHERE vec_id < {K}),
d1 AS (
  SELECT aug.vec_id, c0.cid, {_DIST_SQL.format(x="aug.x", c="c0.c")} AS dist
  FROM aug CROSS JOIN cent0 c0
),
a1 AS (
  SELECT vec_id, cid FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk FROM d1
  ) WHERE rk = 1
),
ax AS (SELECT a1.cid, a1.vec_id, aug.x FROM a1 JOIN aug USING (vec_id)),
anchors AS (SELECT cid, vec_id AS anchor_id, x AS axv FROM ax WHERE vec_id < {SEM_CLONES}),
positives AS (
  SELECT a.anchor_id, p.vec_id AS pair_id, 'positive' AS pair_type,
         {_COS_SQL.format(a="a.axv", b="p.x")} AS cosine_sim,
         CAST(1 AS BIGINT) AS pair_rank
  FROM anchors a JOIN aug p ON p.vec_id = a.anchor_id + {SEM_OFFSET}
),
cands AS (
  SELECT a.anchor_id, c.vec_id AS pair_id,
         {_COS_SQL.format(a="a.axv", b="c.x")} AS cosine_sim
  FROM anchors a JOIN ax c ON a.cid = c.cid
  WHERE c.vec_id <> a.anchor_id AND c.vec_id <> a.anchor_id + {SEM_OFFSET}
),
banded AS (
  SELECT * FROM cands WHERE cosine_sim BETWEEN {PAIR_NEG_LO} AND {PAIR_NEG_HI}
),
negatives AS (
  SELECT anchor_id, pair_id, 'hard_negative' AS pair_type, cosine_sim,
         CAST(pair_rank AS BIGINT) AS pair_rank
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
                                 ORDER BY cosine_sim DESC, pair_id ASC) AS pair_rank
    FROM banded
  ) WHERE pair_rank <= {PAIR_NEG_K}
)
SELECT * FROM positives UNION ALL SELECT * FROM negatives
"""


def eval_knn_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class confusion statistics + macro-F1 over the k-NN
    classifier's held-out predictions — the MODEL-EVAL half of the
    label-quality probe (``knn_classify_embeddings`` emits the
    predictions; this is the scorecard a re-embedding pipeline gates
    on). One row per class observed in truth or predictions (a spine
    over both sides, so a class that is ONLY ever predicted still
    reports its false positives): support, tp/fp/fn, precision
    (NULL when the class is never predicted), recall, f1, and the
    macro-F1 across classes on every row.

    Exactness: all confusion cells are exact BIGINTs from the bounded
    |classes| grain; precision/recall/f1 are one float division each;
    macro-F1 sums DECIMAL(28,12)-cast f1 over the |classes| window.
    The eval set is the held-out 1-in-{mod} slice — bounded by design,
    which is what keeps the upstream exact k-NN yardstick affordable;
    at corpus scale the predictions feed from the ANN path instead
    (same vote logic — see knn_classify_embeddings docstring)."""
    # three consumers (class spine, per-true, per-pred) read the
    # SESSION-shared prediction memo (knn_classify_embeddings is
    # checkpoint-fenced there) — the exact-kNN scoring join runs once
    # per session, not once per consumer per query
    p = knn_classify_embeddings(spark, sf_dir).select(
        "true_label", "predicted_label"
    )
    classes = (
        p.select(F.col("true_label").alias("label"))
        .unionAll(p.select(F.col("predicted_label").alias("label")))
        .distinct()
    )
    per_true = p.groupBy(F.col("true_label").alias("label")).agg(
        F.count(F.lit(1)).alias("support"),
        F.sum(
            (F.col("predicted_label") == F.col("true_label")).cast("bigint")
        ).alias("tp"),
    )
    per_pred = p.groupBy(F.col("predicted_label").alias("label")).agg(
        F.sum(
            (F.col("predicted_label") != F.col("true_label")).cast("bigint")
        ).alias("fp")
    )
    j = (
        classes.join(per_true, "label", "left")
        .join(per_pred, "label", "left")
        .select(
            "label",
            F.coalesce(F.col("support"), F.lit(0)).alias("support"),
            F.coalesce(F.col("tp"), F.lit(0)).alias("tp"),
            F.coalesce(F.col("fp"), F.lit(0)).alias("fp"),
            (F.coalesce(F.col("support"), F.lit(0)) - F.coalesce(F.col("tp"), F.lit(0))).alias("fn"),
        )
    )
    tp, fp, fn, sup = (F.col(c) for c in ("tp", "fp", "fn", "support"))
    precision = F.when(
        tp + fp > 0, tp.cast("double") / (tp + fp).cast("double")
    )
    recall = F.when(sup > 0, tp.cast("double") / sup.cast("double"))
    f1 = F.when(
        F.lit(2) * tp + fp + fn > 0,
        (F.lit(2) * tp).cast("double") / (F.lit(2) * tp + fp + fn).cast("double"),
    )
    wall = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    macro_f1 = F.sum(f1.cast("decimal(28,12)")).over(wall).cast(
        "double"
    ) / F.count(f1).over(wall).cast("double")
    return j.select(
        "label",
        "support",
        "tp",
        "fp",
        "fn",
        precision.alias("precision"),
        recall.alias("recall"),
        f1.alias("f1"),
        macro_f1.alias("macro_f1"),
    )


EVAL_KNN_CONFUSION_SQL = f"""
WITH preds AS ({KNN_CLASSIFY_SQL}),
p AS (SELECT true_label, predicted_label FROM preds),
classes AS (
  SELECT DISTINCT label FROM (
    SELECT true_label AS label FROM p
    UNION ALL SELECT predicted_label AS label FROM p
  )
),
per_true AS (
  SELECT true_label AS label, CAST(COUNT(*) AS BIGINT) AS support,
         CAST(SUM(CASE WHEN predicted_label = true_label THEN 1 ELSE 0 END)
              AS BIGINT) AS tp
  FROM p GROUP BY true_label
),
per_pred AS (
  SELECT predicted_label AS label,
         CAST(SUM(CASE WHEN predicted_label <> true_label THEN 1 ELSE 0 END)
              AS BIGINT) AS fp
  FROM p GROUP BY predicted_label
),
j AS (
  SELECT c.label,
         COALESCE(support, CAST(0 AS BIGINT)) AS support,
         COALESCE(tp, CAST(0 AS BIGINT)) AS tp,
         COALESCE(fp, CAST(0 AS BIGINT)) AS fp,
         COALESCE(support, CAST(0 AS BIGINT))
           - COALESCE(tp, CAST(0 AS BIGINT)) AS fn
  FROM classes c
  LEFT JOIN per_true USING (label)
  LEFT JOIN per_pred USING (label)
),
scored AS (
  SELECT *,
         CASE WHEN tp + fp > 0
              THEN CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END AS precision,
         CASE WHEN support > 0
              THEN CAST(tp AS DOUBLE) / CAST(support AS DOUBLE) END AS recall,
         CASE WHEN 2 * tp + fp + fn > 0
              THEN CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE)
              END AS f1
  FROM j
)
SELECT label, support, tp, fp, fn, precision, recall, f1,
       CAST(CAST(SUM(CAST(f1 AS DECIMAL(28,12))) OVER () AS VARCHAR) AS DOUBLE)
       / CAST(COUNT(f1) OVER () AS DOUBLE) AS macro_f1
FROM scored
"""


QUERIES = {
    "kmeans_embeddings": kmeans_embeddings,
    "eval_knn_confusion": eval_knn_confusion,
    "embedding_class_scatter": embedding_class_scatter,
    "embedding_pq_residuals": embedding_pq_residuals,
    "knn_classify_embeddings": knn_classify_embeddings,
    "semdedup_embeddings": semdedup_embeddings,
    "embedding_training_pairs": embedding_training_pairs,
}
ORACLES = {
    "kmeans_embeddings": KMEANS_EMBEDDINGS_SQL,
    "eval_knn_confusion": EVAL_KNN_CONFUSION_SQL,
    "embedding_class_scatter": EMBEDDING_CLASS_SCATTER_SQL,
    "embedding_pq_residuals": EMBEDDING_PQ_RESIDUALS_SQL,
    "knn_classify_embeddings": KNN_CLASSIFY_SQL,
    "semdedup_embeddings": SEMDEDUP_SQL,
    "embedding_training_pairs": EMBEDDING_TRAINING_PAIRS_SQL,
}
