"""Text-analysis queries over the documents table (north-star ops:
language-ID heuristic, quality scoring, token counting, fingerprinting).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.detmath import _bitlen, det_ln_ratio
from ..operators.textops import STOPWORDS, bpe_piece_count, fingerprint, tokenize

_TOKS_SQL = r"string_split_regex(trim(text), '\s+')"


def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    return d.select(
        "doc_id",
        "lang",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        bpe_piece_count(F.col("text")).alias("n_bpe_pieces"),
        F.length(F.regexp_replace("text", r"\s", "")).alias("n_chars_nospace"),
    )


TEXT_TOKEN_STATS_SQL = rf"""
SELECT doc_id, lang,
       CAST(len({_TOKS_SQL}) AS INTEGER) AS n_tokens,
       CAST(len(list_distinct({_TOKS_SQL})) AS INTEGER) AS n_distinct_tokens,
       CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS INTEGER) AS n_bpe_pieces,
       CAST(length(regexp_replace(text, '\s', '', 'g')) AS INTEGER) AS n_chars_nospace
FROM documents
"""


def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic quality heuristic: length saturation x lexical
    diversity, penalized by stopword density. The expression tree lives
    in ``operators/textops.quality_score_parts`` and is shared with
    ``dedup_cluster_keepers`` so keeper selection can never drift from
    the published metric."""
    from ..operators.textops import quality_score_parts

    d = load_table(spark, sf_dir, "documents")
    parts = quality_score_parts(F.col("text"))
    return d.select(
        "doc_id",
        parts["n_tokens"].alias("n_tokens"),
        parts["stop_ratio"].alias("stopword_ratio"),
        parts["diversity"].alias("lexical_diversity"),
        parts["score"].alias("quality_score"),
    )


_STOP_LIST = "[" + ", ".join(f"'{s}'" for s in STOPWORDS) + "]"

TEXT_QUALITY_SCORE_SQL = rf"""
WITH t AS (
  SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
),
m AS (
  SELECT doc_id,
         CAST(len(toks) AS INTEGER) AS n_tokens,
         len(list_filter(toks, x -> list_contains({_STOP_LIST}, x))) AS n_stop,
         len(list_distinct(toks)) AS n_distinct
  FROM t
)
SELECT doc_id, n_tokens,
       n_stop / NULLIF(CAST(n_tokens AS DOUBLE), 0.0) AS stopword_ratio,
       n_distinct / NULLIF(CAST(n_tokens AS DOUBLE), 0.0) AS lexical_diversity,
       LEAST(CAST(1.0 AS DOUBLE), n_tokens / CAST(50.0 AS DOUBLE))
         * (CAST(0.5 AS DOUBLE) + CAST(0.5 AS DOUBLE) * (n_distinct / NULLIF(CAST(n_tokens AS DOUBLE), 0.0)))
         * (CAST(1.0 AS DOUBLE) - CAST(0.5 AS DOUBLE) * (n_stop / NULLIF(CAST(n_tokens AS DOUBLE), 0.0))) AS quality_score
FROM m
"""

# language marker words (n-gram/stopword heuristic language ID)
LANG_MARKERS = {
    "en": ("the", "a", "of", "and", "value"),
    "es": ("el", "la", "los", "de", "y"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "les", "des", "et", "est"),
    "zh": ("的", "是", "了", "在", "我"),
}


def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    scored = d.select("doc_id", F.col("lang").alias("labeled_lang"), toks.alias("toks"))
    for lang, markers in LANG_MARKERS.items():
        arr = F.array(*[F.lit(m) for m in markers])
        scored = scored.withColumn(
            f"c_{lang}", F.size(F.filter(F.col("toks"), lambda t: F.array_contains(arr, t)))
        )
    best = F.lit("unknown")
    best_count = F.lit(0)
    # deterministic argmax: strictly-greater wins, ties keep earlier lang
    for lang in LANG_MARKERS:
        cond = F.col(f"c_{lang}") > best_count
        best = F.when(cond, F.lit(lang)).otherwise(best)
        best_count = F.when(cond, F.col(f"c_{lang}")).otherwise(best_count)
    return scored.select(
        "doc_id",
        "labeled_lang",
        *[F.col(f"c_{lang}").cast("int").alias(f"c_{lang}") for lang in LANG_MARKERS],
        best.alias("detected_lang"),
    )


def _langid_sql() -> str:
    counts = ",\n         ".join(
        "CAST(len(list_filter(toks, x -> list_contains(["
        + ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
        + f"], x))) AS INTEGER) AS c_{lang}"
        for lang in LANG_MARKERS
    )
    langs = list(LANG_MARKERS)
    detect = "CASE"
    # mirror the Spark fold exactly: later langs win only on strictly greater
    expr_best = "'unknown'"
    expr_cnt = "0"
    for lang in langs:
        expr_best = f"CASE WHEN c_{lang} > ({expr_cnt}) THEN '{lang}' ELSE ({expr_best}) END"
        expr_cnt = f"CASE WHEN c_{lang} > ({expr_cnt}) THEN c_{lang} ELSE ({expr_cnt}) END"
    return rf"""
WITH t AS (
  SELECT doc_id, lang AS labeled_lang, {_TOKS_SQL} AS toks FROM documents
),
m AS (
  SELECT doc_id, labeled_lang,
         {counts}
  FROM t
)
SELECT doc_id, labeled_lang, {", ".join("c_" + lang for lang in langs)},
       {expr_best} AS detected_lang
FROM m
"""


TEXT_LANGID_SQL = _langid_sql()


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        fingerprint(tokenize(F.col("text"))).alias("content_fingerprint"),
        F.md5("text").alias("raw_md5"),
    )


TEXT_FINGERPRINT_SQL = rf"""
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct({_TOKS_SQL})), ' ')) AS content_fingerprint,
       md5(text) AS raw_md5
FROM documents
"""


TFIDF_TOPK = 3


def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k characteristic tokens per document by TF-IDF.

    Classic corpus-analysis operator the reference lacks. IDF uses the
    rational BM25 form ``(N - df + 0.5) / (df + 0.5)`` instead of
    ``ln(N/df)`` deliberately: plain double arithmetic is bit-identical
    across engines where libm ``ln`` is not, so the scores value-hash
    exactly. Shape: explode -> (doc, token) count agg -> token-keyed
    df agg -> token-keyed join back -> per-doc window top-k. Three
    key-partitioned shuffles, N broadcast as a 1-row agg; no global
    sort and no collect.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokenize(F.col("text"))).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df_docs"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = tf.join(dfreq, "token").crossJoin(F.broadcast(n))
    idf = (F.col("n_docs") - F.col("df_docs") + F.lit(0.5)) / (
        F.col("df_docs") + F.lit(0.5)
    )
    score = F.col("tf") * idf
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "token")
    return (
        scored.select("doc_id", "token", "tf", "df_docs", score.alias("score"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TFIDF_TOPK)
        .select("doc_id", "rnk", "token", "tf", "df_docs", "score")
    )


TEXT_TFIDF_TOPK_SQL = rf"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS token FROM documents
),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token),
dfreq AS (SELECT token, COUNT(*) AS df_docs FROM tf GROUP BY token),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, token, tf, df_docs,
         tf * ((n_docs - df_docs + CAST(0.5 AS DOUBLE)) / (df_docs + CAST(0.5 AS DOUBLE))) AS score
  FROM tf JOIN dfreq USING (token), n
),
ranked AS (
  SELECT doc_id, token, tf, df_docs, score,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS rnk
  FROM scored
)
SELECT doc_id, rnk, token, tf, df_docs, score
FROM ranked WHERE rnk <= {TFIDF_TOPK}
"""


BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 5
# Fixed benchmark query set (terms drawn from the synthetic vocabulary)
BM25_QUERIES: tuple[tuple[str, tuple[str, ...]], ...] = (
    ("q1", ("hash", "join")),
    ("q2", ("window", "agg", "scan")),
    ("q3", ("customer", "order", "value")),
)


def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval: top-{k} documents per benchmark query
    (Robertson/Sparck Jones probabilistic relevance — the ranking
    function behind Lucene/Elasticsearch defaults; k1={k1}, b={b}).

    Like ``text_tfidf_topk``, the IDF keeps BM25's rational core
    ``(N - df + 0.5) / (df + 0.5)`` WITHOUT the log wrapper: plain
    double arithmetic is bit-identical across engines where libm ``ln``
    is not, and log is monotone so rankings are unchanged. Per-term
    scores are summed as DECIMAL(38,9) (order-free exact addition —
    the repo's float-sum discipline) and the ranking orders by the
    decimal, so no 1-ulp float drift can flip a rank near the top-k
    boundary.

    Scale shape: the query-term table is a literal broadcast; the token
    stream is inner-joined to it BEFORE the tf aggregation, so only
    matching postings shuffle (|q| terms' postings, not the corpus).
    df comes from that same filtered posting set; N and avgdl are a
    1-row broadcast aggregate. Two slim corpus scans (posting stream +
    corpus stats), two candidate-bounded shuffles, a per-query top-k
    window over candidate docs only.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = d.select("doc_id", tokenize(F.col("text")).alias("__toks"))
    qt = spark.createDataFrame(
        [(qid, t) for qid, terms in BM25_QUERIES for t in terms],
        "query_id string, token string",
    )
    toks = base.select(
        "doc_id", F.size("__toks").alias("dl"), F.explode("__toks").alias("token")
    )
    # tf feeds BOTH dfreq and the scored join — fence the (tiny:
    # candidate docs x |q| terms) posting set so the corpus scan +
    # token explode runs once, not once per consumer
    tf = (
        toks.join(F.broadcast(qt), "token")
        .groupBy("query_id", "doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"), F.min("dl").alias("dl"))
        .localCheckpoint(eager=True)
    )
    dfreq = (
        tf.select("token", "doc_id")
        .distinct()
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df_docs"))
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("__toks")).alias("sum_dl"),
    )
    s = tf.join(dfreq, "token").crossJoin(F.broadcast(stats))
    idf = (F.col("n_docs") - F.col("df_docs") + F.lit(0.5)) / (
        F.col("df_docs") + F.lit(0.5)
    )
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    denom = F.col("tf") + F.lit(BM25_K1) * (
        F.lit(1.0) - F.lit(BM25_B) + F.lit(BM25_B) * (F.col("dl") / avgdl)
    )
    term_score = idf * ((F.col("tf") * F.lit(BM25_K1 + 1.0)) / denom)
    per_doc = s.groupBy("query_id", "doc_id").agg(
        F.sum(term_score.cast("decimal(38,9)")).alias("score_dec"),
        F.count(F.lit(1)).alias("n_terms"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score_dec"), "doc_id")
    return (
        per_doc.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= BM25_TOPK)
        .select(
            "query_id",
            "rnk",
            "doc_id",
            "n_terms",
            F.col("score_dec").cast("double").alias("bm25"),
        )
    )


text_bm25_topk.__doc__ = text_bm25_topk.__doc__.format(
    k=BM25_TOPK, k1=BM25_K1, b=BM25_B
)

_BM25_QT_VALUES = ", ".join(
    f"('{qid}', '{t}')" for qid, terms in BM25_QUERIES for t in terms
)

TEXT_BM25_TOPK_SQL = rf"""
WITH qt AS (SELECT * FROM (VALUES {_BM25_QT_VALUES}) v(query_id, token)),
base AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
toks AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS token FROM base),
tf AS (
  SELECT query_id, doc_id, token, COUNT(*) AS tf, MIN(dl) AS dl
  FROM toks JOIN qt USING (token)
  GROUP BY query_id, doc_id, token
),
dfreq AS (
  SELECT token, COUNT(*) AS df_docs
  FROM (SELECT DISTINCT token, doc_id FROM tf) GROUP BY token
),
stats AS (
  SELECT COUNT(*) AS n_docs, CAST(SUM(len(toks)) AS BIGINT) AS sum_dl FROM base
),
scored AS (
  SELECT query_id, doc_id,
         ((n_docs - df_docs + CAST(0.5 AS DOUBLE)) / (df_docs + CAST(0.5 AS DOUBLE)))
         * ((tf * (CAST({BM25_K1} AS DOUBLE) + 1)) /
            (tf + CAST({BM25_K1} AS DOUBLE)
                  * (1 - CAST({BM25_B} AS DOUBLE)
                     + CAST({BM25_B} AS DOUBLE)
                       * (dl / (CAST(sum_dl AS DOUBLE) / n_docs))))) AS term_score
  FROM tf JOIN dfreq USING (token), stats
),
per_doc AS (
  SELECT query_id, doc_id,
         SUM(CAST(term_score AS DECIMAL(38,9))) AS score_dec,
         CAST(COUNT(*) AS BIGINT) AS n_terms
  FROM scored GROUP BY query_id, doc_id
),
ranked AS (
  SELECT query_id, doc_id, score_dec, n_terms,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score_dec DESC, doc_id) AS rnk
  FROM per_doc
)
SELECT query_id, rnk, doc_id, n_terms, CAST(score_dec AS DOUBLE) AS bm25
FROM ranked WHERE rnk <= {BM25_TOPK}
"""


INVIDX_TOPK = 20
INVIDX_POSTINGS_CAP = 50


def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index build: token -> sorted posting list of doc_ids,
    for the highest-document-frequency tokens.

    The df count is an exact token-keyed aggregation; the postings
    sample is capped BEFORE any array materializes — a token-partitioned
    ``row_number`` keeps only the first ``INVIDX_POSTINGS_CAP`` doc_ids,
    so no executor ever holds a full posting list (a stopword's postings
    at 100 TB would otherwise OOM the collect). The window shuffle is
    sort-based and spillable; a production index would page the full
    lists into (token, doc_id_bucket) shards with the same bound.
    Final top-k is a TakeOrderedAndProject over the token aggregate.
    """
    d = load_table(spark, sf_dir, "documents")
    tok_docs = d.select(
        "doc_id", F.explode(tokenize(F.col("text"))).alias("token")
    ).distinct()
    return _index_topk_from_postings(tok_docs)


def _index_topk_from_postings(tok_docs: DataFrame) -> DataFrame:
    """Shared index readout over a distinct (doc_id, token) posting set:
    per-token df + capped sorted posting sample, top-``INVIDX_TOPK`` by
    df. Consumed by the batch build above and by the streaming sink
    readout (``streaming_postings_sink``), so the two paths aggregate
    identically by construction."""
    dfreq = tok_docs.groupBy("token").agg(F.count(F.lit(1)).alias("df_docs"))
    w = Window.partitionBy("token").orderBy("doc_id")
    sample = (
        tok_docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= INVIDX_POSTINGS_CAP)
        .groupBy("token")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("postings_sample")
        )
    )
    return (
        dfreq.join(sample, "token")
        .select("token", "df_docs", "postings_sample")
        .orderBy(F.desc("df_docs"), "token")
        .limit(INVIDX_TOPK)
    )


def _postings_stream_src(spark: SparkSession, sf_dir: str) -> str:
    """Two-file (even/odd doc_id) replay source, built once per version
    of the documents table; bench.warmup pre-builds it with the other
    setup artifacts."""
    from ..operators.memo import fixture
    from ..streaming.ingest import write_parity_replay

    def build(base: str) -> str:
        d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        return write_parity_replay(d, "doc_id", base)

    return fixture("postings_src", sf_dir, ("documents",), build)


def streaming_postings_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental inverted-index maintenance end-to-end (VERDICT r7
    item 7): the documents table replays as TWO micro-batches
    (deterministic even/odd doc_id split, one file each) through
    ``streaming.ingest.start_postings_sink``, whose foreachBatch
    INSERT-ONLY merges each batch's distinct (token, doc_id) postings
    into a persistent postings table — set-union is the index's merge
    algebra, so replayed batches and duplicate deliveries no-op and
    the end-of-stream table is BIT-IDENTICAL to the batch build's
    posting set. The readout aggregates that table through the exact
    code path the batch ``text_inverted_index`` uses
    (``_index_topk_from_postings``) and is value-checked against the
    batch oracle — the strongest form of the streamed==batch claim.
    Replay idempotency is pinned separately in the streaming tests."""
    import tempfile

    from ..streaming.ingest import await_drain, file_stream, start_postings_sink

    src = _postings_stream_src(spark, sf_dir)
    with tempfile.TemporaryDirectory(prefix="postings_stream_", ignore_cleanup_errors=True) as tmp:
        postings_path, ckpt = f"{tmp}/postings", f"{tmp}/ckpt"
        stream = file_stream(
            spark, src, "doc_id bigint, text string", max_files_per_trigger=1
        )
        q = start_postings_sink(
            stream, postings_path, checkpoint_dir=ckpt, trigger={"availableNow": True}
        )
        await_drain(q, "postings stream")
        postings = spark.read.parquet(postings_path).select("doc_id", "token")
        # materialize the small readout so the scratch dir can go now
        return _index_topk_from_postings(postings).localCheckpoint(eager=True)


TEXT_INVERTED_INDEX_SQL = rf"""
WITH toks AS (
  SELECT DISTINCT doc_id, token
  FROM (SELECT doc_id, unnest({_TOKS_SQL}) AS token FROM documents) raw
),
dfreq AS (SELECT token, COUNT(*) AS df_docs FROM toks GROUP BY token),
sample AS (
  SELECT token, array_to_string(list_sort(list(doc_id)), ',') AS postings_sample
  FROM (
    SELECT token, doc_id,
           ROW_NUMBER() OVER (PARTITION BY token ORDER BY doc_id) AS rn
    FROM toks
  ) WHERE rn <= {INVIDX_POSTINGS_CAP}
  GROUP BY token
)
SELECT token, df_docs, postings_sample
FROM dfreq JOIN sample USING (token)
ORDER BY df_docs DESC, token
LIMIT {INVIDX_TOPK}
"""


N_HASH_BUCKETS = 32


def text_hashing_vectorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (the hashing trick): tokens fold into a fixed
    N_HASH_BUCKETS-dim count vector via an md5-derived bucket — the
    vectorization step between raw text and the ANN/k-means family,
    with no vocabulary to build, broadcast, or keep consistent across
    a 100 TB corpus (that's the trick's point: the 'vocabulary' is a
    pure function). Emits per-doc vector fingerprints (nnz, exact-int
    L2 norm under one sqrt, deterministic argmax bucket) rather than
    the dense vector, so the output stays narrow at any dimension.
    One explode + one (doc, bucket) hash agg + one doc-keyed window."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokenize(F.col("text"))).alias("token"))
    bucket = (
        F.conv(F.substring(F.md5("token"), 1, 8), 16, 10).cast("long")
        % N_HASH_BUCKETS
    )
    counts = toks.groupBy("doc_id", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("cnt").desc(), F.col("bucket").asc())
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("nnz"),
            F.sqrt(F.sum(F.col("cnt") * F.col("cnt")).cast("double")).alias("l2norm"),
            F.min(F.when(F.col("rk") == 1, F.col("bucket"))).alias("top_bucket"),
        )
    )


TEXT_HASHING_VECTORIZE_SQL = rf"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS token FROM documents
),
bucketed AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(token), 1, 8)) AS BIGINT) % {N_HASH_BUCKETS} AS bucket,
         COUNT(*) AS cnt
  FROM toks GROUP BY doc_id, bucket
),
ranked AS (
  SELECT doc_id, bucket, cnt,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cnt DESC, bucket ASC) AS rk
  FROM bucketed
)
SELECT doc_id,
       COUNT(*) AS nnz,
       sqrt(CAST(SUM(cnt * cnt) AS DOUBLE)) AS l2norm,
       MIN(CASE WHEN rk = 1 THEN bucket END) AS top_bucket
FROM ranked GROUP BY doc_id
"""


NOVELTY_K = 3


def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-order n-gram novelty — the redundancy curve a curation
    pipeline watches while assembling training data: for each doc (in
    doc_id ingestion order), what fraction of its distinct
    {NOVELTY_K}-grams has never appeared in any EARLIER doc. Computed
    without any ordered scan: the first-seen owner of every shingle is
    a ``min(doc_id)`` hash agg, joined back to the per-doc shingle
    sets — two keyed shuffles total, fully parallel, no window over the
    corpus order. A novelty collapse across ingestion time is the
    earliest near-dup / crawl-loop signal, visible before any pairwise
    dedup runs."""
    from ..operators.textops import exploded_shingles

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sh = exploded_shingles(d, "doc_id", "text", k=NOVELTY_K).distinct()
    first = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    j = sh.join(first, "shingle")
    return (
        j.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("int"))
            .cast("bigint")
            .alias("n_novel"),
        )
        .withColumn(
            "novelty_frac",
            F.col("n_novel").cast("double") / F.col("n_ngrams").cast("double"),
        )
    )


TEXT_NGRAM_NOVELTY_SQL = rf"""
WITH toks AS (
  SELECT doc_id, {_TOKS_SQL} AS t FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(CASE WHEN len(t) >= {NOVELTY_K}
                     THEN list_transform(range(1, len(t) - 1),
                                         i -> concat_ws(' ', t[i], t[i+1], t[i+2]))
                     ELSE [] END) AS shingle
  FROM toks
),
first_seen AS (
  SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY shingle
)
SELECT sh.doc_id,
       COUNT(*) AS n_ngrams,
       CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS novelty_frac
FROM sh JOIN first_seen f ON sh.shingle = f.shingle
GROUP BY sh.doc_id
"""


def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language — BPE-ish pieces per whitespace
    word, the metric that tells a multilingual pipeline which languages
    a tokenizer fragments (fertility ≫ 1 → that language pays more
    context budget per word, informing mixture and vocab decisions).
    Exact integer sums per language; the two ratios are single float
    divisions."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.size(tokenize(F.col("text"))).cast("long")
    pieces = bpe_piece_count(F.col("text")).cast("long")
    agg = d.select("lang", toks.alias("t"), pieces.alias("p")).groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("t").alias("total_tokens"),
        F.sum("p").alias("total_pieces"),
    )
    return agg.select(
        "lang",
        "n_docs",
        "total_tokens",
        "total_pieces",
        (F.col("total_pieces").cast("double") / F.col("total_tokens").cast("double")).alias(
            "fertility"
        ),
    )


TOKENIZER_FERTILITY_SQL = rf"""
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(len({_TOKS_SQL})) AS BIGINT) AS total_tokens,
       CAST(SUM(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))) AS BIGINT)
         AS total_pieces,
       CAST(SUM(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))) AS DOUBLE)
         / CAST(SUM(len({_TOKS_SQL})) AS DOUBLE) AS fertility
FROM documents GROUP BY lang
"""


_CTX_WINDOWS = (32, 64, 128)  # token budgets probed (synthetic docs are short)


def context_window_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-budget planning: per language, the fraction of documents
    whose BPE-piece count fits each candidate window size — the
    truncation-loss readout that picks sequence lengths before packing.
    One pass, conditional sums; fractions are single divisions."""
    d = load_table(spark, sf_dir, "documents")
    pieces = bpe_piece_count(F.col("text")).cast("long")
    base = d.select("lang", pieces.alias("p"))
    aggs = [F.count(F.lit(1)).alias("n_docs")]
    for w in _CTX_WINDOWS:
        aggs.append(
            F.sum((F.col("p") <= w).cast("int")).cast("bigint").alias(f"fit_{w}")
        )
    out = base.groupBy("lang").agg(*aggs)
    for w in _CTX_WINDOWS:
        out = out.withColumn(
            f"frac_fit_{w}",
            F.col(f"fit_{w}").cast("double") / F.col("n_docs").cast("double"),
        )
    return out


def _context_fit_sql() -> str:
    pieces = r"len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))"
    fit_cols = ",\n       ".join(
        f"CAST(SUM(CASE WHEN {pieces} <= {w} THEN 1 ELSE 0 END) AS BIGINT) AS fit_{w}"
        for w in _CTX_WINDOWS
    )
    frac_cols = ",\n       ".join(
        f"CAST(SUM(CASE WHEN {pieces} <= {w} THEN 1 ELSE 0 END) AS DOUBLE)"
        f" / CAST(COUNT(*) AS DOUBLE) AS frac_fit_{w}"
        for w in _CTX_WINDOWS
    )
    return f"""
SELECT lang, COUNT(*) AS n_docs,
       {fit_cols},
       {frac_cols}
FROM documents GROUP BY lang
"""


CONTEXT_WINDOW_FIT_SQL = _context_fit_sql()


def text_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model surprisal per document — the statistical
    quality/fluency score a curation pipeline uses where a real LM is
    too expensive: train add-one-smoothed bigram counts on the corpus
    itself, then score each doc by its total/mean surprisal
    -log2 P(w2|w1) ~ bitlen(c(w1) + V) - bitlen(c(w1,w2) + 1), the
    integer-quantized log2 (exact via binary-string length — see
    ``_bitlen``; the true-log version differs by < 1 bit/bigram and
    has no cross-engine bit guarantee). High mean surprisal = rare
    transitions (gibberish or novelty); low = boilerplate. At 100 TB:
    three hash-aggregated shuffles (doc×bigram occurrences, bigram
    counts, context counts) + one broadcast scalar (vocab size); count
    tables are vocabulary-sized, occurrences shrink to distinct
    (doc, bigram) before any join. No float until the final division
    of identical integers."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return bigram_surprisal_df(d)


def bigram_surprisal_df(d: DataFrame) -> DataFrame:
    """Core of :func:`text_bigram_surprisal` over any (doc_id, text)
    frame — separated so the property suite can drive it with random
    corpora against a pure-Python reference."""
    from ..operators.textops import exploded_shingles, tokenize

    occ = (
        exploded_shingles(d, "doc_id", "text", k=2)
        .groupBy("doc_id", "shingle")
        .agg(F.count(F.lit(1)).alias("n_occ"))
    )
    c12 = occ.groupBy("shingle").agg(F.sum("n_occ").alias("n12"))
    w1 = F.split(F.col("shingle"), " ", 2)[0]
    c1 = (
        occ.select(w1.alias("w1"), "n_occ")
        .groupBy("w1")
        .agg(F.sum("n_occ").alias("n1"))
    )
    # an empty doc tokenizes to [''] on both engines — exclude the empty
    # pseudo-token from the vocabulary (caught by the property suite's
    # pure-Python reference)
    vocab = (
        d.select(F.explode(tokenize(F.col("text"))).alias("tok"))
        .filter(F.col("tok") != "")
        .agg(F.countDistinct("tok").alias("v"))
    )
    s = (
        occ.join(c12, "shingle")
        .withColumn("w1", w1)
        .join(c1, "w1")
        .join(F.broadcast(vocab))
        .select(
            "doc_id",
            "n_occ",
            (_bitlen(F.col("n1") + F.col("v")) - _bitlen(F.col("n12") + 1)).alias("s"),
        )
    )
    return s.groupBy("doc_id").agg(
        F.sum("n_occ").alias("n_bigrams"),
        F.sum(F.col("n_occ") * F.col("s")).alias("surprisal_sum"),
        (
            F.sum(F.col("n_occ") * F.col("s")).cast("double")
            / F.sum("n_occ").cast("double")
        ).alias("mean_surprisal"),
    )


TEXT_BIGRAM_SURPRISAL_SQL = rf"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
uni AS (
  SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v
  FROM (SELECT unnest(t) AS tok FROM toks) WHERE tok <> ''
),
bg AS (
  SELECT doc_id,
         unnest(CASE WHEN len(t) >= 2
                     THEN list_transform(range(1, len(t)),
                                         i -> concat_ws(' ', t[i], t[i+1]))
                     ELSE [] END) AS bigram
  FROM toks
),
occ AS (SELECT doc_id, bigram, COUNT(*) AS n_occ FROM bg GROUP BY doc_id, bigram),
c12 AS (SELECT bigram, CAST(SUM(n_occ) AS BIGINT) AS n12 FROM occ GROUP BY bigram),
c1 AS (
  SELECT split_part(bigram, ' ', 1) AS w1, CAST(SUM(n_occ) AS BIGINT) AS n1
  FROM occ GROUP BY 1
),
s AS (
  SELECT o.doc_id, o.n_occ,
         length(bin(c1.n1 + (SELECT v FROM uni))) - length(bin(c12.n12 + 1)) AS s
  FROM occ o
  JOIN c12 ON o.bigram = c12.bigram
  JOIN c1 ON split_part(o.bigram, ' ', 1) = c1.w1
)
SELECT doc_id,
       CAST(SUM(n_occ) AS BIGINT) AS n_bigrams,
       CAST(SUM(n_occ * s) AS BIGINT) AS surprisal_sum,
       CAST(SUM(n_occ * s) AS DOUBLE) / CAST(SUM(n_occ) AS DOUBLE) AS mean_surprisal
FROM s GROUP BY doc_id
"""


def text_entropy_kl_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram Shannon entropy (nats) + KL divergence vs the corpus
    distribution, per document source — the information-theoretic
    curation signals this engine previously could not ship under the
    no-libm parity rule (``text_tfidf_topk`` swapped ln() for a
    rational IDF for exactly that reason): a source whose entropy sits
    far below the corpus is boilerplate/templated (dedup candidate);
    a source with high KL against the corpus mix is distribution-
    shifted (mixture-reweighting candidate — the DoReMi-style signal).

    Both metrics reduce to logs of EXACT INTEGER RATIOS on the
    (source, token) count grain — H_s = Σ (c/n_s)·ln(n_s/c),
    KL(s‖corpus) = Σ (c/n_s)·ln(c·N / (n_s·d_w)) — evaluated by
    ``operators/detmath.det_ln_ratio`` (bit-identical cross-engine;
    see stats_psi_value_drift for the discipline) with DECIMAL(28,12)
    term sums. Zero-count terms never arise (the grain only holds
    observed (source, token) cells; corpus marginals d_w > 0 ⊇ every
    source's support). Overflow: c·N fits BIGINT to ~3e9 corpus
    tokens; past that both engines fail loudly — widen to
    DECIMAL(38,0) first.

    Scale: one documents scan → (source, token) hash agg; token-keyed
    join for the corpus marginal; 1-row total broadcast; outputs on
    the |sources| grain. The whitespace tokenizer is the repo-wide
    convention (operators/textops.tokenize)."""
    d = load_table(spark, sf_dir, "documents").select(
        "source", F.explode(tokenize(F.col("text"))).alias("token")
    )
    cell = d.groupBy("source", "token").agg(F.count(F.lit(1)).alias("c"))
    return _entropy_kl_from_cells(cell)


def _entropy_kl_from_cells(cell: DataFrame) -> DataFrame:
    """The shared readout: per-source entropy/KL from the
    (source, token, c) count grain — consumed by the batch query above
    AND by ``streaming_entropy_sink`` (whose persistent state sums to
    exactly this grain), so streamed == batch is checked through one
    code path. The cell grain feeds FOUR consumers (per-source totals,
    token marginals, the corpus total, and the term join), so it is
    fenced — without it the scan→tokenize→explode→agg subtree runs
    once per consumer (the multiply-consumed-subtree discipline)."""
    cell = cell.localCheckpoint(eager=False)
    ns = cell.groupBy("source").agg(F.sum("c").alias("n_s"))
    dw = cell.groupBy("token").agg(F.sum("c").alias("d_w"))
    n = cell.agg(F.sum("c").alias("n_tot"))
    t = cell.join(ns, "source").join(dw, "token").crossJoin(F.broadcast(n))
    pa = F.col("c").cast("double") / F.col("n_s").cast("double")
    ent_t = pa * det_ln_ratio(F.col("n_s"), F.col("c"))
    kl_t = pa * det_ln_ratio(
        F.col("c") * F.col("n_tot"), F.col("n_s") * F.col("d_w")
    )
    agg = (
        t.select(
            "source",
            "n_s",
            ent_t.cast("decimal(28,12)").alias("ent_t"),
            kl_t.cast("decimal(28,12)").alias("kl_t"),
        )
        .groupBy("source", "n_s")
        .agg(
            F.count(F.lit(1)).alias("vocab_size"),
            F.sum("ent_t").alias("ent_d"),
            F.sum("kl_t").alias("kl_d"),
        )
    )
    return agg.select(
        "source",
        F.col("n_s").alias("n_tokens"),
        "vocab_size",
        F.col("ent_d").cast("double").alias("entropy_nats"),
        F.col("kl_d").cast("double").alias("kl_vs_corpus_nats"),
    )


def _entropy_kl_sql() -> str:
    from ..operators.detmath import ln_e_sql, ln_m_sql, ln_val_sql, ln_z_sql

    return f"""
WITH toks AS (
  SELECT source, unnest({_TOKS_SQL}) AS token FROM documents
),
cell AS (
  SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c
  FROM toks GROUP BY source, token
),
ns AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_s FROM cell GROUP BY source),
dw AS (SELECT token, CAST(SUM(c) AS BIGINT) AS d_w FROM cell GROUP BY token),
n AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tot FROM cell),
t0 AS (
  SELECT cell.source, c, n_s, c * n_tot AS a2, n_s * d_w AS b2
  FROM cell JOIN ns USING (source) JOIN dw USING (token), n
),
l1 AS (
  SELECT *, {ln_e_sql("n_s", "c")} AS e1, {ln_e_sql("a2", "b2")} AS e2 FROM t0
),
l2 AS (
  SELECT *, {ln_m_sql("n_s", "c", "e1")} AS m1,
         {ln_m_sql("a2", "b2", "e2")} AS m2
  FROM l1
),
l3 AS (SELECT *, {ln_z_sql("m1")} AS z1, {ln_z_sql("m2")} AS z2 FROM l2),
l4 AS (SELECT *, z1 * z1 AS w1, z2 * z2 AS w2 FROM l3),
terms AS (
  SELECT source, n_s,
         (CAST(c AS DOUBLE) / CAST(n_s AS DOUBLE)) * {ln_val_sql("e1", "z1", "w1")} AS ent_t,
         (CAST(c AS DOUBLE) / CAST(n_s AS DOUBLE)) * {ln_val_sql("e2", "z2", "w2")} AS kl_t
  FROM l4
),
agg AS (
  SELECT source, n_s, CAST(COUNT(*) AS BIGINT) AS vocab_size,
         SUM(CAST(ent_t AS DECIMAL(28,12))) AS ent_d,
         SUM(CAST(kl_t AS DECIMAL(28,12))) AS kl_d
  FROM terms GROUP BY source, n_s
)
SELECT source, n_s AS n_tokens, vocab_size,
       CAST(CAST(ent_d AS VARCHAR) AS DOUBLE) AS entropy_nats,
       CAST(CAST(kl_d AS VARCHAR) AS DOUBLE) AS kl_vs_corpus_nats
FROM agg
"""


TEXT_ENTROPY_KL_BY_SOURCE_SQL = _entropy_kl_sql()


def text_crossentropy_heldout_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Held-out cross-entropy / bits-per-token per source — the
    perplexity-family curation readout one step past
    ``text_entropy_kl_by_source``: score each source's token stream
    under the unigram model trained on the REST of the corpus
    (leave-one-source-out, add-1 smoothed over the corpus vocab), so a
    source is never flattered by its own counts. High bits-per-token =
    the rest of the corpus predicts this source poorly (distribution-
    shifted or noisy — downweight/inspect); low = redundant with the
    mix (boilerplate candidate). This is the data-mixture signal
    DoReMi/DSIR-style pipelines compute with an LM; the unigram version
    is the exact, oracle-checkable floor of that family.

    Exactness: for token w in source s, the held-out probability is
    q_w = (d_w − c + 1) / (N − n_s + V) — every factor an exact BIGINT
    (corpus margin minus own count, add-1; vocab-size V smoothing mass)
    — so H(s) = Σ (c/n_s)·ln((N − n_s + V)/(d_w − c + 1)) is a sum of
    ``det_ln_ratio`` terms (bit-identical cross-engine) with
    DECIMAL(28,12) term sums; bits_per_token divides by the shared LN2
    literal. PERPLEXITY ITSELF IS LEFT IN LOG DOMAIN (bits_per_token =
    log2 ppl): exp() has no cross-engine bit guarantee, and the
    |sources|-grain output is cheap to exponentiate consumer-side.
    Overflow: N − n_s + V < 2N fits det_ln's 2^62 bound to ~2e18
    corpus tokens.

    Scale: identical shape to the entropy query — one scan, one
    (source, token) hash agg, token-keyed marginal join, two 1-row
    broadcast scalars (N, V); output on the |sources| grain."""
    d = load_table(spark, sf_dir, "documents").select(
        "source", F.explode(tokenize(F.col("text"))).alias("token")
    )
    # four consumers of the cell grain below — fence the expensive
    # scan→tokenize→explode→agg subtree so it runs once
    cell = (
        d.groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    ns = cell.groupBy("source").agg(F.sum("c").alias("n_s"))
    dw = cell.groupBy("token").agg(F.sum("c").alias("d_w"))
    nv = cell.agg(
        F.sum("c").alias("n_tot"),
        F.count_distinct("token").alias("vocab"),
    )
    t = cell.join(ns, "source").join(dw, "token").crossJoin(F.broadcast(nv))
    coef = F.col("c").cast("double") / F.col("n_s").cast("double")
    hx_t = coef * det_ln_ratio(
        F.col("n_tot") - F.col("n_s") + F.col("vocab"),
        F.col("d_w") - F.col("c") + F.lit(1),
    )
    agg = (
        t.select("source", "n_s", hx_t.cast("decimal(28,12)").alias("hx_t"))
        .groupBy("source", "n_s")
        .agg(F.count(F.lit(1)).alias("vocab_size"), F.sum("hx_t").alias("hx_d"))
    )
    from ..operators.detmath import LN2

    return agg.select(
        "source",
        F.col("n_s").alias("n_tokens"),
        "vocab_size",
        F.col("hx_d").cast("double").alias("cross_entropy_nats"),
        (F.col("hx_d").cast("double") / F.lit(LN2)).alias("bits_per_token"),
    )


def _crossentropy_heldout_sql() -> str:
    from ..operators.detmath import LN2, ln_e_sql, ln_m_sql, ln_val_sql, ln_z_sql

    return f"""
WITH toks AS (
  SELECT source, unnest({_TOKS_SQL}) AS token FROM documents
),
cell AS (
  SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c
  FROM toks GROUP BY source, token
),
ns AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_s FROM cell GROUP BY source),
dw AS (SELECT token, CAST(SUM(c) AS BIGINT) AS d_w FROM cell GROUP BY token),
nv AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tot,
              CAST(COUNT(DISTINCT token) AS BIGINT) AS vocab FROM cell),
t0 AS (
  SELECT cell.source, c, n_s,
         n_tot - n_s + vocab AS a1, d_w - c + 1 AS b1
  FROM cell JOIN ns USING (source) JOIN dw USING (token), nv
),
l1 AS (SELECT *, {ln_e_sql("a1", "b1")} AS e1 FROM t0),
l2 AS (SELECT *, {ln_m_sql("a1", "b1", "e1")} AS m1 FROM l1),
l3 AS (SELECT *, {ln_z_sql("m1")} AS z1 FROM l2),
l4 AS (SELECT *, z1 * z1 AS w1 FROM l3),
terms AS (
  SELECT source, n_s,
         (CAST(c AS DOUBLE) / CAST(n_s AS DOUBLE)) * {ln_val_sql("e1", "z1", "w1")} AS hx_t
  FROM l4
),
agg AS (
  SELECT source, n_s, CAST(COUNT(*) AS BIGINT) AS vocab_size,
         SUM(CAST(hx_t AS DECIMAL(28,12))) AS hx_d
  FROM terms GROUP BY source, n_s
)
SELECT source, n_s AS n_tokens, vocab_size,
       CAST(CAST(hx_d AS VARCHAR) AS DOUBLE) AS cross_entropy_nats,
       CAST(CAST(hx_d AS VARCHAR) AS DOUBLE) / CAST({LN2!r} AS DOUBLE)
         AS bits_per_token
FROM agg
"""


TEXT_CROSSENTROPY_HELDOUT_BY_SOURCE_SQL = _crossentropy_heldout_sql()


def text_jsd_pairwise_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen–Shannon divergence between every pair of
    document sources over their unigram token distributions — the
    symmetric, bounded ([0, ln 2]) source-similarity matrix a mixture
    designer clusters before assigning sampling weights (near-zero JSD
    pairs are interchangeable slices to merge; high-JSD pairs are the
    diversity the mixture must preserve). Completes the detmath log
    family: PSI/KL (stats_psi_value_drift, text_entropy_kl_by_source)
    are asymmetric two-arm scores; JSD here is the all-pairs symmetric
    one the module docstring promised.

    Exactness: for pair (a, b) and shared token w, both JSD legs are
    logs of EXACT INTEGER RATIOS — 2p₁/(p₁+p₂) = 2·c₁·n₂/(c₁n₂ + c₂n₁)
    — via ``det_ln_ratio`` with DECIMAL(28,12) term sums. Tokens in
    only ONE source contribute exactly p·ln 2, so their mass folds in
    CLOSED FORM from BIGINT shared-count sums: Σ_{A∖B} p₁·ln2 =
    ((n₁−S₁)/n₁)·ln2 with S₁ = Σ_shared c₁ — no vocab spine, no full
    outer join, no per-token double accumulation. The combine is one
    fixed float expression mirrored token-for-token in the oracle.
    Overflow: c₁·n₂ ≤ n₁·n₂ must fit BIGINT/2^62 — valid to ~2e9
    tokens per source; past that widen to DECIMAL(38,0) first (both
    engines fail loudly on the cast).

    Scale: (source, token) hash agg, then a TOKEN-KEYED self-join —
    per-token fan-out is (#sources containing it)², bounded by
    |sources|² ≪ corpus size; output is the FULL C(|sources|, 2) grain:
    the pair spine is seeded from ns × ns (|sources|² rows, broadcast)
    and the shared-token aggregate LEFT-joins onto it, so a pair with
    fully disjoint vocabularies — which the token-keyed join alone
    would silently omit (ADVICE r11) — still emits a row with
    shared_vocab = 0 and jsd_nats = ln 2 exactly (the closed-form
    single-source mass is the whole divergence).
    No all-pairs document scan anywhere."""
    d = load_table(spark, sf_dir, "documents").select(
        "source", F.explode(tokenize(F.col("text"))).alias("token")
    )
    # three consumers of the cell grain (totals + both join legs) —
    # fence the scan→tokenize→explode→agg subtree so it runs once
    cell = (
        d.groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    ns = cell.groupBy("source").agg(F.sum("c").alias("n_s"))
    a = cell.join(ns, "source").select(
        F.col("source").alias("s1"),
        "token",
        F.col("c").alias("c1"),
        F.col("n_s").alias("n1"),
    )
    b = cell.join(ns, "source").select(
        F.col("source").alias("s2"),
        "token",
        F.col("c").alias("c2"),
        F.col("n_s").alias("n2"),
    )
    j = a.join(b, "token").filter(F.col("s1") < F.col("s2"))
    den = F.col("c1") * F.col("n2") + F.col("c2") * F.col("n1")
    t1 = (F.col("c1").cast("double") / F.col("n1").cast("double")) * det_ln_ratio(
        F.lit(2) * F.col("c1") * F.col("n2"), den
    )
    t2 = (F.col("c2").cast("double") / F.col("n2").cast("double")) * det_ln_ratio(
        F.lit(2) * F.col("c2") * F.col("n1"), den
    )
    shared = (
        j.select(
            "s1",
            "s2",
            "c1",
            "c2",
            t1.cast("decimal(28,12)").alias("t1"),
            t2.cast("decimal(28,12)").alias("t2"),
        )
        .groupBy("s1", "s2")
        .agg(
            F.count(F.lit(1)).alias("shared_vocab"),
            F.sum("c1").alias("sc1"),
            F.sum("c2").alias("sc2"),
            F.sum("t1").alias("t1_d"),
            F.sum("t2").alias("t2_d"),
        )
    )
    # pair spine: every unordered source pair exists even when the
    # token-keyed join produced nothing for it (disjoint vocabularies);
    # ns is |sources| rows by construction, so the explicit broadcast
    # hint forces BroadcastNestedLoopJoin regardless of Spark's size
    # estimate — without it, an estimate above
    # autoBroadcastJoinThreshold would degrade this inequality join to
    # a CartesianProduct (ADVICE r12; plan test pins the shape)
    pairs = ns.select(
        F.col("source").alias("s1"), F.col("n_s").alias("n1")
    ).join(
        F.broadcast(
            ns.select(F.col("source").alias("s2"), F.col("n_s").alias("n2"))
        ),
        F.col("s1") < F.col("s2"),
    )
    agg = pairs.join(shared, ["s1", "s2"], "left").select(
        "s1",
        "s2",
        "n1",
        "n2",
        F.coalesce(F.col("shared_vocab"), F.lit(0).cast("long")).alias(
            "shared_vocab"
        ),
        F.coalesce(F.col("sc1"), F.lit(0).cast("long")).alias("sc1"),
        F.coalesce(F.col("sc2"), F.lit(0).cast("long")).alias("sc2"),
        F.coalesce(F.col("t1_d").cast("double"), F.lit(0.0)).alias("t1_d"),
        F.coalesce(F.col("t2_d").cast("double"), F.lit(0.0)).alias("t2_d"),
    )
    from ..operators.detmath import LN2

    jsd = F.lit(0.5) * (
        F.col("t1_d") + F.col("t2_d")
    ) + F.lit(0.5) * F.lit(LN2) * (
        (F.col("n1") - F.col("sc1")).cast("double") / F.col("n1").cast("double")
        + (F.col("n2") - F.col("sc2")).cast("double")
        / F.col("n2").cast("double")
    )
    return agg.select(
        "s1",
        "s2",
        F.col("n1").alias("n1_tokens"),
        F.col("n2").alias("n2_tokens"),
        "shared_vocab",
        jsd.alias("jsd_nats"),
        (jsd / F.lit(LN2)).alias("jsd_normalized"),
    )


def _jsd_pairwise_sql() -> str:
    from ..operators.detmath import LN2, ln_e_sql, ln_m_sql, ln_val_sql, ln_z_sql

    return f"""
WITH toks AS (
  SELECT source, unnest({_TOKS_SQL}) AS token FROM documents
),
cell AS (
  SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c
  FROM toks GROUP BY source, token
),
ns AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_s FROM cell GROUP BY source),
cw AS (SELECT cell.source, token, c, n_s FROM cell JOIN ns USING (source)),
j AS (
  SELECT a.source AS s1, b.source AS s2, a.c AS c1, b.c AS c2,
         a.n_s AS n1, b.n_s AS n2,
         2 * a.c * b.n_s AS a1, 2 * b.c * a.n_s AS a2,
         a.c * b.n_s + b.c * a.n_s AS bb
  FROM cw a JOIN cw b ON a.token = b.token AND a.source < b.source
),
l1 AS (SELECT *, {ln_e_sql("a1", "bb")} AS e1, {ln_e_sql("a2", "bb")} AS e2 FROM j),
l2 AS (
  SELECT *, {ln_m_sql("a1", "bb", "e1")} AS m1,
         {ln_m_sql("a2", "bb", "e2")} AS m2
  FROM l1
),
l3 AS (SELECT *, {ln_z_sql("m1")} AS z1, {ln_z_sql("m2")} AS z2 FROM l2),
l4 AS (SELECT *, z1 * z1 AS w1, z2 * z2 AS w2 FROM l3),
terms AS (
  SELECT s1, s2, n1, n2, c1, c2,
         (CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)) * {ln_val_sql("e1", "z1", "w1")} AS t1,
         (CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE)) * {ln_val_sql("e2", "z2", "w2")} AS t2
  FROM l4
),
agg AS (
  SELECT s1, s2, CAST(COUNT(*) AS BIGINT) AS shared_vocab,
         CAST(SUM(c1) AS BIGINT) AS sc1, CAST(SUM(c2) AS BIGINT) AS sc2,
         SUM(CAST(t1 AS DECIMAL(28,12))) AS t1_d,
         SUM(CAST(t2 AS DECIMAL(28,12))) AS t2_d
  FROM terms GROUP BY s1, s2
),
pairs AS (
  SELECT a.source AS s1, b.source AS s2, a.n_s AS n1, b.n_s AS n2
  FROM ns a JOIN ns b ON a.source < b.source
),
fin AS (
  SELECT pairs.s1, pairs.s2, n1, n2,
         COALESCE(shared_vocab, CAST(0 AS BIGINT)) AS shared_vocab,
         CAST(0.5 AS DOUBLE)
           * (COALESCE(CAST(CAST(t1_d AS VARCHAR) AS DOUBLE), 0.0)
              + COALESCE(CAST(CAST(t2_d AS VARCHAR) AS DOUBLE), 0.0))
         + CAST(0.5 AS DOUBLE) * CAST({LN2!r} AS DOUBLE)
           * (CAST(n1 - COALESCE(sc1, 0) AS DOUBLE) / CAST(n1 AS DOUBLE)
              + CAST(n2 - COALESCE(sc2, 0) AS DOUBLE) / CAST(n2 AS DOUBLE))
           AS jsd_nats
  FROM pairs LEFT JOIN agg ON pairs.s1 = agg.s1 AND pairs.s2 = agg.s2
)
SELECT s1, s2, n1 AS n1_tokens, n2 AS n2_tokens, shared_vocab, jsd_nats,
       jsd_nats / CAST({LN2!r} AS DOUBLE) AS jsd_normalized
FROM fin
"""


TEXT_JSD_PAIRWISE_SOURCES_SQL = _jsd_pairwise_sql()


def text_mutual_information_source_token(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mutual information I(source; token) over the unigram grain — the
    cheap completion of the detmath log family (VERDICT r11 item 6):
    entropy/KL score each source against the corpus, JSD scores pairs,
    MI scores the WHOLE partition at once — how many nats knowing the
    source buys about the next token (equivalently: how far the corpus
    is from being one exchangeable pile). Near-zero MI says the source
    labels carry no distributional signal (mixture weights won't
    matter); MI near H(source) says sources are almost disjoint
    sublanguages (per-source models beat a pooled one). The per-source
    decomposition mi_term = (n_s/N)·KL(s‖corpus) ranks who contributes
    the separation — the same ranking DoReMi-style reweighting consumes.

    Exactness: every log is an EXACT INTEGER RATIO on the fenced
    (source, token) cell grain — per cell (c/N)·ln(c·N/(n_s·d_w)) and
    per source (n_s/N)·ln(N/n_s) via ``det_ln_ratio`` — summed as
    DECIMAL(28,12) (terms are ≤ ln N ≈ 30, so the double→decimal cast
    stays inside the ≤15-significant-digit bit-identical window). The
    global MI and H(source) ride on every row via a window over the
    |sources| grain: a sum of exact decimals is order-free, so no
    micro-quantization is needed (contrast stats_gtest, whose terms
    grow with counts). uncertainty_coefficient = MI / H(source) ∈
    [0, 1] (Theil's U), NULL when a single source makes H(source) = 0.
    Overflow: c·N and n_s·d_w fit BIGINT to ~3e9 corpus tokens; both
    engines fail loudly past that — widen to DECIMAL(38,0) first.

    Scale: the text_entropy_kl_by_source shape exactly — one documents
    scan → (source, token) hash agg (fenced, four consumers),
    token-keyed marginal join, 1-row total broadcast, |sources|-grain
    output; the unpartitioned window sees |sources| rows, never the
    corpus."""
    d = load_table(spark, sf_dir, "documents").select(
        "source", F.explode(tokenize(F.col("text"))).alias("token")
    )
    cell = (
        d.groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    ns = cell.groupBy("source").agg(F.sum("c").alias("n_s"))
    dw = cell.groupBy("token").agg(F.sum("c").alias("d_w"))
    n = cell.agg(F.sum("c").alias("n_tot"))
    t = cell.join(ns, "source").join(dw, "token").crossJoin(F.broadcast(n))
    mi_t = (F.col("c").cast("double") / F.col("n_tot").cast("double")) * det_ln_ratio(
        F.col("c") * F.col("n_tot"), F.col("n_s") * F.col("d_w")
    )
    per_src = (
        t.select(
            "source",
            "n_s",
            "n_tot",
            mi_t.cast("decimal(28,12)").alias("mi_t"),
        )
        .groupBy("source", "n_s", "n_tot")
        .agg(
            F.count(F.lit(1)).alias("vocab_size"),
            F.sum("mi_t").alias("mi_s_d"),
        )
    )
    # h_t's det_ln is evaluated INSIDE the window aggregate, not as a
    # post-agg projection: projected it would fuse into the corpus-scale
    # hashAgg's whole-stage codegen and blow the 64 KB method limit
    # (observed — Spark then falls back to the interpreted path for the
    # WHOLE stage); as a window input expression it is evaluated by
    # WindowExec above the exchange, over |sources| rows only
    h_t = (
        (F.col("n_s").cast("double") / F.col("n_tot").cast("double"))
        * det_ln_ratio(F.col("n_tot"), F.col("n_s"))
    ).cast("decimal(28,12)")
    wall = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    mi = F.sum("mi_s_d").over(wall).cast("double")
    h_src = F.sum(h_t).over(wall).cast("double")
    return per_src.select(
        "source",
        F.col("n_s").alias("n_tokens"),
        "vocab_size",
        F.col("mi_s_d").cast("double").alias("mi_term_nats"),
        mi.alias("mi_nats"),
        h_src.alias("h_source_nats"),
        F.when(h_src != F.lit(0.0), mi / h_src).alias("uncertainty_coefficient"),
    )


def _mutual_information_sql() -> str:
    from ..operators.detmath import ln_e_sql, ln_m_sql, ln_val_sql, ln_z_sql

    return f"""
WITH toks AS (
  SELECT source, unnest({_TOKS_SQL}) AS token FROM documents
),
cell AS (
  SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c
  FROM toks GROUP BY source, token
),
ns AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_s FROM cell GROUP BY source),
dw AS (SELECT token, CAST(SUM(c) AS BIGINT) AS d_w FROM cell GROUP BY token),
nv AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tot FROM cell),
t0 AS (
  SELECT cell.source, c, n_s, n_tot, c * n_tot AS a1, n_s * d_w AS b1
  FROM cell JOIN ns USING (source) JOIN dw USING (token), nv
),
l1 AS (SELECT *, {ln_e_sql("a1", "b1")} AS e1 FROM t0),
l2 AS (SELECT *, {ln_m_sql("a1", "b1", "e1")} AS m1 FROM l1),
l3 AS (SELECT *, {ln_z_sql("m1")} AS z1 FROM l2),
l4 AS (SELECT *, z1 * z1 AS w1 FROM l3),
terms AS (
  SELECT source, n_s, n_tot,
         (CAST(c AS DOUBLE) / CAST(n_tot AS DOUBLE)) * {ln_val_sql("e1", "z1", "w1")} AS mi_t
  FROM l4
),
per_src AS (
  SELECT source, n_s, n_tot, CAST(COUNT(*) AS BIGINT) AS vocab_size,
         SUM(CAST(mi_t AS DECIMAL(28,12))) AS mi_s_d
  FROM terms GROUP BY source, n_s, n_tot
),
s0 AS (SELECT *, n_tot AS a2, n_s AS b2 FROM per_src),
g1 AS (SELECT *, {ln_e_sql("a2", "b2")} AS e2 FROM s0),
g2 AS (SELECT *, {ln_m_sql("a2", "b2", "e2")} AS m2 FROM g1),
g3 AS (SELECT *, {ln_z_sql("m2")} AS z2 FROM g2),
g4 AS (SELECT *, z2 * z2 AS w2 FROM g3),
hsrc AS (
  SELECT source, n_s, vocab_size, mi_s_d,
         CAST((CAST(n_s AS DOUBLE) / CAST(n_tot AS DOUBLE))
              * {ln_val_sql("e2", "z2", "w2")} AS DECIMAL(28,12)) AS h_t
  FROM g4
),
win AS (
  SELECT source, n_s, vocab_size, mi_s_d,
         CAST(CAST(SUM(mi_s_d) OVER () AS VARCHAR) AS DOUBLE) AS mi,
         CAST(CAST(SUM(h_t) OVER () AS VARCHAR) AS DOUBLE) AS h_src
  FROM hsrc
)
SELECT source, n_s AS n_tokens, vocab_size,
       CAST(CAST(mi_s_d AS VARCHAR) AS DOUBLE) AS mi_term_nats,
       mi AS mi_nats, h_src AS h_source_nats,
       CASE WHEN h_src <> 0.0 THEN mi / h_src END AS uncertainty_coefficient
FROM win
"""


TEXT_MUTUAL_INFORMATION_SQL = _mutual_information_sql()


def _entropy_stream_src(spark: SparkSession, sf_dir: str) -> str:
    """Two-file (even/odd doc_id) replay source with the source column,
    built once per version of the documents table; bench.warmup
    pre-builds it with the other setup artifacts."""
    from ..operators.memo import fixture
    from ..streaming.ingest import write_parity_replay

    def build(base: str) -> str:
        d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
        return write_parity_replay(d, "doc_id", base)

    return fixture("entropy_src", sf_dir, ("documents",), build)


def streaming_entropy_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance of the (source, token) unigram counts
    feeding the entropy/KL readout — the keyed-sum leg of the
    streamed-index family (postings = set-insert, ANN signatures =
    set-insert, HLL = register-max, histogram/THIS = keyed-sum): the
    documents table replays as two deterministic micro-batches; each
    batch's token counts are keyed by (batch_id, source, token) and
    folded through the INSERT-ONLY merge, so a replayed batch is a
    no-op BEFORE any write (sums are not idempotent; batch-keying
    restores exactly-once from the algebra, not the checkpoint — the
    ``start_histogram_sink`` discipline). The readout sums the state
    to the cell grain and runs the SAME ``_entropy_kl_from_cells``
    code path as the batch query, value-checked against the identical
    DuckDB oracle — streamed == batch, bit for bit.

    Scale: state is ≤ n_batches × |source,token| slim rows (no text,
    no blobs); compaction to the cell grain is a metadata rewrite when
    n_batches grows; the per-batch delta agg is map-side."""
    import tempfile

    from ..streaming.ingest import await_drain, file_stream, start_mergeable_sink

    src = _entropy_stream_src(spark, sf_dir)
    with tempfile.TemporaryDirectory(prefix="entropy_stream_", ignore_cleanup_errors=True) as tmp:
        state_path, ckpt = f"{tmp}/cells", f"{tmp}/ckpt"
        stream = file_stream(
            spark,
            src,
            "doc_id bigint, source string, text string",
            max_files_per_trigger=1,
        )

        def _delta(batch_df: DataFrame, batch_id: int) -> DataFrame:
            toks = batch_df.select(
                "source", F.explode(tokenize(F.col("text"))).alias("token")
            )
            return (
                toks.groupBy("source", "token")
                .agg(F.count(F.lit(1)).alias("cnt"))
                .select(F.lit(batch_id).alias("batch_id"), "source", "token", "cnt")
            )

        q = start_mergeable_sink(
            stream,
            state_path,
            ckpt,
            _delta,
            algebra="set-insert",
            keys=["batch_id", "source", "token"],
            trigger={"availableNow": True},
        )
        await_drain(q, "entropy stream")
        state = spark.read.parquet(state_path)
        cell = state.groupBy("source", "token").agg(F.sum("cnt").alias("c"))
        return _entropy_kl_from_cells(cell).localCheckpoint(eager=True)


QUERIES = {
    "text_entropy_kl_by_source": text_entropy_kl_by_source,
    "text_crossentropy_heldout_by_source": text_crossentropy_heldout_by_source,
    "text_jsd_pairwise_sources": text_jsd_pairwise_sources,
    "text_mutual_information_source_token": text_mutual_information_source_token,
    "streaming_entropy_sink": streaming_entropy_sink,
    "text_token_stats": text_token_stats,
    "text_ngram_novelty": text_ngram_novelty,
    "tokenizer_fertility_by_lang": tokenizer_fertility_by_lang,
    "context_window_fit": context_window_fit,
    "text_hashing_vectorize": text_hashing_vectorize,
    "text_quality_score": text_quality_score,
    "text_langid": text_langid,
    "text_fingerprint": text_fingerprint,
    "text_tfidf_topk": text_tfidf_topk,
    "text_bm25_topk": text_bm25_topk,
    "text_inverted_index": text_inverted_index,
    "streaming_postings_sink": streaming_postings_sink,
    "text_bigram_surprisal": text_bigram_surprisal,
}

ORACLES = {
    "text_token_stats": TEXT_TOKEN_STATS_SQL,
    "text_ngram_novelty": TEXT_NGRAM_NOVELTY_SQL,
    "tokenizer_fertility_by_lang": TOKENIZER_FERTILITY_SQL,
    "context_window_fit": CONTEXT_WINDOW_FIT_SQL,
    "text_hashing_vectorize": TEXT_HASHING_VECTORIZE_SQL,
    "text_quality_score": TEXT_QUALITY_SCORE_SQL,
    "text_langid": TEXT_LANGID_SQL,
    "text_fingerprint": TEXT_FINGERPRINT_SQL,
    "text_tfidf_topk": TEXT_TFIDF_TOPK_SQL,
    "text_entropy_kl_by_source": TEXT_ENTROPY_KL_BY_SOURCE_SQL,
    "text_crossentropy_heldout_by_source": TEXT_CROSSENTROPY_HELDOUT_BY_SOURCE_SQL,
    "text_jsd_pairwise_sources": TEXT_JSD_PAIRWISE_SOURCES_SQL,
    "text_mutual_information_source_token": TEXT_MUTUAL_INFORMATION_SQL,
    "streaming_entropy_sink": TEXT_ENTROPY_KL_BY_SOURCE_SQL,
    "text_bm25_topk": TEXT_BM25_TOPK_SQL,
    "text_inverted_index": TEXT_INVERTED_INDEX_SQL,
    "streaming_postings_sink": TEXT_INVERTED_INDEX_SQL,
    "text_bigram_surprisal": TEXT_BIGRAM_SURPRISAL_SQL,
}
