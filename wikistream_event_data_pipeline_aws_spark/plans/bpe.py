"""BPE-merge vocabulary induction — the tokenizer-level operator a
training-data pipeline needs between "text analysis" and an actual
tokenizer (VERDICT r11 item 3): ``vocab_topk`` ranks whole words; this
learns the SUBWORD merge table those words decompose into.

Semantics are classic word-level BPE (Sennrich et al. 2016, the
public ``learn_bpe`` reference algorithm): each distinct word becomes
a symbol sequence (characters + a terminal ``</w>`` marker), then
``BPE_MERGES`` deterministic rounds each (1) count adjacent symbol
pairs weighted by word frequency — overlapping occurrences all count,
exactly like the reference's ``get_stats`` — (2) pick the argmax pair
with a total-order tie-break (count DESC, left ASC, right ASC), and
(3) rewrite every sequence greedily left-to-right (in a run of
identical overlapping matches, the 1st/3rd/5th... merge, matching the
reference's single-pass scan). Output: one row per merge round —
(step, left_sym, right_sym, merged_sym, pair_count) — the merge table
a tokenizer ships.

Spark-first formulation (no Python loop over data, no collect):

- The corpus is touched ONCE: tokenize → explode → (word, freq) hash
  agg. Everything after runs on the VOCABULARY grain (distinct words ×
  avg word length symbol rows), which grows sublinearly with corpus
  size — the 100 TB story is that 8 merge rounds over a 10M-word vocab
  is ~100M-row stages regardless of corpus row count.
- Per round (r13 array-grain shape): sequences live as (word, freq,
  syms ARRAY); one map-side pair explode feeds the (pair → count) hash
  agg, a 1-row TakeOrderedAndProject argmax BROADCASTS into a
  constant-key 1-row hash join (never a driver value — the whole
  K-round pipeline is one lazy plan; fixed K keeps it finite), and the
  greedy rewrite is a per-word built-in array fold
  (:func:`_apply_merge_sql` — Sennrich's left-to-right scan, merging
  even offsets within an overlap run), so the sequence table is never
  shuffled: the only exchange per round is the tiny pair-count agg.
- Rounds are fenced with lazy ``localCheckpoint`` (the
  multiply-consumed-subtree discipline): each round's sequence table
  feeds both the pair count and the rewrite, and round k+1 compounds
  on round k — unfenced, the recompute would grow 3^K.

The DuckDB oracle is the same relational algebra unrolled K times
(generated CTE chain — the "k-step recursive CTE / unrolled SQL"
shape), so the driver's hash compare checks every round's argmax AND
the greedy rewrite behind it.

Reference anchor: extends the §2.9 string-function surface (the
reference's deepest text op is the regexp/URL-decode chain in
``silver_batch_job.py:107-112``; it has no subword machinery at all).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.textops import tokenize

BPE_MERGES = 8
_EOW = "</w>"

# DuckDB-side tokenizer, kept textually identical to plans.text._TOKS_SQL
_TOKS_SQL = r"string_split_regex(trim(text), '\s+')"


# char decomposition of a word into its initial symbol array (+ EOW):
# mirrors the oracle's range/substr expansion exactly
_SYMS0_SQL = (
    "concat(transform(sequence(1, length(word)),"
    f" i -> substring(word, i, 1)), array('{_EOW}'))"
)


def _apply_merge_sql(arr: str, ba: str, bb: str) -> str:
    """Catalyst expression applying ONE merge pair (``ba``, ``bb``) to
    the symbol array ``arr`` greedily left-to-right — Sennrich's
    single-pass scan as a built-in fold (merge at a match, skip the
    consumed symbol, continue), which is exactly the old window
    cascade's run-head/parity algebra: in a run of overlapping matches
    (only possible when ba == bb) both formulations merge at even
    offsets from the run head. A NULL ``ba`` (empty argmax / no merge
    recorded this round) passes the array through unchanged.

    r13 optimization (guide §2.4): the rewrite is PER-WORD-LOCAL, so
    expressing it as an array fold removes the per-round Exchange+Sort
    window cascade over the sequence table entirely — the sequence
    grain becomes (word, freq, syms ARRAY) and a merge round shuffles
    only the pair-count aggregation, never the sequences. ANSI-safe:
    ``try_element_at`` everywhere (Spark 4 throws on out-of-bounds
    ``element_at``). Results are bit-identical: tests pin brute-force
    equality and the DuckDB oracle still replays the original
    window-algebra CTE chain, so parity IS the equivalence proof."""
    return f"""
      CASE WHEN {ba} IS NULL THEN {arr} ELSE
        aggregate(
          sequence(1, size({arr})),
          named_struct('acc', cast(array() as array<string>), 'skip', false),
          (s, i) -> CASE
            WHEN s.skip THEN named_struct('acc', s.acc, 'skip', false)
            WHEN i < size({arr})
                 AND try_element_at({arr}, i) = {ba}
                 AND try_element_at({arr}, i + 1) = {bb}
            THEN named_struct(
              'acc',
              concat(s.acc, array(concat(try_element_at({arr}, i),
                                         try_element_at({arr}, i + 1)))),
              'skip', true)
            ELSE named_struct(
              'acc', concat(s.acc, array(try_element_at({arr}, i))),
              'skip', false)
          END,
          s -> s.acc)
      END
    """


def _bpe_round(
    seq: DataFrame, step: int, fence: bool = True
) -> tuple[DataFrame, DataFrame]:
    """One merge round over the (word, freq, syms) ARRAY sequence grain.

    Returns (next_seq, record) where record is the 1-row merge-table
    entry for this round (empty if no adjacent pair exists — sequences
    all length 1+EOW always have one, but a degenerate corpus can
    exhaust merges — in which case next_seq passes through unchanged on
    BOTH engines: the 1-row broadcast left join yields NULL ba and the
    fold is a no-op).

    Round cost (r13, guide §2.4): one map-side pair explode + (sym,
    nxt) hash agg, a 1-row TakeOrderedAndProject argmax, and a
    constant-key 1-row BROADCAST hash join feeding the per-word fold
    rewrite — the sequence table itself is never shuffled."""
    def _fence(df: DataFrame) -> DataFrame:
        # ``fence=False`` exists for plan-shape tests only: checkpoints
        # hide the round's subplans from executedPlan(), so the test
        # builds an unfenced round to assert on the full algebra
        return df.localCheckpoint(eager=False) if fence else df

    # sequence(1, size) then drop the null-lookahead tail (the old
    # row-grain `nxt IS NOT NULL` filter): sequence(1, size - 1) would
    # COUNT DOWN through index 0 once a word has merged to one symbol
    pairs = seq.selectExpr(
        "freq",
        "explode(filter(transform(sequence(1, size(syms)),"
        " i -> named_struct('sym', try_element_at(syms, i),"
        " 'nxt', try_element_at(syms, i + 1))),"
        " p -> p.nxt IS NOT NULL)) AS p",
    ).select("p.sym", "p.nxt", "freq")
    best = (
        pairs.groupBy("sym", "nxt")
        .agg(F.sum("freq").alias("pair_count"))
        .orderBy(
            F.col("pair_count").desc(), F.col("sym").asc(), F.col("nxt").asc()
        )
        .limit(1)
        .select(F.col("sym").alias("ba"), F.col("nxt").alias("bb"), "pair_count")
    )
    best = _fence(best)
    # 1-row broadcast scalar combine (left so an EMPTY best passes
    # sequences through with NULL ba -> fold no-op): plans as a
    # BroadcastNestedLoopJoin whose build side is the 1-row argmax —
    # the same shape every scalar join-back in the engine uses; the
    # probe side streams, nothing shuffles
    joined = seq.join(F.broadcast(best.select("ba", "bb")), F.lit(True), "left")
    next_seq = _fence(
        joined.select(
            "word",
            "freq",
            F.expr(_apply_merge_sql("syms", "ba", "bb")).alias("syms"),
        )
    )
    record = best.select(
        F.lit(step).cast("int").alias("step"),
        F.col("ba").alias("left_sym"),
        F.col("bb").alias("right_sym"),
        F.concat("ba", "bb").alias("merged_sym"),
        "pair_count",
    )
    return next_seq, record


# deterministic md5-uniform doc split for held-out encode evaluation:
# hash(doc_id) mod 5 == 0 is HELD OUT (~20%), the rest is TRAIN —
# reproducible on any engine, stable under reruns (same idiom as
# plans/llmprep.py's stratified sampler)
_SPLIT_SEED = "bpesplit"
_SPLIT_MOD = 5
_SPLIT_HASH_SQL = (
    f"CAST(concat('0x', substr(md5(concat('{_SPLIT_SEED}',"
    f" CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % {_SPLIT_MOD}"
)


def _split_hash() -> F.Column:
    from ..operators.textops import hex_hash

    return hex_hash(F.col("doc_id").cast("string"), seed=_SPLIT_SEED) % _SPLIT_MOD


# The session's fenced (is_heldout, source, word, cnt) grain of the
# corpus (operators/memo.py). r13 optimization (guide §2.3 "aggregate
# before you shuffle" + §1.2 "don't compute things twice"): the BPE/unigram family
# used to tokenize and explode the FULL corpus five times — full-corpus
# vocab, train-split vocab, per-(source, word) counts for the fertility
# readout, held-out (source, word) counts, and the unigram readout's
# word-source grain. Every one of those is a pure aggregation of this
# single (is_heldout, source, word) grain, so the corpus-scale
# tokenize+explode+agg now runs ONCE per session per sf_dir and each
# consumer derives its grain with a vocabulary-scale agg. At 100 TB the
# corpus pass IS the dominant cost of the family; this takes it from
# five passes to one.
def _word_grain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.memo import session_memo

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        # micro-corpus fixtures (tests) may lack `source`; vocab-grain
        # consumers never read it, and per-source readouts only run against
        # the real documents table, which carries it
        src = F.col("source") if "source" in docs.columns else F.lit(None).cast("string")
        return (
            docs.select(
                (_split_hash() == 0).alias("is_heldout"),
                src.alias("source"),
                F.explode(tokenize(F.col("text"))).alias("word"),
            )
            .filter(F.length("word") >= 1)
            .groupBy("is_heldout", "source", "word")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .localCheckpoint(eager=False)
        )

    return session_memo(spark, "bpe_word_grain", sf_dir, ("documents",), (), build)


def _bpe_pipeline(
    spark: SparkSession, sf_dir: str, split: str | None = None
) -> tuple[list[DataFrame], list[DataFrame], DataFrame]:
    """The shared K-round pipeline: (per-round merge records, sequence
    tables seqs[0..K] on the (word, freq, syms ARRAY) grain — seqs[0]
    is the initial char decomposition, seqs[k] the state after round k
    — and the (word, freq) vocab) — merges, the encode/fertility
    readout and the vocabulary curve all consume the same rounds, so
    the three queries cannot drift. Empty words are
    excluded on both engines up front: Spark's ``sequence(1, 0)``
    counts DOWN while DuckDB's ``range(1, 1)`` is empty, so a
    zero-length token would diverge — and carries no pairs anyway.

    Memoized per session (operators/memo.py): the merges query and the
    fertility readout share one pipeline, so whichever runs first
    materializes the K rounds ONCE and the other reuses the checkpointed
    RDDs — the per-round stages are fixed-overhead-bound at bench SFs,
    so running them twice doubled pure scheduling cost (observed 15.3s +
    19.7s in a degraded window)."""
    from ..operators.memo import session_memo

    def build() -> tuple[list[DataFrame], list[DataFrame], DataFrame]:
        g = _word_grain(spark, sf_dir)
        if split == "train":
            g = g.filter(~F.col("is_heldout"))
        vocab = (
            g.groupBy("word")
            .agg(F.sum("cnt").alias("freq"))
            .localCheckpoint(eager=False)
        )
        seq = vocab.select(
            "word", "freq", F.expr(_SYMS0_SQL).alias("syms")
        ).localCheckpoint(eager=False)
        records: list[DataFrame] = []
        seqs: list[DataFrame] = [seq]
        for k in range(1, BPE_MERGES + 1):
            seq, rec = _bpe_round(seq, k)
            records.append(rec)
            seqs.append(seq)
        return records, seqs, vocab

    # BPE_MERGES is baked into every cached round plan (ADVICE r13)
    return session_memo(
        spark, "bpe_pipeline", sf_dir, ("documents",), (split, BPE_MERGES), build
    )


def bpe_vocabulary_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The K-round merge table over the corpus vocabulary (module
    docstring has the full story)."""
    records, _, _ = _bpe_pipeline(spark, sf_dir)
    out = records[0]
    for rec in records[1:]:
        out = out.unionByName(rec)
    return out


def bpe_segmentation_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENCODE-side readout of the learned merge table: segment every
    vocabulary word with the final K-round state and report per-source
    subword fertility — subword tokens emitted per word token, the
    number that prices a tokenizer against a corpus slice (fertility
    near 1 = the vocab covers the slice; high fertility = the slice
    fragments, so its effective sequence length inflates). This is the
    learned-subword twin of ``tokenizer_fertility_by_lang`` (which
    measures the whitespace proxy): same decision surface, real BPE.

    The final sequence table IS the segmentation (BPE encoding of a
    known word = replaying the merges, which the pipeline has already
    done), so the encode step costs one (word → symbol-count) agg plus
    a vocabulary-keyed join against per-(source, word) counts — no
    second pass over the corpus text beyond the (source, word) grain,
    and the symbol count includes the ``</w>`` terminal (merged into
    its neighbor or not — document-level framing, identical on both
    engines). distinct_subwords counts the subword types a source's
    slice touches — its effective vocab footprint.

    Scale: corpus → (source, word) hash agg (the one corpus-scale
    stage), everything else on the vocab × |sources| grain."""
    _, seqs, _ = _bpe_pipeline(spark, sf_dir)
    final_seq = seqs[-1]
    wordsrc = (
        _word_grain(spark, sf_dir)
        .groupBy("source", "word")
        .agg(F.sum("cnt").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    # r13: on the array grain the per-word symbol count is size(syms) —
    # a projection, not an aggregation (no exchange)
    seg = final_seq.select("word", F.size("syms").cast("long").alias("n_sub"))
    base = (
        wordsrc.join(seg, "word")
        .groupBy("source")
        .agg(
            F.sum("cnt").alias("n_word_tokens"),
            F.sum(F.col("cnt") * F.col("n_sub")).alias("n_subword_tokens"),
        )
    )
    subw = (
        wordsrc.join(
            final_seq.select("word", F.explode("syms").alias("sym")), "word"
        )
        .groupBy("source")
        .agg(F.countDistinct("sym").alias("distinct_subwords"))
    )
    return base.join(subw, "source").select(
        "source",
        "n_word_tokens",
        "n_subword_tokens",
        (
            F.col("n_subword_tokens").cast("double")
            / F.col("n_word_tokens").cast("double")
        ).alias("fertility"),
        "distinct_subwords",
    )


def bpe_vocabulary_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE TRAINING CURVE: corpus compression state after every
    merge round (step 0 = raw character decomposition, step k = after
    merge k) — corpus_symbols (frequency-weighted symbol count, the
    sequence length a subword tokenizer at that vocab size would emit),
    distinct_symbols (the vocab size bought so far), and
    symbols_per_word (the fertility trajectory). This is the curve a
    tokenizer build plots to pick its merge budget: corpus_symbols
    falls by exactly the merged-pair count each round, so the
    diminishing-returns knee is visible and oracle-checkable.

    Cost: K+1 tiny aggs over the ALREADY-materialized (memoized)
    sequence checkpoints — the pipeline runs once per session per SF
    however many of the three BPE queries the caller invokes."""
    _, seqs, vocab = _bpe_pipeline(spark, sf_dir)
    nw = vocab.agg(F.sum("freq").alias("n_word_tokens"))
    # r13 (guide §2.4): one union with a step column + ONE grouped agg
    # instead of K+1 independent global-agg branches — the old shape
    # paid 2 exchanges per step for the countDistinct (partial by sym,
    # then global); this shape pays them once for all steps.
    stepped = [
        s.select(
            F.lit(k).cast("int").alias("step"),
            "freq",
            F.explode("syms").alias("sym"),
        )
        for k, s in enumerate(seqs)
    ]
    u = stepped[0]
    for s in stepped[1:]:
        u = u.unionByName(s)
    out = u.groupBy("step").agg(
        F.sum("freq").alias("corpus_symbols"),
        F.countDistinct("sym").alias("distinct_symbols"),
    )
    return out.crossJoin(F.broadcast(nw)).select(
        "step",
        "corpus_symbols",
        "distinct_symbols",
        "n_word_tokens",
        (
            F.col("corpus_symbols").cast("double")
            / F.col("n_word_tokens").cast("double")
        ).alias("symbols_per_word"),
    )


def _fold_states_sql(k_rounds: int = BPE_MERGES) -> str:
    """Catalyst expression computing ALL K+1 encode states of one word
    as array<array<string>> — state 0 is the char decomposition (+EOW),
    state k applies learned merge k (or passes through if round k
    recorded no merge) to state k-1.

    r13 optimization (guide §2.4, §4-adjacent): encoding held-out text
    is a PER-WORD-LOCAL computation — no step needs any other word —
    so the previous shape (8 sequential `_greedy_rewrite` rounds, each
    an Exchange+Sort window cascade over the held-out vocabulary, each
    fenced) was paying 8 shuffle rounds for work one projection can do.
    The merge table arrives as a <=K-row sorted array via a 1-row
    broadcast (column ``marr``); the outer fold walks steps 1..K so a
    recorded-empty round still yields its (identical) state; the inner
    fold is Sennrich's greedy left-to-right scan — merge at a match,
    skip the consumed symbol, continue — which is exactly the window
    cascade's run-head/parity algebra (a run of overlapping matches,
    only possible when left==right, merges at even offsets in both
    formulations; tests/test_bpe.py pins brute-force equality and the
    DuckDB oracle still replays the window-algebra CTE chain, so
    parity IS the equivalence proof). Everything is a built-in
    higher-order function — no Python boundary, no UDF.

    ANSI-safe: ``try_element_at`` everywhere (Spark 4 throws on
    out-of-bounds ``element_at``); the single-element ``transform`` is
    a let-binding idiom so the current state / merge row are bound
    once per step instead of re-derived per symbol. The one-merge scan
    itself is the shared :func:`_apply_merge_sql` — the SAME expression
    the training rounds apply, so train and encode cannot drift."""
    apply_one = _apply_merge_sql("x.a", "x.m.left_sym", "x.m.right_sym")
    step_update = f"""
      try_element_at(
        transform(
          array(named_struct(
            'a', try_element_at(states, size(states)),
            'm', try_element_at(filter(marr, m -> m.step = k), 1))),
          x -> {apply_one}),
        1)
    """
    return (
        f"aggregate(sequence(1, {k_rounds}), array({_SYMS0_SQL}), "
        f"(states, k) -> concat(states, array({step_update})))"
    )


def _encode_pipeline(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Train on the ~80% md5 split, then REPLAY the learned merges over
    the char-decomposed held-out vocabulary: returns (wordsrc — the
    held-out (source, word, cnt) grain, stepped — the (step, word, sym)
    grain for every merge budget step 0..K, train_vocab).

    r13: the replay is ONE map-only projection (see
    :func:`_fold_states_sql`) instead of K sequential window rounds —
    the merge table is a <=K-row broadcast folded over each held-out
    word locally, so the held-out vocabulary is shuffled ZERO times
    between the train pipeline's output and the readout aggregations.
    Memoized per session: the fertility readout and the held-out curve
    share it."""
    from ..operators.memo import session_memo

    return session_memo(
        spark,
        "bpe_encode_states",
        sf_dir,
        ("documents",),
        (BPE_MERGES,),
        lambda: _encode_states(spark, sf_dir),
    )


def _encode_states(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    records, _, train_vocab = _bpe_pipeline(spark, sf_dir, split="train")
    merges = records[0]
    for rec in records[1:]:
        merges = merges.unionByName(rec)
    marr = merges.agg(
        F.sort_array(
            F.collect_list(F.struct("step", "left_sym", "right_sym"))
        ).alias("marr")
    )

    wordsrc = (
        _word_grain(spark, sf_dir)
        .filter(F.col("is_heldout"))
        .groupBy("source", "word")
        .agg(F.sum("cnt").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    hvocab = wordsrc.select("word").distinct()
    stepped = (
        hvocab.crossJoin(F.broadcast(marr))  # 1-row scalar combine
        .select("word", F.expr(_fold_states_sql()).alias("states"))
        .selectExpr("word", "posexplode(states) AS (step, syms)")
        .select(
            F.col("step").cast("int").alias("step"),
            "word",
            F.explode("syms").alias("sym"),
        )
        .localCheckpoint(eager=False)
    )
    return wordsrc, stepped, train_vocab


def bpe_encode_heldout_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode UNSEEN text by APPLYING the learned merge table (VERDICT
    r12 item 3): train on the ~80% md5-split of documents, then encode
    the held-out ~20% — including out-of-vocabulary words the trainer
    never saw — by replaying the K merges in learned order over the
    char-decomposed held-out vocabulary (since r13 as ONE map-only
    fold projection per word — :func:`_fold_states_sql` — instead of
    K shuffled rewrite rounds).

    Sequential-pass-in-rank-order is EXACTLY Sennrich's encode loop
    (repeatedly merge the lowest-rank bigram present): a merge learned
    at rank k can only pair symbols produced by merges ranked < k, so
    applying rank j > k can never create a new rank-k occurrence —
    passes in learned order converge to the same fixed point
    (tests/test_bpe.py pins this against the imperative loop, OOV words
    included). OOV words need no special case: they decompose to chars
    and merges apply where they match.

    Scale: the merge table is a <=K-row BROADCAST array; the encode is
    per-word-local on the held-out VOCABULARY grain (no pair agg, no
    argmax, no shuffle at all); the corpus is touched once
    for the (source, word) agg. ``oov_word_tokens`` counts held-out
    word tokens absent from the train vocabulary — the honesty readout
    the in-vocabulary fertility query can't provide.

    Reference anchor: extends §2.9 (the reference's deepest text op is
    ``silver_batch_job.py:107-112``'s regexp chain; no subword
    machinery)."""
    wordsrc, stepped, train_vocab = _encode_pipeline(spark, sf_dir)
    seq = stepped.filter(F.col("step") == BPE_MERGES).select("word", "sym")
    seg = seq.groupBy("word").agg(F.count(F.lit(1)).alias("n_sub"))
    oov = F.when(F.col("in_train").isNull(), F.col("cnt")).otherwise(F.lit(0))
    # word-keyed left join (NOT a forced broadcast: the train vocabulary
    # is vocab-grain like everything here — millions of rows at 100 TB —
    # so AQE picks broadcast only when it actually fits)
    ws = wordsrc.join(
        train_vocab.select("word").withColumn("in_train", F.lit(True)),
        "word",
        "left",
    )
    base = (
        ws.join(seg, "word")
        .groupBy("source")
        .agg(
            F.sum("cnt").alias("n_word_tokens"),
            F.sum(oov).cast("long").alias("oov_word_tokens"),
            F.sum(F.col("cnt") * F.col("n_sub")).alias("n_subword_tokens"),
        )
    )
    subw = (
        wordsrc.join(seq.select("word", "sym"), "word")
        .groupBy("source")
        .agg(F.countDistinct("sym").alias("distinct_subwords"))
    )
    return base.join(subw, "source").select(
        "source",
        "n_word_tokens",
        "oov_word_tokens",
        "n_subword_tokens",
        (
            F.col("n_subword_tokens").cast("double")
            / F.col("n_word_tokens").cast("double")
        ).alias("fertility"),
        "distinct_subwords",
    )


def bpe_encode_heldout_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The VALIDATION curve the training curve can't give: held-out
    fertility after every merge budget (step 0 = raw chars, step k =
    first k learned merges applied). ``bpe_vocabulary_curve`` measures
    compression on the data the merges were FIT to — this measures it
    on the md5 held-out split the trainer never saw, which is the
    number a tokenizer build actually uses to pick its merge budget
    (when the held-out curve flattens while the train curve keeps
    falling, additional merges are memorizing the corpus).

    heldout_symbols is cnt-weighted over held-out word TOKENS;
    distinct_symbols is the held-out symbol-type count at that budget.
    Cost: one grouped agg over the memoized (step, word, sym) fold
    output joined with the (word -> token count) weights — the encode
    pipeline runs once per session per SF across both held-out
    queries."""
    wordsrc, stepped, _ = _encode_pipeline(spark, sf_dir)
    hw = wordsrc.groupBy("word").agg(F.sum("cnt").alias("wcnt")).localCheckpoint(
        eager=False
    )
    nw = hw.agg(F.sum("wcnt").alias("n_word_tokens"))
    # r13 (guide §2.4): the pipeline already exposes the union-with-step
    # (step, word, sym) grain from ONE fold projection — a single
    # (join, grouped agg) pass replaces K+1 independent join+global-agg
    # branches (same values, one exchange pair for all steps).
    out = stepped.join(hw, "word").groupBy("step").agg(
        F.sum("wcnt").alias("heldout_symbols"),
        F.countDistinct("sym").alias("distinct_symbols"),
    )
    return out.crossJoin(F.broadcast(nw)).select(
        "step",
        "heldout_symbols",
        "distinct_symbols",
        "n_word_tokens",
        (
            F.col("heldout_symbols").cast("double")
            / F.col("n_word_tokens").cast("double")
        ).alias("symbols_per_word"),
    )


def _bpe_sql_parts(
    k_rounds: int = BPE_MERGES,
    with_final_seq: bool = False,
    doc_where: str = "",
) -> tuple[str, str]:
    """(cte_chain, merge_table_select) for the algebra unrolled
    ``k_rounds`` times in DuckDB SQL. With ``with_final_seq`` the last
    round's rewrite is also emitted (CTE ``seq_{k_rounds + 1}`` — the
    final segmentation the encode-side fertility oracle reads); without
    it the chain stops at the last argmax, which is all the merge-table
    oracle needs. Returning the two pieces separately lets the
    fertility/curve oracles append their own CTEs + readout to the
    chain without reverse-parsing the concatenated string (ADVICE r12:
    the old ``rpartition`` splice would split at the wrong point if the
    select template ever appeared inside a CTE)."""
    parts = [
        f"""
WITH toks AS MATERIALIZED (
  SELECT unnest({_TOKS_SQL}) AS word FROM documents{doc_where}
),
vocab AS MATERIALIZED (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
  FROM toks WHERE length(word) >= 1 GROUP BY word
),
seq_1 AS MATERIALIZED (
  SELECT word, freq, pos, substr(word, CAST(pos AS INTEGER), 1) AS sym
  FROM (
    SELECT word, freq,
           CAST(unnest(range(1, CAST(length(word) AS BIGINT) + 1)) AS INTEGER) AS pos
    FROM vocab
  )
  UNION ALL
  SELECT word, freq, CAST(length(word) + 1 AS INTEGER) AS pos, '{_EOW}' AS sym
  FROM vocab
)"""
    ]
    for k in range(1, k_rounds + 1):
        rewrite = (
            f""",
m_{k} AS MATERIALIZED (
  SELECT word, pos,
         pos - ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS grp
  FROM x_{k} JOIN best_{k} ON sym = ba AND nxt = bb
),
keep_{k} AS MATERIALIZED (
  SELECT word, pos FROM (
    SELECT word, pos, pos - MIN(pos) OVER (PARTITION BY word, grp) AS off
    FROM m_{k}
  ) WHERE off % 2 = 0
),
seq_{k + 1} AS MATERIALIZED (
  SELECT x.word, x.freq,
         CAST(ROW_NUMBER() OVER (PARTITION BY x.word ORDER BY x.pos) AS INTEGER) AS pos,
         CASE WHEN h.pos IS NOT NULL THEN x.sym || x.nxt ELSE x.sym END AS sym
  FROM x_{k} x
  LEFT JOIN keep_{k} h ON x.word = h.word AND x.pos = h.pos
  LEFT JOIN keep_{k} t ON x.word = t.word AND x.pos = t.pos + 1
  WHERE t.pos IS NULL
)"""
            if k < k_rounds or with_final_seq
            else ""
        )
        parts.append(
            f""",
x_{k} AS MATERIALIZED (
  SELECT word, freq, pos, sym,
         LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
  FROM seq_{k}
),
best_{k} AS MATERIALIZED (
  SELECT sym AS ba, nxt AS bb, CAST(SUM(freq) AS BIGINT) AS pair_count
  FROM x_{k} WHERE nxt IS NOT NULL
  GROUP BY sym, nxt
  ORDER BY pair_count DESC, ba ASC, bb ASC
  LIMIT 1
)"""
            + rewrite
        )
    selects = "\nUNION ALL\n".join(
        f"SELECT CAST({k} AS INTEGER) AS step, ba AS left_sym, bb AS right_sym,"
        f" ba || bb AS merged_sym, pair_count FROM best_{k}"
        for k in range(1, k_rounds + 1)
    )
    return "".join(parts), selects


def _bpe_sql(k_rounds: int = BPE_MERGES, with_final_seq: bool = False) -> str:
    """The complete merge-table oracle: chain + readout."""
    chain, selects = _bpe_sql_parts(k_rounds, with_final_seq)
    return chain + "\n" + selects


def _bpe_fertility_sql(k_rounds: int = BPE_MERGES) -> str:
    """Encode-side oracle: the unrolled chain INCLUDING the final
    rewrite, read out as per-source fertility over the (source, word)
    grain — mirrors bpe_segmentation_fertility column for column."""
    final = f"seq_{k_rounds + 1}"
    chain, _ = _bpe_sql_parts(k_rounds, with_final_seq=True)
    return (
        chain
        + f""",
wordsrc AS MATERIALIZED (
  SELECT source, word, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT source, unnest({_TOKS_SQL}) AS word FROM documents)
  WHERE length(word) >= 1 GROUP BY source, word
),
seg AS MATERIALIZED (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS n_sub FROM {final} GROUP BY word
),
base AS (
  SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_word_tokens,
         CAST(SUM(cnt * n_sub) AS BIGINT) AS n_subword_tokens
  FROM wordsrc JOIN seg USING (word) GROUP BY source
),
subw AS (
  SELECT source, CAST(COUNT(DISTINCT sym) AS BIGINT) AS distinct_subwords
  FROM wordsrc JOIN {final} USING (word) GROUP BY source
)
SELECT base.source, n_word_tokens, n_subword_tokens,
       CAST(n_subword_tokens AS DOUBLE) / CAST(n_word_tokens AS DOUBLE)
         AS fertility,
       distinct_subwords
FROM base JOIN subw ON base.source = subw.source
"""
    )


def _bpe_curve_sql(k_rounds: int = BPE_MERGES) -> str:
    """Training-curve oracle: one rollup per seq_k in the unrolled
    chain (seq_1 = step 0 ... seq_{k_rounds+1} = step k_rounds)."""
    chain, _ = _bpe_sql_parts(k_rounds, with_final_seq=True)
    steps = "\nUNION ALL\n".join(
        f"SELECT CAST({k} AS INTEGER) AS step,"
        f" CAST(SUM(freq) AS BIGINT) AS corpus_symbols,"
        f" CAST(COUNT(DISTINCT sym) AS BIGINT) AS distinct_symbols"
        f" FROM seq_{k + 1}"
        for k in range(0, k_rounds + 1)
    )
    return (
        chain
        + f""",
nw AS (SELECT CAST(SUM(freq) AS BIGINT) AS n_word_tokens FROM vocab),
curve AS (
{steps}
)
SELECT step, corpus_symbols, distinct_symbols, n_word_tokens,
       CAST(corpus_symbols AS DOUBLE) / CAST(n_word_tokens AS DOUBLE)
         AS symbols_per_word
FROM curve, nw
"""
    )


def _bpe_encode_sql_chain(k_rounds: int = BPE_MERGES) -> str:
    """The shared held-out encode CTE chain: the TRAIN chain (toks
    filtered to the ~80% md5 split) supplies best_1..best_K and the
    train vocab; an ENCODE chain replays those merges in learned order
    over the char-decomposed held-out vocabulary (no pair agg, no
    argmax). The fertility and held-out-curve oracles append their own
    readouts."""
    chain, _ = _bpe_sql_parts(
        k_rounds, doc_where=f"\n  WHERE {_SPLIT_HASH_SQL} <> 0"
    )
    parts = [
        chain,
        f""",
h_wordsrc AS MATERIALIZED (
  SELECT source, word, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (
    SELECT source, unnest({_TOKS_SQL}) AS word FROM documents
    WHERE {_SPLIT_HASH_SQL} = 0
  )
  WHERE length(word) >= 1 GROUP BY source, word
),
h_vocab AS MATERIALIZED (SELECT DISTINCT word FROM h_wordsrc),
e_seq_1 AS MATERIALIZED (
  SELECT word, pos, substr(word, CAST(pos AS INTEGER), 1) AS sym
  FROM (
    SELECT word,
           CAST(unnest(range(1, CAST(length(word) AS BIGINT) + 1)) AS INTEGER) AS pos
    FROM h_vocab
  )
  UNION ALL
  SELECT word, CAST(length(word) + 1 AS INTEGER) AS pos, '{_EOW}' AS sym
  FROM h_vocab
)""",
    ]
    for k in range(1, k_rounds + 1):
        parts.append(
            f""",
e_x_{k} AS MATERIALIZED (
  SELECT word, pos, sym,
         LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
  FROM e_seq_{k}
),
e_m_{k} AS MATERIALIZED (
  SELECT word, pos,
         pos - ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS grp
  FROM e_x_{k} JOIN best_{k} ON sym = ba AND nxt = bb
),
e_keep_{k} AS MATERIALIZED (
  SELECT word, pos FROM (
    SELECT word, pos, pos - MIN(pos) OVER (PARTITION BY word, grp) AS off
    FROM e_m_{k}
  ) WHERE off % 2 = 0
),
e_seq_{k + 1} AS MATERIALIZED (
  SELECT x.word,
         CAST(ROW_NUMBER() OVER (PARTITION BY x.word ORDER BY x.pos) AS INTEGER) AS pos,
         CASE WHEN h.pos IS NOT NULL THEN x.sym || x.nxt ELSE x.sym END AS sym
  FROM e_x_{k} x
  LEFT JOIN e_keep_{k} h ON x.word = h.word AND x.pos = h.pos
  LEFT JOIN e_keep_{k} t ON x.word = t.word AND x.pos = t.pos + 1
  WHERE t.pos IS NULL
)""",
        )
    return "".join(parts)


def _bpe_encode_heldout_sql(k_rounds: int = BPE_MERGES) -> str:
    """Per-source fertility + OOV readout over the encode chain —
    mirrors bpe_encode_heldout_fertility column for column."""
    final = f"e_seq_{k_rounds + 1}"
    return _bpe_encode_sql_chain(k_rounds) + (
        f""",
e_seg AS MATERIALIZED (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS n_sub FROM {final} GROUP BY word
),
base AS (
  SELECT source,
         CAST(SUM(cnt) AS BIGINT) AS n_word_tokens,
         CAST(SUM(CASE WHEN v.word IS NULL THEN cnt ELSE 0 END) AS BIGINT)
           AS oov_word_tokens,
         CAST(SUM(cnt * n_sub) AS BIGINT) AS n_subword_tokens
  FROM h_wordsrc w
  JOIN e_seg USING (word)
  LEFT JOIN vocab v ON w.word = v.word
  GROUP BY source
),
subw AS (
  SELECT source, CAST(COUNT(DISTINCT sym) AS BIGINT) AS distinct_subwords
  FROM h_wordsrc JOIN {final} USING (word) GROUP BY source
)
SELECT base.source, n_word_tokens, oov_word_tokens, n_subword_tokens,
       CAST(n_subword_tokens AS DOUBLE) / CAST(n_word_tokens AS DOUBLE)
         AS fertility,
       distinct_subwords
FROM base JOIN subw ON base.source = subw.source
"""
    )


def _bpe_encode_curve_sql(k_rounds: int = BPE_MERGES) -> str:
    """Held-out validation-curve readout over the encode chain: one
    cnt-weighted rollup per e_seq_k (step 0 = raw chars ... step K) —
    mirrors bpe_encode_heldout_curve column for column."""
    steps = "\nUNION ALL\n".join(
        f"SELECT CAST({k} AS INTEGER) AS step,"
        f" CAST(SUM(wcnt) AS BIGINT) AS heldout_symbols,"
        f" CAST(COUNT(DISTINCT sym) AS BIGINT) AS distinct_symbols"
        f" FROM e_seq_{k + 1} JOIN hw USING (word)"
        for k in range(0, k_rounds + 1)
    )
    return (
        _bpe_encode_sql_chain(k_rounds)
        + f""",
hw AS MATERIALIZED (
  SELECT word, CAST(SUM(cnt) AS BIGINT) AS wcnt FROM h_wordsrc GROUP BY word
),
nw AS (SELECT CAST(SUM(wcnt) AS BIGINT) AS n_word_tokens FROM hw),
curve AS (
{steps}
)
SELECT step, heldout_symbols, distinct_symbols, n_word_tokens,
       CAST(heldout_symbols AS DOUBLE) / CAST(n_word_tokens AS DOUBLE)
         AS symbols_per_word
FROM curve, nw
"""
    )


BPE_VOCABULARY_MERGES_SQL = _bpe_sql()
BPE_SEGMENTATION_FERTILITY_SQL = _bpe_fertility_sql()
BPE_VOCABULARY_CURVE_SQL = _bpe_curve_sql()
BPE_ENCODE_HELDOUT_SQL = _bpe_encode_heldout_sql()
BPE_ENCODE_CURVE_SQL = _bpe_encode_curve_sql()


QUERIES = {
    "bpe_vocabulary_merges": bpe_vocabulary_merges,
    "bpe_segmentation_fertility": bpe_segmentation_fertility,
    "bpe_vocabulary_curve": bpe_vocabulary_curve,
    "bpe_encode_heldout_fertility": bpe_encode_heldout_fertility,
    "bpe_encode_heldout_curve": bpe_encode_heldout_curve,
}

ORACLES = {
    "bpe_vocabulary_merges": BPE_VOCABULARY_MERGES_SQL,
    "bpe_segmentation_fertility": BPE_SEGMENTATION_FERTILITY_SQL,
    "bpe_vocabulary_curve": BPE_VOCABULARY_CURVE_SQL,
    "bpe_encode_heldout_fertility": BPE_ENCODE_HELDOUT_SQL,
    "bpe_encode_heldout_curve": BPE_ENCODE_CURVE_SQL,
}
