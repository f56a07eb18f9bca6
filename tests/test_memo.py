"""operators/memo.py contract tests (r14: constants-in-key, stale-entry
eviction, hit/build telemetry, reset_memos — VERDICT r13 item 3 +
ADVICE r13)."""

from __future__ import annotations

import glob
import os
import shutil

from wikistream_event_data_pipeline_aws_spark.operators import memo


def _df(spark, tag: int):
    return spark.range(tag, tag + 3).selectExpr("id", f"{tag} AS tag")


def test_constants_in_key_are_a_cache_miss(spark):
    """A changed algorithm constant (part of the key tuple) must MISS —
    the cached plan bakes the old constant in (ADVICE r13)."""
    cache: dict = {}
    builds = []

    def build(tag):
        def go():
            builds.append(tag)
            return _df(spark, tag)

        return go

    a = memo.session_memo(cache, spark, ("sf", "fp", 10), build(1), label="t")
    b = memo.session_memo(cache, spark, ("sf", "fp", 20), build(2), label="t")
    assert builds == [1, 2]
    assert a.first()["tag"] == 1 and b.first()["tag"] == 2


def test_stale_fingerprint_evicted_on_insert(spark):
    """Same sf_dir + different fingerprint = rewritten input: the stale
    entry must be dropped when the fresh one is inserted (ADVICE r13 —
    no unbounded accumulation of dead checkpointed blocks)."""
    cache: dict = {}
    memo.session_memo(cache, spark, ("sfA", "fp_old"), lambda: _df(spark, 1))
    memo.session_memo(cache, spark, ("sfB", "fp_b"), lambda: _df(spark, 2))
    assert len(cache) == 2
    memo.session_memo(cache, spark, ("sfA", "fp_new"), lambda: _df(spark, 3))
    keys = {k[1:3] for k in cache}
    assert ("sfA", "fp_new") in keys and ("sfB", "fp_b") in keys
    assert ("sfA", "fp_old") not in keys  # evicted
    assert len(cache) == 2


def test_memo_events_and_reset(spark):
    """Hit/build telemetry feeds bench's memo_hits transparency; a
    reset forces the next call to rebuild (spot_measure standalone
    floors)."""
    cache: dict = {}
    ev0 = len(memo.MEMO_EVENTS)
    memo.session_memo(cache, spark, ("sf", "fp"), lambda: _df(spark, 1), label="k1")
    memo.session_memo(cache, spark, ("sf", "fp"), lambda: _df(spark, 1), label="k1")
    assert memo.MEMO_EVENTS[ev0:] == [("build", "k1"), ("hit", "k1")]
    memo.reset_memos()
    assert not cache  # registered via session_memo, cleared by reset
    memo.session_memo(cache, spark, ("sf", "fp"), lambda: _df(spark, 1), label="k1")
    assert memo.MEMO_EVENTS[ev0 + 2 :] == [("build", "k1")]


def test_reset_memos_covers_the_hand_rolled_caches():
    """The hand-rolled kernel caches (BPE pipeline/word-grain/encode,
    simhash16) register themselves so reset_memos() clears them too —
    the registration happens on first use, so just verify the module
    dicts are the registered objects once plans are imported."""
    from wikistream_event_data_pipeline_aws_spark.plans import bpe, dedup

    for cache in (
        bpe._PIPELINE_CACHE,
        bpe._WORDGRAIN_CACHE,
        bpe._ENCODE_CACHE,
        dedup._S16_PAIRS_CACHE,
    ):
        cache["sentinel"] = "x"
        memo.register_cache(cache)
    memo.reset_memos()
    assert not bpe._PIPELINE_CACHE and not dedup._S16_PAIRS_CACHE
    assert not bpe._WORDGRAIN_CACHE and not bpe._ENCODE_CACHE


def test_fused_seed_serves_both_simhash_kernels(spark):
    """ADVICE r13: a cold dedup_sim16_agreement seeds BOTH simhash pair
    caches from one fused corpus pass; the owner queries then hit the
    memo, and the seeded pair sets are value-identical to the
    single-width builds."""
    from wikistream_event_data_pipeline_aws_spark.plans import dedup as D

    sf = "/root/testdata/sf0.001"
    memo.reset_memos()
    rows_seeded = {
        "b60": sorted(map(tuple, D.dedup_simhash_band60(spark, sf).collect())),
        "s16": sorted(map(tuple, D.dedup_simhash_pairs(spark, sf).collect())),
    }
    memo.reset_memos()
    ev0 = len(memo.MEMO_EVENTS)
    D.dedup_sim16_agreement(spark, sf).collect()
    assert ("build", "simhash_fused_seed") in memo.MEMO_EVENTS[ev0:]
    ev1 = len(memo.MEMO_EVENTS)
    after = {
        "b60": sorted(map(tuple, D.dedup_simhash_band60(spark, sf).collect())),
        "s16": sorted(map(tuple, D.dedup_simhash_pairs(spark, sf).collect())),
    }
    # both owner queries were memo HITS (no further kernel builds)
    kinds = [k for k, lbl in memo.MEMO_EVENTS[ev1:] if "simhash" in lbl]
    assert kinds and all(k == "hit" for k in kinds), memo.MEMO_EVENTS[ev1:]
    assert after == rows_seeded


def test_events_stream_schema_follows_an_in_place_rewrite(spark, tmp_path):
    """The streaming queries' cached events schema is keyed on the file's
    fingerprint: events.parquet rewritten in place with a new column
    streams with that column."""
    from wikistream_event_data_pipeline_aws_spark.plans import streaming_live

    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)

    def write_events(extra: list[str]):
        out = str(tmp_path / "out")
        spark.range(3).selectExpr(
            "id AS event_id", "timestamp_micros(id) AS ts", *extra
        ).coalesce(1).write.mode("overwrite").parquet(out)
        shutil.copy(glob.glob(f"{out}/part-*.parquet")[0], f"{sf_dir}/events.parquet")

    write_events([])
    assert "region" not in streaming_live._events_stream(spark, sf_dir).columns
    write_events(["'eu' AS region"])
    assert "region" in streaming_live._events_stream(spark, sf_dir).columns
