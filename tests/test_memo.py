"""operators/memo.py contract tests: the one store behind every session
memo and source fixture — constants-in-key, stale-fingerprint eviction,
coexisting constant siblings, hit/build telemetry, reset_memos, fixtures
that follow an in-place rewrite, and no cache anywhere else."""

from __future__ import annotations

import glob
import os
import re
import shutil
from pathlib import Path

from wikistream_event_data_pipeline_aws_spark.operators import memo

PACKAGE = Path(memo.__file__).resolve().parents[1]


def _df(spark, tag: int):
    return spark.range(tag, tag + 3).selectExpr("id", f"{tag} AS tag")


def _sf(tmp_path, name: str, payload: bytes = b"x") -> str:
    """An sf_dir holding one 't' table: the fingerprint only stats it."""
    sf = tmp_path / name
    sf.mkdir(exist_ok=True)
    (sf / "t.parquet").write_bytes(payload)
    return str(sf)


def _labels_in_store(label: str) -> list[tuple]:
    return [k for k in memo._STORE if k[0] == label]


def test_constants_in_key_are_a_cache_miss(spark, tmp_path):
    """A changed algorithm constant (part of the key) must MISS — the
    cached plan bakes the old constant in (ADVICE r13)."""
    sf = _sf(tmp_path, "sf")
    builds = []

    def build(tag):
        def go():
            builds.append(tag)
            return _df(spark, tag)

        return go

    a = memo.session_memo(spark, "t_consts", sf, ("t",), (10,), build(1))
    b = memo.session_memo(spark, "t_consts", sf, ("t",), (20,), build(2))
    assert builds == [1, 2]
    assert a.first()["tag"] == 1 and b.first()["tag"] == 2


def test_constant_siblings_coexist(spark, tmp_path):
    """Two keys that differ only in a constant both stay cached and
    both hit: a same-session constant A/B must not thrash (ADVICE)."""
    sf = _sf(tmp_path, "sf")
    memo.session_memo(spark, "t_sib", sf, ("t",), (10,), lambda: _df(spark, 1))
    memo.session_memo(spark, "t_sib", sf, ("t",), (20,), lambda: _df(spark, 2))
    assert len(_labels_in_store("t_sib")) == 2
    ev0 = len(memo.MEMO_EVENTS)
    a = memo.session_memo(spark, "t_sib", sf, ("t",), (10,), lambda: _df(spark, 9))
    b = memo.session_memo(spark, "t_sib", sf, ("t",), (20,), lambda: _df(spark, 9))
    assert memo.MEMO_EVENTS[ev0:] == [("hit", "t_sib"), ("hit", "t_sib")]
    assert a.first()["tag"] == 1 and b.first()["tag"] == 2


def test_stale_fingerprint_evicted_on_insert(spark, tmp_path):
    """Same label + sf_dir, different fingerprint = rewritten input: the
    stale entry must be dropped when the fresh one is inserted (ADVICE
    r13 — no unbounded accumulation of dead checkpointed blocks)."""
    sf_a, sf_b = _sf(tmp_path, "sfA"), _sf(tmp_path, "sfB")
    memo.session_memo(spark, "t_stale", sf_a, ("t",), (), lambda: _df(spark, 1))
    memo.session_memo(spark, "t_stale", sf_b, ("t",), (), lambda: _df(spark, 2))
    assert len(_labels_in_store("t_stale")) == 2
    _sf(tmp_path, "sfA", b"rewritten")
    fresh = memo.session_memo(spark, "t_stale", sf_a, ("t",), (), lambda: _df(spark, 3))
    assert fresh.first()["tag"] == 3
    keys = _labels_in_store("t_stale")
    assert sorted(k[2] for k in keys) == [sf_a, sf_b]
    assert [k[3] for k in keys if k[2] == sf_a] == [(memo.file_fingerprint(sf_a, "t"),)]


def test_memo_events_and_reset(spark, tmp_path):
    """Hit/build telemetry feeds bench's memo_hits transparency; a
    reset forces the next call to rebuild (the bench gate's retries of
    a query whose timed run built a kernel)."""
    sf = _sf(tmp_path, "sf")
    ev0 = len(memo.MEMO_EVENTS)
    memo.session_memo(spark, "k1", sf, ("t",), (), lambda: _df(spark, 1))
    memo.session_memo(spark, "k1", sf, ("t",), (), lambda: _df(spark, 1))
    assert memo.MEMO_EVENTS[ev0:] == [("build", "k1"), ("hit", "k1")]
    memo.reset_memos()
    assert not _labels_in_store("k1")
    memo.session_memo(spark, "k1", sf, ("t",), (), lambda: _df(spark, 1))
    assert memo.MEMO_EVENTS[ev0 + 2 :] == [("build", "k1")]


def test_no_cache_outside_memo_module():
    """Every memo and fixture lives in operators/memo.py's one store: no
    other module of the package keeps a module-level *_CACHE dict,
    registers a cache of its own, or keeps build-once tables on disk
    (a spark-warehouse directory, a _SUCCESS completion test)."""
    cache_dict = re.compile(r"^_?[A-Z0-9_]*_CACHE\b[^=]*=\s*(\{|dict\(|register_cache)", re.M)
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        if path == Path(memo.__file__).resolve():
            continue
        src = path.read_text()
        if (
            cache_dict.search(src)
            or "register_cache" in src
            or "spark-warehouse" in src
            or "_SUCCESS" in src
        ):
            offenders.append(str(path.relative_to(PACKAGE)))
    assert not offenders, offenders


def _write_table(spark, tmp_path, sf_dir: str, table: str, df) -> None:
    """Rewrite ``<sf_dir>/<table>.parquet`` in place as one flat file."""
    out = str(tmp_path / f"out_{table}")
    df.coalesce(1).write.mode("overwrite").parquet(out)
    shutil.copy(glob.glob(f"{out}/part-*.parquet")[0], f"{sf_dir}/{table}.parquet")


def test_fixture_follows_an_in_place_rewrite(spark, tmp_path):
    """A source fixture is keyed on its table's fingerprint: documents
    rewritten in place get a new replay source, the superseded
    directory is removed, and reset_memos leaves fixtures alone (VERDICT
    r14 item 7)."""
    from wikistream_event_data_pipeline_aws_spark.plans import text

    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    docs = "id AS doc_id", "concat('w', CAST(id AS STRING)) AS text"
    _write_table(spark, tmp_path, sf_dir, "documents", spark.range(4).selectExpr(*docs))
    src1 = text._postings_stream_src(spark, sf_dir)
    memo.reset_memos()
    assert text._postings_stream_src(spark, sf_dir) == src1
    _write_table(spark, tmp_path, sf_dir, "documents", spark.range(6).selectExpr(*docs))
    src2 = text._postings_stream_src(spark, sf_dir)
    assert src2 != src1 and not os.path.exists(os.path.dirname(src1))
    assert spark.read.parquet(src2).count() == 6


def test_first_fixture_removes_dead_processes_fixture_dirs(tmp_path, monkeypatch):
    """Fixtures live under a per-process ``wikistream-fixtures-<pid>``
    directory, and a process's first fixture removes the directories of
    processes no longer running — a killed process runs no exit hook —
    while a running process's directory stays."""
    import tempfile

    # above the largest pid_max Linux allows: names no running process
    dead = tmp_path / f"{memo.FIXTURE_ROOT_PREFIX}{2**22 + 1}"
    live = tmp_path / f"{memo.FIXTURE_ROOT_PREFIX}{os.getppid()}"
    for d in (dead, live):
        (d / "scd2_fixture_x").mkdir(parents=True)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(memo, "_fixture_root", None)
    sf = _sf(tmp_path, "sf")
    built = memo.fixture("t_root", sf, ("t",), lambda d: d)
    try:
        assert not dead.exists() and (live / "scd2_fixture_x").is_dir()
        own = tmp_path / f"{memo.FIXTURE_ROOT_PREFIX}{os.getpid()}"
        assert Path(built).parent == own and Path(built).is_dir()
    finally:
        for k in _labels_in_store("t_root"):
            del memo._STORE[k]


def test_sse_capture_follows_an_in_place_rewrite(spark, tmp_path):
    """The SSE capture is keyed on the events file's fingerprint: events
    rewritten in place get a new capture, not the old one."""
    from wikistream_event_data_pipeline_aws_spark.plans import pyapi

    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)

    def events(n: int):
        return spark.range(n).selectExpr(
            "id AS event_id",
            "timestamp_micros(id) AS ts",
            "'click' AS event_type",
            "CAST(id AS DOUBLE) AS value",
        )

    _write_table(spark, tmp_path, sf_dir, "events", events(3))
    cap1 = pyapi._sse_capture(spark, sf_dir)
    _write_table(spark, tmp_path, sf_dir, "events", events(5))
    cap2 = pyapi._sse_capture(spark, sf_dir)
    assert cap2 != cap1
    with open(cap2, encoding="utf-8") as f:
        assert len(f.readlines()) == 5


def test_setup_tables_follow_their_input_files(spark, sf_dir, tmp_path):
    """Setup tables are keyed on the files they read, not on the sf_dir's
    basename: an sf_dir sharing the test scale factor's basename but
    holding a subset of orders and events gets its own snapshot,
    bucketed and partitioned tables, and so does a rewrite of those
    files in place. Each query must match its oracle on the current
    files."""
    import pyarrow.parquet as pq

    from tests.oracle_harness import TABLES, compare, duckdb_con
    from wikistream_event_data_pipeline_aws_spark import registry

    subset = tmp_path / os.path.basename(os.path.normpath(sf_dir))
    subset.mkdir()
    for t in TABLES:
        if t not in ("orders", "events"):
            os.symlink(os.path.join(sf_dir, t + ".parquet"), subset / f"{t}.parquet")

    def write_subsets(every: int) -> None:
        for t in ("orders", "events"):
            tbl = pq.read_table(os.path.join(sf_dir, t + ".parquet"))
            pq.write_table(tbl.take(list(range(0, tbl.num_rows, every))), subset / f"{t}.parquet")

    qs, oracles = registry.queries(), registry.oracles()
    names = ("snapshot_time_travel", "bucketed_join_colocated", "partitioned_scan_pruning")
    for every in (2, 3):
        write_subsets(every)
        con = duckdb_con(str(subset))
        for name in names:
            problems = compare(qs[name](spark, str(subset)), con.execute(oracles[name]).df())
            assert not problems, f"{name} (row step {every}): " + "; ".join(problems)


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
