"""The bench regression gate (VERDICT r4 item 5) is a pure function:
a common-subset query regresses only when BOTH >2x the previous timing
AND >1s absolute — sub-second noise can't trip it, a real plan
regression can't hide under it."""

from __future__ import annotations

from bench import _regressions


def test_double_condition_required():
    prev = {"q1": 0.3, "q2": 5.0, "q3": 2.0, "gone": 1.0}
    cur = {"q1": 0.9, "q2": 7.0, "q3": 4.5, "new": 9.0}
    # q1: 3x but only +0.6s (noise floor) — pass
    # q2: +2s but 1.4x — pass
    # q3: 2.25x AND +2.5s — regression
    # gone/new: not common — ignored
    got = _regressions(prev, cur)
    assert [r["query"] for r in got] == ["q3"]
    assert got[0] == {"query": "q3", "prev_s": 2.0, "now_s": 4.5}


def test_no_regressions_is_empty():
    assert _regressions({"a": 1.0}, {"a": 1.1}) == []
    assert _regressions({}, {"a": 100.0}) == []


def test_previous_comparable_reads_last_matching_run(tmp_path):
    import json

    from bench import _previous_comparable

    hist = tmp_path / "BENCH_HISTORY.jsonl"
    rows = [
        {"sf": 0.1, "cpus": 32, "queries": {"a": 1.0}},
        {"sf": 0.01, "cpus": 32, "queries": {"a": 9.0}},
        {"sf": 0.1, "cpus": 32, "queries": {"a": 2.0}},
        {"sf": 0.1, "cpus": 8, "queries": {"a": 5.0}},
    ]
    hist.write_text("\n".join(json.dumps(r) for r in rows) + "\n")
    assert _previous_comparable(str(tmp_path), "/x/sf0.1", 32)["queries"] == {"a": 2.0}
    assert _previous_comparable(str(tmp_path), "/x/sf0.01", 32)["queries"] == {"a": 9.0}
    assert _previous_comparable(str(tmp_path), "/x/sf1", 16) is None
    assert _previous_comparable(str(tmp_path / "none"), "/x/sf0.1", 32) is None


def test_host_scale_relaxes_gate_for_measured_drift():
    """A measured host slowdown (round 9: ~1.4x uniform, hypervisor-
    level, loadavg-quiet) scales the previous timings before the 2x/1s
    test; a genuine plan regression still fires because the scale is
    bounded by the measured ratio (clamped to 2x)."""
    from bench import _host_scale

    prev = {"steady": 2.0, "regressed": 2.0}
    # steady: 2.25x and +2.5s — fires unscaled, but at a measured 1.4x
    # host drift its scaled base is 2.8 and 4.5 < 5.6 — drift, not plan
    cur = {"steady": 4.5, "regressed": 9.0}
    assert [r["query"] for r in _regressions(prev, cur)] == ["regressed", "steady"]
    got = _regressions(prev, cur, host_scale=1.4)
    assert [r["query"] for r in got] == ["regressed"]
    # faster host never tightens below raw timings (clamped at 1.0)
    assert _regressions({"a": 2.0}, {"a": 3.5}, host_scale=0.5) == []
    # scale is capped at 2x — a 10x index blowup cannot hide a 5x query
    assert [r["query"] for r in _regressions({"a": 2.0}, {"a": 10.0}, 10.0)] == ["a"]
    # _host_scale defaults to 1.0 when either side lacks a measurement
    assert _host_scale(None, 0.5) == 1.0
    assert _host_scale({"queries": {}}, 0.5) == 1.0
    assert _host_scale({"host_index": 0.5}, None) == 1.0
    assert _host_scale({"host_index": 0.5}, 0.7) == 1.4


def test_update_history_preserves_note_sections(tmp_path):
    """A bench run regenerates the BENCH_HISTORY.md trend table; any
    hand-written '## ...' sections below it (variance notes) must be
    carried forward verbatim — a run must never erase committed prose."""
    from bench import _update_history

    md = tmp_path / "BENCH_HISTORY.md"
    md.write_text(
        "# Bench history\n\n| a |\n|---|\n| 1 |\n\n"
        "## Variance note\n\nkeep me\n"
    )
    result = {"sf": 0.1, "cpus": 32, "queries": {"q1": 1.0}}
    _update_history(str(tmp_path), result)
    out = md.read_text()
    assert "keep me" in out and out.count("## Variance note") == 1
    assert out.index("| run (UTC)") < out.index("## Variance note")
    _update_history(str(tmp_path), result)  # idempotent across runs
    out = md.read_text()
    assert out.count("## Variance note") == 1 and "keep me" in out


def test_contended_runs_recorded_but_never_baseline_or_gated(tmp_path):
    """A contended run IS appended to history (flagged, so repeated
    contention stays visible in the trend table) but is excluded from
    every gate baseline and never itself gated (round-9 ADVICE: the
    silent-skip version could stop the gate firing indefinitely on a
    host with persistent modest load, with no record anywhere)."""
    import json

    from bench import _previous_comparable, _update_history

    quiet = {"sf": 0.1, "cpus": 32, "queries": {"q1": 1.0}}
    assert _update_history(str(tmp_path), quiet) == []
    # contended run, wildly slower: recorded + flagged, gate silent
    contended = {
        "sf": 0.1,
        "cpus": 32,
        "queries": {"q1": 30.0},
        "contended_load1": 12.3,
    }
    assert _update_history(str(tmp_path), contended) == []
    rows = [
        json.loads(line)
        for line in (tmp_path / "BENCH_HISTORY.jsonl").read_text().splitlines()
    ]
    assert len(rows) == 2 and rows[1]["contended"] is True
    md = (tmp_path / "BENCH_HISTORY.md").read_text()
    contended_row = next(
        l for l in md.splitlines() if l.startswith("| 2") and "⚠contended" in l
    )
    # the header promises contended rows are NEVER compared: the
    # comparison cells must be blank, not a 30.00x pseudo-regression
    assert "30.00x" not in contended_row
    assert contended_row.rstrip().endswith("| — | — | — | — |")
    # the next quiet run compares against the QUIET row, not the
    # contended one — so q1 at 2.0s never reads as a 15x improvement,
    # and a contended 30s baseline can't mask a later real regression
    assert _previous_comparable(str(tmp_path), "/x/sf0.1", 32)["queries"] == {
        "q1": 1.0
    }
    assert _update_history(str(tmp_path), {**quiet, "queries": {"q1": 2.5}}) == [
        {"query": "q1", "prev_s": 1.0, "now_s": 2.5}
    ]


def test_disjoint_query_sets_render_blank_comparison(tmp_path):
    """Two runs at the same (sf, cpus) sharing ZERO query names (e.g.
    queries renamed between rounds, or a hand-trimmed history) must not
    crash the table render — max() over the empty common set used to
    raise AFTER the timed run, losing BENCH_OUT.json."""
    from bench import _update_history

    assert _update_history(
        str(tmp_path), {"sf": 0.1, "cpus": 32, "queries": {"old_q": 1.0}}
    ) == []
    assert _update_history(
        str(tmp_path), {"sf": 0.1, "cpus": 32, "queries": {"new_q": 2.0}}
    ) == []
    md = (tmp_path / "BENCH_HISTORY.md").read_text()
    new_row = [l for l in md.splitlines() if l.startswith("| 2")][-1]
    assert new_row.rstrip().endswith("| 2.0 | — | — | — | — |")


def test_steal_pct_from_proc_stat_deltas():
    """steal_pct is the stolen share of ALL cpu ticks between two
    snapshots; None-safe for platforms without /proc/stat and for
    zero-width windows."""
    from bench import _cpu_ticks, _steal_pct

    before = [100, 0, 50, 800, 10, 0, 5, 35]
    after = [200, 0, 100, 1600, 20, 0, 10, 70]  # deltas sum to 1000, steal 35
    assert _steal_pct(before, after) == 3.5
    assert _steal_pct(None, after) is None
    assert _steal_pct(before, None) is None
    assert _steal_pct(before, before) is None  # zero-width window
    ticks = _cpu_ticks()
    if ticks is not None:  # Linux: 8 monotone counters
        assert len(ticks) == 8 and all(v >= 0 for v in ticks)


def test_degraded_host_runs_recorded_but_never_baseline_or_gated(tmp_path):
    """A hypervisor-degraded run (host idx past the absolute bound /
    high steal) carries the same record-but-never-compare contract as
    a contended one: flagged in history, blank comparison cells,
    excluded from later baselines, never itself gated. Round-10
    evidence: at host idx 0.84 / 7% steal one query measured 27x its
    baseline while the index ratio said only 1.6x — the [1,2]
    host-scale clamp cannot absorb that, so the run must not produce
    a red record or poison the next baseline."""
    import json

    from bench import _previous_comparable, _update_history

    quiet = {"sf": 0.1, "cpus": 32, "queries": {"q1": 1.0}, "host_index": 0.45}
    assert _update_history(str(tmp_path), quiet) == []
    degraded = {
        "sf": 0.1,
        "cpus": 32,
        "queries": {"q1": 27.0},
        "host_index": 0.84,
        "degraded_host": True,
    }
    assert _update_history(str(tmp_path), degraded) == []
    rows = [
        json.loads(line)
        for line in (tmp_path / "BENCH_HISTORY.jsonl").read_text().splitlines()
    ]
    assert len(rows) == 2 and rows[1]["degraded_host"] is True
    md = (tmp_path / "BENCH_HISTORY.md").read_text()
    degraded_row = next(
        l for l in md.splitlines() if l.startswith("| 2") and "⚠degraded" in l
    )
    assert "27.00x" not in degraded_row
    assert degraded_row.rstrip().endswith("| — | — | — | 0.84 |")
    assert _previous_comparable(str(tmp_path), "/x/sf0.1", 32)["queries"] == {
        "q1": 1.0
    }
    assert _update_history(str(tmp_path), {**quiet, "queries": {"q1": 2.5}}) == [
        {"query": "q1", "prev_s": 1.0, "now_s": 2.5}
    ]


def test_min_extraction_builds_host_independent_baseline():
    """VERDICT r11 item 1: the standing baseline is the per-query MIN
    across every recorded run at (sf, cpus) — degraded rows included,
    because steal inflates means but not minima — paired with the
    minimum host_index so measured-host scaling can only relax."""
    import os
    import sys

    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"
        ),
    )
    from robust_baseline import extract_min_baseline

    runs = [
        {"sf": 0.1, "cpus": 32, "host_index": 0.53, "queries": {"a": 1.0, "b": 5.0}},
        {
            "sf": 0.1,
            "cpus": 32,
            "host_index": 0.90,
            "degraded_host": True,
            "queries": {"a": 0.8, "b": 50.0, "c": 2.0},
        },
        {"sf": 0.01, "cpus": 32, "queries": {"a": 0.1}},
        {"sf": 0.1, "cpus": 8, "queries": {"a": 0.2}},
    ]
    base = extract_min_baseline(runs, 0.1, 32)
    assert base["queries"] == {"a": 0.8, "b": 5.0, "c": 2.0}
    assert base["host_index"] == 0.53
    assert base["runs_used"] == 2
    assert base["samples"] == {"a": 2, "b": 2, "c": 1}
    # r13 restart: the window keeps only the LAST N matching runs —
    # stale-era one-off minima (run 1's a=0.8 here) age out, so the
    # gate's bar tracks states the CURRENT code is actually measured in
    recent = extract_min_baseline(runs, 0.1, 32, window=1)
    assert recent["queries"] == {"a": 0.8, "b": 50.0, "c": 2.0}
    assert recent["runs_used"] == 1
    assert recent["host_index"] == 0.90
    both = extract_min_baseline(runs, 0.1, 32, window=2)
    assert both["queries"] == {"a": 0.8, "b": 5.0, "c": 2.0}
    assert both["runs_used"] == 2


def test_standing_baseline_loads_only_matching_config(tmp_path):
    import json

    from bench import _standing_baseline

    path = tmp_path / "BENCH_BASELINE.json"
    path.write_text(
        json.dumps(
            {"sf": 0.1, "cpus": 32, "host_index": 0.44, "queries": {"a": 1.0}}
        )
    )
    row = _standing_baseline(str(tmp_path), "/data/sf0.1", 32)
    assert row is not None and row["queries"] == {"a": 1.0}
    assert _standing_baseline(str(tmp_path), "/data/sf0.01", 32) is None
    assert _standing_baseline(str(tmp_path), "/data/sf0.1", 8) is None
    assert _standing_baseline(str(tmp_path / "nope"), "/data/sf0.1", 32) is None


def test_committed_baseline_covers_full_registry():
    """The committed BENCH_BASELINE.json must cover every query the last
    recorded full run timed — the gate's 'active again for all queries'
    contract. (New queries registered since the last bench run join the
    file on the next robust_baseline rebuild; this pins coverage vs the
    history the file was built from.)"""
    import json
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "BENCH_BASELINE.json")) as fh:
        base = json.load(fh)
    last_full: set = set()
    with open(os.path.join(repo, "BENCH_HISTORY.jsonl")) as fh:
        for line in fh:
            if not line.strip():
                continue
            r = json.loads(line)
            if r.get("sf") == base["sf"] and r.get("cpus") == base["cpus"]:
                if len(r.get("queries", {})) >= len(last_full):
                    last_full = set(r["queries"])
    assert last_full <= set(base["queries"])
    assert base["host_index"] is not None
    assert all(v > 0 for v in base["queries"].values())


def test_spot_partial_rows_render_and_never_become_prev(tmp_path):
    """Regression test for the round-13 bench crash: a spot_measure
    partial row (keyed ``ts`` not ``at``, flagged ``spot``) must not
    KeyError the trend-table rebuild, must not become the display
    comparison baseline (it carries only the re-measured suspects), and
    must not itself be compared."""
    import json

    from bench import _update_history

    quiet = {"sf": 0.1, "cpus": 32, "queries": {"q1": 1.0, "q2": 2.0}}
    assert _update_history(str(tmp_path), quiet) == []
    spot_row = {
        "ts": "2026-08-17T01:14:23Z",
        "spot": True,
        "sf": 0.1,
        "cpus": 32,
        "host_index": 0.62,
        "steal_pct": 7.8,
        "queries": {"q1": 9.0},
    }
    with open(tmp_path / "BENCH_HISTORY.jsonl", "a") as fh:
        fh.write(json.dumps(spot_row) + "\n")
    # the next full run must rebuild the table without crashing and
    # compare against the QUIET row (both queries), not the spot partial
    assert _update_history(
        str(tmp_path), {"sf": 0.1, "cpus": 32, "queries": {"q1": 1.1, "q2": 2.1}}
    ) == []
    md = (tmp_path / "BENCH_HISTORY.md").read_text()
    spot_line = next(l for l in md.splitlines() if "⚠spot partial" in l)
    assert "9.00x" not in spot_line  # spot rows are never compared
    last = [l for l in md.splitlines() if l.startswith("| 2")][-1]
    # common-subset cells cover both queries => prev was the quiet row
    assert "| 3.0 | 3.2 |" in last


def test_robust_baseline_refuses_rising_floors(tmp_path):
    """ADVICE r13: a regression persisting across the whole window must
    not silently become its own baseline — rebuilding fails (rc 1)
    when a per-query floor rises >25% and >0.5s vs the committed file,
    unless --allow-rising-floors acknowledges it."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    hist = tmp_path / "hist.jsonl"
    out = tmp_path / "base.json"
    row = {"at": "2026-08-18T00:00:00+00:00", "sf": 0.1, "cpus": 32,
           "host_index": 0.5, "queries": {"q1": 3.0, "q2": 1.0}}
    hist.write_text(json.dumps(row) + "\n")
    out.write_text(json.dumps({"sf": 0.1, "cpus": 32,
                               "queries": {"q1": 1.0, "q2": 1.0}}))
    cmd = [sys.executable, os.path.join(repo, "tools", "robust_baseline.py"),
           "--history", str(hist), "--out", str(out)]
    r = subprocess.run(cmd, capture_output=True, text=True)
    assert r.returncode == 1 and "FLOOR RISES: q1" in r.stdout
    assert json.loads(out.read_text())["queries"]["q1"] == 1.0  # untouched
    r = subprocess.run(cmd + ["--allow-rising-floors"], capture_output=True, text=True)
    assert r.returncode == 0, r.stdout + r.stderr
    assert json.loads(out.read_text())["queries"]["q1"] == 3.0


def test_gate_retry_rebuilds_memo_kernel_the_timed_run_built(monkeypatch):
    """A candidate whose timed run built a session-memo kernel is retried
    from reset memos: a retry served by the memo that run left behind
    times only the consumer, so a kernel regression would clear the gate
    on its first retry."""
    import bench
    from wikistream_event_data_pipeline_aws_spark.operators import memo

    clock = [0.0]
    monkeypatch.setattr(bench.time, "perf_counter", lambda: clock[0])
    kernel: dict = {}
    monkeypatch.setattr(memo, "reset_memos", kernel.clear)

    class Result:
        def count(self):
            if not kernel:  # build the (regressed) kernel: 3s
                clock[0] += 3.0
                kernel["k"] = True
                memo.log_memo_event("build", "k")
            else:  # memo hit: only the consumer runs
                clock[0] += 0.1
                memo.log_memo_event("hit", "k")
            return 1

    qs = {"consumer": lambda spark, sf_dir: Result(), "other": lambda spark, sf_dir: Result()}
    prev = {"consumer": 1.0, "other": 1.0}
    try:
        # the timed run built the kernel: every retry rebuilds it and
        # the 3x regression stands
        timings = {"consumer": 3.0, "other": 1.0}
        got = bench._retry_candidates(None, "/x", qs, prev, timings, 1.0, {"consumer": ["k"]})
        assert [r["query"] for r in got] == ["consumer"]
        assert timings["consumer"] == 3.0
        # a timed run that was itself a memo hit keeps the memo: its
        # retries time the same consumer-only work
        timings = {"consumer": 3.0, "other": 1.0}
        assert bench._retry_candidates(None, "/x", qs, prev, timings, 1.0, {}) == []
        assert timings["consumer"] == 0.1
    finally:
        kernel.clear()
