"""The bench regression gate: a common-subset query is a candidate only
when BOTH >2x its floor AND >1s slower — sub-second noise can't trip
it, a real plan regression can't hide under it — and a candidate that
stays slow through its retries fails the run only on a draw whose own
window ran clean of hypervisor steal."""

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


def test_floors_fall_back_to_windowed_history_min(tmp_path):
    """With no committed floor file for the run's (sf, cpus), each
    query's floor is its minimum over the last HISTORY_WINDOW matching
    history rows: older rows and other configs do not count."""
    import json

    from bench import HISTORY_WINDOW, _floors

    rows = [{"sf": 0.1, "cpus": 32, "queries": {"a": 0.5, "b": 9.0}}]  # ages out
    rows += [
        {"sf": 0.1, "cpus": 32, "queries": {"a": 2.0 + i, "b": 3.0}}
        for i in range(HISTORY_WINDOW)
    ]
    rows += [
        {"sf": 0.01, "cpus": 32, "queries": {"a": 0.1}},
        {"sf": 0.1, "cpus": 8, "queries": {"a": 0.2}},
    ]
    (tmp_path / "BENCH_HISTORY.jsonl").write_text("\n".join(json.dumps(r) for r in rows) + "\n")
    (tmp_path / "BENCH_BASELINE.json").write_text(
        json.dumps({"sf": 0.1, "cpus": 8, "queries": {"a": 7.0}})
    )
    assert _floors(str(tmp_path), "/x/sf0.1", 32) == {"a": 2.0, "b": 3.0}
    assert _floors(str(tmp_path), "/x/sf0.01", 32) == {"a": 0.1}
    # a matching committed file wins over the history
    assert _floors(str(tmp_path), "/x/sf0.1", 8) == {"a": 7.0}
    assert _floors(str(tmp_path), "/x/sf1", 16) == {}
    assert _floors(str(tmp_path / "none"), "/x/sf0.1", 32) == {}


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


def test_disjoint_query_sets_render_blank_comparison(tmp_path):
    """Two runs at the same (sf, cpus) sharing ZERO query names (e.g.
    queries renamed between rounds, or a hand-trimmed history) must not
    crash the table render — max() over the empty common set used to
    raise AFTER the timed run, losing BENCH_OUT.json."""
    from bench import _update_history

    _update_history(str(tmp_path), {"sf": 0.1, "cpus": 32, "queries": {"old_q": 1.0}})
    _update_history(str(tmp_path), {"sf": 0.1, "cpus": 32, "queries": {"new_q": 2.0}})
    md = (tmp_path / "BENCH_HISTORY.md").read_text()
    new_row = [l for l in md.splitlines() if l.startswith("| 2")][-1]
    assert new_row.rstrip().endswith("| 2.0 | — | — | — |")


def test_update_history_renders_every_committed_row(tmp_path):
    """The trend table renders the committed history as it stands,
    including the early partial rows keyed ``ts`` rather than ``at``,
    and appends the new row after them."""
    import os
    import shutil

    from bench import _update_history

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    shutil.copy(os.path.join(repo, "BENCH_HISTORY.jsonl"), tmp_path)
    n = len((tmp_path / "BENCH_HISTORY.jsonl").read_text().splitlines())
    _update_history(str(tmp_path), {"sf": 0.1, "cpus": 32, "queries": {"q1": 1.0}})
    rows = [l for l in (tmp_path / "BENCH_HISTORY.md").read_text().splitlines() if l.startswith("| 2")]
    assert len(rows) == n + 1


def test_steal_pct_from_proc_stat_deltas(monkeypatch):
    """The gate's steal share (perfbench.common.StealMeter) is the stolen
    share of ALL cpu ticks between two /proc/stat snapshots, and 0 for a
    zero-width window."""
    import io

    from perfbench import common

    stats = [
        "cpu  100 0 50 800 10 0 5 35 0 0\n",
        "cpu  200 0 100 1600 20 0 10 70 0 0\n",  # deltas sum to 1000, steal 35
    ]
    monkeypatch.setattr(common, "open", lambda path: io.StringIO(stats.pop(0)), raising=False)
    assert common.StealMeter().pct() == 3.5
    stats += ["cpu  1 2 3 4 5 6 7 8\n"] * 2
    assert common.StealMeter().pct() == 0.0
    monkeypatch.undo()
    assert common.StealMeter().pct() >= 0.0  # Linux: real counters


def test_min_extraction_builds_host_independent_baseline():
    """VERDICT r11 item 1: the standing baseline is the per-query MIN
    across every recorded run at (sf, cpus) — noisy rows included,
    because steal inflates means but not minima."""
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
        {"sf": 0.1, "cpus": 32, "queries": {"a": 1.0, "b": 5.0}},
        {"sf": 0.1, "cpus": 32, "queries": {"a": 0.8, "b": 50.0, "c": 2.0}},
        {"sf": 0.01, "cpus": 32, "queries": {"a": 0.1}},
        {"sf": 0.1, "cpus": 8, "queries": {"a": 0.2}},
    ]
    base = extract_min_baseline(runs, 0.1, 32)
    assert base["queries"] == {"a": 0.8, "b": 5.0, "c": 2.0}
    assert base["runs_used"] == 2
    assert base["samples"] == {"a": 2, "b": 2, "c": 1}
    # r13 restart: the window keeps only the LAST N matching runs —
    # stale-era one-off minima (run 1's a=0.8 here) age out, so the
    # gate's bar tracks states the CURRENT code is actually measured in
    recent = extract_min_baseline(runs, 0.1, 32, window=1)
    assert recent["queries"] == {"a": 0.8, "b": 50.0, "c": 2.0}
    assert recent["runs_used"] == 1
    both = extract_min_baseline(runs, 0.1, 32, window=2)
    assert both["queries"] == {"a": 0.8, "b": 5.0, "c": 2.0}
    assert both["runs_used"] == 2


def test_standing_baseline_loads_only_matching_config(tmp_path):
    import json

    from bench import _standing_baseline

    path = tmp_path / "BENCH_BASELINE.json"
    path.write_text(
        json.dumps(
            {"sf": 0.1, "cpus": 32, "queries": {"a": 1.0}}
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
    assert all(v > 0 for v in base["queries"].values())


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
           "queries": {"q1": 3.0, "q2": 1.0}}
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


class _Steal:
    """Stand-in for perfbench.common.StealMeter: each window opened
    reports the next value of ``pcts``."""

    pcts: list[float] = []

    def __init__(self):
        self._pct = _Steal.pcts.pop(0)

    def pct(self) -> float:
        return self._pct


def _run_timed(monkeypatch, tmp_path, steal: list[float]):
    """bench._timed over two fake queries with 1s floors on a fake clock:
    ``fine`` takes 1s, ``slow`` 3s on every draw. ``steal`` feeds the
    windows in order: the timed runs (fine, slow), then slow's retries.
    Returns (exit code, BENCH_OUT.json)."""
    import json

    import bench
    from wikistream_event_data_pipeline_aws_spark import session

    clock = [0.0]
    monkeypatch.setattr(bench.time, "perf_counter", lambda: clock[0])
    monkeypatch.setattr(_Steal, "pcts", list(steal))
    monkeypatch.setattr(bench, "StealMeter", _Steal)
    monkeypatch.setattr(session, "codegen_compiles", lambda spark: (0, 0.0))
    monkeypatch.setattr(bench, "REPO", str(tmp_path))
    (tmp_path / "BENCH_BASELINE.json").write_text(
        json.dumps({"sf": 0.01, "cpus": 4, "queries": {"fine": 1.0, "slow": 1.0}})
    )

    def query(seconds):
        class Result:
            def count(self):
                clock[0] += seconds
                return 1

        return lambda spark, sf_dir: Result()

    class Spark:
        def stop(self):
            pass

    qs = {"fine": query(1.0), "slow": query(3.0)}
    try:
        bench._timed(Spark(), "/x/sf0.01", 4, qs)
        rc = 0
    except SystemExit as e:
        rc = e.code
    assert not _Steal.pcts  # every window was measured
    return rc, json.loads((tmp_path / "BENCH_OUT.json").read_text())


def test_gate_convicts_a_regression_in_clean_windows(monkeypatch, tmp_path, capsys):
    import json

    rc, out = _run_timed(monkeypatch, tmp_path, [0.2, 0.5, 0.4, 0.3, 0.6])
    assert rc == 1
    assert out["regressed"] == [
        {"query": "slow", "prev_s": 1.0, "now_s": 3.0, "steal_pct": [0.5, 0.4, 0.3, 0.6]}
    ]
    assert "suspect_regressions" not in out
    assert out["steal_pct"] == {"fine": 0.2, "slow": 0.5}
    # the JSON line is the last thing written, and it names the regression
    last = json.loads(capsys.readouterr().out.splitlines()[-1])
    assert [r["query"] for r in last["regressed"]] == ["slow"]


def test_gate_holds_an_all_contaminated_regression_as_suspect(monkeypatch, tmp_path):
    """Every draw of the survivor ran with steal above the bar: nothing
    measured separates its plan from the host, so the run exits 0 and
    reports the suspect with each draw's steal."""
    rc, out = _run_timed(monkeypatch, tmp_path, [0.2, 9.0, 7.5, 12.0, 4.0])
    assert rc == 0
    assert "regressed" not in out
    assert out["suspect_regressions"] == [
        {"query": "slow", "prev_s": 1.0, "now_s": 3.0, "steal_pct": [9.0, 7.5, 12.0, 4.0]}
    ]


def test_one_clean_draw_convicts(monkeypatch, tmp_path):
    """Every draw of a survivor is above the bar, so a single draw at or
    below CLEAN_STEAL_PCT among contaminated ones is enough."""
    import bench

    steal = [0.2, 9.0, 7.5, bench.CLEAN_STEAL_PCT, 12.0]
    rc, out = _run_timed(monkeypatch, tmp_path, steal)
    assert rc == 1 and [r["query"] for r in out["regressed"]] == ["slow"]
    assert "suspect_regressions" not in out


def test_gate_retry_rebuilds_memo_kernel_the_timed_run_built(monkeypatch):
    """A candidate whose timed run built a session-memo kernel is retried
    from reset memos: a retry served by the memo that run left behind
    times only the consumer, so a kernel regression would clear the gate
    on its first retry."""
    import bench
    from wikistream_event_data_pipeline_aws_spark.operators import memo

    clock = [0.0]
    monkeypatch.setattr(bench.time, "perf_counter", lambda: clock[0])
    monkeypatch.setattr(_Steal, "pcts", [0.0] * 4)
    monkeypatch.setattr(bench, "StealMeter", _Steal)
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
    steal = {"consumer": 0.0, "other": 0.0}
    try:
        # the timed run built the kernel: every retry rebuilds it and
        # the 3x regression stands
        timings = {"consumer": 3.0, "other": 1.0}
        regressed, suspects = bench._retry_candidates(
            None, "/x", qs, prev, timings, steal, {"consumer": ["k"]}
        )
        assert [r["query"] for r in regressed] == ["consumer"] and suspects == []
        assert timings["consumer"] == 3.0
        # a timed run that was itself a memo hit keeps the memo: its
        # retries time the same consumer-only work
        timings = {"consumer": 3.0, "other": 1.0}
        assert bench._retry_candidates(None, "/x", qs, prev, timings, steal, {}) == ([], [])
        assert timings["consumer"] == 0.1
    finally:
        kernel.clear()


def test_only_perfbench_common_reads_proc_stat():
    """perfbench.common.StealMeter is the one steal meter: no other
    source file names /proc/stat, so a second hand-rolled copy of it
    cannot come back."""
    import re
    from pathlib import Path

    repo = Path(__file__).resolve().parents[1]
    meter = repo / "perfbench" / "common.py"
    literal = re.compile(r"""["']/proc/stat["']""")
    assert literal.search(meter.read_text())
    tops = [p for p in repo.iterdir() if not p.name.startswith(".") and p.name != "spark-warehouse"]
    sources = [p for top in tops for p in ([top] if top.is_file() else top.rglob("*")) if p.suffix == ".py"]
    offenders = [str(p.relative_to(repo)) for p in sources if p != meter and literal.search(p.read_text())]
    assert not offenders, offenders
