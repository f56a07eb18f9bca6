"""Tests of the benchmark's own parts: generator determinism, the span
recorder's self-time arithmetic, the wrong-result accounting and the
metric catalogue. None of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os

import pandas as pd
import pyarrow.parquet as pq
import pytest

from perfbench import gen, metrics, query_mix
from perfbench.common import Outcome, quantile
from perfbench.trace import Span, Tracer, covered, self_time, self_times

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _digest(directory: str) -> dict[str, str]:
    return {
        n: hashlib.sha256(open(os.path.join(directory, n), "rb").read()).hexdigest()
        for n in sorted(os.listdir(directory))
    }


SMALL = gen.MedallionParams(rows=2_000)


def test_medallion_inputs_same_seed_same_bytes(tmp_path):
    a = gen.medallion_inputs(7, str(tmp_path / "a"), SMALL)
    b = gen.medallion_inputs(7, str(tmp_path / "b"), SMALL)
    c = gen.medallion_inputs(8, str(tmp_path / "c"), SMALL)
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))
    assert a["ids"] == b["ids"]


def test_stream_files_same_seed_same_bytes(tmp_path):
    p = gen.StreamParams(file_rows=50)
    for d, seed in (("a", 3), ("b", 3), ("c", 4)):
        os.makedirs(tmp_path / d)
        for i in range(3):
            gen.stage_file(seed, i, p, str(tmp_path / d))
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))
    assert not [n for n in os.listdir(tmp_path / "a") if n.startswith(".")]


def test_event_shares_stay_under_the_bronze_gate_bounds(tmp_path):
    info = gen.medallion_inputs(5, str(tmp_path), SMALL)
    cold = pq.read_table(info["path"]).to_pandas()
    assert 1 - cold.event_id.nunique() / len(cold) < 0.05  # Uniqueness blocks at 95%
    assert cold.user_id.isna().mean() < 0.10  # Completeness warns at 90%
    assert cold.event_id.nunique() == info["ids"]
    assert pq.read_schema(info["path"]).names == gen.EVENTS_SCHEMA.names


def test_stream_redeliveries_are_exact_copies_of_earlier_ids():
    p = gen.StreamParams(file_rows=100)
    seen = pd.concat([gen.stream_file(9, i, p).to_pandas() for i in range(6)])
    fresh = seen.drop_duplicates("event_id")
    assert len(seen) == 6 * 100 - 2  # the first file has no earlier ids to re-deliver
    assert set(fresh.event_id) == set(gen.stream_ids(6, p))
    # every copy equals the original row it re-delivers
    assert len(seen.drop_duplicates()) == len(fresh)


def _span(i, name, start, end, parent=None):
    return Span(i, name, start, end, parent, "run")


def test_self_time_nested_and_overlapping_children():
    root = _span(0, "root", 0.0, 10.0)
    a = _span(1, "a", 1.0, 4.0, 0)
    b = _span(2, "b", 3.0, 6.0, 0)  # overlaps a: 1..6 is covered once
    c = _span(3, "c", 9.0, 12.0, 0)  # runs past its parent: clipped at 10
    leaf = _span(4, "leaf", 1.5, 2.0, 1)
    spans = [root, a, b, c, leaf]
    own = self_times(spans)
    assert own[0] == pytest.approx(10 - 5 - 1)
    assert own[1] == pytest.approx(3 - 0.5)
    assert own[4] == pytest.approx(0.5)
    assert self_time(root, []) == pytest.approx(10)
    assert covered([(0, 1), (0.5, 2), (5, 6)], 0, 10) == pytest.approx(3)
    assert (own[2], own[3]) == pytest.approx((3, 3))  # children keep their own whole spans


def test_tracer_nests_wraps_adopts_and_unwraps():
    class Owner:
        @staticmethod
        def work(x):
            return x * 2

    tr = Tracer("t")
    tr.wrap(Owner, "work", "owner.work", record_result=True)
    with tr.span("outer") as outer:
        assert Owner.work(21) == 42
    tr.unwrap()
    assert Owner.work(1) == 2 and len(tr.named("owner.work")) == 1
    inner = tr.named("owner.work")[0]
    assert inner.parent == outer.id and inner.result == 42
    step = tr.add("step", outer.start, outer.end, outer.id)
    assert inner.parent == step.id
    assert tr.overhead_s == 0.0  # no SparkContext: nothing is tagged


class _FakeSC:
    """The SparkContext surface the tracer uses: one job of two stages
    (3 and 5 tasks) in every job group that was set."""

    def __init__(self):
        self.group = None
        self.groups = []

    def setJobGroup(self, group, description):
        self.group = group
        self.groups.append(group)

    def setLocalProperty(self, key, value):
        self.group = value

    def statusTracker(self):
        sc = self

        class Tracker:
            def getJobIdsForGroup(self, group):
                return [sc.groups.index(group)] if group in sc.groups else []

            def getJobInfo(self, job_id):
                return type("Job", (), {"stageIds": [2 * job_id, 2 * job_id + 1]})

            def getStageInfo(self, stage_id):
                return type("Stage", (), {"numTasks": 3 if stage_id % 2 == 0 else 5})

        return Tracker()


def test_job_counts_group_restore_and_overhead():
    sc = _FakeSC()
    tr = Tracer("t", sc)
    with tr.span("outer") as outer:
        with tr.span("untagged", jobs=False):
            with tr.span("inner") as inner:
                assert sc.group.endswith(f"-{inner.id}")
            assert sc.group.endswith(f"-{outer.id}")  # restored to the nearest tagged span
    assert sc.group is None
    assert (inner.jobs, inner.stages, inner.tasks) == (1, 2, 8)
    assert (outer.jobs, outer.stages, outer.tasks) == (1, 2, 8)
    # the bookkeeping is reported as overhead and kept out of the spans
    assert tr.overhead_s > 0
    assert outer.seconds >= inner.seconds


def test_planted_wrong_result_counts_as_failed_op():
    out = Outcome()
    right = pd.DataFrame({"k": [1, 2], "v": [1.0, 2.0]})
    wrong = right.assign(v=[1.0, 2.5])
    query_mix.compare_result(out, "q_ok", right, right)
    query_mix.compare_result(out, "q_planted", wrong, right)
    assert (out.attempted, out.failed) == (2, 1)
    assert out.failed / out.attempted > 0
    assert out.problems and out.problems[0].startswith("q_planted")


def test_quantile():
    assert quantile([3, 1, 2], 0.5) == 2
    assert quantile([0, 10], 0.9) == pytest.approx(9)


def test_benchmark_json_matches_the_catalogue():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert spec == metrics.benchmark_json()
    assert 2 <= len(spec["workloads"]) <= 8
    assert all(m["bound"] <= 0.25 for m in spec["end_to_end"])
    assert len(spec["per_layer"]) <= 128
    assert "setup_s" in {m["name"] for m in spec["end_to_end"]}
