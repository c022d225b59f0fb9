"""Self-tests of the benchmark harness that need no long Spark job.

    python3 -m pytest perfbench/tests -q
"""

import hashlib
import math
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import generator  # noqa: E402
import stats  # noqa: E402


# ---------------------------------------------------------------- percentiles


def test_highest_percentile_needs_ten_samples_beyond_it():
    # nearest rank: p95 of 200 samples is the 190th, so 10 lie beyond it
    assert stats.beyond(200, 95) == 10
    assert stats.highest_reportable_percentile(200) == 95.0
    assert stats.beyond(199, 95) == 9
    assert stats.highest_reportable_percentile(199) == 90.0
    assert stats.highest_reportable_percentile(1000) == 99.0
    assert stats.highest_reportable_percentile(10_000) == 99.9
    assert stats.highest_reportable_percentile(19) is None


def test_never_committed_file_counts_beyond_every_percentile():
    lat = [float(i) for i in range(1, 200)] + [stats.MISSING]
    s = stats.latency_summary(lat)
    assert s["samples"] == 200
    assert s["p50"] == 100.0
    assert s["p95"] == 190.0  # the missing file lies beyond it, not below
    assert stats.percentile(lat, 100) == math.inf
    # with more than 5% missing, p95 itself is a missing file
    lat = [1.0] * 180 + [stats.MISSING] * 20
    assert stats.percentile(lat, 95) == math.inf
    assert stats.percentile(lat, 50) == 1.0


# ---------------------------------------------------------------- exactly-once


def _batch(t, files):
    return {"t": t, "files": {fid: {"rows": n, "qty": float(n)} for fid, n in files.items()}}


def test_failed_file_ratio_counts_a_dropped_and_a_duplicated_file():
    expected = {fid: {"rows": 10, "qty": 10.0} for fid in range(10)}
    batches = {
        ("q", 0): _batch(1.0, {0: 10, 1: 10, 2: 10, 3: 10}),
        ("q", 1): _batch(2.0, {4: 10, 5: 10, 6: 10, 7: 10, 8: 10}),
        # file 9 dropped; file 3 admitted a second time in a later batch
        ("q", 2): _batch(3.0, {3: 10}),
    }
    got = stats.check_files(expected, batches)
    assert got["missing"] == 1
    assert got["duplicated"] == 1
    assert got["failed"] == 2
    assert got["failed_file_ratio"] == pytest.approx(0.2)


def test_clean_sink_record_passes_and_wrong_rows_fail():
    expected = {0: {"rows": 10, "qty": 10.0}, 1: {"rows": 10, "qty": 10.0}}
    ok = {("q", 0): _batch(1.0, {0: 10}), ("q", 1): _batch(2.0, {1: 10})}
    assert stats.check_files(expected, ok)["failed_file_ratio"] == 0.0
    short = {("q", 0): _batch(1.0, {0: 10, 1: 9})}
    assert stats.check_files(expected, short)["wrong_count"] == 1
    stray = {("q", 0): _batch(1.0, {0: 10, 1: 10, 7: 10})}
    assert stats.check_files(expected, stray)["unexpected"] == 1


def test_replayed_batch_is_one_batch():
    # a sink keyed by batch id sees a replay of batch 0 as one batch
    expected = {0: {"rows": 10}}
    batches = {("q", 0): _batch(1.0, {0: 10})}
    batches[("q", 0)] = _batch(2.0, {0: 10})
    assert stats.check_files(expected, batches)["failed"] == 0


# ---------------------------------------------------------------- self time


def test_self_time_subtracts_overlapping_children_once():
    assert stats.self_time([(0.0, 10.0)], [(1.0, 3.0), (2.0, 4.0), (9.0, 12.0)]) == pytest.approx(6.0)
    assert stats.self_time([(0.0, 1.0)], []) == pytest.approx(1.0)


# ---------------------------------------------------------------- seeds


def _digest(root):
    h = hashlib.sha256()
    for dirpath, dirs, files in sorted(os.walk(root)):
        dirs.sort()
        for f in sorted(files):
            path = os.path.join(dirpath, f)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


@pytest.fixture()
def small_spec(monkeypatch):
    """The bulk_files workload at a size a unit test can write."""
    spec = dict(generator.WORKLOADS["bulk_files"], rows_per_file=50, backlog=6,
                min_open=5, setups=1, restart_redeliveries=2)
    monkeypatch.setitem(generator.WORKLOADS, "tiny", spec)
    return "tiny"


def test_same_seed_gives_same_schedule_and_files(tmp_path, small_spec):
    plans, digests = [], []
    for run in ("a", "b", "c"):
        seed = 7 if run != "c" else 8
        plan = generator.make_plan(small_spec, seed, 1.0)
        root = str(tmp_path / run)
        generator.write_files(root, plan)
        plans.append(plan)
        digests.append(_digest(os.path.join(root, "data")))
    assert plans[0] == plans[1]
    assert digests[0] == digests[1]
    assert plans[0]["phases"]["open0"] != plans[2]["phases"]["open0"]
    assert digests[0] != digests[2]


def test_open_loop_schedule_is_poisson_at_the_rate():
    plan = generator.make_plan("small_files", 3, 10.0)
    spec = generator.WORKLOADS["small_files"]
    windows = [f"open{k}" for k in range(generator.SLICES)]
    new = [f for w in windows for f in generator.new_files(plan, w)]
    assert len(new) >= spec["open_rate"] * 10.0
    assert len(new) - spec["open_rate"] * 10.0 < generator.SLICES
    for w in windows:
        created = [e for e in plan["phases"][w] if e["event"] == "created"]
        span = max(e["due"] for e in created)
        assert 0.7 * 10.0 / generator.SLICES < span < 1.3 * 10.0 / generator.SLICES
        # ~10% redeliveries and some ObjectRemoved events ride along
        fresh = generator.new_files(plan, w)
        assert len(created) - len(fresh) == round(spec["redelivery_ratio"] * len(fresh))
        assert any(e["event"] == "removed" for e in plan["phases"][w])
    # a restart phase re-announces old files and adds exactly one new one
    assert len(generator.new_files(plan, "restart")) == 1


def test_expected_files_are_those_announced_as_created():
    # a traced run sets up once, so a file the plan first announces in a
    # skipped set-up phase arrives later as its first announcement
    import run

    r = run.Run("small_files", 1, 10.0, True, "unused", 1)
    r.plan = {"files": [{"rows": 200, "qty": 5.0}, {"rows": 200, "qty": 6.0}, {"rows": 200, "qty": 7.0}]}
    sent = [
        {"file_id": 1, "event": "created"},
        {"file_id": 1, "event": "created"},  # redelivery
        {"file_id": 2, "event": "removed"},
        {"file_id": 0, "event": "created"},
    ]
    assert r._expected(sent) == {1: {"rows": 200, "qty": 6.0}, 0: {"rows": 200, "qty": 5.0}}


def test_backlog_is_moved_into_the_live_queue_in_send_order(tmp_path):
    import json

    root = str(tmp_path)
    plan = {
        "files": [{"file_id": i, "rows": 1, "format": "parquet"} for i in range(5)],
        "phases": {"drain0": [{"file_id": i, "event": "created", "due": 0.0} for i in (3, 1, 4, 0, 2)]},
    }
    with open(os.path.join(root, "plan.json"), "w") as fh:
        json.dump(plan, fh)
    generator.announce(root, "drain0", 0.0)
    live = generator.queue_dir(root)
    bodies = [open(os.path.join(live, n)).read() for n in sorted(os.listdir(live))]
    assert [next(f for f in (3, 1, 4, 0, 2) if f"file_id={f}/" in b) for b in bodies] == [3, 1, 4, 0, 2]
    assert os.listdir(live + "-stage") == []
    with open(generator.announce_log_path(root, "drain0")) as fh:
        assert [json.loads(line)["file_id"] for line in fh] == [3, 1, 4, 0, 2]
