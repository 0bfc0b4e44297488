"""Tests of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import corpus  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402


def test_staged_files_are_monotone_in_ts(tmp_path):
    corpus.write_corpus(str(tmp_path / "data"), seed=7, tables=("events",))
    # shuffle the source so the staging, not the generator, orders it
    src = pq.read_table(tmp_path / "data" / "events.parquet")
    shuffled = src.take(list(range(src.num_rows - 1, -1, -2)) +
                        list(range(src.num_rows - 2, -1, -2)))
    pq.write_table(shuffled, tmp_path / "shuffled.parquet")

    paths = corpus.stage_time_ordered(
        str(tmp_path / "shuffled.parquet"), str(tmp_path / "stage"), 40)

    assert [os.path.basename(p) for p in paths] == sorted(os.listdir(tmp_path / "stage"))
    last = None
    total = 0
    for p in paths:
        ts = pq.read_table(p).column("ts").to_pylist()
        assert ts == sorted(ts)
        if last is not None:
            assert ts[0] >= last
        last = ts[-1]
        total += len(ts)
    assert total == src.num_rows


def test_corpus_is_a_function_of_the_seed(tmp_path):
    for d, seed in (("a", 3), ("b", 3), ("c", 4)):
        corpus.write_corpus(str(tmp_path / d), seed, tables=("events", "customer"))
    read = lambda d, t: pq.read_table(tmp_path / d / f"{t}.parquet")
    assert read("a", "events").equals(read("b", "events"))
    assert read("a", "customer").equals(read("b", "customer"))
    assert not read("a", "events").equals(read("c", "events"))


def test_p90_refused_below_100_samples():
    with pytest.raises(ValueError):
        stats.p90(list(range(99)))
    assert stats.p90([float(i) for i in range(1, 101)]) == pytest.approx(90.1)


def test_canonical_comparison_flags_one_changed_row():
    cols = ["b", "a"]
    rows = [(1.5, "x"), (2.0, "y"), (None, "z"), (float("nan"), "w")]
    # same rows, other column and row order
    same = stats.canon_rows(["a", "b"], [(r[1], r[0]) for r in reversed(rows)])
    assert stats.canon_rows(cols, rows) == same

    changed = list(rows)
    changed[1] = (2.0000000001, "y")
    assert stats.canon_rows(cols, rows) != stats.canon_rows(cols, changed)


def test_failed_check_increments_failed_count():
    tally = stats.Tally()
    assert tally.check("q1", True)
    assert not tally.check("q2", False, "3 rows vs oracle 4")
    assert (tally.attempted, tally.failed) == (2, 1)
    assert tally.failures == ["q2: 3 rows vs oracle 4"]


def test_self_time_subtracts_child_spans():
    tr = spans.Tracer("t", enabled=True)
    root = tr.add("pipeline.replay", 0.0, 10.0)
    tr.add("sources.latestOffset", 1.0, 3.0, root)
    tr.add("sinks.serving.addBatch", 2.0, 6.0, root)  # overlaps the first
    self_s = tr.self_times()
    assert self_s["pipeline"] == pytest.approx(5.0)
    assert self_s["sources"] == pytest.approx(2.0)
    assert self_s["sinks"] == pytest.approx(4.0)

    # a drain whose children are two sinks' micro-batches, overlapping
    # in time: its self time is only the part no micro-batch covers
    tr = spans.Tracer("t", enabled=True)
    drain = tr.add("sinks.drain", 0.0, 10.0)
    mb = tr.add("pipeline.microbatch", 1.0, 5.0, drain)
    tr.add("sinks.serving.addBatch", 1.0, 5.0, mb)
    mb = tr.add("pipeline.microbatch", 3.0, 8.0, drain)
    tr.add("sinks.warehouse.addBatch", 3.0, 8.0, mb)
    self_s = tr.self_times()
    assert self_s["sinks"] == pytest.approx(3.0 + 4.0 + 5.0)
    assert self_s["pipeline"] == pytest.approx(0.0)


def test_progress_spans_lay_phases_end_to_end():
    tr = spans.Tracer("t", enabled=True)
    progress = [
        {"batchId": 0, "numInputRows": 0, "timestamp": "2024-01-01T00:00:00.000Z",
         "durationMs": {"triggerExecution": 5}},
        {"batchId": 1, "numInputRows": 10, "timestamp": "2024-01-01T00:00:01.000Z",
         "durationMs": {"triggerExecution": 100, "latestOffset": 10, "walCommit": 5,
                        "getBatch": 5, "queryPlanning": 10, "addBatch": 60,
                        "commitOffsets": 10}},
    ]
    tr.add_progress(progress, None, "sinks.warehouse")
    names = [s["name"] for s in tr.spans]
    assert names[0] == "pipeline.microbatch"
    assert "sinks.warehouse.addBatch" in names and len(names) == 7
    assert tr.spans[-1]["end"] == pytest.approx(tr.spans[0]["end"])
