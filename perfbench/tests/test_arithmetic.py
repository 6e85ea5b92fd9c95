"""The benchmark's own arithmetic: file-to-batch mapping, the tail
percentile rule, self time, and the metric lists of BENCHMARK.json."""

from __future__ import annotations

import json
import os

import pytest

from perfbench import metrics, stats
from perfbench.stream import files_to_batches
from perfbench.tracing import Span, self_time

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _log(path, entries):
    with open(path, "w") as f:
        f.write("v1\n")
        for name, batch in entries:
            f.write(json.dumps({"path": f"file:///in/{name}", "timestamp": 1, "batchId": batch}) + "\n")


def test_files_to_batches_reads_batch_and_compact_files(tmp_path):
    log = tmp_path / "sources" / "0"
    log.mkdir(parents=True)
    # batches 0-1 folded into a compact file, batch 2 on its own, a stray
    # temp file and an empty batch (no new files) alongside
    _log(log / "1.compact", [("f000000.json", 0), ("f000001.json", 1), ("f000002.json", 1)])
    _log(log / "0", [("f000000.json", 0)])
    _log(log / "2", [("f000003.json", 2)])
    _log(log / "3", [])
    (log / ".4.tmp").write_text("v1\n{not json")
    assert files_to_batches(str(log)) == {
        "f000000.json": 0, "f000001.json": 1, "f000002.json": 1, "f000003.json": 2,
    }
    assert files_to_batches(str(tmp_path / "missing")) == {}


@pytest.mark.parametrize("n, expected", [
    (1000, 99.0),   # 10 beyond p99
    (999, 95.0),    # 9.99 beyond p99 is too few
    (200, 95.0),
    (100, 90.0),
    (40, 75.0),
    (20, 50.0),
    (19, None),     # 9.5 beyond the median
])
def test_highest_percentile_needs_ten_samples_beyond(n, expected):
    assert stats.highest_percentile(n) == expected


def test_percentile_interpolates_like_numpy():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert stats.percentile(xs, 50) == 3.0
    assert stats.percentile(xs, 90) == pytest.approx(4.6)
    assert stats.percentile([7.0], 99) == 7.0


def test_self_time_subtracts_union_of_children():
    parent = Span(0, "key", None, 0.0, 10.0)
    kids = [Span(1, "a", 0, 1.0, 3.0), Span(2, "b", 0, 2.0, 5.0), Span(3, "c", 0, 8.0, 12.0)]
    # children cover [1, 5] and [8, 10] inside the parent
    assert self_time(parent, kids) == pytest.approx(4.0)
    assert self_time(parent, []) == pytest.approx(10.0)


def test_benchmark_json_matches_metric_definitions():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    lists = metrics.benchmark_json_lists()
    assert spec["end_to_end"] == lists["end_to_end"]
    assert spec["per_layer"] == lists["per_layer"]
    assert [w["name"] for w in spec["workloads"]] == ["llm_pipeline", "exactly_once_stream"]
    assert any(m["name"] == "setup_s" and m["bound"] == max(x["bound"] for x in spec["end_to_end"])
               for m in spec["end_to_end"])
