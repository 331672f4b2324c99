"""Fixed-input tests of the harness helpers.

    python3 -m pytest -q perfbench/test_benchlib.py
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from benchlib import file_batches, percentile, self_times  # noqa: E402


def test_percentile_needs_ten_samples_beyond():
    xs = list(range(1, 101))  # 1..100
    assert percentile(xs, 0.9) == 90  # ranks 91..100 lie beyond it
    assert percentile(xs[:99], 0.9) is None  # only 9 beyond
    assert percentile(list(range(1, 21)), 0.5) == 10
    assert percentile(list(range(1, 20)), 0.5) is None
    assert percentile(list(range(1, 41)), 0.75) == 30  # 10 beyond
    assert percentile(list(range(1, 40)), 0.75) is None  # 9 beyond
    assert percentile([], 0.5) is None


def test_percentile_ignores_input_order():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 4
    assert percentile(xs, 0.5) == 3.0
    assert percentile(xs, 0.5, min_beyond=0) == 3.0


def _log(path, entries):
    with open(path, "w") as f:
        f.write("v1\n")
        for name, batch in entries:
            f.write(json.dumps({"path": f"file:///in/{name}", "timestamp": 1, "batchId": batch}) + "\n")


def test_file_batches_reads_plain_and_compact_logs(tmp_path):
    # Batches 0-9 folded into 9.compact (plain 5-9 already deleted),
    # plain 0-4 still present, batch 10 plain, plus checksum and temp
    # siblings that must be skipped.
    folded = [(f"f{b:02d}.json", b) for b in range(10)]
    _log(tmp_path / "9.compact", folded)
    for b in range(5):
        _log(tmp_path / str(b), [(f"f{b:02d}.json", b)])
    _log(tmp_path / "10", [("f10.json", 10), ("f11.json", 10)])
    (tmp_path / ".10.crc").write_text("junk")
    (tmp_path / ".11.tmp").write_text("v1\n{partial")
    got = file_batches(str(tmp_path))
    want = {f"f{b:02d}.json": b for b in range(10)}
    want.update({"f10.json": 10, "f11.json": 10})
    assert got == want


def test_file_batches_keeps_lowest_batch_for_duplicates(tmp_path):
    _log(tmp_path / "19.compact", [("a.json", 12), ("b.json", 19)])
    _log(tmp_path / "12", [("a.json", 12)])
    _log(tmp_path / "20", [("a.json", 20)])  # a re-listed file
    assert file_batches(str(tmp_path)) == {"a.json": 12, "b.json": 19}


def test_file_batches_on_empty_log(tmp_path):
    assert file_batches(str(tmp_path)) == {}


def test_self_times_subtract_union_of_children():
    spans = [
        {"id": 1, "name": "root", "parent": None, "start": 0.0, "end": 10.0},
        # two overlapping children: union covers [1, 6]
        {"id": 2, "name": "child", "parent": 1, "start": 1.0, "end": 4.0},
        {"id": 3, "name": "child", "parent": 1, "start": 3.0, "end": 6.0},
        {"id": 4, "name": "leaf", "parent": 3, "start": 5.0, "end": 5.5},
    ]
    got = self_times(spans)
    assert got["root"] == 5.0
    assert got["child"] == 3.0 + 2.5
    assert got["leaf"] == 0.5
