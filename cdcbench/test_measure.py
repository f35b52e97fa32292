"""Tests for the benchmark's pure helpers and its reference apply.

    python3 -m pytest cdcbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import statistics
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cdcbench import feed  # noqa: E402
from cdcbench.measure import (  # noqa: E402
    drain_eps,
    event_lags,
    percentile,
    read_source_log,
)


def test_percentile_interpolates_and_counts():
    assert percentile([3.0, 1.0, 2.0], 0.5) == (2.0, 3)
    assert percentile([0.0, 10.0], 0.9) == (9.0, 2)
    assert percentile([5.0], 0.9) == (5.0, 1)
    xs = [float(i) for i in range(1, 12)]
    assert percentile(xs, 0.5)[0] == statistics.median(xs)


def test_percentile_rejects_no_samples():
    with pytest.raises(ValueError):
        percentile([], 0.5)


def test_event_lags_joins_files_to_their_batch_commit():
    log = [
        {"file": "f0", "due": 10.0, "n": 2},
        {"file": "f1", "due": 10.5, "n": 1},
        {"file": "f2", "due": 11.0, "n": 3},
    ]
    file_batch = {"f0": 0, "f1": 1, "f2": 1}
    commits = {0: 12.0, 1: 14.0}
    lags, missing = event_lags(log, file_batch, commits)
    assert lags == [2.0, 2.0, 3.5, 3.0, 3.0, 3.0]
    assert missing == []


def test_event_lags_reports_files_without_a_committed_batch():
    log = [{"file": "f0", "due": 1.0, "n": 1}, {"file": "f1", "due": 2.0, "n": 1}]
    lags, missing = event_lags(log, {"f0": 0, "f1": 1}, {0: 3.0})
    assert lags == [2.0]
    assert missing == ["f1"]


def test_drain_eps_spans_first_availability_to_last_commit():
    commits = [104.0, 110.0, 108.0]
    assert drain_eps(3000, 100.0, commits) == 300.0
    with pytest.raises(ValueError):
        drain_eps(0, 100.0, commits)


def test_report_latency_counts_batch_commits_as_samples():
    from cdcbench.workloads import Run, report_latency

    log = [{"file": f"f{i}", "due": 10.0, "n": 100} for i in range(4)]
    file_batch = {"f0": 1, "f1": 1, "f2": 2, "f3": 2}
    batches = [(1, 10.0, 14.0), (2, 14.2, 18.0)]
    run = Run()
    report_latency(run, log, file_batch, {b: end for b, _, end in batches}, batches)
    assert run.metrics["visible_p50_s"] == (6.0, "s")
    assert run.samples["visible_p50_s"] == 2  # two commits, not 400 events
    assert run.metrics["batch_p50_s"][0] == pytest.approx(3.9)
    assert run.metrics["drain_eps"] == (50.0, "1/s")
    assert run.failed == 0


def test_read_source_log_reads_batches_and_compact_files(tmp_path):
    src = tmp_path / "sources" / "0"
    src.mkdir(parents=True)
    entry = lambda p, b: json.dumps({"path": f"file:///x/{p}", "timestamp": 1, "batchId": b})
    (src / "0").write_text("v1\n" + entry("a.parquet", 0) + "\n")
    (src / "1.compact").write_text(
        "v1\n" + entry("a.parquet", 0) + "\n" + entry("b.parquet", 1) + "\n")
    (src / "2").write_text("v1\n" + entry("c.parquet", 2) + "\n")
    assert read_source_log(str(tmp_path)) == {
        "a.parquet": 0, "b.parquet": 1, "c.parquet": 2}


def test_generator_is_deterministic_and_reference_follows_semantics():
    def stream(seed):
        gen = feed.FeedGenerator(seed, {"accounts": 50, "orders": 20})
        snap = {t: gen.snapshot_rows(t) for t in ("accounts", "orders")}
        files = [gen.file(200, rename=True), gen.file(200, truncate="orders")]
        return snap, files

    snap, files = stream(7)
    snap2, files2 = stream(7)
    assert [f.frames for f in files] == [f.frames for f in files2]
    assert snap == snap2

    ops = {c.op for f in files for c in f.changes}
    assert ops == {"INSERT", "UPDATE", "DELETE", "TRUNCATE"}
    assert any(c.replayed for f in files for c in f.changes)

    keep = feed.ReferenceState(drop_replayed=False)
    drop = feed.ReferenceState(drop_replayed=True)
    for ref in (keep, drop):
        for table, rows in snap.items():
            ref.seed(table, rows, 0)
        for f in files:
            ref.apply(f.changes)
    # the TRUNCATE ended every orders row that existed before it
    t_lsn = next(c.lsn for c in files[1].changes if c.op == "TRUNCATE")
    for (table, _), (_, lsn) in keep.rows.items():
        if table == "orders":
            assert lsn > t_lsn
    # replayed transactions only update rows, so both keep the same keys
    assert keep.rows.keys() == drop.rows.keys()
    assert drop.dropped > 0
    assert keep.digest() != drop.digest()
    # the rename made "tier" a column of rows updated after it
    assert any("tier" in vals for vals, _ in keep.rows.values())


def test_reference_keeps_unchanged_toast_values():
    ref = feed.ReferenceState(drop_replayed=False)
    ref.seed("accounts", [{"id": "1", "note": "long text"}], 0)
    ref.apply([feed.Change(8, "UPDATE", "accounts", "1",
                           {"id": "1", "note": feed.UNCHANGED_SENTINEL}, False)])
    assert ref.rows[("accounts", "1")] == [{"id": "1", "note": "long text"}, 8]
    ref.apply([feed.Change(16, "DELETE", "accounts", "1", None, False)])
    assert ref.rows == {}
