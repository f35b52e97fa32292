"""Measurement helpers: percentiles, per-event lag, drain throughput,
memory sampling, Spark's job and stage counters, and spans.

The first three are pure functions (tested in ``test_measure.py``); the
rest read the running process tree and the Spark status store.
"""

from __future__ import annotations

import json
import math
import os
import threading
import time

# -- pure helpers ----------------------------------------------------------


def percentile(values: list[float], q: float) -> tuple[float, int]:
    """The ``q``-quantile (0..1) by linear interpolation between closest
    ranks, with the sample count it rests on."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo), len(xs)


def read_source_log(checkpoint: str) -> dict[str, int]:
    """File path (base name) -> the micro-batch that read it, from the
    file source's metadata log under ``<checkpoint>/sources/0``. Compact
    files repeat earlier entries; every entry carries its ``batchId``."""
    src = os.path.join(checkpoint, "sources", "0")
    out: dict[str, int] = {}
    for name in os.listdir(src):
        if name.startswith(".") or name.endswith(".tmp"):
            continue
        with open(os.path.join(src, name)) as fh:
            lines = fh.read().splitlines()[1:]  # line 0 is the format version
        for ln in lines:
            entry = json.loads(ln)
            out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


def event_lags(gen_log: list[dict], file_batch: dict[str, int],
               commits: dict[int, float]) -> tuple[list[float], list[str]]:
    """Per-event lag: commit time of the batch that read an event's file
    minus the event's creation stamp (``due``). ``gen_log`` has one entry
    per file: ``file``, ``due`` and ``n`` (events). Returns the lag of
    every event (an entry's lag repeated ``n`` times) and the files no
    committed batch read."""
    lags: list[float] = []
    missing: list[str] = []
    for entry in gen_log:
        bid = file_batch.get(entry["file"])
        if bid is None or bid not in commits:
            missing.append(entry["file"])
            continue
        lags.extend([commits[bid] - entry["due"]] * entry["n"])
    return lags, missing


def drain_eps(events: int, available: float, commits: list[float]) -> float:
    """Events made durable per second over the drain window: from the
    time the first of them became available to the last commit."""
    if not commits or events <= 0:
        raise ValueError("empty drain")
    return events / (max(commits) - available)


# -- memory ----------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pss_mb(root: int) -> float:
    """Proportional set size of ``root`` and all its descendants, in MB."""
    kids = _children_map()
    todo, total_kb = [root], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for ln in fh:
                    if ln.startswith("Pss:"):
                        total_kb += int(ln.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


class PeakPss:
    """Samples the PSS of a process tree on a thread until stopped."""

    def __init__(self, root: int, interval: float = 0.25) -> None:
        self.root = root
        self.interval = interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_mb(self.root))
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakPss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


# -- Spark counters --------------------------------------------------------


class SparkCounters:
    """Job and stage id counters and executor totals from the status
    store. Job ids are counted, not job groups: groups are thread-local
    and miss jobs the engine submits from its own thread pools."""

    def __init__(self, spark) -> None:
        self.jsc = spark.sparkContext._jsc.sc()
        self.jvm = spark.sparkContext._jvm
        self.gateway = spark.sparkContext._gateway

    def snapshot(self) -> dict:
        dag = self.jsc.dagScheduler()
        execs = self.jsc.statusStore().executorList(True)
        gc_ms = shuffle_b = 0
        for i in range(execs.size()):
            e = execs.apply(i)
            gc_ms += e.totalGCTime()
            shuffle_b += e.totalShuffleWrite()
        return {
            "jobs": int(dag.nextJobId()),
            "stages": int(dag.nextStageId()),
            "gc_s": gc_ms / 1000.0,
            "shuffle_mb": shuffle_b / 1e6,
            "t": time.perf_counter(),
        }

    def stage_totals(self, first: int, last: int, skip: set[int]) -> dict:
        """Executor run time and memory spilled, summed over the stages
        with ids in ``[first, last)`` that are not in ``skip``."""
        empty = self.jvm.java.util.ArrayList()
        stages = self.jsc.statusStore().stageList(
            empty, False, False, self.gateway.new_array(self.jvm.double, 0), empty
        )
        run_ms = spill_b = 0
        for i in range(stages.size()):
            s = stages.apply(i)
            if first <= s.stageId() < last and s.stageId() not in skip:
                run_ms += s.executorRunTime()
                spill_b += s.memoryBytesSpilled()
        return {"run_s": run_ms / 1000.0, "spill_mb": spill_b / 1e6}


def delta(a: dict, b: dict) -> dict:
    return {k: b[k] - a[k] for k in a}


# -- spans -------------------------------------------------------------------


class Tracer:
    """In-memory spans: name, start, end, parent, and the Spark counter
    deltas over the span. Written out once, at the end of the run."""

    def __init__(self, counters: SparkCounters) -> None:
        self.counters = counters
        self.spans: list[dict] = []
        self._stack: list[int] = []
        #: (module or object, attribute, original) of each wrapped call
        self.undo: list = []

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def self_time(self, span: dict) -> float:
        """Span duration minus the time its direct children cover."""
        kids = sum(
            s["end"] - s["start"] for s in self.spans if s["parent"] == span["id"]
        )
        return span["end"] - span["start"] - kids

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict) -> None:
        self.tracer = tracer
        self.rec = {"name": name, **attrs}

    def __enter__(self) -> dict:
        tr = self.tracer
        t0 = time.perf_counter()
        self.before = tr.counters.snapshot()
        self.rec["first_stage"] = self.before["stages"]
        self.rec["id"] = len(tr.spans)
        self.rec["parent"] = tr._stack[-1] if tr._stack else None
        tr.spans.append(self.rec)
        tr._stack.append(self.rec["id"])
        self.rec["start"] = time.perf_counter()
        self.rec["bookkeeping_s"] = self.rec["start"] - t0
        return self.rec

    def __exit__(self, *exc) -> None:
        tr = self.tracer
        end = time.perf_counter()
        after = tr.counters.snapshot()
        self.rec["end"] = end
        for k, v in delta(self.before, after).items():
            if k != "t":
                self.rec[k] = v
        tr._stack.pop()
        self.rec["bookkeeping_s"] += time.perf_counter() - end

