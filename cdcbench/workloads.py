"""The benchmark's workloads.

``wire_catchup`` drains a pre-written backlog of wide micro-batches
(one file each) with ``availableNow`` and ``origin="none"``: decode,
origin filtering, the fold and the bucketed commit carry the work.
``wire_steady`` tails a directory that a separate generator process
fills on a fixed schedule, far below the catch-up capacity, with the
default trigger and ``origin="any"``: narrow batches, so the
micro-batch driver's per-batch floor carries the work and the origin
layer is bypassed.

Both go through ``StreamingWireApplyChanges`` unmodified; the
benchmark only subclasses it to note when each batch starts and
commits, and, in a traced run, wraps the engine's public calls in spans
(:mod:`cdcbench.trace`).
"""

from __future__ import annotations

import contextlib
import json
import os
import subprocess
import sys
import time

from cdcbench import feed
from cdcbench.measure import (
    PeakPss,
    drain_eps,
    event_lags,
    percentile,
    read_source_log,
)

FRAME_SCHEMA = "lsn bigint, ts timestamp, frame binary"
N_BUCKETS = 16

# wire_catchup shape: 4k keys of state, 4k events per micro-batch
CATCHUP_KEYS = {"accounts": 3_000, "orders": 1_000}
CATCHUP_FILE_EVENTS = 4_000
CATCHUP_WARM_EVENTS = 1_000
#: warm-up files of the timed shape after the cold first one: batch
#: walls fall by about a third over the first four or five batches of a
#: JVM, as its JIT compiles the per-batch driver code, so the first
#: batches after the cold one spread most from run to run
CATCHUP_WARM_FILES = 1
#: events in the file with the column rename and the TRUNCATE
CATCHUP_DDL_EVENTS = 1_000
#: the timed drain holds ``--seconds / CATCHUP_FILE_SECONDS`` files, at
#: least ``CATCHUP_MIN_FILES``: a batch costs about 5-7 s on 4 vCPUs
CATCHUP_FILE_SECONDS = 5.0
CATCHUP_MIN_FILES = 3

# wire_steady shape: 4k keys, 500 events/s in one file every 0.5 s
STEADY_KEYS = {"accounts": 3_000, "orders": 1_000}
STEADY_RATE = 500
STEADY_INTERVAL = 0.5
#: files in about one steady batch: each warm-up batch after the cold
#: first one reads that many, as the timed batches do
STEADY_BATCH_FILES = 7
#: events in the one file of the one-core baseline: about one batch
STEADY_BATCH_EVENTS = 1750
#: warm-up batches after the cold first one (see CATCHUP_WARM_FILES)
STEADY_WARM_BATCHES = 3

#: rounds of the post-run state reads: untimed ones first (planning,
#: code generation and JIT), then timed ones
READ_WARM_ROUNDS = 1
READ_ROUNDS = 4


class Run:
    """What one workload run leaves for the report."""

    def __init__(self) -> None:
        self.metrics: dict[str, tuple[float, str]] = {}
        self.samples: dict[str, int] = {}
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        #: per-layer values a workload measures itself (traced report)
        self.layer: dict[str, float] = {}
        #: (applier, counters before, counters after, timed batches) of
        #: the timed phase, for the traced report
        self.window = None

    def metric(self, name: str, value: float, unit: str, samples: int = 1) -> None:
        self.metrics[name] = (float(value), unit)
        self.samples[name] = samples

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append("FAILED: " + what)


# -- engine glue -------------------------------------------------------------


def say(msg: str) -> None:
    print(f"cdcbench {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


def key_extractor(events):
    """The row key: ``id`` from the new image, else from the old one."""
    from pyspark.sql import functions as F

    return events.withColumn(
        "id", F.coalesce(F.col("new_values")["id"], F.col("old_values")["id"])
    )


def make_applier(spark, state_path: str, origin: str, tracer=None):
    """A ``StreamingWireApplyChanges`` that records each batch's start
    and commit wall time (``batches``). With a tracer, the engine's public calls are
    wrapped in spans (:func:`cdcbench.trace.install`) and the Spark
    counters are taken after each batch (``counters_after``)."""
    from python_cdc_spark.streaming.apply_stream import StreamingWireApplyChanges

    class BenchApplier(StreamingWireApplyChanges):
        def merge_wire_batch(self, frames, batch_id=None):
            start = time.time()
            if tracer is None:
                super().merge_wire_batch(frames, batch_id)
            else:
                with tracer.span("apply_stream.merge_wire_batch", batch=batch_id):
                    super().merge_wire_batch(frames, batch_id)
                self.counters_after.append(tracer.counters.snapshot())
            self.batches.append((batch_id, start, time.time()))

    applier = BenchApplier(
        spark, state_path, key_extractor, key_col="id",
        n_buckets=N_BUCKETS, origin=origin,
    )
    applier.batches = []
    applier.counters_after = []
    if tracer is not None:
        from cdcbench.trace import install

        tracer.undo.extend(install(tracer, applier))
    return applier


def write_frames(path: str, fb: feed.FileBatch, ts: float) -> None:
    """One parquet file of frames, made visible by an atomic rename."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    stamp = dt.datetime.fromtimestamp(ts, dt.timezone.utc)
    table = pa.table(
        {
            "lsn": pa.array(fb.lsns, pa.int64()),
            "ts": pa.array([stamp] * len(fb.lsns), pa.timestamp("us", tz="UTC")),
            "frame": pa.array(fb.frames, pa.binary()),
        }
    )
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def drain(spark, applier, src: str, ckpt: str, max_files: int | None) -> None:
    """Run the stream with ``availableNow`` until the source is empty."""
    frames = spark.readStream.schema(FRAME_SCHEMA)
    if max_files:
        frames = frames.option("maxFilesPerTrigger", max_files)
    q = applier.start_wire(frames.parquet(src), ckpt, available_now=True)
    q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(f"stream failed: {q.exception()}")


def state_reads(applier, run: Run, ref: feed.ReferenceState, seed: int) -> None:
    """A fixed set of reads of the applied state through
    ``current_state()``: rows per table, a point lookup of 100 keys and
    the 10 most recently changed rows. ``state_read_s`` is the mean over
    the reads of each read's median time over the timed rounds; the
    results are checked against the reference afterwards, outside the
    timing."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(seed + 1)
    keys = sorted({k for _, k in rng.sample(sorted(ref.rows), 100)})
    reads = {
        "rows_per_table": lambda s: s.groupBy("table").count(),
        "point_lookup": lambda s: s.filter(F.col("id").isin(keys)).select(
            "table", "id", "values"),
        "latest_10": lambda s: s.orderBy(F.col("last_lsn").desc()).limit(10).select(
            "table", "id", "last_lsn"),
    }
    times: dict[str, list[float]] = {name: [] for name in reads}
    results = {}
    for rnd in range(READ_WARM_ROUNDS + READ_ROUNDS):
        for name, q in reads.items():
            t0 = time.perf_counter()
            results[name] = q(applier.current_state()).collect()
            if rnd >= READ_WARM_ROUNDS:
                times[name].append(time.perf_counter() - t0)
    meds = [percentile(ts, 0.5)[0] for ts in times.values()]
    run.metric("state_read_s", sum(meds) / len(meds), "s", READ_ROUNDS * len(reads))

    want_counts: dict[str, int] = {}
    for table, _ in ref.rows:
        want_counts[table] = want_counts.get(table, 0) + 1
    got_counts = {r["table"]: r["count"] for r in results["rows_per_table"]}
    run.check(got_counts == want_counts, f"rows per table {got_counts} != {want_counts}")
    wanted = set(keys)
    want_lookup = {(t, k): v[0] for (t, k), v in ref.rows.items() if k in wanted}
    got_lookup = {(r["table"], r["id"]): dict(r["values"]) for r in results["point_lookup"]}
    run.check(got_lookup == want_lookup, "point lookup differs from the reference")
    want_latest = sorted(((v[1], t, k) for (t, k), v in ref.rows.items()), reverse=True)[:10]
    got_latest = [(r["last_lsn"], r["table"], r["id"]) for r in results["latest_10"]]
    run.check(got_latest == want_latest, "latest rows differ from the reference")


def memory_sampler(ctx):
    """Peak PSS sampling in a traced run; nothing in an untraced one,
    where reading ``smaps_rollup`` of the JVM would perturb the timing."""
    return PeakPss(ctx.jvm_pid) if ctx.tracer else contextlib.nullcontext()


def check_digest(spark, applier, ref: feed.ReferenceState, run: Run) -> None:
    """The whole applied state against the sequential reference apply."""
    applier.current_state().createOrReplaceTempView("bench_state")
    row = spark.sql(feed.STATE_DIGEST_SQL.format(view="bench_state")).first()
    got = (int(row["n"]), int(row["digest"] or 0))
    want = ref.digest()
    run.check(got == want, f"state digest {got} != reference {want}")


# -- wire_catchup --------------------------------------------------------------


def wire_catchup(ctx, seed: int, seconds: float) -> Run:
    run = Run()
    spark, work, tracer = ctx.spark, ctx.work, ctx.tracer
    t0 = time.time()
    gen = feed.FeedGenerator(seed, CATCHUP_KEYS)
    ref = feed.ReferenceState(drop_replayed=True)
    applier = make_applier(spark, os.path.join(work, "state"), "none", tracer)
    n_timed = max(CATCHUP_MIN_FILES, round(seconds / CATCHUP_FILE_SECONDS))
    # warm-up: one file with the initial load as INSERTs and some
    # changes, then files of the timed shape; the timed files are all
    # alike (replayed transactions and TOAST columns in each), so their
    # batches compare
    first = gen.snapshot_file()
    shape = gen.file(CATCHUP_WARM_EVENTS)
    for part in ("lsns", "frames", "changes"):
        getattr(first, part).extend(getattr(shape, part))
    warm = [first] + [gen.file(CATCHUP_FILE_EVENTS) for _ in range(CATCHUP_WARM_FILES)]
    timed = [gen.file(CATCHUP_FILE_EVENTS) for _ in range(n_timed)]
    src, ckpt = os.path.join(work, "src"), os.path.join(work, "ckpt")
    os.makedirs(src)
    n_warm = len(warm)
    names = [f"f{i:05d}.parquet" for i in range(n_warm + n_timed)]
    now = time.time()
    for i, (name, fb) in enumerate(zip(names, warm + timed)):
        path = os.path.join(src, name)
        write_frames(path, fb, now)
        # the file source reads the oldest file first: the warm-up
        os.utime(path, (now - 60 + i, now - 60 + i))
    say("files written")

    # one availableNow drain, one file per batch: the warm-up batches,
    # then the timed backlog, which is due when the warm-up commits
    with memory_sampler(ctx) as pss:
        drain(spark, applier, src, ckpt, 1)
        counters1 = ctx.counters.snapshot() if tracer else None
        say("drained")
        warm_commit = applier.batches[n_warm - 1][2]
        batches = applier.batches[n_warm:]
        run.metric("setup_s", warm_commit - t0, "s")
        for fb in warm + timed:
            ref.apply(fb.changes)
        state_reads(applier, run, ref, seed)
    counters0 = None
    if tracer:
        counters0 = applier.counters_after[n_warm - 1]
        run.layer["memory.peak_pss_mb"] = pss.peak
        # the rename and the TRUNCATE take a cold JVM 10-20 s, too much
        # for every run: the traced run drains them after the timed
        # phase, so that its state check covers them
        ddl = gen.file(CATCHUP_DDL_EVENTS, rename=True, truncate="orders")
        write_frames(os.path.join(src, "ddl.parquet"), ddl, time.time())
        drain(spark, applier, src, ckpt, 1)
        ref.apply(ddl.changes)

    commits = {bid: end for bid, _, end in batches}
    file_batch = read_source_log(ckpt)
    log = [{"file": n, "due": warm_commit, "written": warm_commit, "n": fb.n_events}
           for n, fb in zip(names[n_warm:], timed)]
    report_latency(run, log, file_batch, commits, batches)
    run.layer["gen.late_s_max"] = 0.0
    run.layer["source.backlog_files_max"] = max(_backlog(log, file_batch, batches))
    run.check([file_batch.get(n) for n in names[:n_warm]]
              == [b for b, _, _ in applier.batches[:n_warm]],
              "the warm-up files were not the first batches, one each")
    run.check(len(batches) == n_timed, f"{len(batches)} timed batches, want {n_timed}")
    check_digest(spark, applier, ref, run)
    run.window = (applier, counters0, counters1, batches)
    run.resume = (gen, applier.state_path, applier.origin)
    say("checked")
    return run


def report_latency(run: Run, log: list[dict], file_batch: dict[str, int],
                   commits: dict[int, float], batches: list) -> None:
    """visible_p50_s / visible_p90_s per event, batch_p50_s and drain_eps.
    The visible percentiles are over events, but their sample count is
    the number of batch commits the events fall into: events of one
    batch share its commit time."""
    lags, missing = event_lags(log, file_batch, commits)
    run.check(not missing, f"{len(missing)} files never committed: {missing[:3]}")
    n_commits = len({file_batch[e["file"]] for e in log})
    run.metric("visible_p50_s", percentile(lags, 0.5)[0], "s", n_commits)
    run.metric("visible_p90_s", percentile(lags, 0.9)[0], "s", n_commits)
    walls = [end - start for _, start, end in batches]
    med, nb = percentile(walls, 0.5)
    run.metric("batch_p50_s", med, "s", nb)
    run.metric("drain_eps", drain_eps(
        sum(e["n"] for e in log), min(e["due"] for e in log),
        [end for _, _, end in batches]), "1/s", nb)


# -- wire_steady ---------------------------------------------------------------


def steady_feed(seed: int) -> tuple[feed.FeedGenerator, list[list[feed.FileBatch]]]:
    """The steady feed's generator and its warm-up, one list of files
    per batch: the initial load as INSERTs followed by one file's worth
    of the steady shape, then ``STEADY_WARM_BATCHES`` of
    ``STEADY_BATCH_FILES`` steady files each. The generator process
    draws the same warm-up files and skips them."""
    gen = feed.FeedGenerator(seed, STEADY_KEYS)
    first = gen.snapshot_file()
    shape = steady_file(gen)
    for part in ("lsns", "frames", "changes"):
        getattr(first, part).extend(getattr(shape, part))
    return gen, [[first]] + [
        [steady_file(gen) for _ in range(STEADY_BATCH_FILES)]
        for _ in range(STEADY_WARM_BATCHES)
    ]


def steady_file(gen: feed.FeedGenerator) -> feed.FileBatch:
    """The next file of the steady feed."""
    return gen.file(int(STEADY_RATE * STEADY_INTERVAL))


def steady_timed_files(seconds: float) -> int:
    """Files the generator writes within a timed window of ``seconds``."""
    return int(round(seconds / STEADY_INTERVAL))


def wait_for(cond, timeout: float) -> bool:
    """Poll ``cond()`` until it holds or ``timeout`` seconds pass."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        if cond():
            return True
        time.sleep(0.05)
    return False


def wait_applied(applier, ckpt: str, files: set[str], timeout: float) -> bool:
    """Wait until a committed batch has read each of ``files``."""
    def applied() -> bool:
        started = os.path.isdir(os.path.join(ckpt, "sources", "0"))
        done = read_source_log(ckpt) if started else {}
        committed = {b for b, _, _ in applier.batches}
        return all(done.get(f) in committed for f in files)

    return wait_for(applied, timeout)


def wire_steady(ctx, seed: int, seconds: float) -> Run:
    run = Run()
    spark, work, tracer = ctx.spark, ctx.work, ctx.tracer
    t0 = time.time()
    gen, warm = steady_feed(seed)
    ref = feed.ReferenceState(drop_replayed=False)
    applier = make_applier(spark, os.path.join(work, "state"), "any", tracer)
    src, ckpt = os.path.join(work, "src"), os.path.join(work, "ckpt")
    os.makedirs(src)
    log_path = os.path.join(work, "gen_log.jsonl")
    stop_path = os.path.join(work, "gen_stop")
    last_timed = f"f{steady_timed_files(seconds) - 1:05d}.parquet"
    q = applier.start_wire(spark.readStream.schema(FRAME_SCHEMA).parquet(src), ckpt)
    cmd = [
        sys.executable, "-m", "cdcbench.steady_gen", "--seed", str(seed),
        "--dir", src, "--log", log_path, "--seconds", str(seconds), "--stop", stop_path,
    ]
    warm_names = [[f"warm{i}_{j}.parquet" for j in range(len(group))]
                  for i, group in enumerate(warm)]
    staging = os.path.join(work, "staging")
    os.makedirs(staging)
    proc = None
    try:
        # warm-up through the running stream, each batch's files written
        # aside and renamed in together, each batch waited for; the
        # first runs on a cold JVM. The generator starts once a batch
        # has taken the last warm-up file, so that the first timed
        # batch, like every later one, reads the files written while
        # the one before it ran
        for names, group in zip(warm_names, warm):
            for name, fb in zip(names, group):
                write_frames(os.path.join(staging, name), fb, time.time())
            for name in names:
                os.replace(os.path.join(staging, name), os.path.join(src, name))
            if names is warm_names[-1]:
                if not wait_for(lambda: set(names) <= read_source_log(ckpt).keys(), 120):
                    raise RuntimeError(f"no batch took {names[0]}..")
                proc = subprocess.Popen(
                    cmd, cwd=ctx.root, env=dict(os.environ, PYTHONPATH=ctx.root))
            if not wait_applied(applier, ckpt, set(names), 120):
                raise RuntimeError(f"warm-up files {names[0]}.. were not applied")
            for fb in group:
                ref.apply(fb.changes)
        say("warm-up applied")
        with memory_sampler(ctx) as pss:
            # once a batch has taken the last timed file, trailing files
            # stop; they are applied and checked, but not timed
            if not wait_for(lambda: proc.poll() is not None
                            or last_timed in read_source_log(ckpt), seconds + 60):
                raise RuntimeError(f"{last_timed} was never read")
            open(stop_path, "w").close()
            if proc.wait(timeout=60) != 0:
                raise RuntimeError("steady generator failed")
            with open(log_path) as fh:
                log = [json.loads(ln) for ln in fh]
            applied = wait_applied(applier, ckpt, {e["file"] for e in log}, 60)
            q.stop()
            say("all files applied")
            for _ in log:
                ref.apply(steady_file(gen).changes)
            state_reads(applier, run, ref, seed)
        if tracer:
            run.layer["memory.peak_pss_mb"] = pss.peak
    finally:
        if proc is not None:
            if proc.poll() is None:
                proc.kill()
            proc.wait()
        if q.isActive:
            q.stop()

    file_batch = read_source_log(ckpt)
    warm_bid = max(file_batch[n] for n in warm_names[-1])
    n_warm = next(i for i, b in enumerate(applier.batches) if b[0] == warm_bid) + 1
    run.metric("setup_s", applier.batches[n_warm - 1][2] - t0, "s")
    last_bid = file_batch[last_timed]
    n_last = next(i for i, b in enumerate(applier.batches) if b[0] == last_bid) + 1
    batches = applier.batches[n_warm:n_last]
    counters0 = counters1 = None
    if tracer:
        counters0 = applier.counters_after[n_warm - 1]
        counters1 = applier.counters_after[n_last - 1]
    commits = {bid: end for bid, _, end in batches}
    run.check(applied, "not every generated file was applied within 60 s")
    timed = [e for e in log if e["timed"]]
    report_latency(run, timed, file_batch, commits, batches)
    run.layer["gen.late_s_max"] = max(e["written"] - e["due"] for e in log)
    run.layer["source.backlog_files_max"] = max(_backlog(timed, file_batch, batches))
    check_digest(spark, applier, ref, run)
    run.window = (applier, counters0, counters1, batches)
    run.resume = (gen, applier.state_path, applier.origin)
    say("checked")
    return run


def _backlog(log: list[dict], file_batch: dict[str, int], batches: list) -> list[int]:
    """Files written but not yet read, at each batch start."""
    read_by = {}
    for f, b in file_batch.items():
        read_by.setdefault(b, set()).add(f)
    out, seen = [], set()
    for bid, start, _ in batches:
        waiting = [e for e in log if e["written"] <= start and e["file"] not in seen]
        out.append(len(waiting))
        seen |= read_by.get(bid, set())
    return out or [0]


def baseline_drain(ctx, done: Run) -> tuple:
    """One more file of the workload's batch shape, drained on the
    session in ``ctx`` (the one-core baseline) into the state the
    traced pass left, continuing its feed. Returns the drain's window,
    as :attr:`Run.window`."""
    spark, work = ctx.spark, ctx.work
    gen, state_path, origin = done.resume
    applier = make_applier(spark, state_path, origin, ctx.tracer)
    events = CATCHUP_FILE_EVENTS if origin == "none" else STEADY_BATCH_EVENTS
    src = os.path.join(work, "src")
    os.makedirs(src)
    write_frames(os.path.join(src, "f00000.parquet"), gen.file(events), time.time())
    c0 = ctx.counters.snapshot()
    drain(spark, applier, src, os.path.join(work, "ckpt"), 1)
    c1 = ctx.counters.snapshot()
    return applier, c0, c1, applier.batches
