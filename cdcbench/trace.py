"""Traced run: per-layer metrics from spans around the engine's public
calls.

The engine is not edited. For the run, the benchmark replaces a few
public functions with wrappers that open a span, call the original and
close the span; each span records the Spark job, stage, task-time,
GC and shuffle deltas over its interval (:mod:`cdcbench.measure`).

``decode_frames``, ``annotate_origins`` and the fold return lazy
DataFrames, so the call alone costs nothing. Each is also forced once
with a ``noop`` write on the same batch inputs: an *isolated replay*,
labelled ``replay`` in its span. The pipeline then computes the same
DataFrame again as it would untraced, so replays add time; it is
subtracted from the batch spans and reported as tracing overhead. On
``wire_steady`` the origin layer is bypassed (``origin="any"``); its
numbers there come from replays alone, run on the batch's frames as an
``origin="none"`` subscriber would.

After the traced pass, the same workload shape is drained once more on
a one-core session (``local[1]``): the ``.1core`` metrics.
"""

from __future__ import annotations

import os
import time

from cdcbench import workloads
from cdcbench.measure import Tracer, delta, percentile

#: per-layer metrics, in report order, with their units
LAYER_UNITS = {
    "apply_stream.batch_s": "s",
    "apply_stream.batch_self_s": "s",
    "apply_stream.merge_s": "s",
    "apply_stream.jobs_per_batch": "count",
    "apply_stream.stages_per_batch": "count",
    "apply_stream.between_batches_s": "s",
    "apply_stream.touched_buckets": "count",
    "pgoutput.decode_eps": "1/s",
    "pgoutput.decode_mb_per_s": "MB/s",
    "origins.annotate_s": "s",
    "origins.jobs_per_batch": "count",
    "origins.dropped_events": "count",
    "apply.fold_s": "s",
    "apply.fold_shuffle_mb": "MB",
    "apply.array_fold_batches": "count",
    "apply.argmax_batches": "count",
    "state_store.commit_s": "s",
    "state_store.commit_mb": "MB",
    "state_store.vacuum_s": "s",
    "state_store.rows": "count",
    "state_store.disk_mb": "MB",
    "state_store.read_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.gc_s": "s",
    "spark.busy_share": "ratio",
    "gen.late_s_max": "s",
    "source.backlog_files_max": "count",
    "memory.peak_pss_mb": "MB",
    "host.reference_job_s": "s",
    "trace.bookkeeping_s": "s",
    "trace.replay_s": "s",
    "trace.overhead_share": "ratio",
}
#: layers also reported from the one-core pass, as ``<name>.1core``
ONE_CORE = [
    "apply_stream.batch_s", "pgoutput.decode_eps", "origins.annotate_s",
    "apply.fold_s", "state_store.commit_s",
]
PER_LAYER = list(LAYER_UNITS) + [n + ".1core" for n in ONE_CORE]


def _dir_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / 1e6


def install(tracer: Tracer, applier) -> list:
    """Wrap the engine's public calls for one applier; returns the
    (module, name, original) triples that put the originals back."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from python_cdc_spark.cdc import origins, pgoutput
    from python_cdc_spark.streaming import apply_stream

    spark = applier.spark
    saved = [
        (pgoutput, "decode_frames", pgoutput.decode_frames),
        (origins, "annotate_origins", origins.annotate_origins),
        (apply_stream, "apply_changes_with_tombstones_multi",
         apply_stream.apply_changes_with_tombstones_multi),
    ]
    orig_decode, orig_annotate, orig_fold = (fn for _, _, fn in saved)

    def replay(name: str, df, **observed):
        obs = Observation(name)
        with tracer.span(name + ".replay", replay=True) as rec:
            df.observe(obs, *(c.alias(k) for k, c in observed.items())) \
                .write.format("noop").mode("overwrite").save()
        rec.update(obs.get)
        return rec

    def replay_origins(events, frames):
        with tracer.span("origins.annotate_origins", replay=True):
            out = orig_annotate(spark, events, frames)
        replay("origins.annotate_origins", out,
               dropped=F.sum(F.col("origin").isNotNull().cast("long")))

    def decode_frames(spark_, frames, *a, **kw):
        with tracer.span("pgoutput.decode_frames"):
            out = orig_decode(spark_, frames, *a, **kw)
        rec = replay("pgoutput.decode_frames", out, events=F.count(F.lit(1)))
        with tracer.span("pgoutput.frame_bytes", replay=True):
            rec["frame_mb"] = frames.select(
                F.sum(F.length("frame"))).first()[0] / 1e6
        if applier.origin == "any":
            replay_origins(out, frames)
        return out

    def annotate_origins(spark_, events, frames, *a, **kw):
        with tracer.span("origins.annotate_origins"):
            out = orig_annotate(spark_, events, frames, *a, **kw)
        replay("origins.annotate_origins", out,
               dropped=F.sum(F.col("origin").isNotNull().cast("long")))
        return out

    def fold(events, *a, **kw):
        with tracer.span("apply.fold"):
            out = orig_fold(events, *a, **kw)
        replay("apply.fold", out, rows=F.count(F.lit(1)))
        return out

    pgoutput.decode_frames = decode_frames
    origins.annotate_origins = annotate_origins
    apply_stream.apply_changes_with_tombstones_multi = fold

    merge_batch = applier.merge_batch

    def traced_merge_batch(batch, batch_id=None):
        with tracer.span("apply_stream.merge_batch") as rec:
            touched = merge_batch(batch, batch_id)
        rec["touched"] = len(touched)
        rec["plan"] = applier.last_fold_plan
        return touched

    applier.merge_batch = traced_merge_batch
    store = applier.store
    commit, vacuum = store.commit, store.vacuum

    def traced_commit(state, touched):
        with tracer.span("state_store.commit") as rec:
            version = commit(state, touched)
        rec["mb"] = _dir_mb(os.path.join(store.path, f"v{version}"))
        return version

    def traced_vacuum(*a, **kw):
        with tracer.span("state_store.vacuum"):
            return vacuum(*a, **kw)

    store.commit, store.vacuum = traced_commit, traced_vacuum
    return saved


def uninstall(tracer: Tracer) -> None:
    for mod, name, fn in reversed(tracer.undo):
        setattr(mod, name, fn)
    tracer.undo.clear()


def reference_job_s(spark, reps: int = 3) -> float:
    """Median time of a fixed RDD job (100k integers in 4 partitions,
    through the Python workers): a diagnostic of the host's speed. It
    runs none of the engine's code and no SQL, so the engine's session
    settings do not move it."""
    sc = spark.sparkContext
    times = []
    for i in range(reps + 1):
        t0 = time.perf_counter()
        sc.parallelize(range(100_000), 4).map(lambda x: x % 7).sum()
        if i:  # the first pass compiles the job's closure
            times.append(time.perf_counter() - t0)
    return percentile(times, 0.5)[0]


def _med(values: list[float]) -> float:
    return percentile(values, 0.5)[0] if values else 0.0


def _descendants(spans: list[dict], root: dict) -> list[dict]:
    kids = {root["id"]}
    out = []
    for s in spans:  # spans are appended in start order
        if s["parent"] in kids:
            kids.add(s["id"])
            out.append(s)
    return out


def layer_metrics(tracer: Tracer, applier, c0: dict, c1: dict, batches, ctx) -> dict:
    """Per-layer numbers over the timed batches."""
    spans = [s for s in tracer.spans if c0["t"] <= s["start"] <= c1["t"]]
    roots = [s for s in spans if s["name"] == "apply_stream.merge_wire_batch"]
    m: dict[str, float] = {}
    batch_s, self_s, jobs, stages = [], [], [], []
    for root in roots:
        sub = _descendants(tracer.spans, root)
        rep = [s for s in sub if s.get("replay")]
        rep_wall = sum(s["end"] - s["start"] for s in rep)
        batch_s.append(root["end"] - root["start"] - rep_wall)
        self_s.append(tracer.self_time(root))
        jobs.append(root["jobs"] - sum(s["jobs"] for s in rep))
        stages.append(root["stages"] - sum(s["stages"] for s in rep))
    m["apply_stream.batch_s"] = _med(batch_s)
    m["apply_stream.batch_self_s"] = _med(self_s)
    merges = [s for s in spans if s["name"] == "apply_stream.merge_batch"]
    merge_s = []
    for mb in merges:
        rep = [s for s in _descendants(tracer.spans, mb) if s.get("replay")]
        merge_s.append(mb["end"] - mb["start"] - sum(s["end"] - s["start"] for s in rep))
    m["apply_stream.merge_s"] = _med(merge_s)
    m["apply_stream.jobs_per_batch"] = _med(jobs)
    m["apply_stream.stages_per_batch"] = _med(stages)
    gaps = [b[1] - a[2] for a, b in zip(batches, batches[1:])]
    m["apply_stream.between_batches_s"] = _med(gaps)
    m["apply_stream.touched_buckets"] = _med([s["touched"] for s in merges])

    dec = [s for s in spans if s["name"] == "pgoutput.decode_frames.replay"]
    dec_s = sum(s["end"] - s["start"] for s in dec)
    m["pgoutput.decode_eps"] = sum(s["events"] for s in dec) / dec_s
    m["pgoutput.decode_mb_per_s"] = sum(s["frame_mb"] for s in dec) / dec_s

    calls = [s for s in spans if s["name"] == "origins.annotate_origins"]
    # on wire_steady the layer is bypassed and every call is a replay
    reps = [s for s in spans if s["name"] == "origins.annotate_origins.replay"]
    m["origins.annotate_s"] = _med(
        [c["end"] - c["start"] + r["end"] - r["start"] for c, r in zip(calls, reps)])
    m["origins.jobs_per_batch"] = _med([c["jobs"] for c in calls])
    m["origins.dropped_events"] = sum(r["dropped"] or 0 for r in reps)

    folds = [s for s in spans if s["name"] == "apply.fold.replay"]
    m["apply.fold_s"] = _med([s["end"] - s["start"] for s in folds])
    m["apply.fold_shuffle_mb"] = _med([s["shuffle_mb"] for s in folds])
    plans = [s["plan"] for s in merges]
    m["apply.array_fold_batches"] = plans.count("array_fold")
    m["apply.argmax_batches"] = plans.count("argmax")

    commits = [s for s in spans if s["name"] == "state_store.commit"]
    m["state_store.commit_s"] = _med([s["end"] - s["start"] for s in commits])
    m["state_store.commit_mb"] = _med([s["mb"] for s in commits])
    m["state_store.vacuum_s"] = _med(
        [s["end"] - s["start"] for s in spans if s["name"] == "state_store.vacuum"])
    m["state_store.rows"] = applier.current_state().count()
    m["state_store.disk_mb"] = _dir_mb(applier.store.path)

    all_rep = [s for s in spans if s.get("replay")]
    d = delta(c0, c1)
    for key in ("jobs", "stages", "gc_s", "shuffle_mb"):
        d[key] -= sum(s[key] for s in all_rep)
    skip = {i for s in all_rep for i in range(s["first_stage"], s["first_stage"] + s["stages"])}
    st = ctx.counters.stage_totals(c0["stages"], c1["stages"], skip)
    rep_s = sum(s["end"] - s["start"] for s in all_rep)
    m["spark.jobs"] = d["jobs"]
    m["spark.stages"] = d["stages"]
    m["spark.shuffle_write_mb"] = d["shuffle_mb"]
    m["spark.spill_mb"] = st["spill_mb"]
    m["spark.gc_s"] = d["gc_s"]
    m["spark.busy_share"] = st["run_s"] / ((d["t"] - rep_s) * ctx.cores)
    bookkeeping = sum(s["bookkeeping_s"] for s in spans)
    m["trace.bookkeeping_s"] = bookkeeping
    m["trace.replay_s"] = rep_s
    m["trace.overhead_share"] = (bookkeeping + rep_s) / d["t"]
    return m


def traced_run(ctx, fn, seed: int, seconds: float, one_core_context):
    """The traced pass at every core, then the one-core pass on the
    context ``one_core_context(work_dir)`` returns."""
    ctx.tracer = Tracer(ctx.counters)
    try:
        run = fn(ctx, seed, seconds)
    finally:
        uninstall(ctx.tracer)
    report = layer_metrics(ctx.tracer, *run.window, ctx)
    report["state_store.read_s"] = run.metrics["state_read_s"][0]
    report["host.reference_job_s"] = reference_job_s(ctx.spark)
    report.update({k: v for k, v in run.layer.items() if k in LAYER_UNITS})
    ctx.tracer.dump(os.path.join(ctx.work, "spans.json"))
    ctx.stop()

    one = one_core_context(os.path.join(os.path.dirname(ctx.work), "one_core"))
    os.makedirs(one.work)
    one.tracer = Tracer(one.counters)
    try:
        window = workloads.baseline_drain(one, run)
    finally:
        uninstall(one.tracer)
    one_report = layer_metrics(one.tracer, *window, one)
    one.tracer.dump(os.path.join(one.work, "spans.json"))
    one.stop()

    for name, unit in LAYER_UNITS.items():
        run.metric(name, report[name], unit)
    for name in ONE_CORE:
        run.metric(name + ".1core", one_report[name], LAYER_UNITS[name])
    return run
