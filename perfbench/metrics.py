"""Turn a run's raw record into the benchmark's metrics.

End-to-end metrics come from untraced runs; per-layer metrics from the
traced run's spans, joined by time with the task, job, planning and
streaming-progress events the benchmark's listeners recorded.
"""
import math
import statistics

# (name, unit, better)
END_TO_END = (
    ("setup_s", "s", "lower"),
    ("read_amp", "B/B", "lower"),
    ("write_amp", "B/B", "lower"),
    ("space_amp", "B/B", "lower"),
    ("peak_live_heap_mb", "MB", "lower"),
)

CITIBIKE_SPANS = (
    "engine.Ingest.list", "engine.Quality.import", "engine.TableStore.fact_write",
    "engine.builders.LineGraph", "engine.builders.HeatMap", "engine.builders.TripsMap",
    "engine.builders.DockMap", "engine.builders.StatusData",
)
# the two archive calls of a citibike_load iteration, and the spans
# that make up each call's ingest and its table builders
CALLS = ("yearly", "monthly")
INGEST_SPANS = ("engine.Quality.import", "engine.TableStore.fact_write")
QUERIES = ("q103", "q136")
STREAMING = ("q103",)
PROGRESS_KEYS = ("queryPlanning", "addBatch", "walCommit")


def _span_metrics(prefix, time_name):
    return [(time_name, "s", "lower"), (f"{prefix}.jobs", "count", "lower"),
            (f"{prefix}.task_cpu_s", "s", "lower"), (f"{prefix}.driver_only_s", "s", "lower")]


def per_layer_names():
    out = []
    for s in CITIBIKE_SPANS:
        out += _span_metrics(s, f"{s}_s")
    out += [("engine.Quality.core_util", "ratio", "higher"),
            ("engine.Quality.kept_ratio", "ratio", "higher"),
            ("engine.Ingest.extract_s", "s", "lower")]
    for c in CALLS:
        out += [(f"calls.{c}.ingest_s", "s", "lower"), (f"calls.{c}.builders_s", "s", "lower")]
    for q in QUERIES:
        p = f"queries.{q}"
        out += [(f"{p}.build_s", "s", "lower"), (f"{p}.exec_s", "s", "lower"),
                (f"{p}.plan_s", "s", "lower"), (f"{p}.jobs", "count", "lower"),
                (f"{p}.task_cpu_s", "s", "lower"), (f"{p}.driver_only_s", "s", "lower")]
    for q in STREAMING:
        out.append((f"streaming.{q}.batches", "count", "lower"))
        out += [(f"streaming.{q}.{k}_ms", "ms", "lower") for k in PROGRESS_KEYS]
    out += [("spark.tasks", "count", "lower"), ("spark.gc_s", "s", "lower"),
            ("spark.shuffle_bytes", "B", "lower"), ("spark.spill_bytes", "B", "lower"),
            ("jvm.cpu_s", "s", "lower"), ("jvm.jit_s", "s", "lower"),
            ("run.wall_s", "s", "lower"), ("run.self_s", "s", "lower"),
            ("trace.overhead_ratio", "ratio", "lower")]
    return out


PER_LAYER = tuple(per_layer_names())


def median(xs):
    return statistics.median(xs)


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Total length covered by the intervals, clipped to [lo, hi]."""
    total, end = 0.0, -math.inf
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_times(spans):
    """{span id: duration minus the part of it that child spans cover}.
    `spans` are (id, name, parent id or -1, start, end) tuples."""
    children = {}
    for sid, _, parent, t0, t1 in spans:
        children.setdefault(parent, []).append((t0, t1))
    return {sid: (t1 - t0) - union_length(children.get(sid, ()), t0, t1)
            for sid, _, _, t0, t1 in spans}


def end_to_end(raw):
    its = raw["iterations"]
    inp = raw["input_bytes"]
    return {
        "setup_s": median(raw["setup_s"]),
        "read_amp": median([it["in_bytes"] / inp for it in its]),
        "write_amp": median([it["out_bytes"] / inp for it in its]),
        "space_amp": raw["space_bytes"] / inp,
        "peak_live_heap_mb": median([it["peak_mb"] for it in its]),
    }


def per_layer(raw):
    """Every per-layer metric; layers the workload does not run read 0."""
    tr = raw["trace"]
    spans = [tuple(s) for s in tr["spans"]]
    tasks = tr["tasks"]          # launch ms, finish ms, cpu ns, run ms
    jobs = tr["jobs"]            # submission ms
    plans = tr["plans"]          # first phase start ms, phases ms
    progress = tr["progress"]    # trigger start ms, {durationMs}
    cores = tr["cores"]
    out = {name: 0.0 for name, _, _ in PER_LAYER}

    def inside(t, group):
        return any(t0 <= t <= t1 for _, _, _, t0, t1 in group)

    def activity(group, prefix):
        wall = sum(t1 - t0 for _, _, _, t0, t1 in group)
        mine = [t for t in tasks if inside((t[0] + t[1]) / 2, group)]
        busy = sum(union_length([(t[0], t[1]) for t in mine], t0, t1)
                   for _, _, _, t0, t1 in group)
        out[f"{prefix}.jobs"] = float(sum(inside(j, group) for j in jobs))
        out[f"{prefix}.task_cpu_s"] = sum(t[2] for t in mine) / 1e9
        out[f"{prefix}.driver_only_s"] = (wall - busy) / 1e3
        return wall, mine

    for name in CITIBIKE_SPANS:
        group = [s for s in spans if s[1] == name]
        if group:
            wall, mine = activity(group, name)
            out[f"{name}_s"] = wall / 1e3
            if name == "engine.Quality.import" and wall > 0:
                out["engine.Quality.core_util"] = sum(t[3] for t in mine) / (wall * cores)
    for c in CALLS:
        ids = {s[0] for s in spans if s[1] == f"call.{c}"}
        kids = [s for s in spans if s[2] in ids]
        out[f"calls.{c}.ingest_s"] = sum(
            s[4] - s[3] for s in kids if s[1] in INGEST_SPANS) / 1e3
        out[f"calls.{c}.builders_s"] = sum(
            s[4] - s[3] for s in kids if s[1].startswith("engine.builders.")) / 1e3
    if tr.get("records"):
        out["engine.Quality.kept_ratio"] = tr["kept"] / tr["records"]
        out["engine.Ingest.extract_s"] = tr["extract_s"]

    for q in QUERIES:
        group = [s for s in spans if s[1] == f"queries.{q}"]
        if not group:
            continue
        activity(group, f"queries.{q}")
        ids = {s[0] for s in group}
        for child in ("build", "exec"):
            out[f"queries.{q}.{child}_s"] = sum(
                s[4] - s[3] for s in spans if s[1] == child and s[2] in ids) / 1e3
        out[f"queries.{q}.plan_s"] = sum(d for t, d in plans if inside(t, group)) / 1e3
        if q in STREAMING:
            mine = [d for t, d in progress if inside(t, group)]
            out[f"streaming.{q}.batches"] = float(len(mine))
            for k in PROGRESS_KEYS:
                out[f"streaming.{q}.{k}_ms"] = float(sum(d.get(k, 0) for d in mine))

    out["spark.tasks"] = float(tr["tasks_total"])
    out["spark.gc_s"] = tr["gc_s"]
    out["spark.shuffle_bytes"] = float(tr["shuffle_bytes"])
    out["spark.spill_bytes"] = float(tr["spill_bytes"])
    out["jvm.cpu_s"] = tr["traced_cpu_s"]
    out["jvm.jit_s"] = tr["traced_jit_s"]
    selfs = self_times(spans)
    out["run.self_s"] = sum(selfs[s[0]] for s in spans
                            if s[1] == "run" or s[1].startswith("call.")) / 1e3
    out["run.wall_s"] = tr["untraced_wall_s"]
    out["trace.overhead_ratio"] = tr["traced_wall_s"] / tr["untraced_wall_s"]
    return out
