"""Arithmetic of the benchmark: turns one run's raw measurements (the JSON
line perfbench.Main prints) into the reported metrics. Kept free of I/O so
test_stats.py can pin it.
"""
import statistics

# end-to-end metrics, reported with --trace 0: (name, unit)
END_TO_END = [
    ("setup_s", "s"),
    ("job_s", "s"),
    ("items_per_s", "1/s"),
    ("peak_heap_mb", "MB"),
]

# phases of the traced pass, each a span named after the layer it calls
PHASES = [
    "osm.pbf_read", "osm.extract", "emit.sinks", "img.scan", "probe.scan",
    "cell.cover", "join.candidate", "join.assign", "tile.tile",
]

# per-phase Spark counters from the benchmark's listener: (field, unit)
COUNTERS = [
    ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
    ("shuffle_bytes", "bytes"), ("spill_bytes", "bytes"),
    ("task_cpu_s", "s"), ("gc_s", "s"),
]

# counters that must repeat exactly between the two traced passes
REPEATING_COUNTERS = ("jobs", "stages", "tasks")

# figures a workload reports from its traced pass: (name, unit); all repeat
LAYER_FIGURES = [
    ("osm.pbf_entities", "count"), ("osm.relations_kept", "count"),
    ("emit.files_written", "count"), ("emit.bytes_written", "bytes"),
    ("img.bytes_in", "bytes"), ("cell.cover_cells", "count"),
    ("join.candidates", "count"), ("join.assigned", "count"),
    ("join.accept_ratio", "ratio"), ("join.hot_share", "fraction"),
    ("tile.tiles", "count"), ("tile.bytes_out", "bytes"), ("tile.bytes_ratio", "ratio"),
]

# timings derived from the spans
DERIVED = [
    ("join.refine_s", "s"), ("job.self_s", "s"), ("trace.job_s", "s"),
    ("trace.untraced_job_s", "s"), ("trace.overhead_s", "s"),
]


def per_layer_names():
    """Every per-layer metric as (name, unit), in report order."""
    out = [(f"{p}_s", "s") for p in PHASES] + list(DERIVED) + list(LAYER_FIGURES)
    out += [(f"{p}.{f}", u) for p in PHASES for f, u in COUNTERS]
    return out


def failed_frac(failed, attempted):
    return failed / attempted if attempted else 1.0


def self_times(spans):
    """Self time per span: its duration minus the part of its interval that
    its children cover. Spans are dicts with name, start, end, parent; a
    child names its parent, and names are unique within one pass.
    """
    out = {}
    for s in spans:
        kids = sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                      for c in spans if c["parent"] == s["name"])
        covered, reach = 0.0, s["start"]
        for a, b in kids:
            a = max(a, reach)
            if b > a:
                covered += b - a
                reach = b
        out[s["name"]] = (s["end"] - s["start"]) - covered
    return out


def durations(spans):
    return {s["name"]: s["end"] - s["start"] for s in spans}


def outcome(raw):
    """(attempted, failed, messages) over the warm-up job, the timed jobs and
    the traced passes. Set-up failures count against the warm-up job.
    """
    messages = [f"setup: {m}" for m in raw["setup_failures"]]
    failed = 1 if raw["setup_failures"] else 0
    for i, errs in enumerate(raw["job_errors"]):
        failed += 1 if errs else 0
        messages += [f"job {i + 1}: {m}" for m in errs]
    for i, t in enumerate(raw["traced"]):
        failed += 1 if t["errors"] else 0
        messages += [f"traced pass {i + 1}: {m}" for m in t["errors"]]
    repeat = repeat_mismatches(raw["traced"])
    if repeat:
        failed += 1
        messages += [f"traced passes differ: {m}" for m in repeat]
    attempted = 1 + len(raw["job_errors"]) + len(raw["traced"])
    return attempted, failed, messages


def end_to_end(raw):
    """setup_s is session start + the median input generation + warm-up."""
    job_s = statistics.median(raw["job_s"])
    return {
        "setup_s": raw["session_s"] + statistics.median(raw["setup_reps_s"]) + raw["warmup_s"],
        "job_s": job_s,
        "items_per_s": raw["items"] / job_s,
        "peak_heap_mb": raw["peak_heap_mb"],
    }


def repeat_mismatches(traced):
    """Counts and figures that differ between the traced passes."""
    out = []
    for a, b in zip(traced, traced[1:]):
        for p in PHASES:
            ca, cb = a["counters"].get(p, {}), b["counters"].get(p, {})
            for f in REPEATING_COUNTERS:
                if ca.get(f, 0) != cb.get(f, 0):
                    out.append(f"{p}.{f} {ca.get(f, 0)} vs {cb.get(f, 0)}")
        for name, _ in LAYER_FIGURES:
            va, vb = a["layers"].get(name, 0), b["layers"].get(name, 0)
            if va != vb:
                out.append(f"{name} {va} vs {vb}")
    return out


def per_layer(raw):
    """Per-layer metrics of a traced run. Times average the passes; counts
    come from the first pass (the passes must agree on them). A layer the
    workload does not run reads 0.
    """
    passes = raw["traced"]
    selfs = [self_times(t["spans"]) for t in passes]
    durs = [durations(t["spans"]) for t in passes]

    def mean_of(maps, key):
        return statistics.fmean(m.get(key, 0.0) for m in maps)

    out = {f"{p}_s": mean_of(selfs, p) for p in PHASES}
    first = passes[0]
    if "join.assign" in durs[0]:
        out["join.refine_s"] = (mean_of(durs, "join.assign") - mean_of(durs, "cell.cover")
                                - mean_of(durs, "join.candidate"))
    else:
        out["join.refine_s"] = 0.0
    out["job.self_s"] = mean_of(selfs, "job")
    out["trace.job_s"] = mean_of(durs, "job")
    out["trace.untraced_job_s"] = statistics.median(raw["job_s"])
    out["trace.overhead_s"] = out["trace.job_s"] - out["trace.untraced_job_s"]
    for name, _ in LAYER_FIGURES:
        out[name] = float(first["layers"].get(name, 0.0))
    for p in PHASES:
        c = first["counters"].get(p, {})
        for f, _ in COUNTERS:
            out[f"{p}.{f}"] = float(c.get(f, 0.0))
    return out
