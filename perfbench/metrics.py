"""Metric arithmetic for graftbench: from the ops, checks and spans one
run recorded to the numbers it reports.

Every op kind belongs to a class that each workload exercises in its
own way (see README.md):

    upsert      crud_mix 10k-row upsert, bulk_layouts merge, curate_stream survivor upsert
    point_read  crud_mix point read, bulk_layouts narrow range read, curate_stream lookup
    scan        grouped aggregate over the whole table
    ingest      every op that submits rows: upserts, HTTP and by-id writes, loads, merges, curate
"""
import math
import re
import statistics

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def valid_name(name):
    return bool(NAME.match(name))


def op_class(kind):
    base = kind.split(".", 1)[0]
    return {"merge": "upsert", "range_read": "point_read", "lookup": "point_read"}.get(base, base)


def in_class(kind, cls):
    if cls == "ingest":
        return kind.split(".", 1)[0] in ("upsert", "http_write", "fk_id_write", "load", "merge", "curate")
    if cls == "read":
        return op_class(kind) in ("point_read", "scan", "http_read")
    return op_class(kind) == cls or kind == cls


def median(xs):
    return statistics.median(xs) if xs else None


def tail(xs):
    """The highest whole percentile with at least 10 samples beyond it
    (nearest-rank), as (value, percentile, sample count); None when
    there are fewer than 11 samples."""
    n = len(xs)
    s = sorted(xs)
    for q in range(99, 0, -1):
        rank = math.ceil(q * n / 100)
        if rank >= 1 and n - rank >= 10:
            return s[rank - 1], q, n
    return None


def sum_ratio(work, seconds):
    """Throughput as total work over total time, not a mean of rates."""
    total = sum(seconds)
    return sum(work) / total if total > 0 else None


def covered(intervals, start, end):
    """Length of [start, end] covered by the union of intervals."""
    total, reach = 0.0, start
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
        if e > reach:
            total += e - max(s, reach)
            reach = e
    return total


def self_times(spans):
    """Span id -> its duration minus the part its children cover."""
    kids = {}
    for sp in spans:
        kids.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
    return {sp["id"]: (sp["end"] - sp["start"]) - covered(kids.get(sp["id"], []), sp["start"], sp["end"])
            for sp in spans}


def wall(op):
    return op["t1"] - op["t0"]


def ok_ops(ops, cls):
    return [o for o in ops if o["ok"] and in_class(o["kind"], cls)]


def setup_seconds(setup):
    return setup["session_s"] + setup["prepare_s"] + setup["warmup_s"]


def counts(run):
    """(attempted, failed, wrong): ops and checks tried, those that
    failed, and those among them that returned a wrong answer."""
    ops, checks = run["ops"], run["checks"]
    bad_checks = sum(1 for c in checks if not c["ok"])
    return (len(ops) + len(checks), sum(1 for o in ops if not o["ok"]) + bad_checks,
            sum(1 for o in ops if o["wrong"]) + bad_checks)


def _median_of(cls):
    return lambda r: median([wall(o) for o in ok_ops(r["ops"], cls)])


def _rate_of(cls):
    return lambda r: sum_ratio([o["rows"] for o in ok_ops(r["ops"], cls)],
                               [wall(o) for o in ok_ops(r["ops"], cls)])


# End-to-end metrics every workload reports: name -> (unit, function of the run).
E2E = {
    "setup_s": ("s", lambda r: setup_seconds(r["setup"])),
    "upsert_p50_s": ("s", _median_of("upsert")),
    "point_read_p50_s": ("s", _median_of("point_read")),
    "scan_rows_per_s": ("rows/s", _rate_of("scan")),
    "ingest_rows_per_s": ("rows/s", _rate_of("ingest")),
    "space_amp": ("ratio", lambda r: median(r["samples"].get("space_amp", []))),
}


def e2e(run):
    return {name: (fn(run), unit) for name, (unit, fn) in E2E.items()}


def _tail_of(ops, kind):
    t = tail([wall(o) for o in ops if o["ok"] and o["kind"] == kind])
    return (t[0], "s", "p%d of %d" % (t[1], t[2])) if t else (None, "s", "fewer than 11 samples")


def _kind(k):
    return lambda r: median([wall(o) for o in r["ops"] if o["ok"] and o["kind"] == k])


def _base(b):
    return lambda r: median([wall(o) for o in r["ops"] if o["ok"] and o["kind"].split(".", 1)[0] == b])


def _rate(pred):
    def fn(r):
        sel = [o for o in r["ops"] if o["ok"] and pred(o["kind"])]
        return sum_ratio([o["rows"] for o in sel], [wall(o) for o in sel])
    return fn


def _curate_docs_per_s(r):
    ok = [o for o in r["ops"] if o["ok"]]
    docs = sum(o["rows"] for o in ok if o["kind"] == "curate")
    return sum_ratio([docs], [wall(o) for o in ok if o["kind"] in ("curate", "upsert")]) if docs else None


# User-facing metrics beyond E2E, each where the workload has the op:
# name -> (unit, function of the run, note).
EXTRA = {
    "delete_p50_s": ("s", _base("delete"), ""),
    "scan_read_p50_s": ("s", _base("scan"), ""),
    "http_read_p50_s": ("s", _kind("http_read"), ""),
    "load_rows_per_s.plain": ("rows/s", _rate(lambda k: k == "load.plain"), ""),
    "load_rows_per_s.bucketed": ("rows/s", _rate(lambda k: k == "load.bucketed"), ""),
    "load_rows_per_s.brin": ("rows/s", _rate(lambda k: k == "load.brin"), ""),
    "merge_rows_per_s": ("rows/s", _rate(lambda k: k.split(".", 1)[0] == "merge"), ""),
    "curate_docs_per_s": ("docs/s", _curate_docs_per_s, "batch docs over curate + survivor upsert time"),
}


def report(run):
    """E2E plus the wider set of user-facing metrics, each where the
    workload has the op: name -> (value or None, unit, note)."""
    attempted, failed, _ = counts(run)
    out = {k: (v, u, "") for k, (v, u) in e2e(run).items()}
    out["failed_ratio"] = (failed / attempted, "ratio", "%d of %d" % (failed, attempted))
    for kind in ("upsert", "point_read"):
        out[kind + "_tail_s"] = _tail_of(run["ops"], kind)
    for name, (unit, fn, note) in EXTRA.items():
        out[name] = (fn(run), unit, note)
    return out


# Per-layer metrics of the traced run: name -> (unit, op selector, layer key, reducer).
# The value is the reducer over the ops the selector picks; 0 where the
# workload has no such op (the layer is bypassed). These are the ones
# BENCHMARK.json lists.
def _sel(cls):
    return lambda kind: in_class(kind, cls)


def _kinds(*ks):
    return lambda kind: kind in ks


_ALL = lambda kind: True
PER_LAYER = {
    "expr.parse_s": ("s", _sel("read"), "expr.parse_s", median),
    "view.build_s": ("s", _sel("point_read"), "view.build_s", median),
    "view.build_share": ("ratio", _sel("point_read"), "view.build_share", median),
    "catalyst.queries": ("count", _sel("upsert"), "catalyst.queries", median),
    "catalyst.analysis_s": ("s", _sel("upsert"), "catalyst.analysis_s", median),
    "catalyst.optimization_s": ("s", _sel("upsert"), "catalyst.optimization_s", median),
    "catalyst.planning_s": ("s", _sel("upsert"), "catalyst.planning_s", median),
    "catalyst.point_read_queries": ("count", _sel("point_read"), "catalyst.queries", median),
    "driver.s": ("s", _sel("upsert"), "driver.s", median),
    "driver.point_read_s": ("s", _sel("point_read"), "driver.s", median),
    "exec.jobs": ("count", _sel("upsert"), "exec.jobs", median),
    "exec.stages": ("count", _sel("upsert"), "exec.stages", median),
    "exec.tasks": ("count", _sel("upsert"), "exec.tasks", median),
    "exec.task_s": ("s", _sel("ingest"), "exec.task_s", median),
    "exec.task_cpu_s": ("s", _sel("ingest"), "exec.task_cpu_s", median),
    "exec.gc_s": ("s", _sel("ingest"), "exec.gc_s", median),
    "exec.core_idle_share": ("ratio", _sel("ingest"), "exec.core_idle_share", median),
    "exec.max_task_share": ("ratio", _sel("ingest"), "exec.max_task_share", median),
    "exec.shuffle_write_bytes": ("bytes", _sel("ingest"), "exec.shuffle_write_bytes", median),
    "exec.shuffle_read_bytes": ("bytes", _sel("ingest"), "exec.shuffle_read_bytes", median),
    "exec.spill_bytes": ("bytes", _sel("ingest"), "exec.spill_bytes", median),
    "store.open_s": ("s", _sel("point_read"), "store.open_s", median),
    "exec.input_bytes": ("bytes", _sel("point_read"), "exec.input_bytes", median),
    "store.files_opened_share": ("ratio", _sel("point_read"), "store.files_opened_share", median),
    "store.files_written": ("count", _sel("upsert"), "store.files_written", median),
    "store.bytes_written": ("bytes", _sel("upsert"), "store.bytes_written", median),
    "store.write_amp": ("ratio", _sel("upsert"), "store.write_amp", median),
    "store.buckets_touched": ("count", _sel("upsert"), "store.buckets_touched", median),
    "store.files_live": ("count", _ALL, "store.files_live", median),
    "store.snapshots_live": ("count", _ALL, "store.snapshots_live", median),
    "store.bytes_live": ("bytes", _ALL, "store.bytes_live", median),
    "web.read_s": ("s", _kinds("http_read"), "web.read_s", median),
    "web.write_s": ("s", _kinds("http_write"), "web.write_s", median),
    "web.response_bytes": ("bytes", _kinds("http_read"), "web.response_bytes", median),
    "ops.exact_dedup_s": ("s", _kinds("curate"), "ops.exact_dedup_s", median),
    "ops.near_dedup_s": ("s", _kinds("curate"), "ops.near_dedup_s", median),
    "ops.cross_dedup_s": ("s", _kinds("curate"), "ops.cross_dedup_s", median),
    "ops.quality_s": ("s", _kinds("curate"), "ops.quality_s", median),
    "ops.index_update_s": ("s", _kinds("curate"), "ops.index_update_s", median),
    "ops.keep_ratio": ("ratio", _kinds("curate"), "ops.keep_ratio", median),
    "ops.index_bytes": ("bytes", _kinds("curate"), "ops.index_bytes", median),
    "exec.cached_frames_left": ("count", _ALL, "exec.cached_frames_left", max),
    "jvm.gc_s": ("s", _ALL, "jvm.gc_s", median),
}

# Layers only bulk_layouts reaches (it is run by hand, not gated): in
# the trace artifact and the report, not in the result line.
BULK_LAYER = {
    "exec.write_stage_tasks.plain": ("count", _kinds("load.plain"), "exec.write_stage_tasks", median),
    "exec.write_stage_tasks.bucketed": ("count", _kinds("load.bucketed"), "exec.write_stage_tasks", median),
    "exec.write_stage_tasks.brin": ("count", _kinds("load.brin"), "exec.write_stage_tasks", median),
    "store.zones.brin": ("count", _kinds("load.brin"), "store.zones.brin", median),
}


def per_layer(run, table=PER_LAYER, bypassed=0.0):
    """Per-layer metrics of `table`; `bypassed` is the value where the
    workload has no such op."""
    jobs = {}
    for sp in run["spans"]:
        if sp["name"] == "exec.job":
            jobs.setdefault(sp["op"], []).append((sp["start"], sp["end"]))
    ops = [dict(o, layer=dict(o["layer"])) for o in run["ops"]]
    for o in ops:
        # time the op spent outside every Spark job
        o["layer"]["driver.s"] = wall(o) - covered(jobs.get(o["id"], []), o["t0"], o["t1"])
        if "view.build_s" in o["layer"] and wall(o) > 0:
            o["layer"]["view.build_share"] = o["layer"]["view.build_s"] / wall(o)
    out = {}
    for name, (unit, sel, key, reduce) in table.items():
        vals = [o["layer"][key] for o in ops if sel(o["kind"]) and key in o["layer"]]
        out[name] = (reduce(vals) if vals else bypassed, unit)
    return out


def layer_self_time(spans):
    """Total self time per span name."""
    st = self_times(spans)
    out = {}
    for sp in spans:
        out[sp["name"]] = out.get(sp["name"], 0.0) + st[sp["id"]]
    return out
