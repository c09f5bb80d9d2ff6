#!/usr/bin/env python3
"""graftbench: graft's benchmark, one workload per run.

    python3 perfbench/run.py --workload crud_mix --seed 1 --seconds 8 --trace 0

Run from the repository root. The first run compiles graft and the
benchmark (perfbench/build.py). The run starts one JVM with a
local[<cores>] Spark session that drives graft through its public entry
points in a closed loop with one client. The JVM writes every op, check
and span to a JSON file. This script turns that file into metrics and
prints them: first a readable report on stderr, then, as the last line
of stdout, one JSON object with the keys correct, attempted, failed and
metrics. With --trace 0 the metrics are the end-to-end ones; with
--trace 1 they are the per-layer ones of a traced run, and the trace
(spans, self time per layer, overhead against the untraced runs of the
same build) is written to <build dir>/results/<source stamp>/.
"""
import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("crud_mix", "bulk_layouts", "curate_stream")
HERE = os.path.dirname(os.path.abspath(__file__))
# The JVM is stopped if a run has not ended after this many seconds
# (the build, on a first run, comes before and is not counted).
# bulk_layouts is run by hand, not in BENCHMARK.json: its BRIN full load
# alone takes 43-61 s, and its traced run walks ~1000 new files.
DEADLINE_S = 170
DEADLINE_BULK_S = 400
JVM_OPTS = [
    "-Xmx3g", "-XX:+ExplicitGCInvokesConcurrent",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
] + [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
) for a in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def jvm(root, classes, work, args, timeout):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + JVM_OPTS + [
        "-Djava.io.tmpdir=" + tmp, "-Dspark.local.dir=" + tmp,
        "-cp", classes + os.pathsep + build.classpath(root), "graftbench.Main"] + args
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit("graftbench: the run did not end within %d s" % timeout)
    if proc.returncode != 0:
        raise SystemExit("graftbench: the JVM exited with code %d" % proc.returncode)
    return out


def fmt(v):
    return "n/a" if v is None else ("%.4g" % v)


def untraced_baseline(results, prefix):
    """Median of each end-to-end metric over the untraced runs saved
    for this build, workload and run length."""
    runs = []
    for p in glob.glob(os.path.join(results, "%s-s*-t0.json" % prefix)):
        with open(p) as f:
            runs.append(json.load(f)["metrics"])
    if not runs:
        return {}
    return {k: statistics.median(r[k]["value"] for r in runs) for k in runs[0]}


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    root = os.getcwd()

    classes, stamp = build.build(root)
    out_dir = build.build_dir(root)
    results = os.path.join(out_dir, "results", stamp[:16])
    prefix = "%s-%gs" % (a.workload, a.seconds)
    os.makedirs(results, exist_ok=True)
    work = os.path.join(out_dir, "run-%s-s%d-t%d-%d" % (a.workload, a.seed, a.trace, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    raw = os.path.join(work, "run.json")
    try:
        jvm(root, classes, work, ["--workload", a.workload, "--seed", str(a.seed),
                            "--seconds", str(a.seconds), "--trace", str(a.trace),
                            "--work", work, "--out", raw],
            DEADLINE_BULK_S if a.workload == "bulk_layouts" else DEADLINE_S)
        with open(raw) as f:
            run = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ops, checks = run["ops"], run["checks"]
    attempted, failed, wrong = metrics.counts(run)
    e2e = metrics.e2e(run)

    setup = run["setup"]
    log("graftbench %s seed=%d trace=%d: %d cycles in %.1f s on local[%d]; inputs sha256:%s"
        % (a.workload, a.seed, a.trace, run["cycles"], run["window_s"], run["cores"], run["digest"]))
    log("  set-up: session %.1f s, tables and initial data %.1f s, warm-up cycle %.1f s"
        % (setup["session_s"], setup["prepare_s"], setup["warmup_s"]))
    kinds = {}
    for o in ops:
        kinds.setdefault(o["kind"], []).append(o)
    log("  ops: " + ", ".join("%s %d x %s s" % (k, len(os_), fmt(metrics.median(
        [metrics.wall(o) for o in os_]))) for k, os_ in kinds.items()))
    log("  user-facing metrics (gated ones first; n/a where the workload has no such op):")
    for name, (v, unit, note) in metrics.report(run).items():
        log("    %-26s %12s %-7s %s" % (name, fmt(v), unit, note))
    for o in ops:
        if not o["ok"]:
            log("  failed op %s: %s" % (o["kind"], o["error"]))
    for c in checks:
        log("  check %-32s %s %s" % (c["name"], "ok" if c["ok"] else "FAILED", c["detail"]))

    if a.trace == 0:
        values = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        with open(os.path.join(results, "%s-s%d-t0.json" % (prefix, a.seed)), "w") as f:
            json.dump({"metrics": values}, f)
    else:
        layers = metrics.per_layer(run)
        bulk = metrics.per_layer(run, metrics.BULK_LAYER, bypassed=None)
        base = untraced_baseline(results, prefix)
        overhead = {k: e2e[k][0] / base[k] - 1 for k in ("upsert_p50_s", "point_read_p50_s")
                    if base.get(k) and e2e[k][0]}
        artifact = os.path.join(results, "%s-s%d-trace.json" % (prefix, a.seed))
        with open(artifact, "w") as f:
            json.dump({
                "workload": a.workload, "seed": a.seed, "digest": run["digest"], "build": stamp,
                "per_layer": {k: {"value": v, "unit": u} for k, (v, u) in
                              list(layers.items()) + list(bulk.items())},
                "e2e_traced": {k: v for k, (v, _) in e2e.items()},
                "e2e_untraced_median": base,
                "trace_overhead_share": overhead,
                "self_time_s": metrics.layer_self_time(run["spans"]),
                "spans": run["spans"],
                "ops": [{k: o[k] for k in ("id", "kind", "rows", "t0", "t1", "ok", "layer")} for o in ops],
            }, f)
        log("  per-layer (traced run; trace written to %s):" % os.path.relpath(artifact, root))
        for name, (v, unit) in list(layers.items()) + list(bulk.items()):
            log("    %-32s %12s %s" % (name, fmt(v), unit))
        if overhead:
            log("  tracing overhead (traced / untraced median - 1, untraced runs of this run length and build): "
                + ", ".join("%s %+.3f" % kv for kv in overhead.items()))
        else:
            log("  tracing overhead unknown: no untraced run of this workload, run length and build saved")
        values = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}

    missing = [k for k, v in values.items() if v["value"] is None]
    if missing:
        raise SystemExit("graftbench: no value for %s" % ", ".join(missing))
    assert all(metrics.valid_name(k) for k in values)
    print(json.dumps({"correct": wrong == 0, "attempted": attempted, "failed": failed,
                      "metrics": values}))


if __name__ == "__main__":
    main()
