#!/usr/bin/env python3
"""Lakehouse benchmark: builds the engine and its harness from source, runs
one workload for a fixed number of seconds, checks every result against an
independent model, and prints the metrics.

    python3 perfbench/run.py --workload cdc_ingest --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --selftest

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. With `--trace 0` the metrics
are the end-to-end metrics of BENCHMARK.json; with `--trace 1` they are its
per-layer metrics, from a traced phase that follows the untraced one in the
same process (their difference is the tracing overhead). A per-class report goes to
`.bench_work/report-<workload>-<seed>-<trace>.json`, and the traced run's
spans with self times to `.bench_work/spans-<workload>-<seed>.json`.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
LAUNCHER = os.path.join(HERE, "target", "launcher.txt")
STAMP = os.path.join(HERE, "target", "launcher.stamp")

WORKLOADS = ("cdc_ingest", "lake_query", "dedup_stream")
# Spark runs at no more than this many local cores, whatever the machine
MAX_CORES = 4
JVM_HEAP = "-Xmx3g"
RUN_TIMEOUT_S = 170


def log(*a):
    print(*a, file=sys.stderr, flush=True)


# ---- statistics -----------------------------------------------------------

MIN_BEYOND = 10


def percentile(samples, q):
    """The q-quantile (linear interpolation), or None when fewer than ten
    samples lie beyond it: a tail percentile needs a tail to stand on."""
    n = len(samples)
    if n == 0:
        return None
    pos = q * (n - 1)
    if n - 1 - int(pos) < MIN_BEYOND:
        return None
    s = sorted(samples)
    lo = int(pos)
    hi = min(lo + 1, n - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


# every ratio the benchmark reports → (numerator, denominator) names
RATIO_BASES = {
    "write_amp": ("bytes_written", "staged_input_bytes"),
    "space_amp": ("table_bytes", "live_bytes"),
    "exec.busy_ratio": ("exec.busy_run_ms", "exec.busy_capacity_ms"),
    "scan.kept_ratio": ("scan.kept_files", "scan.files_offered"),
    "scan.rows_read_per_result_row": ("scan.rows_read", "scan.result_rows"),
    "lake.rows_written_per_input_row": ("lake.rows_written", "lake.input_rows"),
    "changes.rows_per_input_row": ("changes.rows", "changes.input_rows"),
    "dedup.flagged_fraction": ("dedup.flagged", "dedup.docs"),
    "trace.overhead_share": ("trace.overhead_ms", "trace.untraced_op_mean_ms"),
}


def ratio(name, num, den, unit_num="count", unit_den="count"):
    """A ratio metric together with its two bases, so no ratio is ever
    reported without what it divides."""
    num_name, den_name = RATIO_BASES[name]
    return {
        name: {"value": num / den if den else 0.0, "unit": "ratio"},
        num_name: {"value": num, "unit": unit_num},
        den_name: {"value": den, "unit": unit_den},
    }


def metric(value, unit):
    return {"value": value, "unit": unit}


# ---- build ----------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    for base in ("src/main", "project/build.properties", "build.sbt",
                 "perfbench/src", "perfbench/build.sbt",
                 "perfbench/project/build.properties"):
        p = os.path.join(ROOT, base)
        paths = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in paths:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the engine and the harness once per source state; later runs
    reuse the classes."""
    stamp = source_stamp()
    if os.path.exists(LAUNCHER) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read() == stamp:
                return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        repos = os.path.expanduser("~/.sbt/repositories")
        opts += " -Dsbt.offline=true"
        if os.path.exists(repos):
            opts += (" -Dsbt.override.build.repos=true"
                     f" -Dsbt.repository.config={repos}")
        env["SBT_OPTS"] = opts.strip()
    log("[perfbench] building engine and harness")
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "launcher"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=700)
    if r.returncode != 0 or not os.path.exists(LAUNCHER):
        sys.exit(f"[perfbench] build failed ({r.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def java_cmd(args, tmp):
    with open(LAUNCHER) as fh:
        lines = fh.read().split("\n")
    cp, opts = lines[0], [o for o in lines[1:] if o and not o.startswith("-Xmx")]
    # temporary files (native library extraction, Hadoop scratch) stay in
    # the run's own directory
    return ["java", JVM_HEAP, f"-Djava.io.tmpdir={tmp}", f"-Dhadoop.tmp.dir={tmp}",
            *opts, "-cp", cp, "perfbench.Main", *args]


def harness(args, timeout=RUN_TIMEOUT_S):
    """Run the harness JVM; its output goes to stderr, stdout stays ours."""
    tmp = os.path.join(args[args.index("--work") + 1], "tmp")
    os.makedirs(tmp, exist_ok=True)
    r = subprocess.run(java_cmd(args, tmp), cwd=ROOT, stdout=sys.stderr,
                       stderr=sys.stderr, stdin=subprocess.DEVNULL,
                       timeout=timeout)
    if r.returncode != 0:
        sys.exit(f"[perfbench] harness exited with {r.returncode}")


def cores():
    return max(1, min(MAX_CORES, os.cpu_count() or 1))


def run_once(workload, seed, seconds, trace):
    work = os.path.join(WORK, f"{workload}-{seed}-{trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    raw = os.path.join(work, "raw.json")
    spans = os.path.join(work, "spans.json")
    try:
        harness(["--mode", "run", "--workload", workload, "--seed", str(seed),
                 "--seconds", str(seconds), "--trace", str(trace),
                 "--cores", str(cores()), "--work", work, "--out", raw,
                 "--spans", spans])
        with open(raw) as fh:
            doc = json.load(fh)
        if trace:
            with open(spans) as fh:
                doc["spans"] = json.load(fh)
        return doc
    finally:
        shutil.rmtree(work, ignore_errors=True)


# ---- metrics --------------------------------------------------------------

def ok_ops(doc, traced=False):
    """completed ops of the untraced (or the traced) timed phase; the
    warm-up op is checked, not timed"""
    return [o for o in doc["ops"]
            if o["ok"] and not o.get("warm") and o.get("traced", False) == traced]


def end_to_end(doc):
    lat = [o["ms"] for o in ok_ops(doc)]
    f = doc["facts"]
    return {
        "setup_s": metric(statistics.median(doc["setup_s"]), "s"),
        "op_mean_ms": metric(statistics.mean(lat) if lat else None, "ms"),
        "write_amp": metric(f["bytes_written"] / f["staged_input_bytes"], "ratio"),
        "space_amp": metric(f["table_bytes"] / f["live_bytes"], "ratio"),
    }


def class_report(doc, traced=False):
    """Per operation class: sample count, mean, and every percentile the
    samples support, for the op and for each of its timed sub-steps."""
    out = {}
    ops = ok_ops(doc, traced)
    for cls in sorted({o["cls"] for o in ops}):
        xs = [o for o in ops if o["cls"] == cls]
        entry = {"n": len(xs)}
        series = {"op_ms": [o["ms"] for o in xs]}
        for o in xs:
            for k, v in o["parts"].items():
                series.setdefault(f"{k}_ms", []).append(v)
        for k, vals in series.items():
            entry[f"{k}.mean"] = statistics.mean(vals)
            for q in (0.5, 0.9):
                p = percentile(vals, q)
                if p is not None:
                    entry[f"{k}.p{int(q * 100)}"] = p
        out[cls] = entry
    rows = sum(o["rows_in"] for o in ops)
    out["_workload"] = {
        "rows_per_s": rows / doc["timed_s"] if rows else None,
        "input_rows": rows,
        "timed_s": doc["timed_s"],
        "warmup_ms": sum(o["ms"] for o in doc["ops"] if o.get("warm")),
        "setup_runs_s": doc["setup_s"],
        "error_rate": error_rate(doc),
        **doc["facts"],
    }
    return out


def error_rate(doc):
    attempted = len(doc["ops"]) + len(doc["checks"])
    bad = sum(1 for o in doc["ops"] if not o["ok"]) + \
        sum(1 for c in doc["checks"] if not c["ok"])
    return bad / attempted if attempted else 0.0


MEAN_KEYS = ("exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_ms",
             "exec.task_deser_ms", "exec.task_gc_ms", "exec.shuffle_write_bytes",
             "exec.shuffle_read_bytes", "exec.spill_bytes", "fs.read_ops",
             "fs.write_ops", "fs.list_ops", "fs.bytes_read", "fs.bytes_written",
             "scan.files_read", "catalyst.analysis_ms",
             "catalyst.optimization_ms", "catalyst.planning_ms")
MEDIAN_KEYS = ("commitlog.resolve_ms", "commitlog.log_read_ops",
               "commitlog.live_files")


def unit_of(k):
    return "ms" if k.endswith("_ms") else "bytes" if "bytes" in k else "count"


def layers_of(ops_layers, ops, n_cores):
    """Per-layer metrics over a set of ops: exec/fs/catalyst counters as a
    mean per op, commit-log resolution as a median per op, and every ratio
    with its bases."""
    ls = [ops_layers.get(str(o["id"]), {}) for o in ops]
    n = max(1, len(ls))

    def total(k):
        return sum(l.get(k, 0.0) for l in ls)

    out = {}
    for k in MEAN_KEYS:
        out[k] = metric(total(k) / n, unit_of(k))
    for k in MEDIAN_KEYS:
        out[k] = metric(statistics.median([l.get(k, 0.0) for l in ls]) if ls else 0.0,
                        unit_of(k))
    out["commitlog.commits"] = metric(max([l.get("commitlog.commits", 0.0) for l in ls] or [0]), "count")
    out["mor.delta_files"] = metric(statistics.median(
        [l.get("mor.delta_files", l.get("dedup.index_delta_files", 0.0)) for l in ls] or [0]), "count")
    wall = sum(o["ms"] for o in ops)
    out.update(ratio("exec.busy_ratio", total("exec.task_run_ms"), wall * n_cores,
                     "ms", "ms"))
    # files a scan could have read: the table's live files, once per scan
    offered = sum(l.get("scan.scans", 0.0) *
                  l.get("scan.files_live", l.get("commitlog.live_files", 0.0)) for l in ls)
    out.update(ratio("scan.kept_ratio", total("scan.files_read"), offered))
    out.update(ratio("scan.rows_read_per_result_row", total("exec.input_records"),
                     total("result_rows")))
    return out


CLASS_LAYER_KEYS = {
    # harness-timed calls into one module, reported for the classes that make them
    "lake.upsert_ms": "lake.upsert", "lake.delete_ms": "lake.delete",
    "lake.clean_ms": "lake.clean", "changes.pull_ms": "changes.pull",
    "sql.build_ms": "sql.build", "dedup.ingest_ms": "dedup.ingest",
    "curate.upsert_ms": "curate.upsert",
}


def class_layers(doc, n_cores):
    """Every per-layer metric for each operation class."""
    ops = ok_ops(doc, traced=True)
    L = doc["layers"]
    out = {}
    for cls in sorted({o["cls"] for o in ops}):
        xs = [o for o in ops if o["cls"] == cls]
        entry = {k: v["value"] for k, v in layers_of(L, xs, n_cores).items()}
        for name, part in CLASS_LAYER_KEYS.items():
            vals = [o["parts"][part] for o in xs if part in o["parts"]]
            if vals:
                entry[name] = statistics.median(vals)
        ls = [L.get(str(o["id"]), {}) for o in xs]

        def tot(k):
            return sum(l.get(k, 0.0) for l in ls)
        for k in ("lake.files_added", "lake.files_removed", "lake.bytes_added",
                  "lake.clean_files_deleted", "dedup.index_live_files",
                  "dedup.index_delta_files", "scan.files_live"):
            if any(k in l for l in ls):
                entry[k] = tot(k) / len(ls)
        if tot("lake.input_rows"):
            entry.update({k: v["value"] for k, v in ratio(
                "lake.rows_written_per_input_row", tot("lake.rows_written"),
                tot("lake.input_rows")).items()})
        if any("changes.rows" in l for l in ls):
            base = tot("lake.input_rows") or len(ls)
            entry.update({k: v["value"] for k, v in ratio(
                "changes.rows_per_input_row", tot("changes.rows"), base).items()})
        if tot("dedup.docs"):
            entry.update({k: v["value"] for k, v in ratio(
                "dedup.flagged_fraction", tot("dedup.flagged"), tot("dedup.docs")).items()})
        out[cls] = entry
    return out


def self_times(spans):
    """Per span name, over the timed ops' spans: count, total and self
    milliseconds. Self time is the span's duration minus the union of its
    children's intervals."""
    spans = [s for s in spans if s.get("op", 0) >= 0]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        iv = sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                    for c in kids.get(s["id"], []))
        covered, cur = 0.0, None
        for a, b in iv:
            if b <= a:
                continue
            if cur and a <= cur[1]:
                cur[1] = max(cur[1], b)
            else:
                if cur:
                    covered += cur[1] - cur[0]
                cur = [a, b]
        if cur:
            covered += cur[1] - cur[0]
        dur = s["end"] - s["start"]
        e = out.setdefault(s["name"], {"count": 0, "total_ms": 0.0, "self_ms": 0.0})
        e["count"] += 1
        e["total_ms"] += dur
        e["self_ms"] += max(0.0, dur - covered)
    return out


# ---- commands -------------------------------------------------------------

def verdict(doc):
    attempted = len(doc["ops"])
    failed = sum(1 for o in doc["ops"] if not o["ok"])
    bad_checks = [c for c in doc["checks"] if not c["ok"]]
    for c in bad_checks[:20]:
        log(f"[perfbench] MISMATCH {c['name']}: {c['detail']}")
    log(f"[perfbench] {len(doc['checks'])} checks, {len(bad_checks)} mismatches, "
        f"{attempted} ops, {failed} failed")
    return attempted, failed, not bad_checks and failed == 0 and attempted > 0


def write_report(name, body):
    os.makedirs(WORK, exist_ok=True)
    path = os.path.join(WORK, name)
    with open(path, "w") as fh:
        json.dump(body, fh, indent=1, sort_keys=True)
    return path


def bench(a):
    build()
    n_cores = cores()
    doc = run_once(a.workload, a.seed, a.seconds, a.trace)
    attempted, failed, correct = verdict(doc)
    e2e = end_to_end(doc)
    report = {"workload": a.workload, "seed": a.seed, "cores": n_cores,
              "seconds": a.seconds, "end_to_end": e2e, "classes": class_report(doc)}
    metrics = e2e
    if a.trace:
        traced = ok_ops(doc, traced=True)
        metrics = layers_of(doc["layers"], traced, n_cores)
        traced_mean = statistics.mean(o["ms"] for o in traced) if traced else None
        plain_mean = e2e["op_mean_ms"]["value"]
        metrics["trace.traced_op_mean_ms"] = metric(traced_mean, "ms")
        if traced_mean is not None and plain_mean is not None:
            metrics.update(ratio("trace.overhead_share", traced_mean - plain_mean,
                                 plain_mean, "ms", "ms"))
        report["per_layer"] = metrics
        report["class_layers"] = class_layers(doc, n_cores)
        report["self_times"] = self_times(doc["spans"])
        report["traced_classes"] = class_report(doc, traced=True)
        path = write_report(f"spans-{a.workload}-{a.seed}.json", doc["spans"])
        log(f"[perfbench] spans: {path}")
    missing = [k for k, v in metrics.items() if v["value"] is None]
    if missing:
        log(f"[perfbench] no samples for {missing}")
        correct = False
        metrics = {k: v for k, v in metrics.items() if v["value"] is not None}
    path = write_report(f"report-{a.workload}-{a.seed}-{a.trace}.json", report)
    log(f"[perfbench] report: {path}")
    for cls, entry in report["classes"].items():
        print(f"# {cls}: " + json.dumps(entry, sort_keys=True))
    wanted = bench_metric_names(a.trace)
    metrics = {k: metrics[k] for k in wanted if k in metrics}
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


def bench_metric_names(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        b = json.load(fh)
    return [m["name"] for m in b["per_layer" if trace else "end_to_end"]]


def selftest(_a):
    """Harness self-tests: staging determinism (same seed → identical
    bytes, other seed → different bytes) and the statistics helpers."""
    import unittest
    sys.path.insert(0, HERE)
    import selftest as st
    build()
    st.HARNESS = harness
    st.WORK = WORK
    st.CORES = cores()
    res = unittest.TextTestRunner(stream=sys.stderr, verbosity=2).run(
        unittest.defaultTestLoader.loadTestsFromModule(st))
    return 0 if res.wasSuccessful() else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            sys.exit(f"[perfbench] no engine sources here: {need} is missing")
    if a.selftest:
        return selftest(a)
    if not a.workload:
        ap.error("--workload is required")
    return bench(a)


if __name__ == "__main__":
    sys.exit(main())
