#!/usr/bin/env python3
"""The repo benchmark: one command per workload run.

    python3 perfbench/run.py --workload <audit_stream|batch_registry>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run in a checkout builds the
engine and the benchmark harness (perfbench/build.sbt, sbt offline) and generates the
input tables (perfbench/gen_data.py); later runs reuse both. Each run starts
one JVM (perfbench.Main) that drives Spark at local[4] and writes raw
observations; this script turns them into metrics, checks every output
and prints one JSON result as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics of the named workload. --trace 1
runs the traced tour (every workload once with the job listener and spans
on, the curation funnel, the expression kernels and a single-core
baseline) and reports the per-layer metrics; spans are written to the
run's work directory.

Self-tests of the statistics: python3 perfbench/test_stats.py
Regenerate the committed oracle hashes (after changing the entry list or
the data generator): python3 perfbench/run.py --make-expected
"""
import argparse
import bisect
import glob
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402

WORKLOADS = ("audit_stream", "batch_registry")
CORES = 4
DATA_SF = 0.01
DATA_SEED = 42
JVM_TIMEOUT_S = 170
PIPELINES = ("e1_tumble", "e4_session", "e5_join", "e7_alerts", "e8_durations")
FUNNEL_PHASES = {
    "gates 1-2 collapse + tokenize (s0)": "gates12",
    "gates 3-4 flags (flagged)": "gates34",
    "gate 5 perplexity (withPpl)": "gate5",
    "export rank + manifest": "export_rank",
    "export manifest write": "manifest",
    "corpus write": "corpus",
    "offsets fold": "offsets",
    "stage card commit": "stage_commit",
}
LAYERS = ("sources", "expressions", "operators", "streaming", "SparkEntry")
JOB_KEYS = ("jobs", "tasks", "task_s", "shuffle_write_mb", "shuffle_read_mb",
            "spill_mb", "skew")
JOB_UNITS = {"jobs": "count", "tasks": "count", "task_s": "s",
             "shuffle_write_mb": "MB", "shuffle_read_mb": "MB",
             "spill_mb": "MB", "skew": "ratio"}
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ───────────────────────────── build and data ──────────────────────────────

def tree_digest(paths):
    h = hashlib.sha256()
    for p in paths:
        files = [p] if os.path.isfile(p) else sorted(
            glob.glob(os.path.join(p, "**", "*"), recursive=True))
        for f in files:
            if os.path.isfile(f):
                h.update(f.encode())
                with open(f, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def sbt_env(base):
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx3g",
            f"-Dsbt.global.base={base}/sbt-global",
            "-Dsbt.server.forcestart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(root, base):
    """Compile the engine plus the harness; returns the runtime classpath."""
    stamp = tree_digest([os.path.join(root, "src", "main"),
                         os.path.join(HERE, "src"),
                         os.path.join(HERE, "build.sbt"),
                         os.path.join(HERE, "project", "build.properties")])
    cp_file = os.path.join(base, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved = json.load(f)
        if saved.get("stamp") == stamp:
            return saved["classpath"]
    log = os.path.join(base, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(base), stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=850).returncode
    with open(log) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    cp = next((ln for ln in reversed(lines)
               if "perfbench/target" in ln and ":" in ln
               and not ln.startswith("[")), None)
    if rc != 0 or cp is None:
        fail(f"build failed (rc={rc}); see {log}")
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp}, f)
    return cp


def data_dir(base):
    """The input tables, generated once per checkout from DATA_SEED."""
    import gen_data
    d = os.path.join(base, f"data_sf{DATA_SF}")
    stamp = tree_digest([os.path.join(HERE, "gen_data.py")])
    marker = os.path.join(d, "STAMP")
    if not (os.path.exists(marker) and open(marker).read() == stamp):
        shutil.rmtree(d, ignore_errors=True)
        gen_data.write(d, DATA_SF, DATA_SEED)
        with open(marker, "w") as f:
            f.write(stamp)
    return d


def run_jvm(cp, args, work, timeout):
    mem = "3g"
    cmd = ["java", f"-Xmx{mem}", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={work}/tmp", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"benchmark JVM exceeded {timeout:.0f}s; see {work}/jvm.log")
    return rc


# ──────────────────────────── audit_stream maths ───────────────────────────

def audit_analysis(a):
    """Latency, backlog and ladder statistics from the raw audit record."""
    import numpy as np
    chunks = np.array(a["chunks"], dtype=np.float64).reshape(-1, 6)
    offs, ns, first, last = chunks[:, 0], chunks[:, 1], chunks[:, 2], chunks[:, 3]
    # every generated event's due time, per chunk (evenly spaced inside it)
    reps = ns.astype(np.int64)
    idx = np.arange(reps.sum()) - np.repeat(np.cumsum(reps) - reps, reps)
    span = np.where(ns > 1, (last - first) / np.maximum(ns - 1, 1), 0.0)
    due = np.repeat(first, reps) + idx * np.repeat(span, reps)
    chunk_of = np.repeat(np.arange(len(ns)), reps)
    due_sorted = np.sort(due)
    commits = {}
    for p in PIPELINES:
        trig = sorted(a["triggers"][p], key=lambda t: t[0])
        ends = [t[5] for t in trig]
        at = []
        for o in offs:
            i = bisect.bisect_left(ends, o)
            at.append(trig[i][2] if i < len(trig) else math.inf)
        commits[p] = np.array(at)[chunk_of]
    out = {"steps": []}
    for st in a["steps"]:
        s0, s1 = st["start"], st["end"]
        sel = (due >= s0) & (due < s1)
        lat = np.concatenate([commits[p][sel] - due[sel] for p in PIPELINES])
        lost = int(np.isinf(lat).sum())
        lat = lat[np.isfinite(lat)]
        slopes = []
        offered = lambda t: float(np.searchsorted(due_sorted, t * 1000.0, "right"))
        for p in PIPELINES:
            c_sorted = np.sort(commits[p])
            committed = lambda t, c=c_sorted: float(np.searchsorted(c, t * 1000.0, "right"))
            at = [t[2] / 1000.0 for t in a["triggers"][p]]
            slopes.append(stats.backlog_slope(offered, committed, at,
                                              s0 / 1000.0, s1 / 1000.0))
        slopes = [x for x in slopes if x is not None]
        # triggers that committed events of this step, over all queries
        n_trig = sum(len({c for c in commits[p][sel].tolist()}) for p in PIPELINES)
        rec = {"rate": st["rate"], "ref": st["ref"], "samples": int(lat.size),
               "triggers": n_trig,
               "lost": lost,
               "slope_eps": float(np.mean(slopes)) if slopes else None,
               "p50_ms": float(stats.percentile(lat.tolist(), 50)) if lat.size else math.inf,
               "p90_ms": float(stats.percentile(lat.tolist(), 90)) if lat.size else math.inf,
               "p99_ms": float(stats.percentile(lat.tolist(), 99)) if lat.size else math.inf}
        out["steps"].append(rec)
    gen_late = (chunks[:, 4] / 1000.0 - first).tolist()
    out["gen_late_ms_p99"] = float(stats.percentile(gen_late, 99))
    ref = next(s for s in out["steps"] if s["ref"])
    out["ref"] = ref
    pick = stats.sustained_pick(out["steps"])
    out["sustained_eps"] = float(pick["rate"]) if pick else 0.0
    # capacity: the drain backlog over the mean duration of the trigger
    # that ingested it, across the pipelines
    d = a["drain"]
    if d["events"] == 0:
        return out
    took = []
    for p in PIPELINES:
        trig = sorted(a["triggers"][p], key=lambda t: t[0])
        t = trig[bisect.bisect_left([x[5] for x in trig], d["offset"])]
        took.append(t[6] / 1000.0)
    out["drain_eps"] = d["events"] / (sum(took) / len(took))
    return out


def pipeline_stats(trig):
    """streaming.* and state.* figures of one query's triggers. A trigger
    row (Trigger.record): batch id, start ms, commit ms, input rows, start
    offset, end offset, trigger ms, addBatch ms, planning ms, log ms, state
    rows, state bytes, state commit ms, state update ms, late rows dropped."""
    live = [t for t in trig if t[3] > 0] or trig
    col = lambda i: [float(t[i]) for t in live]
    return {
        "triggers": float(len(trig)),
        "rows_per_trigger": stats.median(col(3)),
        "trigger_ms_p50": stats.median(col(6)),
        "addbatch_ms_p50": stats.median(col(7)),
        "planning_ms_p50": stats.median(col(8)),
        "log_ms_p50": stats.median(col(9)),
        "state_rows": float(max(t[10] for t in trig)),
        "state_mem_mb": max(t[11] for t in trig) / 2 ** 20,
        "commit_ms_p50": stats.median(col(12)),
        "update_ms_p50": stats.median(col(13)),
        "late_dropped": float(sum(t[14] for t in trig)),
    }


# ─────────────────────────────── metrics ───────────────────────────────────

def e2e_metrics(raw, workload):
    m = {"peak_rss_mb": (raw["peak_rss_mb"], "MB")}
    if workload == "audit_stream":
        a = raw["audit_stream"]
        an = audit_analysis(a)
        ref = an["ref"]
        if not stats.tail_supported(ref["samples"], 99):
            raise RuntimeError(f"p99 over {ref['samples']} samples")
        m["setup_s"] = (raw["bringup_s"] + a["setup_s"], "s")
        m["latency_ms"] = (ref["p50_ms"], "ms")
        # each trigger commits thousands of events at one instant, so the
        # samples come in about 30 correlated groups per run: p99 is set by
        # the one slowest trigger, p90 by the slowest few
        m["latency_tail_ms"] = (ref["p90_ms"], "ms")
        info = {"latency_samples": ref["samples"], "triggers": ref["triggers"],
                "steps": an["steps"],
                "sustained_eps": an["sustained_eps"],
                "gen_late_ms_p99": an["gen_late_ms_p99"]}
    else:
        b = raw["batch_registry"]
        reps = b["reps"]
        totals = [sum(r.values()) for r in reps]
        per_rep = [sorted(r.values()) for r in reps]
        m["setup_s"] = (raw["bringup_s"] + b["setup_s"], "s")
        m["latency_ms"] = (stats.median(
            [stats.geomean(r) * 1000 for r in per_rep]), "ms")
        m["latency_tail_ms"] = (stats.median(
            [stats.percentile(r, 99) * 1000 for r in per_rep]), "ms")
        info = {"reps": len(reps), "total_s": stats.median(totals),
                "geomean_s": stats.median([stats.geomean(r) for r in per_rep])}
    return m, info


def failed_frac(checks, pick):
    cs = [c for c in checks if pick(c["name"])]
    return (sum(int(c["failed"]) for c in cs) /
            max(1, sum(int(c["attempted"]) for c in cs)), "ratio")


def layer_metrics(raw, checks):
    """Per-layer metrics from the traced tour."""
    m = {}
    m["audit.failed_frac"] = failed_frac(checks, lambda n: n.startswith("audit."))
    m["funnel.failed_frac"] = failed_frac(checks, lambda n: n == "oracle.q_curation_funnel_stream")
    m["batch.failed_frac"] = failed_frac(
        checks, lambda n: n.startswith("oracle.") and n != "oracle.q_curation_funnel_stream")
    a = raw["audit_stream"]
    an = audit_analysis(a["traced"])
    ref = an["ref"]
    m["audit.latency_p50_ms"] = (ref["p50_ms"], "ms")
    m["audit.latency_p99_ms"] = (ref["p99_ms"], "ms")
    m["audit.latency_samples"] = (ref["samples"], "count")
    m["audit.sustained_eps"] = (an["sustained_eps"], "1/s")
    m["audit.drain_eps"] = (an["drain_eps"], "1/s")
    if ref["slope_eps"] is None:
        raise RuntimeError("backlog unmeasured: under two commits in the step")
    m["sources.backlog_slope_eps"] = (ref["slope_eps"], "1/s")
    m["sources.gen_late_ms_p99"] = (an["gen_late_ms_p99"], "ms")
    # the traced pass runs first, as in an untraced run; its untraced twin
    # runs second on a warm JVM, so this difference errs high
    untraced = audit_analysis(a["untraced"])["ref"]
    m["trace.audit.overhead_p50_ms"] = (ref["p50_ms"] - untraced["p50_ms"], "ms")
    one = audit_analysis(a["one_core"])["ref"]
    m["scaling.audit.latency_p50_ms_1core"] = (one["p50_ms"], "ms")
    m["scaling.audit.latency_p99_ms_1core"] = (one["p99_ms"], "ms")
    audit_mem = 0.0
    audit_late = 0.0
    for p in PIPELINES:
        ps = pipeline_stats(a["traced"]["triggers"][p])
        add_pipeline(m, p, ps)
        audit_mem += ps["state_mem_mb"]
        if p in ("e1_tumble", "e4_session", "e5_join"):
            audit_late += ps["late_dropped"]
    m["state.audit.mem_mb"] = (audit_mem, "MB")
    m["state.audit.late_dropped"] = (audit_late, "count")
    add_jobs(m, "audit", a["jobs"])

    f = raw["curation_funnel"]
    ft = f["traced"]
    m["funnel.docs_per_s"] = (ft["docs"] / ft["funnel_s"], "1/s")
    m["funnel.setup_s"] = (ft["setup_s"], "s")
    fs = pipeline_stats(ft["triggers"])
    add_pipeline(m, "funnel", fs)
    m["state.funnel.mem_mb"] = (fs["state_mem_mb"], "MB")
    phases = f["phases"]
    for label, key in FUNNEL_PHASES.items():
        m[f"funnel.phase.{key}_ms"] = (float(phases.get(label, 0.0)), "ms")
    add_jobs(m, "funnel", f["jobs"])
    for k in ("fingerprint", "shingle", "minhash"):
        m[f"expressions.{k}_s"] = (f["kernels"][k], "s")

    b = raw["batch_registry"]
    rep = b["traced"]["reps"][0]
    m["batch.total_s"] = (sum(rep.values()), "s")
    m["batch.geomean_s"] = (stats.geomean(list(rep.values())), "s")
    for name, t in sorted(rep.items()):
        m[f"batch.entry.{name.replace(':', '.')}_s"] = (t, "s")
    add_jobs(m, "batch", b["jobs"])

    for layer in LAYERS:
        m[f"selftime.{layer}_s"] = (raw["self_time_s"].get(layer, 0.0), "s")
    m["trace.spans"] = (raw["span_count"], "count")
    return m


def add_pipeline(m, p, ps):
    for k in ("triggers", "rows_per_trigger"):
        m[f"streaming.{p}.{k}"] = (ps[k], "count")
    for k in ("trigger_ms_p50", "addbatch_ms_p50", "planning_ms_p50", "log_ms_p50"):
        m[f"streaming.{p}.{k}"] = (ps[k], "ms")
    m[f"state.{p}.rows"] = (ps["state_rows"], "count")
    m[f"state.{p}.commit_ms_p50"] = (ps["commit_ms_p50"], "ms")
    m[f"state.{p}.update_ms_p50"] = (ps["update_ms_p50"], "ms")


def add_jobs(m, w, jobs):
    for k in JOB_KEYS:
        layer = "exchange" if k in ("shuffle_write_mb", "shuffle_read_mb",
                                    "spill_mb", "skew") else "scheduler"
        m[f"{layer}.{w}.{k}"] = (jobs[k], JOB_UNITS[k])


# ────────────────────────────── correctness ────────────────────────────────

def oracle_checks(work, names):
    """Compare each entry's Spark output with its committed oracle hash."""
    import oracle
    with open(os.path.join(HERE, "expected_hashes.json")) as f:
        want = json.load(f)
    out = []
    for n in names:
        path = os.path.join(work, "out", n)
        if not os.path.isdir(path):
            out.append({"name": f"oracle.{n}", "attempted": 1, "failed": 1,
                        "detail": "no output"})
            continue
        got, rows = oracle.parquet_hash(path)
        bad = got != want[n]["hash"]
        out.append({"name": f"oracle.{n}", "attempted": 1, "failed": int(bad),
                    "detail": f"{rows} rows vs {want[n]['rows']} expected"})
    return out


def make_expected(cp, data, base):
    """Write expected_hashes.json from the DuckDB oracle SQL of every
    checked entry, run over the benchmark's own tables."""
    import oracle
    sql = os.path.join(base, "oracle_sql.json")
    if run_jvm(cp, ["--dump-oracle", sql], base, JVM_TIMEOUT_S) != 0:
        fail("could not dump the oracle SQL")
    oracle.make(data, sql, os.path.join(HERE, "expected_hashes.json"))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--make-expected", action="store_true")
    args = ap.parse_args()
    if not args.make_expected and None in (args.workload, args.seed, args.seconds):
        ap.error("--workload, --seed and --seconds are required")
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt")) and
            os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the repository root: the engine sources are missing")
    base = os.path.abspath(os.path.join(
        root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench"))
    os.makedirs(base, exist_ok=True)
    cp = build(root, base)
    data = data_dir(base)
    if args.make_expected:
        make_expected(cp, data, base)
        return
    t_start = time.time()
    # one work directory per run: fresh checkpoints, state stores and /tmp
    for old in glob.glob(os.path.join(base, "run-*")):
        shutil.rmtree(old, ignore_errors=True)
    work = os.path.join(base, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    raw_file = os.path.join(work, "raw.json")
    jvm_args = ["--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace),
                "--data", data, "--work", work,
                "--out", raw_file, "--cores", str(CORES)]
    rc = run_jvm(cp, jvm_args, work, JVM_TIMEOUT_S)
    if not os.path.exists(raw_file):
        fail(f"benchmark JVM exited {rc} without results; see {work}/jvm.log")
    with open(raw_file) as f:
        raw = json.load(f)
    checks = list(raw["checks"])
    if rc != 0:
        checks.append({"name": "jvm_exit", "attempted": 1, "failed": 1,
                       "detail": f"exit code {rc}"})
    info = {}
    metrics = {}
    try:
        with open(os.path.join(HERE, "expected_hashes.json")) as f:
            checked = sorted(json.load(f))
        if args.trace:
            checks += oracle_checks(work, checked)
            metrics = layer_metrics(raw, checks)
        else:
            metrics, info = e2e_metrics(raw, args.workload)
            if args.workload == "batch_registry":
                checks += oracle_checks(
                    work, [n for n in checked if n != "q_curation_funnel_stream"])
    except Exception as e:  # a result we cannot compute is a failed run
        checks.append({"name": "metrics", "attempted": 1, "failed": 1,
                       "detail": f"{type(e).__name__}: {e}"})
    attempted = max(1, sum(int(c["attempted"]) for c in checks))
    failed = sum(int(c["failed"]) for c in checks)
    for c in checks:
        if c["failed"]:
            print(f"FAILED {c['name']}: {c['detail']}", file=sys.stderr)
    if info.get("gen_late_ms_p99", 0) > 50:
        print(f"FLAGGED: generator fell behind its schedule "
              f"(p99 {info['gen_late_ms_p99']:.0f} ms late)", file=sys.stderr)
    for k, (v, u) in sorted(metrics.items()):
        print(f"{k} = {v:.6g} {u}")
    if info:
        print("info: " + json.dumps(info, default=str))
    print(f"wall_s = {time.time() - t_start:.1f}")
    print(json.dumps({
        "correct": failed == 0 and bool(metrics),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
