#!/usr/bin/env python3
"""The repo's benchmark: the reference DAG end to end, beside analyst and
retrieval traffic. See perfbench/README.md for workloads and metrics.

Usage (from the repo root):
  python3 perfbench/run.py --workload dag_daily --seed 1 --seconds 10 --trace 0

One run builds the engine plus harness if its sources changed, generates
seeded inputs (untimed), runs one closed-loop workload in its own
local[nproc] JVM, checks every op's output against the DuckDB oracle in
SparkEntry.oracleSql through tools/check.py, and prints one line per
metric followed by a JSON result line. Exit code 0 only when every op
attempt succeeded and matched its oracle.
"""
import argparse
import contextlib
import hashlib
import io
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # importing tools/check.py writes nothing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

WORKLOADS = ("dag_daily", "serve_mix", "analyst_mix", "retrieval_serve")

# Input sizes. dag_daily gets one fresh documents snapshot per DAG run;
# the other workloads reuse one snapshot for every op.
DAG_DOCS = 200
ANALYST_SCALE = 0.01
RETRIEVAL_DOCS = 1000
RETRIEVAL_VECS = 500
TINY_SCALE = 0.001

BUILD_TIMEOUT_S = 850
ENGINE_TIMEOUT_S = 150  # leaves the oracle checks time inside 180 s
# A fixed heap and young generation: with adaptive sizing the peak RSS of
# identical runs spread by a third.
JVM_HEAP = ["-Xms3g", "-Xmx3g", "-Xmn1g"]
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

END_TO_END_UNITS = {"setup_s": "s", "first_op_s": "s", "op_p50_s": "s",
                    "op_tail_s": "s", "ops_per_s": "1/s",
                    "docs_per_s": "docs/s", "fail_frac": "ratio",
                    "peak_rss_mb": "MB"}
WORK = os.path.join(HERE, ".work")


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


_children = []


def _stop_children(signum, _frame):
    """Stops the build or engine process before exiting on a signal."""
    for p in _children:
        if p.poll() is None:
            p.kill()
            p.wait()
    raise SystemExit(128 + signum)


def spawn(cmd, **kw):
    p = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, **kw)
    _children.append(p)
    return p


# ---------------------------------------------------------------- build

def _source_files():
    roots = [os.path.join(ROOT, "src", "main", "scala"),
             os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for dp, _, fns in os.walk(r):
            files += [os.path.join(dp, f) for f in fns if f.endswith(".scala")]
    return sorted(files)


def _stamp():
    h = hashlib.sha256()
    for f in _source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles engine + harness with sbt when sources changed; returns
    the runtime classpath."""
    target = os.path.join(HERE, "target")
    stamp_f = os.path.join(target, "perfbench.stamp")
    cp_f = os.path.join(target, "perfbench.classpath")
    stamp = _stamp()
    if os.path.exists(stamp_f) and os.path.exists(cp_f):
        with open(stamp_f) as fh:
            if fh.read() == stamp:
                with open(cp_f) as fh2:
                    return fh2.read()
    os.makedirs(target, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    log("building engine + harness with sbt")
    t0 = time.time()
    with open(os.path.join(target, "build.log"), "w") as out:
        p = spawn(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                   "export Runtime/fullClasspath"],
                  cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"build exceeded {BUILD_TIMEOUT_S} s")
    with open(os.path.join(target, "build.log")) as fh:
        lines = fh.read().splitlines()
    cps = [ln for ln in lines if "scala-2.13" in ln and ln.startswith("/")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit("build failed")
    with open(cp_f, "w") as fh:
        fh.write(cps[-1].strip())
    with open(stamp_f, "w") as fh:
        fh.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cps[-1].strip()


# --------------------------------------------------------------- inputs

def make_inputs(workload, seed, inp, seconds):
    """Seeded inputs for one run (untimed), under inp/base or, for
    dag_daily, one inp/day_NNN directory per DAG run."""
    # a run makes at least two DAG runs (three when traced), and a warm
    # one takes over 10 s
    snapshots = 3 + math.ceil(seconds / 10)
    base = os.path.join(inp, "base")
    if workload == "dag_daily":
        gen.generate(base, seed, TINY_SCALE, DAG_DOCS, 500)
        for day in range(snapshots):
            d = os.path.join(inp, f"day_{day:03d}")
            os.makedirs(d)
            for t in gen.TABLES:
                if t != "documents":
                    os.link(os.path.join(base, f"{t}.parquet"),
                            os.path.join(d, f"{t}.parquet"))
            gen.write(gen.documents_table(seed, DAG_DOCS, f"documents/{day}"),
                      os.path.join(d, "documents.parquet"))
    else:
        gen.generate(base, seed, ANALYST_SCALE, RETRIEVAL_DOCS, RETRIEVAL_VECS)


# ---------------------------------------------------------------- engine

def java_cmd(cp, main_args):
    """The JVM command line for perfbench.Main."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    return [java, *[f"--add-opens={p}=ALL-UNNAMED" for p in JDK17_OPENS],
            *JVM_HEAP, "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main", *main_args]


def run_jvm(cp, workload, inp, out, seconds, trace, extra):
    cmd = java_cmd(cp, ["--workload", workload, "--input", inp, "--out", out,
                        "--seconds", str(seconds), "--trace", str(trace),
                        *extra])
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "jvm.log"), "w") as err:
        proc = spawn(cmd, cwd=out, stdout=subprocess.PIPE, stderr=err,
                     text=True)
        try:
            stdout, _ = proc.communicate(timeout=ENGINE_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"engine run exceeded {ENGINE_TIMEOUT_S} s")
    sys.stdout.write(stdout)
    res_f = os.path.join(out, "result.json")
    if proc.returncode != 0 or not os.path.exists(res_f):
        with open(os.path.join(out, "jvm.log")) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        raise SystemExit(f"engine exited with {proc.returncode}")
    with open(res_f) as fh:
        return json.load(fh)


# ---------------------------------------------------------------- oracle

def oracle_check(input_dir, out_dir, query, sql):
    """Compares <out_dir>/<query> with the oracle through tools/check.py."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check  # the repo's DuckDB compare, reused as is
    with open(os.path.join(out_dir, "oracle_sql.json"), "w") as fh:
        json.dump({query: sql}, fh)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = check.main(input_dir, out_dir, re.escape(query))
    verdict = next((ln for ln in buf.getvalue().splitlines()
                    if ln.startswith(("PASS ", "FAIL "))),
                   f"FAIL {query}: no oracle")
    return rc == 0 and verdict.startswith("PASS "), verdict


def check_outputs(res):
    """Checks every query once per run, on its last successful output (for
    dag_daily, the last completed DAG run: the one most exposed to state
    left by earlier runs). A mismatch fails every attempt of that query,
    since attempts differ only in what ran before them.
    Returns (ids of failed ops, check spans, checked queries)."""
    ops = res["ops"]
    oracle = res["oracle_sql"]
    failed = {o["id"] for o in ops if o.get("error")}
    spans = []
    checked = set()
    bad_queries = set()
    last = {}
    for o in ops:
        if not o.get("error"):
            for s in o["stages"]:
                last[s["query"]] = (o, s)
    for o, s in last.values():
        t0 = time.time()
        ok, verdict = oracle_check(s["input"], os.path.dirname(s["out"]),
                                   s["query"], oracle.get(s["query"], ""))
        spans.append({"kind": "check", "name": s["query"], "op": o["id"],
                      "start_s": t0, "end_s": time.time(), "ok": ok})
        checked.add(s["query"])
        if not ok:
            print(f"[check] {verdict} (op {o['id']})")
            failed.add(o["id"])
            bad_queries.add(s["query"])
    for o in ops:
        if any(s["query"] in bad_queries for s in o["stages"]):
            failed.add(o["id"])
    log(f"oracle: {len(spans)} checks over {len(checked)} queries, "
        f"{len(bad_queries)} mismatched")
    return failed, spans, checked


# --------------------------------------------------------------- metrics

def tail_percentile(n):
    """Highest whole percentile with at least 10 samples beyond it."""
    if n < 20:
        return None
    return math.floor(100 * (1 - 10 / n))


def end_to_end(res, failed):
    """End-to-end metrics, and the note printed beside op_tail_s."""
    ops = res["ops"]
    walls = [o["wall_s"] for o in ops]
    warm = walls[1:] or walls
    timed = ops[-1]["end_s"] - ops[0]["start_s"]
    m = {"setup_s": res["setup_s"], "first_op_s": walls[0],
         "op_p50_s": statistics.median(warm),
         "ops_per_s": len(ops) / timed,
         "fail_frac": len(failed) / len(ops),
         "peak_rss_mb": res["peak_rss_kb"] / 1024.0}
    p = tail_percentile(len(warm))
    note = "fewer than 20 warm ops"
    if p is not None:
        m["op_tail_s"] = statistics.quantiles(warm, n=100,
                                              method="inclusive")[p - 1]
        note = f"p{p} of {len(warm)} warm ops"
    if res["workload"] == "dag_daily":
        done = sum(1 for o in ops if o["id"] not in failed)
        m["docs_per_s"] = DAG_DOCS * done / timed
    return m, note


def _union(intervals):
    total, end = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def op_kind(op):
    return "+".join(s["query"] for s in op["stages"])


def spans_of(op):
    """op -> call/exec -> job spans of one traced op."""
    oid = op["id"]
    spans = [{"id": oid, "parent": None, "kind": "op", "op": oid,
              "name": op_kind(op),
              "start_s": op["start_s"], "end_s": op["end_s"]}]
    for s in op["stages"]:
        c0 = s["call_start_s"]
        c1 = c0 + s["call_s"]
        for kind, a, b in (("call", c0, c1), ("exec", c1, c1 + s["exec_s"])):
            spans.append({"id": f"{oid}/{s['query']}/{kind}", "parent": oid,
                          "kind": kind, "op": oid, "name": s["query"],
                          "module": s["module"], "start_s": a, "end_s": b})
    kids = [sp for sp in spans if sp["parent"] == oid]
    for j in op["counters"]["jobs"]:
        a, b = j["start_ms"] / 1e3, max(j["end_ms"], j["start_ms"]) / 1e3
        # parent: the call/exec span the job overlaps most
        par = max(kids, key=lambda k: min(b, k["end_s"]) - max(a, k["start_s"]))
        spans.append({"id": f"{oid}/job-{j['job_id']}", "parent": par["id"],
                      "kind": "job", "op": oid, "name": f"job {j['job_id']}",
                      "prop_op": j.get("prop_op"), "start_s": a, "end_s": b})
    return spans


def self_times(spans):
    """Self time per span: its own interval, clipped to its parent, minus
    the part covered by its children. Overlapping sibling jobs are counted
    once, by the one that started first."""
    by_id = {s["id"]: s for s in spans}
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def clip(s):
        p = by_id.get(s["parent"])
        a, b = s["start_s"], s["end_s"]
        if p is not None:
            pa, pb = clip(p)
            a, b = max(a, pa), min(b, pb)
        return a, max(a, b)

    out = {}
    for s in spans:
        a, b = clip(s)
        earlier = [clip(k) for k in kids.get(s["parent"], [])
                   if k["kind"] == "job" and s["kind"] == "job"
                   and (k["start_s"], k["id"]) < (s["start_s"], s["id"])]
        own = _union([(a, b)] + earlier) - _union(earlier) if earlier else b - a
        ch = [clip(k) for k in kids.get(s["id"], [])]
        out[s["id"]] = own - _union(ch)
    return out


def layer_of(span):
    return {"op": "op.glue_s", "call": "call.driver_s",
            "exec": "exec.driver_s", "job": "jobs_s"}[span["kind"]]


def per_layer(res, cpus):
    """Per-layer numbers of the traced rounds: per op kind (mean over its
    traced attempts) and per workload (summed over one round)."""
    traced = [o for o in res["ops"] if o["traced"] and not o.get("error")]
    if not traced:
        return {}, {}, []
    rows = {}
    spans = []
    for o in traced:
        sp = spans_of(o)
        spans += sp
        st = self_times(sp)
        wall = o["wall_s"]
        jobs = [(s["start_s"], s["end_s"]) for s in sp if s["kind"] == "job"]
        op_a, op_b = o["start_s"], o["end_s"]
        job_union = _union([(max(a, op_a), min(b, op_b)) for a, b in jobs
                            if min(b, op_b) > max(a, op_a)])
        c = o["counters"]
        r = {"wall_s": wall,
             "call_s": sum(s["call_s"] for s in o["stages"]),
             "exec_s": sum(s["exec_s"] for s in o["stages"]),
             "plan.analysis_ms": c["plan_analysis_ms"],
             "plan.optimizer_ms": c["plan_optimizer_ms"],
             "plan.physical_ms": c["plan_physical_ms"],
             "plan.rules_ms": c["plan_rules_ns"] / 1e6,
             "sched.jobs": len(c["jobs"]),
             "sched.stages": c["stages_run"],
             "sched.tasks": c["tasks"],
             "sched.single_task_stages": c["single_task_stages"],
             "driver.gap_s": wall - job_union,
             "exec.run_s": c["exec_run_ms"] / 1e3,
             "exec.cpu_s": c["exec_cpu_ns"] / 1e9,
             "exec.gc_s": c["exec_gc_ms"] / 1e3,
             "scan.bytes": c["scan_bytes"],
             "scan.records": c["scan_records"],
             "shuffle.write_bytes": c["shuffle_write_bytes"],
             "shuffle.read_bytes": c["shuffle_read_bytes"],
             "shuffle.fetch_wait_s": c["shuffle_fetch_wait_ms"] / 1e3,
             "spill.bytes": c["spill_bytes"],
             "sink.write_s": c["sink_commit_ms"] / 1e3,
             "sink.bytes": c["sink_bytes"],
             "cache.storage_bytes": o["cache_storage_bytes"]}
        for layer in ("op.glue_s", "call.driver_s", "exec.driver_s",
                      "jobs_s"):
            r["self." + layer] = 0.0
        for s in sp:
            s["self_s"] = st[s["id"]]
            r["self." + layer_of(s)] += s["self_s"]
        for s in o["stages"]:
            key = f"{s['module']}.{s['query']}"
            r[key + ".call_s"] = r.get(key + ".call_s", 0.0) + s["call_s"]
            r[key + ".exec_s"] = r.get(key + ".exec_s", 0.0) + s["exec_s"]
        rows.setdefault(op_kind(o), []).append(r)
    per_kind = {k: {m: statistics.fmean(r[m] for r in rs) for m in rs[0]}
                for k, rs in rows.items()}
    total = {}
    for k in per_kind.values():
        for m, v in k.items():
            total[m] = total.get(m, 0.0) + v
    total["sched.single_task_stage_frac"] = (
        total["sched.single_task_stages"] / total["sched.stages"]
        if total["sched.stages"] else 0.0)
    total["exec.busy_frac"] = total["exec.run_s"] / (total["wall_s"] * cpus)
    untraced = [o["wall_s"] for o in res["ops"]
                if not o["traced"] and o["round"] > 0 and not o.get("error")]
    traced_w = [o["wall_s"] for o in traced]
    total["trace.overhead_frac"] = (
        statistics.median(traced_w) / statistics.median(untraced) - 1
        if untraced else float("nan"))
    return per_kind, total, spans


PER_LAYER_UNITS = {
    "call_s": "s", "exec_s": "s", "plan.analysis_ms": "ms",
    "plan.optimizer_ms": "ms", "plan.physical_ms": "ms", "plan.rules_ms": "ms",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.single_task_stage_frac": "ratio", "driver.gap_s": "s",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
    "exec.busy_frac": "ratio", "scan.bytes": "bytes",
    "scan.records": "count", "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes", "shuffle.fetch_wait_s": "s",
    "spill.bytes": "bytes", "sink.write_s": "s", "sink.bytes": "bytes",
    "cache.storage_bytes": "bytes", "trace.overhead_frac": "ratio"}


def unit_of(name):
    if name in PER_LAYER_UNITS:
        return PER_LAYER_UNITS[name]
    return "s" if name.endswith("_s") else "count"


# ------------------------------------------------------------------ main

def gated_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        b = json.load(fh)
    return [m["name"] for m in b["end_to_end"]], \
        [m["name"] for m in b["per_layer"]]


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject", default=None,
                    help="fail:<query> or wrong:<query> (harness tests)")
    a = ap.parse_args(argv)
    signal.signal(signal.SIGTERM, _stop_children)
    signal.signal(signal.SIGINT, _stop_children)

    for need in (os.path.join(ROOT, "src", "main", "scala", "graft",
                              "SparkEntry.scala"),
                 os.path.join(ROOT, "tools", "check.py"),
                 os.path.join(ROOT, "BENCHMARK.json")):
        if not os.path.exists(need):
            sys.stderr.write(f"perfbench: missing {os.path.relpath(need, ROOT)}"
                             " - run from the root of a full checkout\n")
            return 2
    e2e_names, layer_names = gated_names()
    cp = build()

    run_dir = os.path.join(WORK, f"{a.workload}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inp = os.path.join(run_dir, "input")
    out = os.path.join(run_dir, "out")
    try:
        t0 = time.time()
        make_inputs(a.workload, a.seed, inp, a.seconds)
        t1 = time.time()
        extra = ["--inject", a.inject] if a.inject else []
        res = run_jvm(cp, a.workload, inp, out, a.seconds, a.trace, extra)
        t2 = time.time()
        failed, check_spans, checked = check_outputs(res)
        log(f"run phases: inputs {t1 - t0:.1f} s (seed {a.seed}), engine "
            f"{t2 - t1:.1f} s, oracle {time.time() - t2:.1f} s")
        for o in res["ops"]:
            if o.get("error"):
                log(f"failed {o['id']}: {o['error']}")
        e2e, tail_note = end_to_end(res, failed)
        log(f"workload {a.workload}: {len(res['ops'])} ops, "
            f"{len(failed)} failed, host calib before "
            f"{res['calib_before_s']:.3f} s / after {res['calib_after_s']:.3f} s"
            " (graft.Bench.calibOnce, context only)")
        for k in ("setup_s", "first_op_s", "op_p50_s", "op_tail_s",
                  "ops_per_s", "docs_per_s", "fail_frac", "peak_rss_mb"):
            note = f"  ({tail_note})" if k == "op_tail_s" else ""
            if k in e2e:
                print(f"metric {k} = {e2e[k]:.6g} {END_TO_END_UNITS[k]}{note}")
            elif k == "op_tail_s":
                print(f"metric op_tail_s omitted{note}")
        if a.trace:
            per_kind, total, spans = per_layer(res, res["cpus"])
            for kind, row in sorted(per_kind.items()):
                for m, v in sorted(row.items()):
                    print(f"layer {kind} {m} = {v:.6g} {unit_of(m)}")
            for m, v in sorted(total.items()):
                print(f"layer workload {m} = {v:.6g} {unit_of(m)}")
            trace_dir = os.path.join(WORK, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            trace_f = os.path.join(trace_dir, f"{a.workload}-seed{a.seed}.json")
            with open(trace_f, "w") as fh:
                json.dump({"workload": a.workload, "seed": a.seed,
                           "spans": spans + check_spans,
                           "per_op": per_kind, "per_workload": total}, fh,
                          indent=1)
            log(f"trace written to {os.path.relpath(trace_f, ROOT)}")
            metrics = {n: {"value": total[n], "unit": unit_of(n)}
                       for n in layer_names}
        else:
            metrics = {n: {"value": e2e[n], "unit": END_TO_END_UNITS[n]}
                       for n in e2e_names}
        correct = not failed and checked == set(res["oracle_sql"])
        print(json.dumps({"correct": correct, "attempted": len(res["ops"]),
                          "failed": len(failed), "metrics": metrics}))
        return 0 if correct else 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
