#!/usr/bin/env python3
"""graft benchmark: BFR on chunked points and the query registry.

Run from the root of a checkout:

    python3 perfbench/run.py --workload bfr_blobs --seed 1 --seconds 5 --trace 0

The first run in a checkout builds the program and the harness with sbt
(perfbench/build.sbt depends on the root build). BFR inputs are generated
from the seed by a separate JVM and cached per (workload, seed). Each
benchmark JVM (perfbench/src/.../Main.scala) sets the workload up, runs its
timed units and writes raw measurements; this script starts such processes
until their units add up to --seconds, checks the outputs and prints a
report, then one JSON line with the metrics named in BENCHMARK.json
(end-to-end with --trace 0, per-layer with --trace 1).
Everything it writes stays under .bench_build/ in the checkout. See
perfbench/README.md for what each metric means.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
OUT = os.path.join(ROOT, ".bench_build")
T_START = time.monotonic()
# A run must end within 180 s; keep a margin for the checks and the report.
RUN_DEADLINE_S = 170
BUILD_TIMEOUT_S = 700

WORKLOADS = {
    "bfr_blobs": "bfr",
    "registry_sf0.01": "registry",
    # not in BENCHMARK.json: one process takes 25-50 s (see Main.bfrSpecs)
    "bfr_wide_init": "bfr",
}
FAMILIES = ["Queries", "OlapQueries", "TextQueries", "MlQueries",
            "RetrievalQueries", "ImageQueries", "AudioQueries", "VideoQueries"]
WARM_FAMILIES = ["TextQueries", "MlQueries", "AudioQueries", "ImageQueries",
                 "VideoQueries"]
BFR_STEPS = ["chunk", "init", "absorb-rest", "absorb", "rs-checkpoint",
             "rs-recluster", "rs-spill", "finalize", "assigned-checkpoint"]

# Same JVM flags as the program's own build (build.sbt javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
HEAP = "4g"
# Timed units per registry process: their median damps the pass-to-pass
# noise of ~0.2 s queries at the cost of one more pass.
WARM_UNITS = 2


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log("perfbench: " + msg)
    sys.exit(code)


def remaining(deadline):
    return deadline - (time.monotonic() - T_START)


def run_proc(cmd, timeout, cwd=ROOT, env=None, stdout=None, stderr=None):
    """Runs cmd in its own process group; on timeout the whole group is
    killed and reaped, so no process outlives the benchmark."""
    if timeout <= 0:
        fail("out of time before: " + " ".join(cmd[:3]), 3)
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        raise


def java_base(tmp):
    flags = []
    for m in ADD_OPENS:
        flags += ["--add-opens", m + "=ALL-UNNAMED"]
    return (["java", "-Xmx" + HEAP, "-XX:-UsePerfData",
             "-Djava.io.tmpdir=" + tmp,
             "-Dderby.system.home=" + os.path.join(tmp, "derby"),
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + flags)


def source_hash():
    h = hashlib.sha256()
    for top in ("build.sbt", "project", "src", "perfbench/build.sbt",
                "perfbench/project", "perfbench/src"):
        for dirpath, dirnames, files in os.walk(os.path.join(ROOT, top)):
            dirnames[:] = sorted(d for d in dirnames if d not in ("target", "project"))
            for name in sorted(files) if files else []:
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
        if os.path.isfile(os.path.join(ROOT, top)):
            with open(os.path.join(ROOT, top), "rb") as f:
                h.update(top.encode() + f.read())
    return h.hexdigest()


def build():
    """Compiles the program and the harness (again only when a source or
    build file changed); returns the runtime classpath."""
    for need in ("build.sbt", "src/main/scala/graft", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail("not a graft checkout (missing %s); run from its root" % need)
    cp_file = os.path.join(OUT, "classpath.txt")
    stamp = source_hash()
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            old_stamp, cp = (f.read().split("\n", 1) + [""])[:2]
        if old_stamp == stamp:
            return cp.strip(), stamp
    tmp = os.path.join(OUT, "tmp", "sbt")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    # every JVM the sbt launcher starts, not just the one SBT_OPTS reaches
    env["JAVA_TOOL_OPTIONS"] = (env.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()
    env["SBT_OPTS"] = " ".join([
        env.get("SBT_OPTS", "-Dsbt.override.build.repos=true "
                "-Dsbt.repository.config=%s/.sbt/repositories -Dsbt.offline=true"
                % os.path.expanduser("~")),
        "-Xmx2g", "-XX:-UsePerfData", "-Dsbt.boot.lock=false",
        "-Dsbt.ivy.home=" + os.path.join(OUT, "ivy"), "-Djava.io.tmpdir=" + tmp,
        "-Djna.tmpdir=" + tmp, "-Dsbt.server.autostart=false"])
    log_path = os.path.join(OUT, "build.log")
    t0 = time.monotonic()
    with open(log_path, "w") as out:
        rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                       "export Runtime/fullClasspath"],
                      BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=out,
                      stderr=subprocess.STDOUT)
    with open(log_path) as f:
        lines = [l.strip() for l in f if l.strip()]
    cps = [l for l in lines if not l.startswith("[") and os.pathsep in l
           and "perfbench" in l]
    if rc != 0 or not cps:
        fail("build failed (exit %d); see %s" % (rc, log_path), 3)
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cps[-1])
    log("perfbench: built in %.1f s" % (time.monotonic() - t0))
    return cps[-1], stamp


def ensure_data(workload, seed, cp, stamp):
    """Seeded BFR input, generated once per (workload, seed) and reused
    while the sources are unchanged; returns (dir, generation seconds or
    None when reused)."""
    root = os.path.join(OUT, "data")
    d = os.path.join(root, "%s-s%d" % (workload, seed))
    done = os.path.join(d, "DONE")
    if os.path.exists(done):
        with open(done) as f:
            if f.read() == stamp:
                return d, None
    os.makedirs(root, exist_ok=True)
    # keep disk use bounded: one cached input per workload besides this one
    stale = sorted((os.path.join(root, n) for n in os.listdir(root)
                    if n.startswith(workload + "-s")), key=os.path.getmtime)
    for old in stale[:-1] if stale else []:
        shutil.rmtree(old, ignore_errors=True)
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.monotonic()
    rc = run_proc(java_base(tmp) + ["-cp", cp, "graft.perfbench.Main", "gen",
                                    "--workload", workload, "--seed", str(seed),
                                    "--dir", tmp],
                  remaining(RUN_DEADLINE_S))
    if rc != 0:
        fail("input generation failed (exit %d)" % rc, 3)
    gen_s = time.monotonic() - t0
    with open(os.path.join(tmp, "DONE"), "w") as f:
        f.write(stamp)
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return d, gen_s


def run_jvm(workload, jvm_workload, data, units, trace, cp):
    """One benchmark process: setup, then `units` timed units."""
    work = os.path.join(OUT, "run", workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out = os.path.join(work, "result.json")
    cmd = java_base(tmp) + [
        "-cp", cp, "graft.perfbench.Main", "run", "--workload", jvm_workload,
        "--units", str(units), "--trace", "1" if trace else "0", "--data", data, "--work", work,
        "--out", out, "--cpus", str(os.cpu_count() or 1),
        "--launch-ms", repr(time.time() * 1000.0)]
    with open(os.path.join(work, "jvm.log"), "w") as jlog:
        rc = run_proc(cmd, remaining(RUN_DEADLINE_S), stdout=jlog,
                      stderr=subprocess.STDOUT)
    if rc != 0 or not os.path.exists(out):
        fail("benchmark JVM failed (exit %d); see %s" % (rc, jlog.name), 4)
    with open(out) as f:
        res = json.load(f)
    res["spans"] = []
    if trace:
        with open(out + ".spans.jsonl") as f:
            res["spans"] = [json.loads(l) for l in f if l.strip()]
    return res


# ---------------------------------------------------------------- checks

def mix64(x):
    """splitmix64 finaliser: spreads (id, cluster) pairs over 64 bits."""
    x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    return x ^ (x >> 31)


def no_duplicate_keys(pairs):
    d = dict(pairs)
    if len(d) != len(pairs):
        raise ValueError("an id appears more than once")
    return d


def check_bfr(res, data, truth):
    """Output checks of FIXTURES.md section 3 on one process's outputs;
    returns (problems, order-free fingerprint)."""
    problems = []
    chunks = len(os.listdir(os.path.join(data, "chunks")))
    try:
        with open(res["outputs"]["assignments"]) as f:
            assign = json.load(f, object_pairs_hook=no_duplicate_keys)
    except ValueError as e:
        return ["assignments: %s" % e], None
    if assign.keys() != truth.keys():
        problems.append("assignments: %d ids for %d input points (%d missing, %d extra)" % (
            len(assign), len(truth), len(truth.keys() - assign.keys()),
            len(assign.keys() - truth.keys())))
    with open(res["outputs"]["round_stats"]) as f:
        stats_text = f.read()
    rows = [l.split(",") for l in stats_text.strip().split("\n")]
    header, rows = rows[0], [[int(x) for x in r] for r in rows[1:]]
    if header != ["round_id", "nof_cluster_discard", "nof_point_discard",
                  "nof_cluster_compression", "nof_point_compression",
                  "nof_point_retained"]:
        problems.append("round stats: unexpected header %s" % header)
    if [r[0] for r in rows] != list(range(1, chunks + 1)):
        problems.append("round stats: rounds %s for %d chunks" % ([r[0] for r in rows], chunks))
    if any(b[2] < a[2] for a, b in zip(rows, rows[1:])):
        problems.append("round stats: nof_point_discard decreases")
    if rows:
        last = rows[-1]
        outliers = sum(1 for v in assign.values() if v == -1)
        if last[5] != outliers:
            problems.append("round stats: final retained %d but %d ids labelled -1"
                            % (last[5], outliers))
        if last[2] + last[4] + last[5] != len(truth):
            problems.append("round stats: discard+compression+retained %d for %d points"
                            % (last[2] + last[4] + last[5], len(truth)))
    fp = 0
    for k, v in assign.items():
        fp = (fp + mix64((int(k) << 8) ^ (v + 1))) & 0xFFFFFFFFFFFFFFFF
    return problems, "assignments=%016x stats=%s" % (
        fp, hashlib.sha256(stats_text.encode()).hexdigest()[:16])


def check_registry(res, workload):
    """Failed queries are counted by the JVM; a traced process also records
    per-query (rows, wrapping sum of xxhash64) fingerprints."""
    fp = res.get("fingerprints") or []
    if not fp:
        return [], None
    with open(os.path.join(OUT, "run", workload, "fingerprints.tsv"), "w") as f:
        for q, n, h in fp:
            f.write("%s\t%d\t%s\n" % (q, n, h))
    return [], "queries=%d digest=%s" % (
        len(fp), hashlib.sha256(json.dumps(fp).encode()).hexdigest()[:16])


# ----------------------------------------------------------------- stats

def pctl(xs, p):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, -(-p * len(s) // 100) - 1))]


def timing(xs):
    """Median, plus the highest whole percentile with >= 10 samples above it."""
    out = {"n": len(xs), "p50": statistics.median(xs)}
    p = int(100 - 1000.0 / len(xs))
    if p > 50:
        out["p%d" % p] = pctl(xs, p)
    return out


def fmt_timing(name, unit, t):
    extra = "".join("  %s=%.4f" % (k, v) for k, v in t.items() if k not in ("n", "p50"))
    return "%-18s %10.4f %-5s (median of %d%s)" % (name, t["p50"], unit, t["n"], extra)


def end_to_end(results, kind):
    units = [u for r in results for u in r["units"]]
    walls = [u["wall_s"] for u in units]
    heaps = [u["heap_mb"] for u in units]
    setups = [r["setup_s"] for r in results]
    m = {"setup_s": statistics.median(setups), "wall_s": statistics.median(walls),
         "heap_retained_mb": statistics.median(heaps)}
    report = [fmt_timing("setup_s", "s", timing(setups)),
              fmt_timing("wall_s", "s", timing(walls))]
    if kind == "bfr":
        init = [u["rounds"][0] for u in units]
        steady = [x for u in units for x in u["rounds"][1:]]
        m["step_p50_s"] = statistics.median(steady)
        report += [fmt_timing("init_s", "s", timing(init)),
                   fmt_timing("round_p50_s", "s", timing(steady))]
    else:
        qs = [q[2] for u in units for q in u["queries"]]
        m["step_p50_s"] = statistics.median(qs)
        report += [fmt_timing("query_p50_s", "s", timing(qs)),
                   "%-18s %10.4f s     (nearest rank of %d; see query_p50_s for the "
                   "percentile the sample supports)" % ("query_p95_s", pctl(qs, 95), len(qs))]
    report.append(fmt_timing("heap_retained_mb", "MB", timing(heaps)))
    return m, report


def per_layer(res):
    """Per-layer metrics of one traced process, from its spans."""
    spans = res["spans"]
    cores = res["cores"]
    by_id = {s["id"]: s for s in spans}
    unit = next(s for s in spans if s["name"] == "unit")

    def dur(s):
        return (s["end"] - s["start"]) / 1000.0

    def total(pred, key=None):
        return sum(dur(s) if key is None else s["counts"][key] for s in spans if pred(s))

    m = {}
    for k in ("jobs", "stages", "tasks", "analysis_ms", "optimization_ms",
              "planning_ms", "sched_gap_s", "task_s", "gc_s", "shuffle_bytes",
              "spill_bytes", "core_util"):
        m["spark." + k] = unit["counts"][k]
    for step in BFR_STEPS:
        is_step = lambda s, st=step: s["name"] == "bfr.step" and s["attrs"]["step"] == st
        w = total(is_step)
        ts = total(is_step, "task_s")
        m["bfr.%s.wall_s" % step] = w
        m["bfr.%s.jobs" % step] = total(is_step, "jobs")
        m["bfr.%s.task_s" % step] = ts
        m["bfr.%s.core_util" % step] = ts / (w * cores) if w > 0 else 0.0
    m["bfr.run_s"] = total(lambda s: s["name"] == "bfr.run")
    m["sources.probe_s"] = total(lambda s: s["name"] == "sources.read")
    m["sources.probe_jobs"] = total(lambda s: s["name"] == "sources.read", "jobs")
    m["sources.sink_json_s"] = total(lambda s: s["name"] == "sources.sink_json")
    m["sources.sink_csv_s"] = total(lambda s: s["name"] == "sources.sink_csv")
    m["eval.nmi_s"] = total(lambda s: s["name"] == "eval.nmi")
    warm = {}
    for fam, _, sec in res.get("warm", []):
        warm[fam] = warm.get(fam, 0.0) + sec
    for fam in FAMILIES:
        of_fam = lambda s, f=fam: by_id.get(s["parent"], {}).get("attrs", {}).get("family") == f
        for part in ("build", "exec"):
            is_part = lambda s, p=part, o=of_fam: s["name"] == p and o(s)
            m["%s.%s_s" % (fam, part)] = total(is_part)
            m["%s.%s_jobs" % (fam, part)] = total(is_part, "jobs")
        is_q = lambda s, f=fam: s["name"] == "query" and s["attrs"]["family"] == f
        m["%s.plan_ms" % fam] = sum(total(is_q, k) for k in
                                    ("analysis_ms", "optimization_ms", "planning_ms"))
        m["%s.task_s" % fam] = total(is_q, "task_s")
        if fam in WARM_FAMILIES:
            m["%s.warm_s" % fam] = warm.get(fam, 0.0)
    return m


def self_time(res):
    """Self time per layer (span minus its children) inside the traced unit,
    plus the unit's own self time as `unattributed`; they sum to the unit's
    wall."""
    spans = res["spans"]
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    by_id = {s["id"]: s for s in spans}
    unit = next(s for s in spans if s["name"] == "unit")

    def dur(s):
        return (s["end"] - s["start"]) / 1000.0

    def self_of(s):
        return dur(s) - sum(dur(c) for c in children.get(s["id"], []))

    def layer(s):
        if s["name"] == "bfr.step":
            return "bfr." + s["attrs"]["step"]
        if s["name"] == "query":
            return s["attrs"]["family"] + ".query"
        if s["name"] in ("build", "exec"):
            return by_id[s["parent"]]["attrs"]["family"] + "." + s["name"]
        return s["name"]

    acc = {"unattributed": self_of(unit)}
    stack = list(children.get(unit["id"], []))
    while stack:
        s = stack.pop()
        acc[layer(s)] = acc.get(layer(s), 0.0) + self_of(s)
        stack.extend(children.get(s["id"], []))
    assert abs(sum(acc.values()) - dur(unit)) < 1e-6
    return dur(unit), acc


# ------------------------------------------------------------------ main

def unit_of(name):
    if name == "heap_retained_mb":
        return "MB"
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_bytes", "bytes"),
                         ("core_util", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    kind = WORKLOADS[a.workload]

    cp, stamp = build()
    global T_START
    T_START = time.monotonic()  # the build belongs to the checkout, not the run
    gen_s, truth = None, None
    if kind == "bfr":
        data, gen_s = ensure_data(a.workload, a.seed, cp, stamp)
        with open(os.path.join(data, "truth.json")) as f:
            truth = json.load(f)
    else:
        data = os.path.join(BENCH, "data", a.workload.split("_", 1)[1])
    jvm_workload = a.workload if kind == "bfr" else "registry"

    # Untraced: processes until their units add up to --seconds; a BFR
    # process runs one cold unit, a registry process WARM_UNITS warm ones.
    # Traced: one untraced and one traced process of one unit each.
    units = 1 if kind == "bfr" or a.trace else WARM_UNITS
    results, problems, prints = [], [], set()
    while True:
        traced = a.trace == 1 and len(results) == 1
        res = run_jvm(a.workload, jvm_workload, data, units, traced, cp)
        if kind == "bfr":
            p, fp = check_bfr(res, data, truth)
        else:
            p, fp = check_registry(res, a.workload)
        problems += p
        if fp and kind == "bfr":
            prints.add(fp)
        res["fingerprint"] = fp
        results.append(res)
        if a.trace == 1:
            if len(results) == 2:
                break
        elif sum(u["wall_s"] for r in results for u in r["units"]) >= a.seconds:
            break
    if len(prints) > 1:
        problems.append("outputs differ between processes: %s" % sorted(prints))

    plain = [r for r in results if not r["traced"]]
    attempted = sum(u["attempted"] for r in results for u in r["units"])
    failures = [f for r in results for u in r["units"] for f in u["failed"]]
    failed = len(failures) + len(problems)

    print("workload %s seed %d: %d cores, %d processes (%d traced)" % (
        a.workload, a.seed, results[0]["cores"], len(results),
        sum(1 for r in results if r["traced"])))
    if gen_s is not None:
        print("input generation  %10.4f s (not part of setup_s)" % gen_s)
    for r in results:
        s = r["setup"]
        print("setup parts: jvm_start %.3f s, session %.3f s, workload %.3f s" % (
            s["jvm_start_s"], s["session_s"], s["workload_s"]))
    m, report = end_to_end(plain, kind)
    for line in report:
        print(line)
    if kind == "bfr":
        print("%-18s %10.6f" % ("nmi", results[0]["nmi"]))
    print("%-18s %10.6f (%d of %d operations)" % (
        "failed_frac", failed / float(attempted), failed, attempted))
    for f in failures + problems:
        print("  FAILED: " + f)
    for r in results:
        if r["fingerprint"]:
            print("fingerprint: " + r["fingerprint"])
    if kind == "bfr":
        with open(results[-1]["outputs"]["round_stats"]) as f:
            print("round stats:\n  " + f.read().strip().replace("\n", "\n  "))

    if a.trace:
        tr = next(r for r in results if r["traced"])
        m = per_layer(tr)
        m["trace.overhead_s"] = tr["units"][0]["wall_s"] - plain[0]["units"][0]["wall_s"]
        wall, acc = self_time(tr)
        print("self time in the traced unit (layers + unattributed = wall_s %.4f s):" % wall)
        for k, v in sorted(acc.items(), key=lambda kv: -kv[1]):
            print("  %-28s %9.4f s" % (k, round(v, 4) + 0.0))
        print("tracing overhead: %.4f s (traced minus untraced wall_s)"
              % m["trace.overhead_s"])
        print("spans: %s" % os.path.join(OUT, "run", a.workload, "result.json.spans.jsonl"))

    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in m.items()}}))


if __name__ == "__main__":
    main()
