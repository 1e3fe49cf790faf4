#!/usr/bin/env python3
"""Paired A/B benchmark of two revisions on one perfbench workload.

Run from the root of a checkout:

    python3 tools/ab_pairs.py --parent HEAD~1 --workload bfr_blobs --pairs 10

Each side is built in its own fresh checkout of its revision, unpacked
with `git archive` into a new temporary directory (under $TMPDIR, /tmp by
default) that is removed at the end. sbt's boot socket goes to a short
directory under /tmp (XDG_RUNTIME_DIR), so the checkouts may sit at any
depth. Copies of an already-built checkout share incremental-compile
state with it; fresh checkouts build from source exactly as the
benchmark does. Pair i runs

    python3 perfbench/run.py --workload W --seed S+i --seconds R --trace 0

once on each side (R is BENCHMARK.json's run_seconds), alternating which
side goes first, and the script prints, per end-to-end metric in
BENCHMARK.json, each side's median and quartiles, the change/parent
ratio, how many pairs the change won, and whether its median beats the
parent's by more than the parent's interquartile range. It also reports
whether the output fingerprints, NMI and failed_frac agree within every
pair. Every run's exit code and elapsed seconds are logged; a failed
run also logs the last 5 lines of its stderr (run.py exits 3 when the
build fails, 4 when the benchmark JVM fails, and 1 on an uncaught
exception, such as a JVM that outlived its deadline), and the slowest
run of each side is printed at the end.

The change side is the working tree: HEAD when it is clean, otherwise a
`git stash create` snapshot of tracked files (stage new files with
`git add` first). Standard library only.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def git(*args):
    return subprocess.run(["git"] + list(args), check=True,
                          capture_output=True, text=True).stdout.strip()


def change_rev():
    rev = git("stash", "create")
    return (rev, "working tree") if rev else (git("rev-parse", "HEAD"), "HEAD")


def checkout(rev, path):
    os.makedirs(path)
    archive = subprocess.Popen(["git", "archive", "--format=tar", rev],
                               stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", path], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        raise RuntimeError("git archive %s failed" % rev)


def bench(side_dir, workload, seed, seconds, socket_dir):
    """One perfbench run; returns its metrics and the lines that describe
    its outputs (fingerprints, nmi, failed_frac)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    # sbt binds its boot socket (sbt-load.sock) under $XDG_RUNTIME_DIR, or
    # else under java.io.tmpdir, which run.py points inside the checkout;
    # unix socket paths are limited to ~107 bytes, so a deep checkout
    # fails to build ("Cannot fit name") unless the socket goes elsewhere
    env = dict(os.environ, XDG_RUNTIME_DIR=socket_dir)
    t0 = time.monotonic()
    p = subprocess.run(cmd, cwd=side_dir, env=env, capture_output=True, text=True)
    run = {"exit": p.returncode, "elapsed_s": round(time.monotonic() - t0, 1)}
    lines = p.stdout.splitlines()
    js = [l for l in lines if l.startswith("{")]
    if p.returncode != 0 or not js:
        return dict(run, ok=False, stderr_tail=p.stderr.strip().splitlines()[-5:])
    res = json.loads(js[-1])
    outputs = sorted(set(l for l in lines if l.startswith("fingerprint:")))
    outputs += [l.split("(")[0].strip() for l in lines
                if l.startswith("nmi") or l.startswith("failed_frac")]
    return dict(run, ok=True, correct=res["correct"],
                metrics={k: v["value"] for k, v in res["metrics"].items()},
                outputs=outputs)


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True, help="parent revision")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed", type=int, default=1, help="seed of the first pair")
    a = ap.parse_args()

    top = git("rev-parse", "--show-toplevel")
    os.chdir(top)
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    e2e, seconds = spec["end_to_end"], spec["run_seconds"]
    parent = git("rev-parse", "--verify", a.parent + "^{commit}")
    change, change_desc = change_rev()
    root = tempfile.mkdtemp(prefix="ab_")
    socket_dir = tempfile.mkdtemp(prefix="ab_", dir="/tmp")
    sides = {"parent": os.path.join(root, "parent"),
             "change": os.path.join(root, "change")}
    log("parent %s, change %s (%s), checkouts under %s" % (
        parent[:12], change[:12], change_desc, root))

    runs = {"parent": [], "change": []}
    try:
        for side, rev in (("parent", parent), ("change", change)):
            checkout(rev, sides[side])
        for i in range(a.pairs):
            seed = a.seed + i
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                r = bench(sides[side], a.workload, seed, seconds, socket_dir)
                r["seed"] = seed
                runs[side].append(r)
                log("pair %d seed %d %-6s exit %d in %.1f s %s" % (
                    i + 1, seed, side, r["exit"], r["elapsed_s"],
                    json.dumps(r["metrics"] if r["ok"] else r["stderr_tail"])))
    finally:
        shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(socket_dir, ignore_errors=True)

    pairs = [(p, c) for p, c in zip(runs["parent"], runs["change"])
             if p["ok"] and c["ok"]]
    failed = len(runs["parent"]) - len(pairs)
    print("workload %s: %d pairs (%d with a failed run), parent %s, change %s (%s)" % (
        a.workload, len(pairs), failed, parent[:12], change[:12], change_desc))
    for side in ("parent", "change"):
        if not runs[side]:
            continue
        slow = max(runs[side], key=lambda r: r["elapsed_s"])
        print("slowest %s run: seed %d, exit %d, %.1f s" % (
            side, slow["seed"], slow["exit"], slow["elapsed_s"]))
        for r in runs[side]:
            if not r["ok"]:
                print("  failed %s run: seed %d, exit %d, %.1f s; stderr tail:" % (
                    side, r["seed"], r["exit"], r["elapsed_s"]))
                for l in r["stderr_tail"]:
                    print("    " + l)
    if not pairs:
        sys.exit(1)
    print("%-18s %-28s %-28s %7s %6s %s" % (
        "metric", "parent median (IQR)", "change median (IQR)", "ratio", "wins",
        "beyond parent IQR"))
    for m in e2e:
        name, lower = m["name"], m["better"] == "lower"
        pv = [p["metrics"][name] for p, _ in pairs if name in p["metrics"]]
        cv = [c["metrics"][name] for _, c in pairs if name in c["metrics"]]
        if len(pv) != len(pairs) or len(cv) != len(pairs):
            continue
        wins = sum(1 for x, y in zip(pv, cv) if (y < x if lower else y > x))
        pm, cm = statistics.median(pv), statistics.median(cv)
        pq, cq = quartiles(pv), quartiles(cv)
        gain = (pm - cm) if lower else (cm - pm)
        print("%-18s %-28s %-28s %7.3f %6s %s" % (
            name, "%.4g (%.4g-%.4g)" % (pm, pq[0], pq[1]),
            "%.4g (%.4g-%.4g)" % (cm, cq[0], cq[1]), cm / pm if pm else float("nan"),
            "%d/%d" % (wins, len(pairs)), "yes" if gain > pq[1] - pq[0] else "no"))
    same = sum(1 for p, c in pairs if p["outputs"] == c["outputs"])
    correct = sum(1 for p, c in pairs if p["correct"] and c["correct"])
    print("outputs (fingerprints, nmi, failed_frac) identical in %d/%d pairs; "
          "both sides correct in %d/%d" % (same, len(pairs), correct, len(pairs)))
    for p, c in pairs:
        if p["outputs"] != c["outputs"]:
            print("  seed %d: parent %s | change %s" % (p["seed"], p["outputs"], c["outputs"]))


if __name__ == "__main__":
    main()
