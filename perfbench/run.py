#!/usr/bin/env python3
"""graft benchmark: one workload, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run in a tree builds graft and the
harness from source (build.py), writes the corpus (tools/gen_sf.py) and
computes the DuckDB reference fingerprints (reference.py); later runs reuse
them from perfbench/.work/. Each run then starts one JVM that sets up
Spark once, warms up, and runs the workload as a closed loop with
one client for whole rounds until --seconds have passed, checking every
op's output. It prints a report and, as its last line, a JSON object with
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

WORKLOADS = ["headline", "column_crypto", "bulk_crypto", "graph_cc"]
DEADLINE_S = 165
JVM_OPTS = ["-Xms3g", "-Xmx3g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
# what spark-submit would pass on JDK 17 (same list as build.sbt)
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def file_digest(*paths):
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def java(classpath, args, timeout):
    cmd = (["java"] + JVM_OPTS
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-Djava.io.tmpdir=" + os.path.join(WORK, "run", "tmp"),
              "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
              "-cp", os.pathsep.join(classpath), "graftbench.Main"] + args)
    return subprocess.run(cmd, stdout=sys.stderr, timeout=timeout).returncode


def corpus():
    """The sf0.1 corpus, written once per generator version by the
    repository's own generator (tools/gen_sf.py, numpy seed 42), then laid
    out as one row group per table like the sf0.1 corpus graft.Bench reads
    (the generator splits tables into up to 256 row groups)."""
    gen = os.path.join(ROOT, "tools", "gen_sf.py")
    out = os.path.join(WORK, "corpus-" + file_digest(gen, __file__))
    if not os.path.isdir(out):
        import pyarrow.parquet as pq
        log("writing the corpus")
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run([sys.executable, gen, "0.1", tmp + "/split"], stdout=sys.stderr, check=True)
        for name in sorted(os.listdir(tmp + "/split")):
            pq.write_table(pq.read_table(os.path.join(tmp, "split", name)), os.path.join(tmp, name),
                           row_group_size=1 << 30)
        shutil.rmtree(tmp + "/split")
        os.rename(tmp, out)
    return out


def references(classpath, corpus_dir):
    """Reference fingerprints from the program's DuckDB oracle SQL. Made
    once per build and corpus; not part of any timed phase."""
    oracles = os.path.join(WORK, "oracles-" + os.path.basename(classpath[0]) + ".json")
    if not os.path.exists(oracles):
        rc = java(classpath, ["--dump-oracles", oracles + ".tmp"], DEADLINE_S)
        if rc != 0:
            raise SystemExit(f"oracle dump failed ({rc})")
        os.replace(oracles + ".tmp", oracles)
    refs = os.path.join(WORK, "ref-" + file_digest(oracles, os.path.join(HERE, "reference.py"))
                        + "-" + os.path.basename(corpus_dir) + ".tsv")
    if not os.path.exists(refs):
        import reference
        log("computing reference fingerprints with DuckDB")
        reference.main(oracles, corpus_dir, refs)
    return refs


def git_commit():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "-"
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "--short", "HEAD"],
                              capture_output=True, text=True, timeout=10).stdout.strip() or "-"
    except (OSError, subprocess.SubprocessError):
        return "-"


def report(res, trace):
    print(f"workload {res['workload']}  seed {res['seed']}  correct {res['correct']}  "
          f"ops {res['attempted']} (failed {res['failed']})  rounds {res['rounds']}  "
          f"measured {res['measured_s']:.3f} s")
    print("noise    " + "  ".join(f"{k}={v}" for k, v in res["noise"].items()))
    print("conf     " + "  ".join(f"{k}={v}" for k, v in res["session_conf"].items()))
    print(f"setup    session {res['session_s']:.3f} s (from JVM launch), "
          f"warm-up {res['warmup_s']:.3f} s (outputs checked)")
    sections = ("end_to_end", "extra", "per_layer") if trace else ("end_to_end", "extra")
    for section in sections:
        for k, m in res[section].items():
            print(f"{k:34s} {m['value'] if m['value'] is None else format(m['value'], '>14.6g')} {m['unit']}")
    for k, v in res["per_op"].items():
        print(f"{k:34s} {v:>14.6g} s")
    if trace:
        for k, v in res["self_time_s"].items():
            print(f"self.{k:29s} {v:>14.6g} s")
    for e in res["errors"]:
        print(f"error    {e}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not all(os.path.exists(os.path.join(ROOT, p))
               for p in ("build.sbt", "src/main/scala", "tools/gen_sf.py")):
        log(f"no graft source tree (build.sbt, src/main/scala, tools/gen_sf.py) under {ROOT}")
        return 2

    import build
    classpath = build.build()
    corpus_dir = corpus()
    refs = references(classpath, corpus_dir)
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    out = os.path.join(run_dir, "result.json")
    trace_out = os.path.join(WORK, f"trace-{args.workload}-{args.seed}.jsonl")
    cores = len(os.sched_getaffinity(0))
    jvm_args = ["--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace),
                "--cores", str(cores), "--corpus", corpus_dir, "--work", run_dir,
                "--refs", refs, "--out", out, "--trace-out", trace_out]
    try:
        # the deadline covers the run, not the once-per-tree build; the
        # first set-up is timed from time.time_ns() here
        rc = java(classpath, jvm_args + ["--t0-epoch-ns", str(time.time_ns())], DEADLINE_S)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {DEADLINE_S} s")
        return 1
    if rc != 0 or not os.path.exists(out):
        log(f"benchmark JVM failed ({rc})")
        return 1
    with open(out) as f:
        res = json.load(f)
    shutil.rmtree(run_dir, ignore_errors=True)

    res["noise"]["build"] = os.path.basename(classpath[1])
    res["noise"]["git_commit"] = git_commit()
    report(res, args.trace)
    # untraced latency_p50_s per seed, kept to report the tracing overhead
    history_path = os.path.join(WORK, f"untraced-p50-{args.workload}.json")
    history = {}
    if os.path.exists(history_path):
        with open(history_path) as f:
            history = json.load(f)
    if args.trace:
        metrics = res["per_layer"]
        traced = metrics["trace.latency_p50_s"]["value"]
        base, what = None, ""
        if str(args.seed) in history:
            base, what = history[str(args.seed)], "the untraced run of the same seed"
        elif history:
            base = statistics.median(history.values())
            what = f"the median of {len(history)} untraced runs"
        if base:
            print(f"tracing overhead on latency_p50_s: {traced / base - 1:+.2%} "
                  f"({traced:.6g} s traced vs {base:.6g} s, {what})")
        print(f"trace    {os.path.relpath(trace_out, ROOT)}")
    else:
        metrics = res["end_to_end"]
        history[str(args.seed)] = metrics["latency_p50_s"]["value"]
        with open(history_path, "w") as f:
            json.dump(history, f)
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
