#!/usr/bin/env python3
"""Lakehouse benchmark: one workload of the graft table layer or operators.

Usage (from the repository root):
  python3 lakebench/run.py --workload daily_cycle --seed 1 --seconds 1 --trace 0

Builds the program from src/main/scala and the harness from lakebench/scala
with the Scala compiler shipped in the Spark jars (once per checkout, into
.bench_build/), writes the seeded inputs into .bench_work/<workload>/, runs
the workload in one JVM, checks its outputs with DuckDB and prints one JSON
line: {"correct", "attempted", "failed", "metrics"}. --trace 1 reports the
per-layer metrics instead of the end-to-end ones and keeps the spans in
.bench_work/<workload>/trace.json.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

BUILD = ".bench_build"
WORKLOADS = ["daily_cycle", "corpus_operators"]
WORK = ".bench_work"
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
HEAP = "3g"
JVM_TIMEOUT_S = 165

# four slow rows that the roadmap names, then a sample of the fast tail
CORPUS_QUERIES = ["e_triangles", "s_hybrid_rrf", "x_perplexity", "d_tfidf_cosine",
                  "d_exact_groups", "x_token_stats"]

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def load_metrics_spec():
    with open("BENCHMARK.json") as f:
        b = json.load(f)
    return b["end_to_end"], b["per_layer"]


def sources(root):
    return sorted(glob.glob(f"{root}/**/*.scala", recursive=True))


def scalac(out, srcs, cp):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{SPARK_JARS}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", cp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("lakebench: compile failed")


def stamp_of(paths, extra):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def compile_classes(name, srcs, cp, extra=""):
    """Compiles `srcs` into .bench_build/classes/<name> unless the stamp of
    their paths and contents (and `extra`) matches the last build of that
    name. Returns the stamp."""
    stamp, out = f"{BUILD}/{name}.stamp", f"{BUILD}/classes/{name}"
    digest = stamp_of(srcs, cp + extra)
    if os.path.exists(stamp) and os.path.isdir(out) and open(stamp).read() == digest:
        return digest
    if os.path.exists(stamp):
        os.remove(stamp)
    shutil.rmtree(out, ignore_errors=True)
    scalac(out, srcs, cp)
    with open(stamp, "w") as f:
        f.write(digest)
    return digest


def classpath():
    return ":".join([os.path.abspath(f"{BUILD}/classes/bench"),
                     os.path.abspath(f"{BUILD}/classes/main"), f"{SPARK_JARS}/*"])


def prepare_inputs(work, workload, seed):
    """Writes the seeded inputs under work/input; returns their spec."""
    shutil.rmtree(work, ignore_errors=True)
    for d in ("input", "tmp", "fixtures"):
        os.makedirs(f"{work}/{d}")
    inp = f"{work}/input"
    if workload == "corpus_operators":
        gen.gen_corpus(f"{inp}/corpus", seed)
        spec = {"workload": workload, "seed": seed, "queries": CORPUS_QUERIES}
        with open(f"{inp}/spec.json", "w") as f:
            json.dump(spec, f)
        return spec
    return gen.gen_tables(inp, workload, seed)


def java_cmd(work):
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Duser.timezone=UTC",
             f"-Djava.io.tmpdir={work}/tmp", f"-Dgraft.fixtures.dir={work}/fixtures"]
            + ADD_OPENS + ["-cp", classpath(), "lakebench.LakeBench"])


def build():
    """Builds the program, then the harness against it; the harness is
    rebuilt whenever the program is, so that a changed signature fails here."""
    if not os.path.isdir(SPARK_JARS) or not os.environ.get("SPARK_HOME"):
        raise SystemExit("lakebench: set SPARK_HOME to a Spark 4.1 install")
    main_srcs = sources("src/main/scala")
    bench_srcs = sources(f"{HERE}/scala")
    if not main_srcs or not bench_srcs:
        raise SystemExit("lakebench: no program sources under src/main/scala")
    main_digest = compile_classes("main", main_srcs, f"{SPARK_JARS}/*")
    compile_classes("bench", bench_srcs, f"{BUILD}/classes/main:{SPARK_JARS}/*", main_digest)


def steal_ticks():
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return -1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    e2e_spec, layer_spec = load_metrics_spec()
    build()

    work = os.path.abspath(f"{WORK}/{a.workload}")
    spec = prepare_inputs(work, a.workload, a.seed)
    inp = f"{work}/input"
    cmd = java_cmd(work) + [a.workload, work, str(a.seconds), str(a.trace)]
    steal0 = steal_ticks()
    with open(f"{work}/jvm.log", "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("lakebench: workload timed out")
    steal1 = steal_ticks()
    if rc != 0:
        with open(f"{work}/jvm.log") as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"lakebench: workload JVM exited with {rc}")
    with open(f"{work}/result.json") as f:
        res = json.load(f)

    checks = res["checks"]
    if a.workload == "daily_cycle":
        fails = check.check_daily_cycle(inp, spec, checks)
    else:
        fails = check.check_corpus(work, f"{inp}/corpus", CORPUS_QUERIES)
    for x in fails:
        sys.stderr.write(f"lakebench: CHECK FAILED {x}\n")

    if a.trace:
        got = res["layers"]
        metrics = {m["name"]: {"value": float(got.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in layer_spec}
    else:
        got = res["metrics"]
        metrics = {m["name"]: {"value": float(got[m["name"]]), "unit": m["unit"]}
                   for m in e2e_spec}
    diag = {"rounds": res["rounds"], "timed_s": res["timed_s"],
            "steal_ticks": steal1 - steal0 if steal0 >= 0 else None,
            "gc_ms": res["gc_ms_total"], "failures": fails}
    with open(f"{work}/diag.json", "w") as f:
        json.dump(diag, f, indent=1)
    sys.stderr.write(f"lakebench: {json.dumps(diag)}\n")
    shutil.rmtree(f"{work}/warehouse", ignore_errors=True)
    shutil.rmtree(f"{work}/spark-local", ignore_errors=True)
    print(json.dumps({"correct": not fails, "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
