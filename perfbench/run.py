#!/usr/bin/env python3
"""Benchmark runner for graft: builds the engine from source, runs one
workload in one JVM and prints the result.

    python3 perfbench/run.py --workload elt_priority --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 15
    python3 perfbench/run.py --record

Run it from the root of a checkout. Build output, scratch and per-run
result files go to .bench_build/ in that checkout. The last line of
stdout is one JSON object: correct, attempted, failed and the metrics
listed in BENCHMARK.json (end-to-end ones with --trace 0, per-layer
ones with --trace 1). See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
SCALA = ["scala-compiler-2.13.17.jar", "scala-library-2.13.17.jar",
         "scala-reflect-2.13.17.jar"]
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["elt_priority", "query_short", "query_long"]
HEAP = "4g"
SAVE = None  # --save: a directory that also receives each result file
RUN_TIMEOUT_S = 170
# the JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tree_hash(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else the directory build.sbt takes
    them from (its unmanagedBase)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("set SPARK_HOME: build.sbt names no unmanagedBase")
    return m.group(1)


def scalac(sources, classpath, out, jars):
    """Compile `sources` into `out` with the Scala compiler Spark ships,
    replacing any earlier build of the same kind."""
    prefix = out.rsplit("-", 1)[0] + "-"
    for old in glob.glob(prefix + "*"):
        shutil.rmtree(old, ignore_errors=True)
    tmp = out + ".tmp"
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    cp = ":".join(os.path.join(jars, j) for j in SCALA)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", classpath, "-d", tmp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-6000:])
        raise SystemExit(f"compile failed: {out}")
    os.remove(argfile)
    os.rename(tmp, out)


def build():
    """Compile the engine (src/main) and the benchmark's own sources,
    each only when its sources changed. Returns (classpath, source hash)."""
    main_src = glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                         recursive=True)
    bench_src = glob.glob(os.path.join(BENCH, "src/*.scala"))
    if not main_src or not bench_src:
        raise SystemExit("no engine sources under src/main/scala: "
                         "run from the root of a graft checkout")
    os.makedirs(BUILD, exist_ok=True)
    jars = spark_jars()
    spark_cp = os.path.join(jars, "*")
    main_key = tree_hash(main_src)
    main_out = os.path.join(BUILD, "classes-" + main_key)
    if not os.path.isdir(main_out):
        log(f"compiling {len(main_src)} engine sources")
        t0 = time.time()
        scalac(main_src, spark_cp, main_out, jars)
        log(f"engine compiled in {time.time() - t0:.0f} s")
    bench_out = os.path.join(BUILD, "bench-" + tree_hash(bench_src + main_src))
    if not os.path.isdir(bench_out):
        scalac(bench_src, main_out + ":" + spark_cp, bench_out, jars)
    return ":".join([bench_out, main_out, spark_cp]), main_key


def git_sha():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
        return r.stdout.strip() or "none"
    except OSError:
        return "none"


def run_jvm(classpath, src_hash, workload, seed, seconds, trace, extra=(),
            timeout=RUN_TIMEOUT_S):
    """One run in a fresh scratch directory; returns the parsed result."""
    tag = f"{workload}-s{seed}-t{trace}-{os.getpid()}-{int(time.time() * 1000)}"
    work = os.path.join(BUILD, "work", tag)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    cmd = ["java", f"-Xmx{HEAP}", "-Duser.timezone=UTC",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={work}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--work", work, "--bench", BENCH, "--out", out,
            "--git_sha", git_sha(), *extra]
    logf = open(os.path.join(work, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=logf,
                            start_new_session=True)
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
    finally:
        logf.close()
    result = None
    if os.path.exists(out):
        with open(out) as f:
            result = json.load(f)
        result["context"]["source_hash"] = src_hash
        result["context"]["exit_code"] = proc.returncode
        for d in [os.path.join(BUILD, "results")] + ([SAVE] if SAVE else []):
            os.makedirs(d, exist_ok=True)
            with open(os.path.join(d, tag + ".json"), "w") as f:
                json.dump(result, f, indent=1)
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(BUILD, "results", tag + ".spans.jsonl"))
    if result is None or proc.returncode != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        log(f"run failed (exit {proc.returncode}); log kept in {work}")
        return None
    shutil.rmtree(work, ignore_errors=True)
    return result


def contract():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return ([m["name"] for m in b["end_to_end"]],
            [m["name"] for m in b["per_layer"]])


def report(workload, result, trace):
    """Human-readable lines: every metric with unit and sample count."""
    print(f"== {workload} (trace {trace}) attempted={result['attempted']} "
          f"failed={result['failed']} correct={result['correct']}")
    for k, m in result["metrics"].items():
        print(f"  {k:<28} {float(m['value']):>14.4f} {m['unit']:<6} n={m['n']}")
    if trace:
        for k, m in result["layers"].items():
            print(f"  {k:<34} {m['value']:>14.4f} {m['unit']}")
    bad = [c for c in result["checks"] if not c["ok"]]
    print(f"  checks: {len(result['checks']) - len(bad)}/{len(result['checks'])} passed")
    for c in bad[:20]:
        print(f"    FAILED {c['name']}: {c['detail'][:200]}")
    ctx = result["context"]
    print("  context: " + ", ".join(
        f"{k}={ctx[k]}" for k in ("nproc", "heap_max_mb", "git_sha", "seed",
                                  "calib_ms", "calib_par_ms", "calib_io_ms")
        if k in ctx))


def final_line(result, names, trace):
    src = result["layers"] if trace else result["metrics"]
    missing = [n for n in names if n not in src]
    if missing:
        raise SystemExit(f"result lacks metrics {missing}")
    return json.dumps({
        "correct": bool(result["correct"]),
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": {n: {"value": src[n]["value"], "unit": src[n]["unit"]}
                    for n in names}})


def record(classpath, src_hash):
    """Two passes over the whole frozen pool; a query whose hash differs
    between them keeps a row-count-only check."""
    from concurrent.futures import ThreadPoolExecutor

    def one(i):
        out = os.path.join(BUILD, f"record-{i}.json")
        r = run_jvm(classpath, src_hash, "record", i, 0, 0,
                    extra=("--out-record", out), timeout=7200)
        if r is None:
            raise SystemExit("record pass failed")
        with open(out) as f:
            return json.load(f)

    with ThreadPoolExecutor(2) as ex:
        passes = list(ex.map(one, range(2)))
    write_expected(*passes, src_hash)


def write_expected(a, b, src_hash):
    """expected.json from two record passes: row count, hash and the mean
    cold seconds of each query (the seconds band the query workloads)."""
    queries, unstable, failing = {}, [], []
    for name in sorted(a):
        x, y = a[name], b.get(name, {})
        if "error" in x or "error" in y or x["rows"] != y.get("rows"):
            failing.append(name)
            continue
        same = x["hash"] == y["hash"]
        queries[name] = {"rows": x["rows"], "hash": x["hash"] if same else None,
                         "ms": round((x["ms"] + y["ms"]) / 2, 1)}
        if not same:
            unstable.append(name)
    doc = {"source_hash": src_hash, "git_sha": git_sha(),
           "row_count_only": unstable, "queries": queries}
    if failing:
        doc["not_recorded"] = failing
    with open(os.path.join(BENCH, "expected.json"), "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
    log(f"recorded {len(queries)} queries, {len(unstable)} row-count-only, "
        f"{len(failing)} not recorded: {failing}")


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true",
                    help="record expected row counts and hashes of the pool")
    ap.add_argument("--save", help="also write each run's result file here "
                    "(input for compare.py)")
    a = ap.parse_args()
    global SAVE
    SAVE = a.save and os.path.abspath(a.save)
    if not a.record and not a.workload:
        ap.error("--workload or --record is required")
    classpath, src_hash = build()
    if a.record:
        record(classpath, src_hash)
        return
    e2e, layers = contract()
    if a.workload != "all":
        r = run_jvm(classpath, src_hash, a.workload, a.seed, a.seconds, a.trace)
        if r is None:
            sys.exit(1)
        report(a.workload, r, a.trace)
        print(final_line(r, layers if a.trace else e2e, a.trace))
        return
    # every workload untraced, then traced; tracing overhead is the change
    # in the end-to-end figures between the two runs
    ok = True
    for w in WORKLOADS:
        plain = run_jvm(classpath, src_hash, w, a.seed, a.seconds, 0)
        traced = run_jvm(classpath, src_hash, w, a.seed, a.seconds, 1)
        if plain is None or traced is None:
            ok = False
            continue
        report(w, plain, 0)
        report(w, traced, 1)
        for k in ("latency_ms.p50", "ops_per_s"):
            p, t = plain["metrics"][k]["value"], traced["metrics"][k]["value"]
            print(f"  tracing overhead {k}: {100 * (t - p) / p:+.1f}% "
                  f"({p:.4f} untraced, {t:.4f} traced)")
        ok = ok and plain["correct"] and traced["correct"]
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
