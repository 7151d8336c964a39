#!/usr/bin/env python3
"""graft benchmark: one run of one workload, printed as one JSON line.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first call in a checkout compiles the engine (src/main/scala) and the
harness (perfbench/src) with the Scala compiler that ships in Spark's jar
directory, then builds the serving stores of the serve corpus once. Both are
kept under .bench_build/ and reused while the sources are unchanged.

Every workload runs in its own working directory under .bench_build/work/,
so its stores (the CWD-relative spark-warehouse/) never touch the repo's.
The engine's log goes to run.log there; spans of a traced run go to
spans.jsonl there.

With --trace 0 the last line carries the end-to-end metrics of
BENCHMARK.json, with --trace 1 its per-layer metrics. Every served result is
checked against the checksums committed under perfbench/expected/; a
mismatch counts as a failed operation and makes "correct" false.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
OUT = os.path.join(BUILD, "out")
CLASSES = os.path.join(OUT, "classes")
WORK = os.path.join(BUILD, "work")
HEAP = "4g"
MAIN = "graft.perfbench.Main"

# workload -> corpus under perfbench/data
WORKLOADS = {
    "serve_sf0.001": "sf0.001",
    "generation_sf0.001": "sf0.001",
}
SERVE_CORPUS = "sf0.001"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the build's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    fail("no Spark jar directory (set SPARK_HOME)")


def sources():
    out = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def classpath(jars):
    return os.pathsep.join([CLASSES, os.path.join(jars, "*")])


def build(jars):
    """Compile engine + harness unless the compiled tree matches the sources."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(OUT, "BUILD_STAMP")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    tmp = OUT + ".tmp"
    classes = os.path.join(tmp, "classes")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(classes)
    log = os.path.join(BUILD, "compile.log")
    with open(log, "w") as lf:
        rc = run_process(["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
                          "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes] + srcs,
                         cwd=ROOT, stdout=lf, timeout=600)
    if rc != 0:
        fail(f"compilation failed (rc={rc}), see {log}")
    with open(os.path.join(tmp, "BUILD_STAMP"), "w") as f:
        f.write(stamp)
    shutil.rmtree(OUT, ignore_errors=True)
    os.rename(tmp, OUT)


def run_process(cmd, cwd, stdout, timeout, env=None):
    """Run to completion in its own process group; on timeout kill the whole
    group and wait for it, so nothing outlives this script."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=subprocess.STDOUT,
                         env=env, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        raise


def jvm(jars, workdir, args, timeout):
    """Run the harness in `workdir`; returns its result document."""
    tmp = os.path.join(workdir, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    out = os.path.join(workdir, "result.json")
    if os.path.exists(out):
        os.remove(out)
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_LOCAL_DIRS"] = tmp
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # C1 only: a run's JVM lives about a minute, far short of C2's warm-up.
    # Under C2 per-query times kept falling through the whole run, at a pace
    # set by how much CPU its compiler threads got from a shared host.
    cmd = (["java", f"-Xmx{HEAP}", "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"] + opens +
           ["-cp", classpath(jars), MAIN] + args + ["--out", out])
    with open(os.path.join(workdir, "run.log"), "w") as log:
        rc = run_process(cmd, cwd=workdir, stdout=log, timeout=timeout, env=env)
    shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0 or not os.path.exists(out):
        fail(f"harness exited with rc={rc}, see {os.path.join(workdir, 'run.log')}")
    with open(out) as f:
        return json.load(f)


def prepare_serve(jars):
    """Build every store of the serve corpus once per checkout (untimed)."""
    workdir = os.path.join(WORK, "serve_" + SERVE_CORPUS)
    marker = os.path.join(workdir, "prepared.json")
    if os.path.exists(marker):
        return
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    corpus = os.path.join(HERE, "data", SERVE_CORPUS)
    doc = jvm(jars, workdir, ["--mode", "prepare", "--corpus", corpus], timeout=800)
    if doc["failed"]:
        fail(f"store preparation failed: {doc['failures']}")
    with open(marker, "w") as f:
        json.dump({"prepare_s": doc["prepare_s"], "builds": doc["layers"]}, f)


def split_corpus(src, run_dir, seed):
    """The generation workload's inputs, in a fresh `run_dir`: `corpus_<seed>`
    is `src` minus the delta, `delta` holds the delta: a seed-chosen sixteenth
    of the orders (with all their lineitems), documents and embeddings."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    def picked(keys):
        # splitmix64 of key and seed: fixed per seed, uniform over keys
        with np.errstate(over="ignore"):
            z = keys.astype(np.uint64) + np.uint64(seed % 2**64) * np.uint64(0x9E3779B97F4A7C15)
            z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
            z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
            z = z ^ (z >> np.uint64(31))
        return (z & np.uint64(15)) == 0

    shutil.rmtree(run_dir, ignore_errors=True)
    corpus = os.path.join(run_dir, f"corpus_{seed}")
    delta = os.path.join(run_dir, "delta")
    os.makedirs(delta)
    tables = {t: pq.read_table(os.path.join(src, t + ".parquet"))
              for t in ("orders", "lineitem", "documents", "embeddings")}
    key = lambda t, c: tables[t].column(c).to_numpy()
    masks = {"orders": picked(key("orders", "o_orderkey")),
             "documents": picked(key("documents", "doc_id")),
             "embeddings": picked(key("embeddings", "vec_id"))}
    masks["lineitem"] = np.isin(key("lineitem", "l_orderkey"),
                                key("orders", "o_orderkey")[masks["orders"]])
    for t, m in masks.items():
        # the base table is a directory, so landing the delta adds files to it
        os.makedirs(os.path.join(corpus, t + ".parquet"))
        pq.write_table(tables[t].filter(pa.array(~m)),
                       os.path.join(corpus, t + ".parquet", "part-00000.parquet"))
        pq.write_table(tables[t].filter(pa.array(m)), os.path.join(delta, t + ".parquet"))
    for f in os.listdir(src):
        if f[:-len(".parquet")] not in tables:
            shutil.copy(os.path.join(src, f), os.path.join(corpus, f))
    return corpus, delta


def write_expected(jars):
    """The committed correctness map: (rows, checksum) of every served query
    and every Pipeline.run output over each corpus. Regenerate only at a
    commit whose results were confirmed (see perfbench/README.md)."""
    for corpus_name in sorted(set(WORKLOADS.values())):
        workdir = os.path.join(WORK, "expected_" + corpus_name)
        shutil.rmtree(workdir, ignore_errors=True)
        os.makedirs(workdir)
        jvm(jars, workdir, ["--mode", "expected",
                            "--corpus", os.path.join(HERE, "data", corpus_name)], timeout=1200)
        shutil.copy(os.path.join(workdir, "result.json"),
                    os.path.join(HERE, "expected", corpus_name + ".json"))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-expected", action="store_true",
                    help="regenerate perfbench/expected/ from the current engine and exit")
    a = ap.parse_args()
    if not a.write_expected and None in (a.workload, a.seed, a.seconds):
        ap.error("--workload, --seed and --seconds are required")

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no engine sources (src/main/scala) in this checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    jars = spark_jars()
    os.makedirs(WORK, exist_ok=True)
    build(jars)
    if a.write_expected:
        write_expected(jars)
        return
    prepare_serve(jars)

    workdir = os.path.join(WORK, a.workload)
    os.makedirs(workdir, exist_ok=True)
    corpus_name = WORKLOADS[a.workload]
    corpus = os.path.join(HERE, "data", corpus_name)
    expected = os.path.join(HERE, "expected", corpus_name + ".json")
    t_setup = time.time()
    extra = []
    if a.workload.startswith("generation"):
        shutil.rmtree(os.path.join(workdir, "spark-warehouse"), ignore_errors=True)
        corpus, delta = split_corpus(corpus, os.path.join(workdir, "generation"), a.seed)
        extra = ["--delta", delta]
    doc = jvm(jars, workdir,
              ["--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
               "--seconds", str(a.seconds), "--trace", str(a.trace),
               "--corpus", corpus, "--expected", expected] + extra,
              timeout=170)
    e2e = dict(doc["e2e"])
    e2e["setup_s"] = {"value": doc["timed_start_ms"] / 1000.0 - t_setup, "unit": "s", "n": 1}

    if a.trace == 0:
        wanted, got = bench["end_to_end"], e2e
    else:
        wanted, got = bench["per_layer"], doc["layers"]

    missing = [m["name"] for m in wanted if m["name"] not in got]
    if missing:
        fail(f"metrics not produced: {missing}")
    for f in doc["failures"]:
        print(f"FAILED {f}")
    for m in wanted:
        v = got[m["name"]]
        print(f"{m['name']:<48} {v['value']:>16.6f} {m['unit']:<6} n={v['n']}")
    if a.trace == 0:
        for k, v in e2e.items():
            if k not in {m["name"] for m in wanted}:
                print(f"{k:<48} {v['value']:>16.6f} {v['unit']:<6} n={v['n']} (not bounded)")
    print(f"correct={doc['correct']} attempted={doc['attempted']} failed={doc['failed']} "
          f"failed_ratio={doc['failed'] / doc['attempted']:.6f}")
    if a.trace:
        print(f"spans: {os.path.join(workdir, 'spans.jsonl')}")
    print(json.dumps({
        "correct": doc["correct"],
        "attempted": doc["attempted"],
        "failed": doc["failed"],
        "metrics": {m["name"]: {"value": got[m["name"]]["value"], "unit": m["unit"]}
                    for m in wanted},
    }))


if __name__ == "__main__":
    main()
