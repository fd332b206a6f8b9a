#!/usr/bin/env python3
"""Benchmark runner for graft: builds the engine from source, prepares the
inputs, runs one workload in one JVM and prints one JSON result line.

Usage (from the repository root):
  python3 perfbench/run.py --workload relational|corpus|ingest \
      --seed N --seconds S --trace 0|1
  python3 perfbench/run.py --selftest          # failure-accounting tests
  python3 perfbench/run.py --record            # rewrite expected.tsv

Everything it builds or writes goes under $CARGO_TARGET_DIR (default
.bench_build) in the repository root. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORKLOADS = ("relational", "corpus", "ingest")
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
JVM_TIMEOUT_S = 170
# ingest schedule: phase A lands one events slice every INTERVAL_A
# seconds for half the run, below the cost of one windowed-count
# micro-batch; phase B lands B_BURSTS bursts of B_FILES documents files,
# B_GAP seconds apart, wider than one dedup-ingest micro-batch (3.5 to 4.5 s
# on 4 cores), so each burst is one batch and the backlog does not grow
INTERVAL_A = 0.2
# untimed micro-batches per stream before the clock starts: the first
# ones of a stream are slower and vary the most (class loading, JIT).
# A windowed-count batch is cheap, so phase A gets more of them; the
# phase B primers run beside the first phase A ones
PRIMERS_A, PRIMERS_B = 6, 2
B_BURSTS, B_FILES, DOCS_PER_FILE, B_GAP = 2, 5, 25, 6.0


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def digest(paths):
    """Content fingerprint of files, by path relative to ROOT and bytes."""
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def sources(d, ext):
    return [p for p in glob.glob(os.path.join(d, "**", f"*{ext}"), recursive=True)
            if os.path.isfile(p)]


def spark_cp():
    """The jars of a Spark distribution that ships the Scala compiler:
    $SPARK_HOME/jars, else the first <dir>/../jars of a PATH entry that
    holds spark-submit."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        if glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
            return sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    sys.exit("no Spark jars with a Scala compiler: set SPARK_HOME")


def cached(out, build):
    """Runs `build(tmp)` unless `out` is complete; tmp is renamed to out."""
    if os.path.exists(os.path.join(out, ".done")):
        return
    parent = os.path.dirname(out)
    stem = os.path.basename(out).split("-")[0]
    for old in glob.glob(os.path.join(parent, stem + "-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    open(os.path.join(tmp, ".done"), "w").close()
    os.rename(tmp, out)


def scalac(srcs, jar, cp):
    """Compiles `srcs` into the jar file `jar`."""
    log(f"compiling {len(srcs)} sources into {os.path.relpath(jar, ROOT)}")
    classes = jar + ".classes"
    os.makedirs(classes)
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp",
           ":".join(spark_cp()), "scala.tools.nsc.Main", "-nowarn",
           "-d", classes, "-classpath", ":".join(cp)] + sorted(srcs)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        raise RuntimeError("scalac failed")
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for p in sorted(sources(classes, "")):
            z.write(p, os.path.relpath(p, classes))
    shutil.rmtree(classes)


def java(cp, main, args, work, timeout, stdout=None, flags=()):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for o in JAVA_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += list(flags) + [
            "-Xlog:disable", "-Xlog:all=warning:stderr",
            "-Xmx4g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"-Dderby.system.home={work}",
            "-cp", ":".join(cp), main] + args
    with open(os.path.join(work, "jvm.log"), "w") as err:
        p = subprocess.Popen(cmd, stdout=stdout, stderr=err, cwd=work)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise
    if p.returncode != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise RuntimeError(f"{main} exited with {p.returncode}")
    return out


def prepare(build):
    """Builds the engine and the benchmark, and the inputs; cached by
    content fingerprint. Returns the classpath, the sf0.1 and sf1 table
    directories, the inputs' fingerprint and the standing gram index."""
    main_src = os.path.join(ROOT, "src", "main")
    if not os.path.isdir(os.path.join(main_src, "scala", "graft")):
        sys.exit("no engine sources under src/main/scala: run from the repository root")
    jars = spark_cp()
    eng_hash = digest(sources(main_src, ""))
    eng = os.path.join(build, f"engine-{eng_hash}")
    eng_jar = os.path.join(eng, "engine.jar")
    cached(eng, lambda out: scalac(sources(main_src, ".scala"),
                                   os.path.join(out, "engine.jar"), jars))

    bench_hash = digest(sources(os.path.join(HERE, "src"), ".scala"))
    bench = os.path.join(build, f"bench-{bench_hash}-{eng_hash}")
    cached(bench, lambda out: scalac(sources(os.path.join(HERE, "src"), ".scala"),
                                     os.path.join(out, "perfbench.jar"),
                                     [eng_jar] + jars))
    cp = [os.path.join(bench, "perfbench.jar"), eng_jar] + jars

    gen = os.path.join(HERE, "gen_data.py")
    data_hash = digest([gen])
    sf01 = os.path.join(build, f"sf01-{data_hash}")
    def gen_sf01(out):
        if subprocess.run([sys.executable, gen, out], stdout=sys.stderr).returncode:
            raise RuntimeError("gen_data.py failed")
    cached(sf01, gen_sf01)

    # the sf1 slice: the engine's own generator over the sf0.1 tables
    make_sf1 = os.path.join(main_src, "scala", "graft", "tools", "MakeSf1.scala")
    sf1_hash = digest([gen, make_sf1])
    sf1 = os.path.join(build, f"sf1-{sf1_hash}")

    def gen_sf1(out):
        log("generating the sf1 slice with graft.tools.MakeSf1")
        java([eng_jar] + jars, "graft.tools.MakeSf1", [sf01, out], out, 600,
             stdout=sys.stderr)
        for junk in ("tmp", "jvm.log", "warehouse"):
            p = os.path.join(out, junk)
            shutil.rmtree(p, ignore_errors=True) if os.path.isdir(p) else (
                os.path.exists(p) and os.remove(p))
    cached(sf1, gen_sf1)

    # the standing gram index the ingest workload appends to (each run
    # works on a copy), built by a JVM that also writes a class-data
    # archive of every class it loaded; runs map the archive instead of
    # loading those classes from the jars again
    runtime = os.path.join(build, f"runtime-{bench_hash}-{eng_hash}-{data_hash}")
    cached(runtime, lambda out: java(cp, "perfbench.Main", [
        "--build-index", os.path.join(out, "idx"), "--data", sf01], out, 600,
        flags=[f"-XX:ArchiveClassesAtExit={os.path.join(out, 'classes.jsa')}"]))
    return (cp, sf01, sf1, data_hash, os.path.join(runtime, "idx"),
            [f"-XX:SharedArchiveFile={os.path.join(runtime, 'classes.jsa')}"])


def ingest_inputs(sf01, work, seed, seconds):
    """Slices the tables into the generator's files, in an order and
    split chosen by the seed, and writes its schedule."""
    import numpy as np
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    rng = np.random.default_rng(seed)
    stage = os.path.join(work, "stage")
    os.makedirs(stage)
    rows = []
    # the first files of each phase are primers, due before the clock
    # starts (due -PRIMERS_A .. -1: one untimed round each)
    n_a = PRIMERS_A + max(1, int(seconds / 2 / INTERVAL_A))
    events = pq.read_table(os.path.join(sf01, "events.parquet"))
    slice_of = rng.integers(0, n_a, events.num_rows)
    for i in range(n_a):
        name = f"a{i:03d}"
        pq.write_table(events.filter(slice_of == i), os.path.join(stage, name + ".parquet"))
        due = (i - PRIMERS_A) * INTERVAL_A if i >= PRIMERS_A else i - PRIMERS_A
        rows.append(f"{name}\t{due:.3f}\t")
    docs = pq.read_table(os.path.join(sf01, "documents.parquet"), columns=["doc_id", "text"])
    odd = docs.filter(pc.equal(pc.bit_wise_and(docs["doc_id"], 1), 1))
    order = rng.permutation(odd.num_rows)
    for i in range(PRIMERS_B + B_BURSTS * B_FILES):
        name = f"b{i:03d}"
        part = odd.take(order[i * DOCS_PER_FILE:(i + 1) * DOCS_PER_FILE])
        pq.write_table(part, os.path.join(stage, name + ".parquet"))
        ids = ",".join(str(x) for x in part["doc_id"].to_pylist())
        due = ((i - PRIMERS_B) // B_FILES) * B_GAP if i >= PRIMERS_B else i - PRIMERS_A
        rows.append(f"{name}\t{due:.3f}\t{ids}")
    with open(os.path.join(work, "schedule.tsv"), "w") as f:
        f.write("\n".join(rows) + "\n")


def check_expected(path, data_hash):
    with open(path) as f:
        first = f.readline().strip()
    if first != f"# data {data_hash}":
        log(f"{os.path.relpath(path, ROOT)} was recorded for other inputs "
            f"({first!r}); every check will fail until it is re-recorded")


def run_one(cp, flags, sf01, sf1, index, build, args, prep_s, record=False):
    name = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(build, "runs", name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    if args.workload == "ingest":
        ingest_inputs(sf01, work, args.seed, args.seconds)
        shutil.copytree(index, os.path.join(work, "gramidx"))
    expected = os.path.join(HERE, "expected.tsv")
    launch_us = time.time_ns() // 1000
    out = java(cp, "perfbench.Main", [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", sf01, "--corpus", sf1, "--work", work,
        "--expected", expected, "--launch-us", str(launch_us),
        "--prep-s", repr(prep_s), "--record", "1" if record else "0"],
        work, JVM_TIMEOUT_S, stdout=subprocess.PIPE, flags=flags)
    lines = out.decode().splitlines()
    for line in lines[:-1]:
        print(line)
    result = json.loads(lines[-1])
    # keep the span file of a traced run; drop the run's data
    keep = os.path.join(build, "traces")
    if args.trace:
        os.makedirs(keep, exist_ok=True)
        shutil.move(os.path.join(work, "trace.jsonl"),
                    os.path.join(keep, f"{name}.jsonl"))
        print(f"[perfbench] spans: {os.path.relpath(keep, ROOT)}/{name}.jsonl")
    shutil.rmtree(work, ignore_errors=True)
    return result


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()

    build = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                         "perfbench")
    t0 = time.time()
    cp, sf01, sf1, data_hash, index, flags = prepare(build)
    prep_s = time.time() - t0

    if args.selftest:
        work = os.path.join(build, "runs", "selftest")
        os.makedirs(work, exist_ok=True)
        java(cp, "perfbench.Main", ["--selftest", "1"], work, JVM_TIMEOUT_S, flags=flags)
        shutil.rmtree(work, ignore_errors=True)
        return
    if args.record:
        expected = os.path.join(HERE, "expected.tsv")
        with open(expected, "w") as f:
            f.write(f"# data {data_hash}\n")
        for w in WORKLOADS:
            args.workload, args.trace = w, 0
            run_one(cp, flags, sf01, sf1, index, build, args, prep_s, record=True)
        return
    if args.workload is None:
        ap.error("--workload is required")
    check_expected(os.path.join(HERE, "expected.tsv"), data_hash)
    result = run_one(cp, flags, sf01, sf1, index, build, args, prep_s)
    print(json.dumps(result, separators=(",", ":")))


if __name__ == "__main__":
    try:
        main()
    except (subprocess.SubprocessError, RuntimeError, OSError, ValueError) as e:
        log(f"failed: {e}")
        sys.exit(1)
