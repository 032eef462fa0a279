#!/usr/bin/env python3
"""Benchmark entry point: one command runs one workload end to end.

    python3 perfbench/run.py --workload etl_nightly --seed 1 --seconds 8 --trace 0

Run from the repository root. It compiles the library together with the
harness and records a class-data-sharing archive of the classes a run loads
(only when the sources changed), generates the inputs from the seed,
runs the workload in one Spark JVM (local[nproc]), checks the outputs against
DuckDB and prints the metrics. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}; end-to-end metrics with
--trace 0, per-layer metrics with --trace 1.
"""

import argparse
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen       # noqa: E402
import metrics   # noqa: E402
import oracle    # noqa: E402

# Workload and metric names, units and directions are defined once, in
# BENCHMARK.json at the repository root.
with open(os.path.join(HERE, "..", "BENCHMARK.json")) as _f:
    BENCHMARK = json.load(_f)
WORKLOADS = [w["name"] for w in BENCHMARK["workloads"]]

# Input sizes per workload (see README.md).
SIZES = {
    "etl_nightly": {"orders": 30000, "nights": 40},
    "bi_dashboard": {"orders": 30000},
    "corpus_ingest": {"base_docs": 2000, "batch_docs": 1000, "batches": 12},
}
# Inputs of the run that records the class-data-sharing archive.
ARCHIVE_RUN_SIZES = {"orders": 3000, "nights": 1}

# Dashboard query templates and their parameter domains.
TEMPLATES = {
    "q1": [0], "q2": [5, 10, 20], "q3": None, "top_customers": [5, 10, 20],
    "rollup": [0], "trailing7": [0], "gapfill": None,
}
# Upper bound on dashboard refreshes per second of the window (a warm
# refresh takes over a second), to size the generated stream.
MAX_REFRESHES_PER_S = 2

JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def cores():
    return len(os.sched_getaffinity(0))


def steal_ticks():
    """Host CPU steal so far, summed over this machine's CPUs, in clock ticks
    (0 where /proc/stat is missing)."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return 0


def heap_size():
    """Heap size by the repository's test formula: half the machine's memory
    in GiB, clamped to 2..8g."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
        return f"{min(8, max(2, g))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


# ------------------------------------------------------------------ build

def sources(root):
    """Every file the harness build compiles or depends on."""
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".java"))]
    return sorted(files)


def build(root):
    """Compile library + harness with sbt, pack the classes into a jar and
    record a class-data-sharing archive of the classes a run loads, unless
    all of it matches the current sources. Returns the JVM arguments that
    put them to use."""
    lib = os.path.join(root, "src", "main", "scala", "graft")
    if not os.path.isdir(lib):
        fail(f"library sources not found under {lib}: run from the repository root")
    spark_home = os.environ.get("SPARK_HOME", "")
    jars = os.path.join(spark_home, "jars")
    if not spark_home or not os.path.isdir(jars):
        fail("SPARK_HOME must point at a Spark 4 distribution with a jars/ directory")
    for tool in ("java", "sbt"):
        if shutil.which(tool) is None:
            fail(f"{tool} not found on PATH")
    out = os.path.join(root, ".bench_build")
    classes = os.path.join(out, "sbt", "scala-2.13", "classes")
    jar = os.path.join(out, "perfbench.jar")
    archive = os.path.join(out, "perfbench.jsa")
    classpath = ["-cp", f"{jar}:{jars}/*"]
    h = hashlib.sha256()
    for f in sources(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    stamp = os.path.join(out, "stamp")
    if all(map(os.path.exists, (stamp, jar, archive))) and open(stamp).read() == digest:
        return [f"-XX:SharedArchiveFile={archive}"] + classpath
    log("compiling library and harness (sbt) ...")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")
                   + " -Dsbt.offline=true -Xmx2g")
    t = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=HERE,
                       env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    log(f"compiled in {time.time() - t:.1f} s")
    # A shared-archive run maps the classes Spark and the library load from
    # the archive instead of parsing and verifying them: it starts the
    # session in about 2.5 s instead of 6 s on 4 cores. The archive only
    # takes classes from jars, and it is recorded by one short run of the
    # nightly load, which loads most of what the other workloads load too.
    t = time.time()
    with zipfile.ZipFile(jar, "w") as z:
        for d, _, fs in os.walk(classes):
            for f in sorted(fs):
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), classes))
    work = os.path.join(out, "archive-run")
    shutil.rmtree(work, ignore_errors=True)
    if os.path.exists(archive):
        os.remove(archive)
    data = os.path.join(work, "data")
    os.makedirs(os.path.join(work, "tmp"))
    gen.generate(data, "etl_nightly", 0, ARCHIVE_RUN_SIZES)
    run_jvm([f"-XX:ArchiveClassesAtExit={archive}"] + classpath + jvm_args(
        "etl_nightly", data, work, 0, 0, os.path.join(work, "result.json")), work)
    shutil.rmtree(work, ignore_errors=True)
    log(f"class-data-sharing archive recorded in {time.time() - t:.1f} s")
    with open(stamp, "w") as fh:
        fh.write(digest)
    return [f"-XX:SharedArchiveFile={archive}"] + classpath


def jvm_args(workload, data, work, seconds, trace, out):
    """Arguments of perfbench.Main for one run."""
    return ["perfbench.Main", "--workload", workload, "--data", data, "--work", work,
            "--seconds", str(seconds), "--trace", str(trace), "--cores", str(cores()),
            "--out", out]


def run_jvm(args, work):
    """Run a benchmark JVM in `work`, its output going to work/jvm.log; exit
    with the log's tail if it fails or overruns."""
    cmd = ["java", f"-Xmx{heap_size()}", f"-Djava.io.tmpdir={work}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    jvm_log = os.path.join(work, "jvm.log")
    with open(jvm_log, "w") as lf:
        proc = subprocess.Popen(cmd + args, stdout=lf, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(jvm_log) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"benchmark JVM failed ({rc})")


# ------------------------------------------------------------------ inputs

def dashboard_stream(seed, truth, seconds):
    """Seeded dashboard refreshes, enough for a window of `seconds`: each
    holds every template once, in a seeded order with seeded parameters, so
    every refresh has the same template mix."""
    rng = random.Random(seed * 7919 + 17)
    supps = sorted(rng.sample(range(truth["sizes"]["supplier"]), 4))
    domains = {t: (supps if d is None else d) for t, d in TEMPLATES.items()}
    refreshes = []
    for _ in range(int(seconds * MAX_REFRESHES_PER_S) + 2):
        names = sorted(domains)
        rng.shuffle(names)
        refreshes.append([f"{t}:{rng.choice(domains[t])}" for t in names])
    return refreshes


# ------------------------------------------------------------------ checks

def check(workload, data, work, result, truth):
    """Run the workload's output checks. Returns (failed op labels, notes)."""
    ops = result["ops"] + (result["traced"]["ops"] if result.get("traced") else [])
    bad, notes = set(), []
    if workload == "etl_nightly":
        last = ops[-1]["label"] if ops else None
        for table, (ok, detail) in oracle.check_warehouse(data, os.path.join(work, "warehouse")).items():
            if not ok:
                notes.append(f"{table}: {detail}")
                bad.add(last)
        landed = result["extra"]["nights_landed"]
        good = [o for o in ops if o["ok"]]
        if good:
            got, want = metrics.clean_kept(good[-1]["attrs"]["rows"], truth, landed)
            if abs(got - want) > 1e-12:
                notes.append(f"clean kept ratio {got} != generator's {want}")
                bad.add(last)
    elif workload == "bi_dashboard":
        first = {}
        for o in result["ops"]:
            first.setdefault(o["label"], o)
        captured = result["extra"]["captured"]
        for key, (ok, detail) in oracle.check_dashboard(data, captured).items():
            if not ok:
                notes.append(f"{key}: {detail}")
                bad.add(key)
        missing = set(first) - set(captured)
        if missing:
            notes.append(f"results not captured for {sorted(missing)}")
            bad |= missing
    elif workload == "corpus_ingest":
        ids = oracle.corpus_ids(os.path.join(data, "corpus.parquet"))
        sets = truth["sets"]
        for orig, copy in truth["exact_pairs"]:
            if orig in ids and copy in ids:
                # set 0 is the base corpus, curated in the warm-up: a duplicate
                # left there is charged to the first batch
                batch = max(i for i, s in enumerate(sets) if s["first_id"] <= copy)
                notes.append(f"exact duplicate {copy} of {orig} survived")
                bad.add(f"batch-{max(batch, 1):04d}")
    return bad, notes


def near_dup_recall(data, truth, ingested):
    """Share of the injected near-duplicate pairs among the base and the
    `ingested` batches whose original is in the corpus and whose copy is not."""
    ids = oracle.corpus_ids(os.path.join(data, "corpus.parquet"))
    last = truth["sets"][ingested]
    end = last["first_id"] + last["rows"]
    pairs = [(o, c) for o, c in truth["near_pairs"] if o in ids and c < end]
    return sum(1 for _, c in pairs if c not in ids) / len(pairs) if pairs else 0.0


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    jvm = build(root)

    setup_t0, setup_cpu0 = time.time(), time.process_time()
    base = os.path.join(root, ".bench_work")
    os.makedirs(base, exist_ok=True)
    for d in os.listdir(base):   # leftovers of runs that were killed
        try:
            os.kill(int(d.rsplit("-", 1)[1]), 0)
        except (ValueError, IndexError, ProcessLookupError, PermissionError):
            shutil.rmtree(os.path.join(base, d), ignore_errors=True)
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        t = time.time()
        truth = gen.generate(data, args.workload, args.seed, SIZES[args.workload])
        gen_s = time.time() - t
        n = cores()
        jvm_cmd = jvm + jvm_args(args.workload, data, work, args.seconds, args.trace,
                                 os.path.join(work, "result.json"))
        if args.workload == "bi_dashboard":
            stream = os.path.join(work, "stream.txt")
            with open(stream, "w") as f:
                f.write("\n".join(" ".join(s) for s in dashboard_stream(args.seed, truth, args.seconds)) + "\n")
            jvm_cmd += ["--stream", stream]
        py_setup_cpu = time.process_time() - setup_cpu0
        steal0, t0 = steal_ticks(), time.time()
        run_jvm(jvm_cmd, work)
        steal = (steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK") / (time.time() - t0) / os.cpu_count()
        with open(os.path.join(work, "result.json")) as f:
            result = json.load(f)
        report(args, result, truth, data, work, gen_s, setup_t0, py_setup_cpu, n, steal)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(args, result, truth, data, work, gen_s, setup_t0, py_setup_cpu, n, steal):
    ops = result["ops"]
    if not ops:
        fail("no op completed inside the measuring window")
    bad, notes = check(args.workload, data, work, result, truth)
    for note in notes:
        log("CHECK FAILED " + note)
    all_ops = ops + (result["traced"]["ops"] if result.get("traced") else [])
    attempted = len(all_ops)
    failed = sum(1 for o in all_ops if not o["ok"] or o["label"] in bad)
    first_us = min(o["start_us"] for o in ops)
    run_s = (max(o["end_us"] for o in ops) - first_us) / 1e6
    lat = [(o["end_us"] - o["start_us"]) / 1e6 for o in ops]
    done = sum(1 for o in ops if o["ok"])
    e2e = {
        "setup_s": (first_us / 1e6 - setup_t0, "s"),
        "setup_cpu_s": (py_setup_cpu + result["setup_cpu_s"], "s"),
        "run_s": (run_s, "s"),
        "op_p50_s": (metrics.percentile(lat, 50), "s"),
        "op_p90_s": (metrics.percentile(lat, 90), "s"),
        "ops_per_s": (done / run_s if run_s > 0 else 0.0, "1/s"),
        "op_cpu_s": (result["window_cpu_s"] / done if done else 0.0, "s"),
        "op_alloc_mb": (result["window_alloc_bytes"] / done / 2 ** 20 if done else 0.0, "MB"),
        "peak_live_heap_mb": (result["peak_old_gen_mb"], "MB"),
        "failed_ratio": (failed / attempted, "fraction"),
    }
    tail = metrics.tail_percentile(len(lat))
    print(f"workload {args.workload} seed {args.seed}: {len(lat)} ops in the timed window, "
          f"{n} cores, heap {heap_size()}; set-up: generate {gen_s:.2f} s, "
          f"session {result['session_s']:.2f} s, warm-up {result['warmup_s']:.2f} s; "
          f"{result['window_gcs']} GCs in the window; host CPU steal during the JVM run {steal:.1%}")
    print("  op latencies (s): " + " ".join(f"{x:.3f}" for x in lat))
    for k, (v, u) in e2e.items():
        print(f"  {k:<20} {v:14.4f} {u}")
    print(f"  tail rule: p{tail:g} has >= 10 samples beyond it" if tail else
          f"  tail rule: {len(lat)} samples support no percentile with 10 beyond it")
    if args.trace:
        recall = (near_dup_recall(data, truth, result["extra"]["batches_ingested"])
                  if args.workload == "corpus_ingest" else 0.0)
        units = {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]}
        layer = metrics.per_layer(units, args.workload, result, n, gen_s, run_s, len(ops), truth,
                                  recall)
        for k, v in layer.items():
            print(f"  {k:<32} {v:16.4f} {units[k]}")
        out = {k: {"value": v, "unit": units[k]} for k, v in layer.items()}
    else:
        out = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
               for m in BENCHMARK["end_to_end"]}
    print(json.dumps({"correct": not bad and not notes, "attempted": attempted,
                      "failed": failed, "metrics": out}))


if __name__ == "__main__":
    main()
