#!/usr/bin/env python3
"""Lake benchmark runner: build, generate inputs, run one workload, check.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Steps:
  1. build the engine and the harness from source with sbt into jars,
     and train the JVM class archive on them (once per source state;
     both are cached under .bench_build/);
  2. generate the seeded inputs with perfbench/gen.py (cached per seed);
  3. run the harness JVM (perfbench.Main) for the workload, one client
     thread, `--seconds` of closed-loop ops;
  4. print a `# host ...` line with the host-noise markers, then, as
     the last line, {"correct", "attempted", "failed", "metrics"}.

With --trace 0 the metrics are BENCHMARK.json's end-to-end metrics; with
--trace 1 its per-layer metrics. Every run's full record (checks,
failures, samples, host markers, traced self-time table) is kept under
.bench_build/results/. Exits non-zero without a result line when the
build, the run or a required metric fails.
"""
import argparse
import hashlib
import json
import os
import resource
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("lake_churn", "retrieval_serve")
# Reserved for re-checking a claimed gain on inputs no tuning has seen.
HELD_OUT_SEED = 90210
JVM_HEAP = "3g"
RUN_TIMEOUT_S = 165
# the first run of a checkout may take 900 s: build + training + run
TRAIN_TIMEOUT_S = 420
ARCHIVE = os.path.join(BUILD, "classes.jsa")
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---- build ----------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"),
                 os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + harness into jars; return the runtime classpath.
    A fresh build also trains the class archive (see `train_archive`)."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("no engine sources next to perfbench/ (expected build.sbt and "
            "src/main/scala at the repository root)")
    os.makedirs(BUILD, exist_ok=True)
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            old_stamp, cp = f.read().split("\n", 1)
        if old_stamp == stamp:
            return cp.strip()
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false",
            "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts = ["-Dsbt.override.build.repos=true",
                f"-Dsbt.repository.config={repos}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    # jars, not class directories: the JVM's class archive takes only jars
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspathAsJars"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True)
    with open(os.path.join(BUILD, "build.log"), "w") as f:
        f.write(p.stdout)
    cps = [l for l in p.stdout.splitlines()
           if l and not l.startswith("[") and ".jar" in l]
    if p.returncode != 0 or not cps:
        sys.stderr.write(p.stdout[-4000:])
        die(f"build failed (exit {p.returncode}); see .bench_build/build.log")
    cp = cps[-1].strip()
    print(f"# built in {time.time() - t0:.1f}s", file=sys.stderr)
    train_archive(cp)
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp)
    return cp


def jvm(cp, work, args, archive_flag):
    return (["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", archive_flag] +
            [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
            ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-Dlog4j.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
             f"-Dspark.local.dir={work}/spark-local",
             f"-Djava.io.tmpdir={work}/tmp",
             "-cp", cp, "perfbench.Main"] + args)


def train_archive(cp):
    """Dump the classes a set-up and warm-up of every workload loads
    into a dynamic class-data-sharing archive, so each run's JVM maps
    them instead of loading and verifying thousands of Spark classes:
    several seconds off every run's start. It changes no code path;
    without the archive (a failed dump) runs only start slower."""
    t0 = time.time()
    data = inputs(WORKLOADS, 0)
    work = os.path.join(BUILD, "work", f"archive-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = jvm(cp, work, ["--workload", "all", "--seed", "0", "--seconds", "0",
                         "--trace", "0", "--data", data, "--work", work,
                         "--out", os.path.join(work, "result.json")],
              f"-XX:ArchiveClassesAtExit={ARCHIVE}")
    with open(os.path.join(BUILD, "archive.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=TRAIN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
    shutil.rmtree(work, ignore_errors=True)
    if p.returncode != 0 and os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    print(f"# class archive {'trained' if os.path.exists(ARCHIVE) else 'FAILED'}"
          f" in {time.time() - t0:.1f}s", file=sys.stderr)


# ---- inputs ---------------------------------------------------------------

def inputs(workloads, seed):
    """Generated once per (workloads, seed, generator version); the
    workloads' files have distinct names, so several share one dir."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        ver = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(BUILD, "inputs", f"{'+'.join(workloads)}-{seed}-{ver}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        shutil.rmtree(d, ignore_errors=True)
        for w in workloads:
            p = subprocess.run([sys.executable, os.path.join(HERE, "gen.py"),
                                "--workload", w, "--seed", str(seed),
                                "--out", d])
            if p.returncode != 0:
                die("input generation failed")
        open(os.path.join(d, "_DONE"), "w").close()
    return d


# ---- host-noise markers ---------------------------------------------------

def load1():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return -1.0


def jiffies():
    """Machine-wide (busy, steal, total) CPU jiffies from /proc/stat's
    cpu line: idle + iowait count as idle; steal (time the hypervisor
    ran someone else) counts as busy and is also reported alone."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        idle = v[3] + (v[4] if len(v) > 4 else 0)
        steal = v[7] if len(v) > 7 else 0
        return sum(v) - idle, steal, sum(v)
    except OSError:
        return -1, -1, -1


def cpu_probe():
    """Seconds for a fixed single-thread loop: a slowed host (contention
    that steal time does not show) reads as a larger value."""
    t = time.perf_counter()
    x = 0
    for i in range(1_000_000):
        x += i
    return round(time.perf_counter() - t, 4)


# ---- main -----------------------------------------------------------------

def keep(work, tag):
    """Move the JVM log and any span dump to .bench_build/results/ and
    delete the run's scratch (tables, indexes, Spark local dirs)."""
    res = os.path.join(BUILD, "results")
    os.makedirs(res, exist_ok=True)
    for name, ext in (("jvm.log", ".log"), ("trace-spans.jsonl", ".spans.jsonl")):
        if os.path.exists(os.path.join(work, name)):
            shutil.move(os.path.join(work, name), os.path.join(res, tag + ext))
    shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except OSError:
        die("BENCHMARK.json not found at the repository root")
    t_start = time.time()
    cp = build()
    data = inputs([a.workload], a.seed)
    prep_s = time.time() - t_start
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    archive_flag = (f"-XX:SharedArchiveFile={ARCHIVE}"
                    if os.path.exists(ARCHIVE) else "-Xshare:auto")
    cmd = jvm(cp, work, ["--workload", a.workload, "--seed", str(a.seed),
                         "--seconds", str(a.seconds), "--trace", str(a.trace),
                         "--data", data, "--work", work, "--out", out],
              archive_flag)
    host = {"nproc": os.cpu_count(), "load1_before": load1(),
            "cpu_probe_before_s": cpu_probe()}
    b0, s0, t0j = jiffies()
    ru0 = resource.getrusage(resource.RUSAGE_CHILDREN)
    w0 = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    wall = time.time() - w0
    ru1 = resource.getrusage(resource.RUSAGE_CHILDREN)
    b1, s1, t1j = jiffies()
    own_cpu = (ru1.ru_utime - ru0.ru_utime) + (ru1.ru_stime - ru0.ru_stime)
    host["load1_after"] = load1()
    host["cpu_probe_after_s"] = cpu_probe()
    host["wall_s"] = round(wall, 3)
    host["own_cpu_s"] = round(own_cpu, 3)
    if b0 >= 0 and t1j > t0j:
        busy = (b1 - b0) / (t1j - t0j)
        host["machine_busy_frac"] = round(busy, 4)
        host["steal_frac"] = round((s1 - s0) / (t1j - t0j), 4)
        host["foreign_busy_frac"] = round(
            busy - own_cpu / (wall * (os.cpu_count() or 1)), 4)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(w0)}"
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        keep(work, tag)
        die(f"harness exited with {rc}")
    with open(out) as f:
        res = json.load(f)
    attempted, failed, failures = res["attempted"], res["failed"], res["failures"]
    host["prep_s"] = round(prep_s, 3)
    record = dict(res, host=host, seed=a.seed, trace=a.trace)
    table = os.path.join(work, "trace-table.txt")
    if os.path.exists(table):
        with open(table) as f:
            record["trace_table"] = f.read().splitlines()
        print("\n".join(record["trace_table"]), file=sys.stderr)
    keep(work, tag)
    with open(os.path.join(BUILD, "results", tag + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    for x in failures:
        print(f"# FAILED {x}", file=sys.stderr)
    values = res["layers"] if a.trace else res["e2e"]
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        v = values.get(m["name"])
        if v is None:
            die(f"harness did not report {m['name']}")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print("# host " + json.dumps(host) + " seed=" + str(a.seed))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
