#!/usr/bin/env python3
"""graft product benchmark: one workload, one run, one JSON result line.

Usage (from the repository root):
    python3 perfbench/run.py --workload daily|grid|curate --seed N \
        --seconds S --trace 0|1

Builds graft and the benchmark JVM program from source into .bench_build/ (once
per source hash), generates the workload's inputs from the seed, runs the
workload in one JVM on local[nproc], checks its outputs outside the timed
region and prints, as the last stdout line,
    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}
with the end-to-end metrics (--trace 0) or the per-layer metrics plus the
tracing overhead (--trace 1). Everything it writes stays under .bench_build/.
See perfbench/NOTES.md for the workloads and metrics.
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
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = {
    # workload -> writes its inputs into a directory from a seed
    "daily": lambda d, seed: (gen.events(f"{d}/events.parquet", seed, 1500, 30, 2.22),
                              gen.conditions(f"{d}/conditions.parquet", seed, 1500)),
    "grid": lambda d, seed: gen.events(f"{d}/events.parquet", seed, 500, 30, 2.22),
    "curate": lambda d, seed: gen.documents(f"{d}/documents.parquet", seed, n_docs=5000),
}
DEADLINE_S = 170        # the whole command, build excluded
# what spark-submit would pass on JDK 17 (build.sbt's jdk17AddOpens)
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def source_files(root):
    """Graft's main sources and resources plus the benchmark's own sources."""
    out = []
    for top in ("src/main/scala", "src/main/resources", "perfbench/src"):
        for d, _, fs in os.walk(os.path.join(root, top)):
            out += [os.path.join(d, f) for f in fs]
    return sorted(out)


def spark_jars(root):
    """The Spark jar directory `build.sbt` compiles against (`unmanagedBase`)."""
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m or not os.path.isdir(m.group(1)):
        die("no Spark jar directory: build.sbt must name one as unmanagedBase")
    return m.group(1)


def build(root, jars):
    """Compiles graft and the benchmark with the Scala compiler Spark ships;
    returns the classes directory. Cached by a hash of every source."""
    files = source_files(root)
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(root, ".bench_build", "perfbench", "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    graft_out, bench_out = os.path.join(tmp, "graft"), os.path.join(tmp, "bench")
    os.makedirs(graft_out)
    os.makedirs(bench_out)
    scalac = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*",
              "scala.tools.nsc.Main", "-usejavacp", "-nowarn"]
    t = time.time()
    main_src = [f for f in files if f.endswith(".scala") and "/src/main/scala/" in f]
    bench_src = [f for f in files if f.endswith(".scala") and "/perfbench/src/" in f]
    subprocess.run(scalac + ["-d", graft_out] + main_src, check=True, stdout=sys.stderr)
    res = os.path.join(root, "src/main/resources")
    if os.path.isdir(res):
        shutil.copytree(res, graft_out, dirs_exist_ok=True)
    subprocess.run(scalac + ["-cp", graft_out, "-d", bench_out] + bench_src,
                   check=True, stdout=sys.stderr)
    os.replace(tmp, out)
    log(f"built {out} in {time.time() - t:.1f}s")
    for old in os.listdir(os.path.dirname(out)):
        if old.startswith("classes-") and old != os.path.basename(out):
            shutil.rmtree(os.path.join(os.path.dirname(out), old), ignore_errors=True)
    return out


def heap_gb():
    """A quarter of MemAvailable, clamped to 1..3 GiB (inputs are small)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemAvailable:"))
    except (OSError, StopIteration):
        return 2
    return max(1, min(3, kb // (4 * 1024 * 1024)))


def ncores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def jvm(classes, jars, run_dir, args, deadline):
    """Runs the benchmark JVM once and returns its result JSON."""
    out = os.path.join(run_dir, f"result-{time.time_ns()}.json")
    tmpdir = os.path.join(run_dir, "tmp")
    os.makedirs(tmpdir, exist_ok=True)
    cp = ":".join([os.path.join(classes, "bench"), os.path.join(classes, "graft"),
                   f"{jars}/*"])
    cmd = (["java", f"-Xmx{heap_gb()}g", "-Xss4m", f"-Djava.io.tmpdir={tmpdir}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "--add-modules=jdk.incubator.vector"]
           + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.PerfBench"]
           + [str(a) for a in args] + ["--out", out,
                                       "--t0ms", str(int(time.time() * 1000))])
    with open(os.path.join(run_dir, "jvm.log"), "ab") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=lf, cwd=run_dir)
        try:
            p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            die("benchmark JVM exceeded the run deadline")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if p.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(run_dir, "jvm.log"), errors="replace") as lf:
            sys.stderr.write(lf.read()[-4000:])
        die(f"benchmark JVM failed (exit {p.returncode})")
    with open(out) as f:
        return json.load(f)


def run_once(classes, jars, run_dir, base, a, trace, deadline):
    """One benchmark JVM: the measured workload, then its output checks."""
    work = os.path.join(run_dir, f"w{trace}")
    args = ["--workload", a.workload, "--base", base, "--root", work,
            "--seconds", a.seconds, "--trace", trace, "--cores", ncores()]
    if a.reuse_input:
        args += ["--reuse-input", "1"]
    res = jvm(classes, jars, run_dir, args, deadline)
    res["checks"].update(checks.run(a.workload, base, os.path.join(work, "check")))
    for e in res["errors"]:
        log(f"error: {e}")
    for k, v in res["checks"].items():
        log(f"check {k}: {'pass' if v else 'FAIL'}")
    log(f"trace={trace} calls_s={res['units_s']} reps={json.dumps(res['reps'])}")
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--reuse-input", action="store_true",
                    help="test hook: every rep reads rep 0's input (the guard must fail the run)")
    a = ap.parse_args()
    # a terminated run still stops its JVM and removes its files (finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src/main/scala")):
        die("no graft sources (src/main/scala) next to perfbench/; run from the repository root")
    jars = spark_jars(root)
    classes = build(root, jars)
    deadline = time.time() + DEADLINE_S
    run_dir = os.path.join(root, ".bench_build", "perfbench", "runs",
                           f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    base = os.path.join(run_dir, "base")
    os.makedirs(base)
    try:
        WORKLOADS[a.workload](base, a.seed)
        plain = run_once(classes, jars, run_dir, base, a, 0, deadline)
        runs = [plain]
        metrics = plain["end_to_end"]
        if a.trace == 1:
            # the per-layer metrics come from a second, traced JVM; its
            # end-to-end numbers minus the untraced ones are the overhead
            traced = run_once(classes, jars, run_dir, base, a, 1, deadline)
            runs.append(traced)
            metrics = dict(traced["per_layer"])
            for k, v in traced["end_to_end"].items():
                if k != "setup_s":
                    metrics[f"overhead.{k}"] = {
                        "value": v["value"] - plain["end_to_end"][k]["value"], "unit": v["unit"]}
        oks = [v for r in runs for v in r["checks"].values()]
        attempted = sum(r["attempted"] for r in runs)
        failed = sum(r["failed"] for r in runs) + oks.count(False)
        if a.trace == 1:
            metrics["fail_ratio"] = {"value": failed / max(1, attempted), "unit": "ratio"}
        result = {"correct": bool(oks) and all(oks) and failed == 0,
                  "attempted": max(1, attempted), "failed": failed, "metrics": metrics}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
