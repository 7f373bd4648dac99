#!/usr/bin/env python3
"""Run one benchmark workload against the graft engine of this checkout.

    python3 perfbench/run.py --workload adhoc_sql --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness with sbt and generates the fixture tables; later runs reuse both
(everything lives under .bench_build/perfbench/). Each run starts one JVM
with a fresh temp root, which is deleted afterwards.

Prints every metric as `name value unit`, then, as the last line, one JSON
object {"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
of BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1. The
full result, with host context, is kept under .bench_build/perfbench/results/
(the input of compare.py); a traced run also writes its spans there.

    python3 perfbench/run.py --write-fingerprints

records the expected output of every adhoc and llm operation in
perfbench/fingerprints.tsv (and the oracle SQL oracle_check.py needs).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
RESULTS = os.path.join(STATE, "results")
FINGERPRINTS = os.path.join(HERE, "fingerprints.tsv")
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 800
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_stamp():
    """Digest of every build input's path, size and mtime."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, subdirs, names in os.walk(base):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        st = os.stat(f)
        h.update(f"{f}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def run_child(cmd, log_path, timeout, cwd=ROOT, env=None):
    """Run cmd in its own process group, output to log_path; on timeout
    kill the whole group and wait for it."""
    with open(log_path, "wb") as log:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def tail(path, n=40):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


def build():
    """Compile engine + harness once per source state; return the classpath."""
    cp_file = os.path.join(STATE, "classpath.txt")
    stamp_file = os.path.join(STATE, "build.stamp")
    stamp = sources_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as f:
                    return f.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH", 3)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = " ".join([
        env.get("SBT_OPTS", "-Dsbt.offline=true"),
        "-Dsbt.server.autostart=false",
    ])
    log = os.path.join(STATE, "build.log")
    rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                   log, BUILD_TIMEOUT_S, cwd=HERE, env=env)
    written = os.path.join(HERE, "target", "bench-classpath.txt")
    if rc != 0 or not os.path.exists(written):
        sys.stderr.write(tail(log))
        fail(f"build failed (exit {rc}); log: {log}", 3)
    shutil.copyfile(written, cp_file)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as f:
        return f.read().strip()


def java_cmd(classpath, tmp, *args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return [java, *opens, "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={tmp}",
            "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
            "-cp", classpath, "perfbench.Main", *args]


def fixtures(classpath):
    d = os.path.join(STATE, "fixtures")
    if os.path.exists(os.path.join(d, "_DONE")):
        return d
    shutil.rmtree(d, ignore_errors=True)
    part = d + ".part"
    shutil.rmtree(part, ignore_errors=True)
    tmp = os.path.join(STATE, "tmp", "fixtures")
    os.makedirs(tmp, exist_ok=True)
    log = os.path.join(STATE, "fixtures.log")
    rc = run_child(java_cmd(classpath, tmp, "fixtures", part), log, 600)
    shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0:
        sys.stderr.write(tail(log))
        fail("fixture generation failed", 3)
    os.rename(part, d)
    open(os.path.join(d, "_DONE"), "w").close()
    return d


def cpu_calibration_s():
    """Seconds for a fixed single-thread loop: recorded, never divided by."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x = (x * 31 + i) & 0xFFFFFFFF
    return time.perf_counter() - t0


def load_benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-fingerprints", action="store_true")
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft"),
                 "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"run from the root of a graft checkout ({need} is missing)")
    bench = load_benchmark()
    # adhoc_sql runs on request; it is outside BENCHMARK.json's set
    names = [w["name"] for w in bench["workloads"]] + ["adhoc_sql"]
    if not a.write_fingerprints and a.workload not in names:
        fail(f"--workload must be one of {', '.join(names)}")

    os.makedirs(RESULTS, exist_ok=True)
    classpath = build()
    fixture_dir = fixtures(classpath)
    work = os.path.join(STATE, "tmp", f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        if a.write_fingerprints:
            log = os.path.join(STATE, "fingerprints.log")
            rc = run_child(java_cmd(classpath, os.path.join(work, "tmp"), "fingerprints",
                                    fixture_dir, work, FINGERPRINTS,
                                    os.path.join(STATE, "oracle_sql.json")), log, 900)
            if rc != 0:
                sys.stderr.write(tail(log))
                fail("fingerprint run failed", 1)
            print(f"wrote {FINGERPRINTS}")
            return
        measure(a, bench, classpath, fixture_dir, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(a, bench, classpath, fixture_dir, work):
    host = {"nproc": len(os.sched_getaffinity(0)),
            "loadavg_start": os.getloadavg()[0],
            "cpu_calibration_s": cpu_calibration_s()}
    out = os.path.join(work, "result.json")
    stamp = time.strftime("%Y%m%dT%H%M%S")
    base = os.path.join(RESULTS, f"{a.workload}-s{a.seed}-t{a.trace}-{stamp}-{os.getpid()}")
    log = base + ".log"
    launch_ms = int(time.time() * 1000)
    rc = run_child(java_cmd(
        classpath, os.path.join(work, "tmp"), "run",
        f"workload={a.workload}", f"seed={a.seed}", f"seconds={a.seconds}",
        f"trace={a.trace}", f"launch_ms={launch_ms}", f"work={work}",
        f"fixtures={fixture_dir}", f"fingerprints={FINGERPRINTS}",
        f"out={out}", f"trace_out={base}.trace.json"), log, JVM_TIMEOUT_S)
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write(tail(log))
        fail(f"benchmark JVM failed (exit {rc}); log: {log}", 1)
    with open(out) as f:
        res = json.load(f)
    host["loadavg_end"] = os.getloadavg()[0]
    res["host"] = host
    with open(base + ".json", "w") as f:
        json.dump(res, f, indent=1)

    section = "per_layer" if a.trace else "end_to_end"
    wanted = bench[section]
    got = res[section]
    missing = [m["name"] for m in wanted if got.get(m["name"]) is None]
    if missing:
        fail(f"result lacks {', '.join(missing)}; see {base}.json", 1)

    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    print(f"workload {a.workload} seed {a.seed} trace {a.trace} "
          f"nproc {host['nproc']} loadavg {host['loadavg_start']:.2f}->"
          f"{host['loadavg_end']:.2f} cpu_calibration {host['cpu_calibration_s']:.4f} s")
    for sec in ("end_to_end", "extra", "per_layer"):
        for k, v in res[sec].items():
            print(f"{k} {v} {units.get(k, extra_unit(k))}")
    if a.trace:
        report_overhead(a, res)
        print(f"spans: {base}.trace.json")
    if res["mismatches"]:
        print("mismatches: " + ", ".join(res["mismatches"]))
    print(json.dumps({
        "correct": res["correct"], "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m["name"]: {"value": got[m["name"]], "unit": m["unit"]}
                    for m in wanted}}))
    if not res["correct"]:
        sys.exit(1)


def extra_unit(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_frac") or name.endswith("_amp"):
        return "ratio"
    return "count"


def report_overhead(a, traced):
    """Tracing overhead: this traced run's op_p50_s against the untraced
    runs of the same workload (same seed if there is one) kept here."""
    runs = []
    for p in glob.glob(os.path.join(RESULTS, f"{a.workload}-s*-t0-*.json")):
        with open(p) as f:
            r = json.load(f)
        runs.append((r["seed"] == a.seed, r["end_to_end"]["op_p50_s"]))
    same = [v for s, v in runs if s] or [v for _, v in runs]
    if not same:
        print("trace_overhead unknown (no untraced run of this workload yet)")
        return
    base = sorted(same)[len(same) // 2]
    print(f"trace_overhead {traced['end_to_end']['op_p50_s'] / base - 1:.4f} ratio "
          f"(op_p50_s traced vs untraced, {len(same)} untraced run(s))")


if __name__ == "__main__":
    main()
