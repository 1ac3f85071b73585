#!/usr/bin/env python3
"""Benchmark launcher for the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Run from the root of a source checkout. The first call builds the program
and the benchmark from source with sbt (perfbench/build.sbt); later calls
reuse the build while the sources are unchanged. Each run gets a fresh
private work directory (stores, checkpoints, Spark local and temp dirs)
under perfbench/.work, removed on every exit path. Per-run results and
traces go to perfbench/results. The last line of standard output is the
result: {"correct", "attempted", "failed", "metrics"}.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_DIR = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(BUILD_DIR, "graftbench-classpath.txt")
WORK_ROOT = os.path.join(HERE, ".work")
RESULTS = os.path.join(HERE, "results")
JAVA_RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_digest():
    """SHA-256 over every file the build compiles, in path order."""
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(digest):
    """Compiles with sbt unless a build of these exact sources, in this
    checkout, exists; returns the runtime classpath."""
    stamp = f"{digest} {ROOT}"
    if os.path.exists(CLASSPATH_FILE):
        with open(CLASSPATH_FILE) as fh:
            old, cp = fh.read().split("\n", 1)
        if old == stamp:
            return cp.strip()
    log("building program and benchmark with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if not env.get("SPARK_HOME"):
        # the build compiles against the jars of the Spark install on PATH
        # (the first spark-submit whose install has a jars/ directory)
        homes = [os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
                 for d in env.get("PATH", "").split(os.pathsep)
                 if os.path.isfile(os.path.join(d, "spark-submit"))]
        homes = [h for h in homes if os.path.isdir(os.path.join(h, "jars"))]
        if not homes:
            fail("no Spark install found: set SPARK_HOME or put spark-submit on PATH")
        env["SPARK_HOME"] = homes[0]
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "clean", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = proc.stdout.splitlines()
    cps = [l for l in lines if os.pathsep in l and "classes" in l and not l.startswith("[")]
    if proc.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (sbt exit {proc.returncode})")
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(CLASSPATH_FILE, "w") as fh:
        fh.write(stamp + "\n" + cps[-1].strip() + "\n")
    log(f"build done in {time.time() - t0:.1f} s")
    return cps[-1].strip()


def java_cmd(cp, work, main_args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # -UsePerfData: no hsperfdata file outside the run's directory
    return [java, "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", *opens, "-cp", cp, "graftbench.Main", *main_args]


def run_java(cmd, work, timeout_s):
    """Runs the JVM in its own process group; returns (exit code, stdout lines).
    The group is killed on timeout or when this launcher is signalled, and
    the private work directory is removed on every path."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: keep both in the run's directory
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)

    def kill(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    def on_signal(signum, _frame):
        kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    old = {s: signal.signal(s, on_signal) for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP)}
    try:
        out, _ = proc.communicate(timeout=timeout_s)
        return proc.returncode, out.splitlines()
    except subprocess.TimeoutExpired:
        kill()
        proc.communicate()
        fail(f"run exceeded {timeout_s} s and was stopped", 3)
    finally:
        kill()  # stray children of the JVM, if any
        for s, h in old.items():
            signal.signal(s, h)
        shutil.rmtree(work, ignore_errors=True)


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        b = json.load(fh)
    return ({m["name"]: m["unit"] for m in b["end_to_end"]},
            {m["name"]: m["unit"] for m in b["per_layer"]},
            [w["name"] for w in b["workloads"]])


def git_commit():
    """HEAD of the checkout when it is itself a git work tree, else None."""
    try:
        out = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10).stdout.split()
    except (OSError, subprocess.SubprocessError):
        return None
    if len(out) == 2 and os.path.realpath(out[0]) == os.path.realpath(ROOT):
        return out[1]
    return None


def self_test(cp):
    work = os.path.join(WORK_ROOT, f"selftest-{os.getpid()}")
    code, lines = run_java(java_cmd(cp, work, ["--self-test"]), work, JAVA_RUN_TIMEOUT_S)
    print("\n".join(l for l in lines if not l.startswith("catalog ")))
    if code != 0:
        fail("self-test failed", 1)
    e2e, layer, workloads = declared()
    catalog = {}
    for l in lines:
        if l.startswith("catalog "):
            _, mode, wl, name, unit = l.split()
            catalog.setdefault((mode, wl), {})[name] = unit
    for wl in workloads:
        for mode, want in (("0", e2e), ("1", layer)):
            got = catalog.get((mode, wl), {})
            ok = got == want
            print(f"self-test {'ok  ' if ok else 'FAIL'} trace {mode} on {wl} prints every "
                  f"declared metric with its unit ({len(got)} of {len(want)})")
            if not ok:
                diff = set(got.items()) ^ set(want.items())
                fail(f"metric catalogue differs from BENCHMARK.json: {sorted(diff)}", 1)
    print("self-test passed")


def overhead(workload, seed, detail):
    """Traced minus untraced value of each end-to-end figure, against the
    untraced run of the same workload and seed if one was kept."""
    path = os.path.join(RESULTS, f"{workload}-seed{seed}-trace0.json")
    if not os.path.exists(path):
        log(f"no untraced result for {workload} seed {seed}: tracing overhead not measured")
        return None
    with open(path) as fh:
        base = json.load(fh)["detail"]
    out = {k: {"traced": v["value"], "untraced": base[k]["value"],
               "overhead": v["value"] - base[k]["value"], "unit": v["unit"]}
           for k, v in detail.items() if k in base}
    for k, v in out.items():
        print(f"overhead {k} {v['overhead']:+.6f} {v['unit']} (traced {v['traced']:.6f}, "
              f"untraced {v['untraced']:.6f})")
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()

    if not os.path.isdir(PROGRAM_SRC):
        fail(f"program sources not found at {os.path.relpath(PROGRAM_SRC, ROOT)}: "
             "run from the root of a full source checkout")
    digest = source_digest()
    cp = build(digest)
    if a.self_test:
        self_test(cp)
        return
    if a.workload is None or a.seed is None or a.seconds is None:
        ap.error("--workload, --seed and --seconds are required")
    e2e, layer, workloads = declared()
    if a.workload not in workloads:
        fail(f"unknown workload {a.workload}; declared: {', '.join(workloads)}")

    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}-{time.time_ns()}")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--out", RESULTS]
    code, lines = run_java(java_cmd(cp, work, args), work, JAVA_RUN_TIMEOUT_S)
    result = None
    detail = {}
    for l in lines:
        if l.startswith("RESULT "):
            result = json.loads(l[len("RESULT "):])
            continue
        if l.startswith("metric "):
            _, name, value, unit = l.split(" ", 3)
            detail[name] = {"value": float(value), "unit": unit.split(" ")[0]}
        print(l)
    if code != 0 or result is None:
        fail(f"benchmark run failed (exit {code})", 1)

    want = layer if a.trace else e2e
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        fail(f"printed metrics differ from BENCHMARK.json: {sorted(set(got.items()) ^ set(want.items()))}", 1)
    meta = dict(result.pop("meta"), git_commit=git_commit(), source_sha256=digest)
    print("meta " + json.dumps(meta, sort_keys=True))
    os.makedirs(RESULTS, exist_ok=True)
    record = {"meta": meta, "result": result, "detail": detail}
    if a.trace:
        record["tracing_overhead"] = overhead(a.workload, a.seed, detail)
    with open(os.path.join(RESULTS, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
