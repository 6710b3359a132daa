#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one JSON result line.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The engine and the harness are built from the sources in this checkout
(sbt, cached in .bench_build/ and rebuilt when a source or a compiled class
changes), the benchmark tables are generated from a fixed data seed, and the
harness JVM runs in a hermetic environment: every SPARK_GRAFT_* variable
cleared except the frame directory and the core count, temp files under
.bench_build/. After the JVM exits the run fails if it leaked graft_* temp
directories or a streaming query, or changed any file outside .bench_build/.

The last stdout line is {"correct", "attempted", "failed", "metrics"}: the
end-to-end metrics of BENCHMARK.json with --trace 0, its per-layer metrics
with --trace 1. The full record (every operation, host and conf, layer rows
per entry, tracing overhead, span tree) goes to .bench_build/results/.
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
HARNESS = os.path.join(HERE, "harness")
BUILD = os.path.join(ROOT, ".bench_build")
FRAMES = {"bench": "0.1", "warm": "0.001"}
RUN_LIMIT_S = 170

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_checked(cmd, cwd, log, timeout, env=None):
    """Runs cmd in its own process group, output to log; kills the whole
    group on timeout and always waits for it."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
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


def tree_hash(paths):
    h = hashlib.sha256()
    for top in paths:
        if os.path.isfile(top):
            files = [top]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs
                           if "target" not in os.path.relpath(d, top).split(os.sep))
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classes_hash(cp):
    """Content hash of the class directories on the classpath. The engine's
    classes live in the root project's target/, which a root `sbt compile`
    rewrites without the benchmark knowing; the stamp holds this hash so a
    run never measures classes other than the ones its last build made."""
    h = hashlib.sha256()
    for top in cp.split(os.pathsep):
        if not os.path.isdir(top):
            continue
        for d, dirs, fs in os.walk(top):
            dirs.sort()
            for f in sorted(fs):
                p = os.path.join(d, f)
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles the engine and the harness; returns the runtime classpath.
    sbt is skipped only when neither the sources nor the compiled classes
    changed since the last build."""
    engine = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
              os.path.join(ROOT, "src", "main")]
    if not all(os.path.exists(p) for p in engine):
        fail("engine sources (build.sbt, project/build.properties, src/main) not found")
    sources = engine + [os.path.join(HARNESS, "build.sbt"),
                        os.path.join(HARNESS, "project", "build.properties"),
                        os.path.join(HARNESS, "src", "main")]
    digest = tree_hash(sources)
    stamp, cp_file = os.path.join(BUILD, "build.stamp"), os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        cp = open(cp_file).read().strip()
        if all(os.path.exists(p) for p in cp.split(os.pathsep)) and \
                open(stamp).read() == f"{digest} {classes_hash(cp)}":
            return cp
    log = os.path.join(BUILD, "logs", "build.log")
    rc = run_checked(["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true",
                      "writeClasspath"], HARNESS, log, timeout=840)
    if rc != 0:
        fail(f"build failed (exit {rc}); see {log}")
    shutil.copy(os.path.join(HARNESS, "target", "classpath.txt"), cp_file)
    cp = open(cp_file).read().strip()
    with open(stamp, "w") as fh:
        fh.write(f"{digest} {classes_hash(cp)}")
    return cp


def frames():
    """Generates the bench and warm frames once per generator version."""
    gen = os.path.join(HERE, "gen_data.py")
    digest = tree_hash([gen])
    dirs = {k: os.path.join(BUILD, "data", f"sf{sf}") for k, sf in FRAMES.items()}
    stamp = os.path.join(BUILD, "data", "gen.stamp")
    if not (os.path.exists(stamp) and open(stamp).read() == digest):
        for k, sf in FRAMES.items():
            shutil.rmtree(dirs[k], ignore_errors=True)
            rc = subprocess.call([sys.executable, gen, dirs[k], sf])
            if rc != 0:
                fail(f"data generation failed for sf{sf}")
        with open(stamp, "w") as fh:
            fh.write(digest)
    return dirs


def xmx():
    """Half of physical memory, between 2 and 8 GiB."""
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo") if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def java_cmd(cp, tmp, main="perfbench.Main"):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return [java, *opens, f"-Xmx{xmx()}", "-XX:+UseG1GC", "-XX:MaxGCPauseMillis=50",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", "-cp", cp, main]


def hermetic_env(bench_dir, cpus):
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_GRAFT_SF_DIR"] = bench_dir
    env["SPARK_GRAFT_CPUS"] = str(cpus)
    return env


def leaked_temp(tmp, before):
    """graft_* directories left in the JVM's temp dir or /dev/shm."""
    found = []
    for d in (tmp, "/dev/shm"):
        if os.path.isdir(d):
            found += [os.path.join(d, n) for n in os.listdir(d) if n.startswith("graft_")]
    return sorted(set(found) - before)


def tree_state():
    """Every file outside the build output, with size and mtime, plus
    `git status --porcelain` when the checkout is a git work tree."""
    state = {}
    skip = {".bench_build", ".git", "target", ".bsp"}
    for d, dirs, files in os.walk(ROOT):
        dirs[:] = [x for x in dirs if x not in skip and not
                   (x == "project" and os.path.basename(d) == "project")]
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.lstat(p)
                state[os.path.relpath(p, ROOT)] = (st.st_size, st.st_mtime_ns)
            except OSError:
                pass
    try:
        git = subprocess.run(["git", "status", "--porcelain"], cwd=ROOT, capture_output=True,
                             text=True, timeout=60)
        state["<git status>"] = git.stdout if git.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        state["<git status>"] = None
    return state


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=30)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def main():
    spec_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_file):
        fail("BENCHMARK.json not found at the checkout root")
    spec = json.load(open(spec_file))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    for d in ("logs", "results"):
        os.makedirs(os.path.join(BUILD, d), exist_ok=True)

    t_build = time.monotonic()
    cp = build()
    dirs = frames()
    # the run limit excludes building and table generation
    deadline = START + RUN_LIMIT_S + (time.monotonic() - t_build)

    tmp = os.path.join(BUILD, "tmp")
    work = os.path.join(BUILD, "work")
    for d in (tmp, work):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    cpus = len(os.sched_getaffinity(0))
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    detail_file = os.path.join(BUILD, "results", f"{tag}.json")
    spans_file = os.path.join(BUILD, "results", f"{tag}.spans.json")
    for f in (detail_file, spans_file):
        if os.path.exists(f):
            os.remove(f)

    shm_before = set(leaked_temp(tmp, set()))
    tree_before = tree_state()
    cmd = java_cmd(cp, tmp) + [
        "--mode", "run", "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--bench-dir", dirs["bench"], "--warm-dir", dirs["warm"], "--cpus", str(cpus),
        "--expected", os.path.join(HERE, "expected.json"), "--out", detail_file,
        "--spans-out", spans_file]
    log = os.path.join(BUILD, "logs", f"{tag}.log")
    rc = run_checked(cmd, work, log, timeout=max(10, deadline - time.monotonic()),
                     env=hermetic_env(dirs["bench"], cpus))
    if rc != 0 or not os.path.exists(detail_file):
        fail(f"harness JVM {'timed out' if rc is None else f'exited {rc}'}; see {log}")

    detail = json.load(open(detail_file))
    source_hash, classes = open(os.path.join(BUILD, "build.stamp")).read().split()
    problems = []
    leaks = leaked_temp(tmp, shm_before)
    if leaks:
        problems.append(f"leaked temp directories: {leaks}")
    if detail["streams_active_after"]:
        problems.append(f"streaming queries still active: {detail['streams_active_after']}")
    tree_after = tree_state()
    changed = sorted(k for k in set(tree_before) | set(tree_after)
                     if tree_before.get(k) != tree_after.get(k))
    if changed:
        problems.append(f"files outside .bench_build changed: {changed[:10]}")
    for f in detail["failures"]:
        print(f"FAILED {f['op']}: {f['why']}", file=sys.stderr)
    for p in problems:
        print(f"FAILED {p}", file=sys.stderr)

    detail["record"] = {"seed": args.seed, "commit": git_commit(),
                        "source_hash": source_hash, "classes_hash": classes,
                        "problems": problems}
    with open(detail_file, "w") as fh:
        json.dump(detail, fh, indent=1)

    source = detail["layers"] if args.trace else detail["metrics"]
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {m["name"]: {"value": source[m["name"]], "unit": m["unit"]} for m in wanted}
    correct = detail["failed"] == 0 and not problems
    host = detail["host"]
    print(f"# {args.workload} seed={args.seed} trace={args.trace} cpus={host['cpus']} "
          f"xmx={host['xmx_mb']:.0f}MB loadavg={host['loadavg_start']:.2f}->"
          f"{host['loadavg_end']:.2f} detail={os.path.relpath(detail_file, ROOT)}")
    for name, m in metrics.items():
        print(f"#   {name:28s} {m['value']:.6g} {m['unit']}")
    if args.trace:
        o = detail["overhead"]
        print(f"#   tracing overhead {o['ratio']:+.3f} against the untraced pass after it "
              f"({o['untraced_wall_s']:.3f} s -> {o['traced_wall_s']:.3f} s)")
    print(json.dumps({"correct": correct, "attempted": detail["attempted"],
                      "failed": detail["failed"], "metrics": metrics}))
    return 0 if correct else 1


START = time.monotonic()

if __name__ == "__main__":
    sys.exit(main())
