#!/usr/bin/env python3
"""KG-construction benchmark: builds the program from this checkout's sources
and runs one workload in one JVM.

    python3 kgbench/run.py --workload kg_build --seed 1 --seconds 12 --trace 0

Workloads: kg_build, query_heavy (see kgbench/README.md). The
last line of stdout is one JSON object: correct, attempted, failed, metrics.
Extra options: --size tiny (small inputs, for the self-test) and --perturb
output|program (drop one row of each checked output, or the same share of
every triple set the run sees; the run must then fail).
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
PROGRAM_SRC = os.path.join(ROOT, "src", "main")
TARGET = os.path.join(BENCH, "target")
WORKLOADS = ("kg_build", "query_heavy")

# Spark on JDK 17 outside spark-submit needs these (the program's build.sbt
# passes the same list to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HEAP = "2g"


def fail(msg):
    print(f"kgbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(BENCH, "src"), os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles program + harness with sbt when the sources changed; returns
    the runtime classpath."""
    os.makedirs(TARGET, exist_ok=True)
    stamp = os.path.join(TARGET, "kgbench.stamp")
    with open(os.path.join(TARGET, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        want = source_hash()
        if os.path.exists(stamp):
            with open(stamp) as f:
                have, cp = f.read().split("\n", 1)
            if have == want:
                return cp.strip()
        env = dict(os.environ, COURSIER_MODE="offline")
        opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
                "-Djava.io.tmpdir=" + os.path.join(TARGET, "tmp")]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = " ".join(opts)
        os.makedirs(os.path.join(TARGET, "tmp"), exist_ok=True)
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, text=True)
        if out.returncode != 0:
            sys.stderr.write(out.stdout[-4000:])
            fail("build failed")
        cp = [l for l in out.stdout.splitlines() if "kgbench" in l and os.pathsep in l]
        if not cp:
            fail("build printed no classpath")
        with open(stamp, "w") as f:
            f.write(want + "\n" + cp[-1].strip())
        return cp[-1].strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--size", default="full", choices=("full", "tiny"))
    ap.add_argument("--perturb", choices=("output", "program"))
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(PROGRAM_SRC, "scala", "graft")):
        fail(f"program sources not found under {PROGRAM_SRC}")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    cp = build()

    work = os.path.join(BENCH, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        # the throughput collector: under G1 the median build of kg_build
        # moved by up to 40% from one JVM to the next; with it, within 5%
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
        "-Dfile.encoding=UTF-8", "-Dsun.jnu.encoding=UTF-8",
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-cp", cp, "kgbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--size", a.size, "--work", work,
        "--out", os.path.join(BENCH, "out"), "--pins", os.path.join(BENCH, "pins.tsv"),
    ] + (["--perturb", a.perturb] if a.perturb else [])
    env = dict(os.environ, LC_ALL="C.UTF-8", LANG="C.UTF-8")
    last = None
    try:
        with subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                              stdout=subprocess.PIPE, text=True) as proc:
            # a terminated benchmark takes its JVM with it
            signal.signal(signal.SIGTERM, lambda *_: (proc.kill(), proc.wait(), sys.exit(143)))
            for line in proc.stdout:
                if last is not None:
                    sys.stdout.write(last)
                last = line
            code = proc.wait()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    try:
        result = json.loads(last)
    except (TypeError, ValueError):
        if last:
            sys.stdout.write(last)
        fail(f"no result line (exit code {code})")
    print(json.dumps(conform(result, a.trace == 1)))
    sys.stdout.flush()
    sys.exit(code if code else (0 if result["correct"] else 1))


def conform(result, traced):
    """Holds the result to BENCHMARK.json: every declared metric, with its
    declared unit. A per-layer metric of a layer the workload does not run
    reads 0; a missing end-to-end metric or a unit mismatch fails the run."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = spec["per_layer"] if traced else spec["end_to_end"]
    got = result["metrics"]
    out, absent = {}, []
    for m in declared:
        v = got.get(m["name"])
        if v is None:
            if not traced:
                print(f"  missing end-to-end metric {m['name']}")
                result["correct"] = False
            absent.append(m["name"])
            v = {"value": 0, "unit": m["unit"]}
        elif v["unit"] != m["unit"]:
            print(f"  metric {m['name']} has unit {v['unit']}, declared {m['unit']}")
            result["correct"] = False
        out[m["name"]] = v
    undeclared = sorted(set(got) - set(out))
    if undeclared:
        print(f"  measured but not declared: {', '.join(undeclared)}")
        result["correct"] = False
    if absent:
        print(f"  not run on this workload (reported as 0): {', '.join(absent)}")
    result["metrics"] = out
    return result


if __name__ == "__main__":
    main()
