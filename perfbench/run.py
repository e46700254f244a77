#!/usr/bin/env python3
"""Run one benchmark workload from the root of a checkout.

    python3 perfbench/run.py --workload <build|probe|dedup> --seed <n> \
        --seconds <s> --trace <0|1> [--scale <x>] [--fault <name>]

The first run builds the benchmark (its own sbt project in perfbench/,
which compiles the library sources under src/main/scala) and caches the
classpath under perfbench/.work/, keyed by a hash of every source file.
Later runs start the JVM directly. The last line of stdout is the result
JSON; on any failure the script exits non-zero and prints no result.
"""
import argparse
import hashlib
import json
import math
import os
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    h = hashlib.sha256()
    files = []
    for top in (LIB_SRC, os.path.join(BENCH, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    for extra in ("build.sbt", os.path.join("project", "build.properties")):
        files.append(os.path.join(BENCH, extra))
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run(cmd, timeout, **kw):
    """Runs cmd in its own process group. The group is killed on timeout,
    and when this script is terminated, so no process outlives the run."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)

    def kill(*_):
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()

    def terminated(signum, _):
        kill()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, terminated)
    signal.signal(signal.SIGINT, terminated)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        kill()
        fail(f"{cmd[0]} timed out after {timeout} s")
    return p.returncode, out


def classpath():
    stamp = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    digest = source_hash()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as fh:
                    return fh.read().strip()
    if not os.path.isdir(os.path.join(os.environ.get("SPARK_HOME", ""), "jars")):
        fail("SPARK_HOME must name the Spark install whose jars the build uses")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    if "-Xmx" not in opts:
        opts += " -Xmx2g"
    env["SBT_OPTS"] = opts.strip()
    code, out = run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                     "export Runtime/fullClasspath"], BUILD_TIMEOUT_S, cwd=BENCH, env=env,
                    stdout=subprocess.PIPE, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                    text=True)
    if code != 0:
        sys.stderr.write(out[-4000:])
        fail(f"build failed (sbt exit {code})")
    lines = [l for l in out.splitlines() if "perfbench" in l and ".jar" in l and not l.startswith("[")]
    if not lines:
        sys.stderr.write(out[-4000:])
        fail("build printed no classpath")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--fault", default="")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(LIB_SRC, "graft")):
        fail(f"library sources not found under {os.path.relpath(LIB_SRC, os.getcwd())}")
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    cp = classpath()
    # a fixed heap: a growing one kept pass times drifting for longer
    cmd = (["java", "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace, "--work", WORK,
              "--scale", str(a.scale)]
           + (["--fault", a.fault] if a.fault else []))
    code, out = run(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE,
                    stdin=subprocess.DEVNULL, text=True)
    lines = out.rstrip("\n").splitlines()
    if code != 0 or not lines:
        sys.stdout.write(out)
        fail(f"benchmark JVM exited with {code}")
    try:
        result = json.loads(lines[-1])
    except json.JSONDecodeError:
        sys.stdout.write(out)
        fail("benchmark printed no result line")
    bad = [k for k, m in result["metrics"].items() if not math.isfinite(m["value"])]
    if bad:
        sys.stdout.write(out)
        fail(f"non-finite metrics: {', '.join(bad)}")
    sys.stdout.write("\n".join(lines[:-1]) + "\n")
    print(json.dumps(result, separators=(",", ":")))


if __name__ == "__main__":
    main()
