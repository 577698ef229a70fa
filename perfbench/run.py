#!/usr/bin/env python3
"""Run one workload of the graft migration-loop benchmark.

    python3 perfbench/run.py --workload <migrate|upsert|dedup> --seed <n> \
        --seconds <s> --trace <0|1>

Run from the repository root. The first run in a checkout builds the
engine and the benchmark from source with sbt (offline, no sbt server,
one build at a time under a file lock); later runs reuse the build while
no source file has changed. Each run starts a fresh JVM whose warehouse,
checkpoints and Spark scratch live in a new directory under the build
directory, removed when the run ends. The last line of standard output is
the result as one JSON object; traced runs also write their spans to
perfbench/out/.
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
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("migrate", "upsert", "dedup")
JVM_TIMEOUT_S = 170
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


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def sources():
    """Every file the build reads, for the up-to-date check."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(ROOT, "build.sbt")]
    for r in roots:
        for dirpath, dirnames, names in os.walk(r):
            dirnames[:] = [d for d in dirnames if d not in ("target", "project")]
            files += [os.path.join(dirpath, n) for n in names]
    return sorted(files)


def fingerprint():
    h = hashlib.sha256()
    for f in sources():
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def ensure_build():
    """Build once per source state; returns the runtime classpath."""
    bdir = build_dir()
    os.makedirs(bdir, exist_ok=True)
    stamp = os.path.join(bdir, "perfbench.stamp")
    cp_file = os.path.join(HERE, "target", "runtime-classpath.txt")
    with open(os.path.join(bdir, "perfbench.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        fp = fingerprint()
        fresh = (os.path.exists(cp_file) and os.path.exists(stamp)
                 and open(stamp).read() == fp)
        if not fresh:
            log("building engine and benchmark with sbt (offline)")
            env = dict(os.environ, COURSIER_MODE="offline")
            sbt_tmp = os.path.join(bdir, "sbt-tmp")
            os.makedirs(sbt_tmp, exist_ok=True)
            cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
                   "-Dsbt.server.autostart=false", "-Dsbt.offline=true",
                   "-Dsbt.global.base=" + os.path.join(bdir, "sbt-global"),
                   "-Djava.io.tmpdir=" + sbt_tmp,
                   "-J-Xmx3g", "-J-XX:-UsePerfData"]
            repos = os.path.expanduser("~/.sbt/repositories")
            if os.path.exists(repos):
                cmd += ["-Dsbt.override.build.repos=true",
                        "-Dsbt.repository.config=" + repos]
            t0 = time.time()
            code, _ = run_bounded(cmd + ["writeClasspath"], BUILD_TIMEOUT_S,
                                  cwd=HERE, env=env, stdout=sys.stderr,
                                  stdin=subprocess.DEVNULL)
            if code != 0 or not os.path.exists(cp_file):
                raise SystemExit(f"build failed (sbt exit {code})")
            with open(stamp, "w") as f:
                f.write(fp)
            log(f"build took {time.time() - t0:.0f} s")
    return open(cp_file).read().strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("engine sources (src/main/scala/graft) not found: "
                         "run from the root of a graft checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        raise SystemExit("sbt and java must be on PATH")

    cp = ensure_build()
    tmp = os.path.join(build_dir(), "tmp", f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(tmp)
    cmd = ["java", "-Xms2g", "-Xmx2g", "-Xss4m", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + tmp,
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--tmp", tmp, "--out", os.path.join(HERE, "out")]
    try:
        code, out = run_bounded(cmd, JVM_TIMEOUT_S, cwd=ROOT,
                                stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                                text=True)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"run did not finish within {JVM_TIMEOUT_S} s")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines:
        raise SystemExit(f"run failed (exit {code})")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit("malformed result line")
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
