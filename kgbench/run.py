#!/usr/bin/env python3
"""Run the KG-job benchmark from the root of a checkout.

    python3 kgbench/run.py --workload kg_batch --seed 1 --seconds 10 --trace 0

Builds the benchmark (kgbench/build.sbt, which compiles the engine's
sources with the benchmark's) on first use or when a source changed,
then runs one workload in one JVM. The last stdout line is the JSON
result. Everything the run writes stays under .bench_build/.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ARCHIVE = os.path.join(BUILD, "kgbench.jsa")
WORKLOADS = ("kg_batch", "kg_stream", "neardup_skewed")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"kgbench: {msg}", file=sys.stderr)
    sys.exit(2)


_child = None


def _stop_child(signum, _frame):
    """Stop the running build or benchmark with us, then exit."""
    if _child is not None and _child.poll() is None:
        os.killpg(_child.pid, signal.SIGKILL)
        _child.wait()
    sys.exit(128 + signum)


def run_child(cmd, timeout, **kw):
    """Run `cmd` in its own process group; returns (exit code or None on
    timeout, stdout if captured). The group is killed on timeout and on
    SIGTERM/SIGINT, so no process outlives the runner.
    """
    global _child
    _child = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = _child.communicate(timeout=timeout)
        return _child.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(_child.pid, signal.SIGKILL)
        _child.wait()
        return None, None
    finally:
        _child = None


def source_stamp():
    """Digest of every build input's path, size and mtime."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src", "main"), os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".properties"))]
    for f in sorted(files):
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile once per source state; return the runtime classpath."""
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "package", "export Runtime/fullClasspath"]
    code, out = run_child(cmd, BUILD_TIMEOUT_S, cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True)
    if code is None:
        fail("build timed out")
    cps = [l for l in out.splitlines() if "classes" in l and os.pathsep in l and not l.startswith("[")]
    if code != 0 or not cps:
        sys.stderr.write(out[-4000:])
        fail(f"build failed (exit {code})")
    jar = os.path.join(HERE, "target", "kgbench.jar")
    cp = os.pathsep.join([jar] + [e for e in cps[-1].split(os.pathsep) if not e.endswith("classes")])
    dump_archive(cp)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def java_cmd(cp, *args):
    # a fixed heap keeps peak RSS from following the collector's resizing
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    return cmd + list(args) + ["-cp", cp, "kgbench.KgBench"]


def dump_archive(cp):
    """Record the classes a short run loads into a class-data-sharing
    archive; later JVMs map them instead of loading them from the jars,
    which halves session start. Runs work without it.
    """
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    work = os.path.join(BUILD, "work", "archive")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = java_cmd(cp, f"-XX:ArchiveClassesAtExit={ARCHIVE}", f"-Djava.io.tmpdir={tmp}")
    cmd += ["--workload", "kg_batch", "--seed", "1", "--seconds", "1", "--trace", "0",
            "--work-dir", os.path.join(work, "data"), "--trace-dir", os.path.join(work, "traces")]
    run_child(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, _stop_child)
    signal.signal(signal.SIGINT, _stop_child)
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {os.path.relpath(ENGINE_SRC, ROOT)}; run from a full checkout")
    cp = build()
    work = os.path.join(BUILD, "work", f"{a.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    jvm = [f"-Djava.io.tmpdir={tmp}"]
    if os.path.exists(ARCHIVE):
        jvm += [f"-XX:SharedArchiveFile={ARCHIVE}", "-Xlog:cds=off", "-Xlog:cds+dynamic=off"]
    java = java_cmd(cp, *jvm) + ["--workload", a.workload, "--seed", str(a.seed),
             "--seconds", str(a.seconds), "--trace", str(a.trace), "--work-dir", os.path.join(work, "data"),
             "--trace-dir", os.path.join(BUILD, "traces")]
    try:
        code, _ = run_child(java, RUN_TIMEOUT_S, cwd=ROOT)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code is None:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    sys.exit(code)


if __name__ == "__main__":
    main()
