#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selfcheck

Builds the engine plus the benchmark driver from this checkout's sources
(once per source state; the classpath is cached under perfbench/target),
then runs one workload in a fresh JVM with Spark local[nproc]. The JVM
prints the result line; this script relays its standard output unchanged,
so the last line is the JSON result. Every file a run writes stays under
perfbench/target: the build, the JVM's class-data archive, a per-run work
directory (removed when the run ends), the trace sidecars and the
untraced-wall ledger that the traced run reads to report its own overhead.
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
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(BENCH, "target")
STAMP = os.path.join(TARGET, "bench-build.json")
WORKLOADS = ("bulk_ingest", "ann_serve", "stream_maintain")

BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 170
ARCHIVE_RUN_TIMEOUT_S = 600
SELFCHECK_TIMEOUT_S = 900

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


def source_digest():
    """Hash of every input of the build, so a changed checkout rebuilds."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, cwd, env, timeout, stdout=None):
    """Run `cmd` in its own process group; kill the whole group on timeout
    or when this script is itself terminated."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                         start_new_session=True)

    def stop(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None, None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode, out


def build():
    """Compile engine + driver with sbt (offline) and cache the classpath."""
    os.makedirs(TARGET, exist_ok=True)
    with open(os.path.join(TARGET, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        digest = source_digest()
        if os.path.exists(STAMP):
            with open(STAMP) as fh:
                stamp = json.load(fh)
            if stamp.get("digest") == digest:
                return stamp["classpath"], digest
        # a new build invalidates its predecessor's class-data archive and
        # the untraced walls its traced runs compare against
        stale = [os.path.join(TARGET, n) for n in os.listdir(TARGET) if n.startswith("cds-")]
        out = os.path.join(TARGET, "out")
        if os.path.isdir(out):
            stale += [os.path.join(out, n) for n in os.listdir(out) if n.startswith("untraced_")]
        for f in stale:
            os.remove(f)
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        if "SBT_OPTS" not in env:
            opts = ["-Dsbt.offline=true", "-Xmx2g"]
            repos = os.path.expanduser("~/.sbt/repositories")
            if os.path.exists(repos):
                opts += ["-Dsbt.override.build.repos=true",
                         f"-Dsbt.repository.config={repos}"]
            env["SBT_OPTS"] = " ".join(opts)
        cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
               "-Dsbt.server.autostart=false",
               "compile", "export Runtime/fullClasspath"]
        print("[perfbench] building engine + benchmark driver", file=sys.stderr,
              flush=True)
        code, out = run_group(cmd, BENCH, env, BUILD_TIMEOUT_S,
                              stdout=subprocess.PIPE)
        if code is None:
            fail("build timed out")
        text = out.decode("utf-8", "replace")
        if code != 0:
            sys.stderr.write(text[-4000:])
            fail(f"build failed (sbt exit {code})")
        cp = [ln.strip() for ln in text.splitlines()
              if ln.strip().endswith(".jar") and os.pathsep in ln
              and not ln.startswith("[")]
        if not cp:
            sys.stderr.write(text[-4000:])
            fail("build printed no classpath")
        with open(STAMP, "w") as fh:
            json.dump({"digest": digest, "classpath": cp[-1]}, fh)
        return cp[-1], digest


def class_data_flags(digest):
    """JVM class-data sharing. The first run of a build records the
    classes it loads into an archive, written when its JVM exits; later
    runs map that archive instead of parsing those classes out of the
    jars, which takes seconds off every JVM start. Returns the JVM flags
    and, when this run records the archive, the (temporary, final) paths
    it goes to."""
    archive = os.path.join(TARGET, f"cds-{digest[:16]}.jsa")
    if os.path.exists(archive):
        return [f"-XX:SharedArchiveFile={archive}"], None
    pending = f"{archive}.{os.getpid()}.tmp"
    return [f"-XX:ArchiveClassesAtExit={pending}"], (pending, archive)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true",
                    help="tiny run of every workload plus corrupted-output checks")
    a = ap.parse_args()
    if not a.selfcheck and a.workload is None:
        fail("--workload is required")
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found at {os.path.relpath(ENGINE_SRC, os.getcwd())}; "
             "run from a checkout of the repository")

    classpath, digest = build()
    tag = "selfcheck" if a.selfcheck else f"{a.workload}-{a.seed}-{a.trace}"
    work = os.path.join(TARGET, "work", f"{tag}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = os.cpu_count() or 4
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cds, recording = class_data_flags(digest)
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # JVM log lines go to stderr, so standard output ends with the result
    cmd += cds + ["-Xlog:disable", "-Xlog:all=warning:stderr"]
    cmd += ["-Xmx3g", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
            "-cp", classpath, "perfbench.Main",
            "--work", work,
            "--out", os.path.join(TARGET, "out"),
            "--cpus", str(cpus)]
    if a.selfcheck:
        cmd += ["--selfcheck"]
    else:
        # the result line carries exactly the metrics BENCHMARK.json lists
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        listed = spec["per_layer" if a.trace else "end_to_end"]
        cmd += ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--metrics", ",".join(f"{m['name']}:{m['unit']}" for m in listed)]
    code = None
    try:
        limit = SELFCHECK_TIMEOUT_S if a.selfcheck else \
            ARCHIVE_RUN_TIMEOUT_S if recording else RUN_TIMEOUT_S
        code, _ = run_group(cmd, ROOT, dict(os.environ), limit)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if recording and os.path.exists(recording[0]):
            if code == 0:
                os.replace(*recording)
            else:
                os.remove(recording[0])
    if code is None:
        fail(f"run exceeded {limit} s and was stopped", 3)
    sys.exit(code)


if __name__ == "__main__":
    main()
