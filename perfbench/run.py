#!/usr/bin/env python3
"""Repository benchmark entry point.

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 10 --trace 0

Run from the repository root. On first use (or when a source changed) it
builds the benchmark package and the program it depends on with sbt,
then runs one workload in a fresh JVM (perfbench.Main) inside a work
directory under perfbench/.work, which it removes afterwards. The last
line of stdout is the JSON result; the exit code is the JVM's.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = BENCH / ".build"
WORK = BENCH / ".work"
WORKLOADS = ("etl_batch", "etl_incremental", "corpus_ingest")
# seconds a run may take beyond --seconds: the set-ups (three untraced;
# with --trace 1 every workload's, their one-pass runs and the local[1]
# baseline) and the end-of-run heap measurement
SETUP_ALLOWANCE_S = {0: 150, 1: 160}
BUILD_TIMEOUT_S = 840
HEAP = "3g"
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


def sources_digest():
    """Hash of every input of the build, to tell when to rebuild."""
    h = hashlib.sha256()
    inputs = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
              BENCH / "build.sbt", BENCH / "project" / "build.properties",
              ROOT / "src" / "main", BENCH / "src" / "main"]
    for top in inputs:
        files = sorted(top.rglob("*")) if top.is_dir() else [top]
        for p in files:
            if p.is_file():
                h.update(str(p.relative_to(ROOT)).encode())
                h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compiles with sbt and returns the runtime classpath."""
    stamp, cp_file = BUILD / "stamp", BUILD / "classpath"
    digest = sources_digest()
    if stamp.is_file() and cp_file.is_file() and stamp.read_text() == digest:
        return cp_file.read_text().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        # resolve only from the local caches, as the repository's own
        # test command does
        opts = ["-Dsbt.offline=true"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.is_file():
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "--batch", "-Dsbt.server.autostart=false",
           "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"]
    print("perfbench: building with sbt ...", file=sys.stderr)
    try:
        proc = subprocess.run(cmd, cwd=BENCH, env=env, text=True,
                              stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                              timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    classes = str(BENCH / "target")
    cps = [l.strip() for l in proc.stdout.splitlines() if l.startswith(classes)]
    if proc.returncode != 0 or not cps:
        sys.stderr.write(proc.stdout[-20000:])
        fail(f"build failed (sbt exit {proc.returncode})")
    BUILD.mkdir(parents=True, exist_ok=True)
    cp_file.write_text(cps[-1])
    stamp.write_text(digest)
    return cps[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be at least 1")
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no program sources under {ROOT} (expected build.sbt and src/main/scala/graft)")
    classpath = build()

    work = WORK / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    java = shutil.which("java") or fail("java not found")
    cmd = [java, f"-Xmx{HEAP}", "-XX:+UseParallelGC",
           *[f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS],
           f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           "-cp", classpath, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", str(work),
           "--trace-out", str(WORK / f"trace-{args.workload}.jsonl")]
    proc = subprocess.Popen(cmd, cwd=ROOT)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        code = proc.wait(timeout=args.seconds + SETUP_ALLOWANCE_S[args.trace])
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        code = 124
        print("perfbench: run timed out", file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
