#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload hive_sql --seed 1 --seconds 5 --trace 0

The first run in a checkout builds the harness (``perfbench/build.sbt``,
which compiles ``src/main`` together with ``perfbench/src/main``); later
runs reuse the build while the sources are unchanged. The harness JVM is
started directly with ``java``, so build-tool launch is not part of any
timing. ``--queries a,b,c`` runs a named query list through the same
path instead of a workload (ad-hoc mode, usually with ``--trace 1``, on
the sf0.1 fixtures); ``--record 1`` rewrites the recorded check values in
``perfbench/expected.json`` from this run's outputs.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import zipfile
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / ".work"
FIXTURES = BENCH / "fixtures"
EXPECTED = BENCH / "expected.json"
ARCHIVE = WORK / "harness.jsa"
JVM_TIMEOUT_S = 170
TRAIN_TIMEOUT_S = 600

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
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """SHA-1 over every file the harness build reads."""
    h = hashlib.sha1()
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH / "src" / "main"):
        if not d.is_dir():
            fail(f"missing source directory {d.relative_to(ROOT)}")
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.is_file():
            opts = ["-Dsbt.override.build.repos=true",
                    f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    return env


def java(classpath, *flags):
    """The harness JVM command line, up to and including the main class."""
    heap = heap_mb()
    return (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + [f"-Xmx{heap}m", f"-Xms{heap}m", "-XX:+UseParallelGC", "-XX:-UsePerfData",
               "-Xlog:disable", "-Xlog:all=warning:stderr",
               "-Duser.timezone=UTC", f"-Djava.io.tmpdir={WORK / 'tmp'}"]
            + list(flags) + ["-cp", classpath, "perfbench.Harness"])


def build():
    """Compile the harness if its sources changed; return the classpath.

    The compiled classes are packed into one jar, and a training JVM runs
    one cold pass of every workload with ``-XX:ArchiveClassesAtExit``.
    Measured runs map that class-data-sharing archive, so JVM start and
    the cold pass do not spend most of their time loading ~20k classes.
    Query failures do not fail training; the measured runs count them.
    """
    digest = source_digest()
    stamp = WORK / "build.json"
    if stamp.is_file():
        built = json.loads(stamp.read_text())
        if built.get("digest") == digest and ARCHIVE.is_file():
            return built["classpath"], digest
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=sbt_env(), stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("harness build failed")
    cps = [l.strip() for l in r.stdout.splitlines()
           if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if not cps:
        fail("sbt printed no classpath")
    entries = cps[-1].split(os.pathsep)
    jar = WORK / "harness.jar"
    with zipfile.ZipFile(jar, "w") as z:
        for d in (Path(e) for e in entries if not e.endswith(".jar")):
            for f in sorted(d.rglob("*")):
                if f.is_file():
                    z.write(f, f.relative_to(d).as_posix())
    classpath = os.pathsep.join([e for e in entries if e.endswith(".jar")] + [str(jar)])
    ARCHIVE.unlink(missing_ok=True)
    run_jvm(
        java(classpath, f"-XX:ArchiveClassesAtExit={ARCHIVE}") +
        ["--train", "1", "--fixtures", str(FIXTURES), "--work", str(WORK / "train")],
        TRAIN_TIMEOUT_S)
    if not ARCHIVE.is_file():
        fail("class-data-sharing training run failed")
    stamp.write_text(json.dumps({"digest": digest, "classpath": classpath}))
    return classpath, digest


def run_jvm(cmd, timeout):
    """Run a harness JVM and return its stdout and exit code; kill it and
    wait for it if it overruns or this script is terminated."""
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return out, proc.returncode
    except subprocess.TimeoutExpired:
        fail(f"harness exceeded {timeout} s")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()


def heap_mb():
    """Half of MemTotal, clamped to 2-8 GB."""
    kb = 4 << 20
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                kb = int(line.split()[1])
    return max(2048, min(8192, kb // 2048))


def commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except OSError:
        return "unknown"


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--queries")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--record", choices=["0", "1"], default="0")
    a = ap.parse_args()
    if (a.workload is None) == (a.queries is None):
        fail("give exactly one of --workload and --queries")
    if not FIXTURES.is_dir():
        fail(f"missing fixtures {FIXTURES.relative_to(ROOT)}")
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)
    classpath, digest = build()
    cmd = java(classpath, f"-XX:SharedArchiveFile={ARCHIVE}",
               f"-Dperfbench.commit={commit()} src-sha1={digest[:12]}") + [
        "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", a.trace,
        "--fixtures", str(FIXTURES), "--work", str(WORK),
        "--expected", str(EXPECTED), "--record", a.record]
    cmd += ["--queries", a.queries] if a.queries else ["--workload", a.workload]
    out, code = run_jvm(cmd, JVM_TIMEOUT_S)
    lines = out.strip().splitlines()
    if code != 0 or not lines:
        fail(f"harness exited with {code}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("harness printed no result")
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
