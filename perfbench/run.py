#!/usr/bin/env python3
"""Engine benchmark: builds the engine and the benchmark from source, builds
the V1 release-shape fixture once per workspace, then runs one workload in a
fresh JVM and prints its result as the last stdout line.

    python3 perfbench/run.py --serve-rate R --workload serve|ingest \
        --seed N --seconds S --trace 0|1

Everything it writes goes under .bench_build/perfbench in the checkout.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("serve", "ingest")

# A run must end within 180 s; the first run in a checkout also builds.
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
FIXTURE_TIMEOUT_S = 840
RUN_HEAP = "4g"
FIXTURE_HEAP = "6g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def digest(roots, files):
    """Digest of the files under `roots` and of `files`."""
    h = hashlib.sha256()
    files = list(files)
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def source_digest():
    """Digest of every source and build file the benchmark is built from."""
    return digest([os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")],
                  [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
                   os.path.join(HERE, "project", "build.properties")])


def fixture_digest():
    """Digest of the sources the fixture is built from: the engine and the
    benchmark's fixture builder. A fixture built from others is rebuilt."""
    return digest([os.path.join(ROOT, "src", "main")],
                  [os.path.join(ROOT, "build.sbt"),
                   os.path.join(HERE, "src", "main", "scala", "graft", "perfbench",
                                "Fixture.scala")])


def run_bounded(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def classpath():
    """Compile engine + benchmark with sbt once per source digest and cache
    the runtime classpath (as jars, so the JVM can share their classes
    through a CDS archive) with its digest."""
    digest = source_digest()
    cp_file = os.path.join(WORK, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            cached = fh.read().split("\n", 1)
        if len(cached) == 2 and cached[0] == digest:
            return digest, cached[1].strip()
    env = dict(os.environ)
    # resolve from the local caches only, as the repo's own test command does
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx4g")
    log_path = os.path.join(WORK, "sbt.log")
    t0 = time.time()
    with open(log_path, "w") as out:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "export runtime:fullClasspathAsJars"],
                         BUILD_TIMEOUT_S, cwd=HERE, env=env,
                         stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL)
    with open(log_path) as fh:
        lines = [l.strip() for l in fh if l.strip()]
    if rc != 0 or not lines:
        fail(f"sbt build failed (rc={rc}); see {log_path}")
    cp = lines[-1]
    if "perfbench" not in cp or cp.startswith("["):
        fail(f"sbt did not report a classpath; see {log_path}")
    with open(cp_file, "w") as fh:
        fh.write(digest + "\n" + cp + "\n")
    log(f"built in {time.time() - t0:.0f} s")
    return digest, cp


def class_archive(digest):
    """JVM flag for the class-data-sharing archive of this build: the first
    run dumps it at exit, later runs map it and start several seconds
    faster. The archive only changes class loading, never the code run."""
    jsa = os.path.join(WORK, f"classes-{digest[:16]}.jsa")
    if os.path.exists(jsa):
        return f"-XX:SharedArchiveFile={jsa}"
    for old in os.listdir(WORK):
        if old.startswith("classes-") and old.endswith(".jsa"):
            os.remove(os.path.join(WORK, old))
    return f"-XX:ArchiveClassesAtExit={jsa}"


def java_cmd(cp, heap, main_args, extra=()):
    return (["java", f"-Xmx{heap}", "-Xss8m", "-XX:ReservedCodeCacheSize=512m",
             "-Xlog:cds=error,cds+dynamic=error", *extra,
             f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
             "-Dspark.ui.enabled=false"]
            + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", cp, "graft.perfbench.Main"] + main_args)


def main():
    # a terminated benchmark takes its JVMs down with it (run_bounded)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--serve-rate", type=float, required=True,
                    help="open-loop arrival rate of the serve workload, requests/s "
                         "(BENCHMARK.json freezes it)")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no engine sources under {ROOT}; run from a full checkout")
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    env = dict(os.environ, GRAFT_INDEX_ROOT=os.path.join(WORK, "index"))
    # Spark scratch stays in the workspace (Harness.session sets it there)
    env.pop("SPARK_LOCAL_DIRS", None)

    digest, cp = classpath()
    sources = fixture_digest()
    # the fixture step checks (and if stale rebuilds) the fixture once per
    # build of the sources; it is timed on its own, never inside a run
    checked = os.path.join(WORK, "fixture.checked")
    if not os.path.exists(checked) or open(checked).read() != digest:
        t0 = time.time()
        rc = run_bounded(java_cmd(cp, FIXTURE_HEAP, ["fixture", WORK, sources]),
                         FIXTURE_TIMEOUT_S, env=env, stdout=sys.stderr,
                         stdin=subprocess.DEVNULL)
        if rc != 0:
            fail(f"fixture build failed (rc={rc})")
        with open(checked, "w") as fh:
            fh.write(digest)
        log(f"fixture checked in {time.time() - t0:.0f} s")

    result = os.path.join(WORK, f"result-{os.getpid()}.json")
    rc = run_bounded(java_cmd(cp, RUN_HEAP, [
        "run", WORK, sources, a.workload, str(a.seed), repr(a.seconds), str(a.trace),
        repr(a.serve_rate), RUN_HEAP, result], [class_archive(digest)]),
        RUN_TIMEOUT_S, env=env, stdout=sys.stderr, stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(result):
        fail(f"run failed (rc={rc})", 1)
    with open(result) as fh:
        stamp, line = fh.read().strip().split("\n")
    os.remove(result)
    json.loads(line)
    print(stamp)
    print(line, flush=True)


if __name__ == "__main__":
    main()
