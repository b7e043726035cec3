#!/usr/bin/env python3
"""Changelog-Q3 benchmark: build, run one workload, print its record.

    python3 perfbench/run.py --workload q3_cycle_bulk --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --smoke

Run from the root of the repository. The first run compiles the library and
the benchmark program (perfbench/build.sbt) offline with sbt and caches the
classpath under $CARGO_TARGET_DIR (default .bench_build); later runs start
the benchmark JVM directly. The first run after a build also writes a
class-data-sharing archive of the classes it loaded, which later runs map
instead of loading and verifying them again. The last stdout line is the
result:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones (see BENCHMARK.json).
The full record, with the host stamp, sample counts and trace spans, is
written to $CARGO_TARGET_DIR/records/.

--smoke runs all three workloads at sf0.001 in both modes and checks that
each record names every metric of BENCHMARK.json with its unit and that
every operation succeeded.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("q3_cycle_bulk", "q3_window_fine", "q3_replay_resume")
# A run must end within 180 s; the first one may also build.
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700
ARCHIVE = "classes.jsa"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources(root):
    """Every file the build reads, in a stable order."""
    out = [os.path.join(root, f) for f in ("build.sbt", "project/build.properties")]
    for top in (os.path.join(root, "src", "main"), os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            out += [os.path.join(d, f) for f in sorted(files)]
    out += [os.path.join(HERE, "build.sbt"), os.path.abspath(__file__)]
    return [p for p in out if os.path.isfile(p)]


def build(root, out):
    """Compile with sbt once per source state; return the runtime classpath,
    all jars, as class-data sharing requires."""
    digest = hashlib.sha256()
    for p in sources(root):
        digest.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    cp_file = os.path.join(out, "classpath.txt")
    stamp_file = os.path.join(out, "classpath.sha256")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    if os.path.exists(os.path.join(out, ARCHIVE)):
        os.remove(os.path.join(out, ARCHIVE))
    env = dict(os.environ, COURSIER_MODE="offline")
    # sbt's own scratch files (server socket, file watcher) go to its
    # tmpdir; no JVM the sbt script starts writes /tmp/hsperfdata_*
    tmp = os.path.join(out, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(out, "build.log")
    with open(log, "w") as f:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime / fullClasspathAsJars"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=f, text=True,
                           timeout=BUILD_LIMIT_S)
        f.write(r.stdout)
    lines = [x for x in r.stdout.splitlines() if ".jar" in x and not x.startswith("[")]
    if r.returncode != 0 or not lines:
        fail(f"build failed, see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def heap():
    """-Xmx from SPARK_DRIVER_MEM, capped at 8g; 4g when unset."""
    v = os.environ.get("SPARK_DRIVER_MEM", "4g").strip().lower()
    units = {"g": 1024, "m": 1}
    mb = int(float(v[:-1]) * units[v[-1]]) if v and v[-1] in units else int(v) // 1048576
    return f"-Xmx{max(1024, min(mb, 8192))}m"


def run_jvm(root, out, cp, workload, seed, seconds, trace, smoke, limit_s):
    """Run one workload in a fresh JVM; return its parsed result line."""
    work = os.path.join(out, "runs", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    records = os.path.join(out, "records")
    os.makedirs(records, exist_ok=True)
    record = os.path.join(records, f"{workload}-seed{seed}-trace{trace}.json")
    archive = os.path.join(out, ARCHIVE)
    dump = not os.path.exists(archive)
    cmd = ["java", heap(), f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-XX:-UsePerfData",
           f"-XX:ArchiveClassesAtExit={archive}.tmp" if dump else f"-XX:SharedArchiveFile={archive}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    if trace:
        cmd.append("-Dgraft.phase.log=true")
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace), "--smoke", "1" if smoke else "0",
            "--work", work, "--record", record]
    log = os.path.join(out, "jvm.log")
    try:
        with open(log, "w") as f:
            # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: keep its
            # scratch files inside the checkout either way
            env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
            p = subprocess.Popen(cmd, cwd=root, env=env, stdout=subprocess.PIPE, stderr=f, text=True)

            def stop(signum, frame):
                p.kill()
                p.wait()
                sys.exit(128 + signum)
            signal.signal(signal.SIGTERM, stop)
            try:
                stdout, _ = p.communicate(timeout=limit_s)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                fail(f"{workload} did not finish within {limit_s:.0f} s, see {log}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [x for x in stdout.splitlines() if x.startswith("{")]
    if p.returncode != 0 or not lines:
        fail(f"{workload} exited with {p.returncode}, see {log}")
    if dump and os.path.exists(archive + ".tmp"):
        os.replace(archive + ".tmp", archive)
    with open(record) as f:
        stamp = json.load(f)["stamp"]
    return stamp, json.loads(lines[-1])


def smoke(root, out, cp):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bad = []
    for w in WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            _, res = run_jvm(root, out, cp, w, 1, 1, trace, True, RUN_LIMIT_S)
            got = res["metrics"]
            for m in spec[key]:
                if m["name"] not in got or got[m["name"]]["unit"] != m["unit"]:
                    bad.append(f"{w} trace={trace}: {m['name']} [{m['unit']}]")
            if not res["correct"] or res["failed"]:
                bad.append(f"{w} trace={trace}: {res['failed']} of {res['attempted']} failed")
            print(json.dumps({"workload": w, "trace": trace, **res}))
    if bad:
        fail("smoke: " + "; ".join(bad))
    print(json.dumps({"smoke": "ok", "workloads": len(WORKLOADS)}))


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    if not a.smoke and not a.workload:
        ap.error("--workload is required")
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt")) and
            os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the root of the repository: the library sources are not here")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    out = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(out, exist_ok=True)
    cp = build(root, out)
    if a.smoke:
        smoke(root, out, cp)
        return
    stamp, res = run_jvm(root, out, cp, a.workload, a.seed, a.seconds, a.trace, False, RUN_LIMIT_S)
    print(json.dumps({"stamp": stamp}))
    print(json.dumps(res))


if __name__ == "__main__":
    main()
