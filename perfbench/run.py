#!/usr/bin/env python3
"""Benchmark command: builds the program from source, runs one workload.

    python3 perfbench/run.py --workload history_bz2_diffdb --seed 1 \
        --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root. The first run builds the program and the
benchmark with sbt (offline); later runs reuse the build while the
sources are unchanged. Each run starts one JVM that generates the
workload's input from the seed, runs it and checks every pass. The last
line of standard output is the result object; the line before it is the
run context (input fingerprint, sizes, host).
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(BENCH, ".work")
TARGET = os.path.join(BENCH, "target")
CLASSPATH_FILE = os.path.join(TARGET, "perfbench-classpath.txt")
WORKLOADS = ["history_bz2_diffdb", "history_xml_meta", "articles_multistream_write", "query_mix"]
# query_mix reads the repository's scale-factor-0.1 tables (TESTDATA.md),
# read-only, from SPARK_GRAFT_SF_DIR or their documented place.
TABLES = os.environ.get("SPARK_GRAFT_SF_DIR") or os.path.join(os.path.expanduser("~"), "testdata", "sf0.1")
RUN_LIMIT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these (same list as the
# root build.sbt).
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


def source_stamp():
    """Hash of every input of the build: program and benchmark sources."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(BENCH, "src"), os.path.join(BENCH, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names if not n.startswith(".")]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, cwd, env, timeout, out):
    """Run `cmd` in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        raise


def build():
    """Compile program + benchmark; returns the runtime classpath."""
    stamp = source_stamp()
    if os.path.isfile(CLASSPATH_FILE):
        with open(CLASSPATH_FILE) as f:
            cached_stamp, cp = f.read().split("\n", 1)
        if cached_stamp == stamp and all(os.path.exists(x) for x in cp.strip().split(":")[:2]):
            return cp.strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        raise RuntimeError("sbt not found on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(TARGET, exist_ok=True)
    build_log = os.path.join(TARGET, "build.log")
    log("building program and benchmark (sbt compile)")
    t0 = time.time()
    with open(build_log, "w") as out:
        rc = run_group([sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], BENCH, env, 850, out)
    with open(build_log) as f:
        lines = f.read().splitlines()
    if rc != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise RuntimeError(f"build failed (exit {rc}), see {build_log}")
    cps = [l for l in lines if not l.startswith("[") and ".jar" in l and os.pathsep in l]
    if not cps:
        raise RuntimeError(f"no classpath in build output, see {build_log}")
    log(f"built in {time.time() - t0:.0f}s")
    with open(CLASSPATH_FILE, "w") as f:
        f.write(stamp + "\n" + cps[-1].strip())
    return cps[-1].strip()


def java_cmd(cp, main, args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    opts = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts += ["-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Dspark.local.dir={os.path.join(WORK, 'spark-local')}",
             f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}"]
    return [java] + opts + ["-cp", cp, main] + args


def on_term(signum, _frame):
    # turn SIGTERM into an exception so run_group kills the JVM it started
    raise SystemExit(128 + signum)


def main():
    signal.signal(signal.SIGTERM, on_term)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log(f"{ROOT} holds no program sources (build.sbt, src/main/scala); run from the repository root")
        return 2
    try:
        cp = build()
    except Exception as e:  # noqa: BLE001 - report and fail without a result
        log(str(e))
        return 1
    os.makedirs(WORK, exist_ok=True)
    run_log = os.path.join(WORK, "run.log")
    if a.selftest:
        with open(run_log, "w") as out:
            rc = run_group(java_cmd(cp, "graft.perfbench.SelfTest", ["--work", WORK]), ROOT,
                           dict(os.environ), 900, out)
        with open(run_log) as f:
            for line in f:
                if line.startswith("[selftest]"):
                    print(line.rstrip())
        return rc
    result = os.path.join(WORK, "result.jsonl")
    if os.path.exists(result):
        os.remove(result)
    limit = RUN_LIMIT_S
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", WORK, "--result", result,
            "--launch-ms", str(int(time.time() * 1000))]
    if a.workload == "query_mix":
        if not os.path.isfile(os.path.join(TABLES, "orders.parquet")):
            log(f"query_mix: no scale-factor tables in {TABLES} (set SPARK_GRAFT_SF_DIR)")
            return 1
        args += ["--tables", TABLES]
    try:
        with open(run_log, "w") as out:
            rc = run_group(java_cmd(cp, "graft.perfbench.Main", args), ROOT, dict(os.environ), limit, out)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {limit:.0f}s, see {run_log}")
        return 1
    if rc != 0 or not os.path.isfile(result):
        with open(run_log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        log(f"run failed (exit {rc}), see {run_log}")
        return 1
    with open(result) as f:
        info, res = [l.strip() for l in f.read().splitlines() if l.strip()][-2:]
    parsed = json.loads(res)
    assert set(parsed) == {"correct", "attempted", "failed", "metrics"}, parsed.keys()
    print(info)
    print(res)
    return 0


if __name__ == "__main__":
    sys.exit(main())
