#!/usr/bin/env python3
"""Run one workload of the repository benchmark and print its result line.

    python3 cpubench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
harness from source (sbt, offline) into cpubench/target; later runs reuse
the build while the sources are unchanged. Each run starts one JVM with
fresh scratch, temp, warehouse and artifact directories under
cpubench/.work and removes them when it ends. The last line of standard
output is one JSON object with `correct`, `attempted`, `failed` and
`metrics`: the end-to-end metrics of BENCHMARK.json with --trace 0, its
per-layer metrics with --trace 1. A summary goes to standard error. The
exit code is 0 only when every checked output was correct. --seconds
(default: run_seconds of BENCHMARK.json) sets how many blocks or rounds the
timed part runs, each sized to take a few seconds; the count, not a
deadline, ends the timed part, so a faster program does not do more work.

    python3 cpubench/run.py --overhead [--workload NAME] [--seed N] [--seconds S]

runs a workload (every workload without --workload) untraced and traced
with the same seed and prints, for each end-to-end metric, the difference
tracing makes, with the host's steal share during each timed part.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
STAMP = os.path.join(TARGET, "cpubench.stamp")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
WORK = os.path.join(HERE, ".work")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850

JAVA_OPTS = [
    "--add-opens=java.base/" + p + "=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
] + [
    "-Xss8m", "-Xms2g", "-Xmx2g", "-Xmn768m", "-XX:-UseAdaptiveSizePolicy",
    "-XX:+UseParallelGC", "-XX:-UsePerfData", "-XX:-UseDynamicNumberOfCompilerThreads",
    "-XX:TieredStopAtLevel=1",
    "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
    "-Dspark.sql.ui.retainedExecutions=8", "-Dspark.ui.retainedJobs=64",
    "-Dspark.ui.retainedStages=128", "-Dspark.ui.retainedTasks=2048",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in (ENGINE_SRC, os.path.join(HERE, "src", "main")):
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness unless the build matches the sources."""
    stamp = source_stamp()
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as fh:
            if fh.read().strip() == stamp:
                return
    log("[cpubench] building engine and harness (sbt, offline)")
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx3g",
            "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    if not os.path.isdir(os.path.join(os.environ.get("SPARK_HOME", ""), "jars")):
        raise SystemExit("[cpubench] SPARK_HOME must name a Spark distribution (its jars/)")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    proc = subprocess.Popen(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        raise SystemExit("[cpubench] build timed out")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    lines = out.splitlines()
    if proc.returncode != 0:
        log("\n".join(lines[-40:]))
        raise SystemExit("[cpubench] build failed")
    cp = [l for l in lines if not l.startswith("[") and "scala-2.13" in l]
    if not cp:
        raise SystemExit("[cpubench] build printed no classpath")
    with open(CLASSPATH, "w") as fh:
        fh.write(cp[-1].strip())
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def run_java(workload, seed, seconds, trace):
    """Run one workload in a fresh JVM; returns the parsed result object."""
    work = os.path.join(WORK, "%s-%d-%d" % (workload, seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result = os.path.join(work, "result.json")
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    sysdirs = {"java.io.tmpdir": "tmp", "spark.local.dir": "spark-local",
               "spark.sql.warehouse.dir": "warehouse",
               "spark.hadoop.hadoop.tmp.dir": "hadoop", "derby.system.home": "derby"}
    for d in sysdirs.values():
        os.makedirs(os.path.join(work, d))
    cmd = (["java"] + JAVA_OPTS
           + ["-D%s=%s" % (k, os.path.join(work, v)) for k, v in sysdirs.items()]
           + ["-cp", cp, "cpubench.Main", "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", "1" if trace else "0",
              "--work", work, "--result", result])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        try:
            rc = proc.wait(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            raise SystemExit("[cpubench] %s timed out after %d s" % (workload, RUN_LIMIT_S))
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
        if rc != 0 or not os.path.exists(result):
            raise SystemExit("[cpubench] %s exited with %d and no result" % (workload, rc))
        with open(result) as fh:
            res = json.load(fh)
        spans = os.path.join(work, "spans.jsonl")
        if trace and os.path.exists(spans):
            shutil.copy(spans, os.path.join(WORK, "spans-%s-seed%d.jsonl" % (workload, seed)))
        return res
    finally:
        shutil.rmtree(work, ignore_errors=True)


def result_line(res, trace, bench):
    """The result object: the run's metrics of its group, checked against
    BENCHMARK.json. A per-layer metric of a layer the workload does not
    exercise is 0."""
    group = "per_layer" if trace else "end_to_end"
    extra = set(res[group]) - {m["name"] for m in bench[group]}
    if extra:
        raise SystemExit("[cpubench] metrics not in BENCHMARK.json: %s" % ", ".join(sorted(extra)))
    metrics = {}
    for m in bench[group]:
        got = res[group].get(m["name"])
        if got is None and not trace:
            raise SystemExit("[cpubench] metric %s missing" % m["name"])
        got = got or {"value": 0, "unit": m["unit"]}
        if got["unit"] != m["unit"]:
            raise SystemExit("[cpubench] metric %s unit %s, expected %s"
                             % (m["name"], got["unit"], m["unit"]))
        metrics[m["name"]] = got
    return {"correct": res["correct"], "attempted": res["attempted"],
            "failed": res["failed"], "metrics": metrics}


def overhead(bench, workloads, seed, seconds):
    for w in workloads:
        off = run_java(w, seed, seconds, False)
        on = run_java(w, seed, seconds, True)
        print("%s (seed %d): steal %.2f%% untraced, %.2f%% traced"
              % (w, seed, off["info"].get("steal_pct", float("nan")),
                 on["info"].get("steal_pct", float("nan"))))
        for m in bench["end_to_end"]:
            a, b = off["end_to_end"][m["name"]]["value"], on["end_to_end"][m["name"]]["value"]
            print("  %-14s untraced %10.4f  traced %10.4f  diff %+10.4f %s (%+.1f%%)"
                  % (m["name"], a, b, b - a, m["unit"], 100.0 * (b - a) / a if a else 0.0))


def main():
    # a terminated run still stops its JVM and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        raise SystemExit("[cpubench] engine sources not found under %s" % ENGINE_SRC)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = [w["name"] for w in bench["workloads"]]
    if args.workload is not None and args.workload not in names:
        raise SystemExit("[cpubench] --workload must be one of %s" % ", ".join(names))
    seconds = args.seconds if args.seconds is not None else bench["run_seconds"]
    build()
    if args.overhead:
        overhead(bench, [args.workload] if args.workload else names, args.seed, seconds)
        return 0
    if args.workload is None:
        raise SystemExit("[cpubench] --workload is required")
    t0 = time.time()
    res = run_java(args.workload, args.seed, seconds, args.trace == 1)
    log("[cpubench] run took %.1f s, steal %.2f%%" % (time.time() - t0, res["info"].get("steal_pct", float("nan"))))
    print(json.dumps(result_line(res, args.trace == 1, bench)), flush=True)
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
