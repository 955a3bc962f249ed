#!/usr/bin/env python3
"""Closed-loop benchmark of the graft engine's registered queries.

Run from the root of a source tree:

    python3 perfbench/run.py --workload causal_core --seed 1 --seconds 20 --trace 0

It builds the engine and the harness with sbt (once per source state),
starts one fresh JVM running perfbench.Harness over the workload's
queries, checks every result digest against perfbench/expected.json,
and prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(and writes the span file). Everything the run leaves behind goes to
.bench_build/ in the tree. See perfbench/NOTES.md.
"""
import argparse
import hashlib
import json
import os
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(HERE, "data")
EXPECTED = os.path.join(HERE, "expected.json")
WORKLOADS = os.path.join(HERE, "workloads.json")
# The engine's sources the benchmark needs; without them it must fail.
ENGINE_FILES = ["build.sbt", "src/main/scala/graft/SparkEntry.scala"]
# Harness JVM: the local[4] session the engine is tuned for.
CORES = 4
XMX = "4g"
MIN_SAMPLES = 40      # executions per run, so >= 10 lie beyond p75
JVM_LIMIT_S = 165     # the harness JVM; the whole run must end in 180 s
BUILD_LIMIT_S = 800
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def die(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of everything the build reads, to rebuild only on change."""
    h = hashlib.sha256()
    for r in ["build.sbt", "project", "src/main", "perfbench/build.sbt",
              "perfbench/project", "perfbench/src/main"]:
        top = os.path.join(ROOT, r)
        paths = [top] if os.path.isfile(top) else []
        for d, ds, fs in os.walk(top):
            ds[:] = sorted(x for x in ds if x not in ("target", "project"))
            paths += sorted(os.path.join(d, f) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_killable(cmd, cwd, env, limit_s, log_path):
    """Run cmd in its own process group with stdout+stderr to log_path;
    kill the whole group if it outlives limit_s. Returns the exit code,
    or None on timeout."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def build():
    """Compile engine + harness with sbt; return the runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true",
                    "-Dsbt.repository.config=" + repos] + opts
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    rc = run_killable(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                       "export perfbench/Runtime/fullClasspath"],
                      os.path.join(ROOT, "perfbench"), env, BUILD_LIMIT_S, log)
    with open(log) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    cp = lines[-1] if lines else ""
    if rc != 0 or "perfbench" not in cp or ":" not in cp:
        die("build failed (exit %s); see %s" % (rc, log))
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def proc_stat():
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def box_health(stat0, stat1, load0):
    d = [b - a for a, b in zip(stat0, stat1)]
    steal = 100.0 * d[7] / sum(d) if len(d) > 7 and sum(d) > 0 else None
    commit = None
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                capture_output=True, text=True,
                                timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        pass
    return {"steal_pct": steal, "loadavg_start": load0,
            "loadavg_end": list(os.getloadavg()),
            "nproc": len(os.sched_getaffinity(0)), "git_commit": commit}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-expected", action="store_true",
                    help="store this run's digests as the expected ones")
    a = ap.parse_args()

    for f in ENGINE_FILES:
        if not os.path.isfile(os.path.join(ROOT, f)):
            die("engine source %s not found under %s" % (f, ROOT))
    with open(WORKLOADS) as f:
        workloads = json.load(f)
    if a.workload not in workloads:
        die("unknown workload %r (have %s)" % (a.workload, ", ".join(workloads)))
    queries = workloads[a.workload]
    expected = {}
    if os.path.exists(EXPECTED):
        with open(EXPECTED) as f:
            expected = json.load(f).get(a.workload, {})

    for d in ("tmp", "spark-local", "logs", "results", "traces", "raw"):
        os.makedirs(os.path.join(BUILD, d), exist_ok=True)
    cp = build()

    tag = "%s-seed%d-trace%d" % (a.workload, a.seed, a.trace)
    raw_path = os.path.join(BUILD, "raw", tag + ".json")
    if os.path.exists(raw_path):
        os.remove(raw_path)
    min_passes = max(2, -(-MIN_SAMPLES // len(queries)))
    cmd = (["java"] +
           [x for p in JDK_OPENS for x in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)] +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Xmx" + XMX, "-Djava.io.tmpdir=" + os.path.join(BUILD, "tmp"),
            "-Dgraft.scratch=" + os.path.join(BUILD, "tmp", "graft_scratch"),
            "-cp", cp, "perfbench.Harness",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", DATA, "--out", raw_path, "--queries", ",".join(queries),
            "--min-passes", str(min_passes)])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CORES),
               SPARK_LOCAL_DIRS=os.path.join(BUILD, "spark-local"))
    log = os.path.join(BUILD, "logs", tag + ".log")
    stat0, load0 = proc_stat(), list(os.getloadavg())
    rc = run_killable(cmd, ROOT, env, JVM_LIMIT_S, log)
    health = box_health(stat0, proc_stat(), load0)
    with open(log, errors="replace") as f:
        failures = [ln.strip() for ln in f if ln.startswith("perfbench: FAILED")]
    for ln in failures:
        print(ln)
    if rc is None:
        die("harness timed out; see " + log)
    if rc != 0 or not os.path.exists(raw_path):
        die("harness exited with %s; see %s" % (rc, log))
    with open(raw_path) as f:
        raw = json.load(f)

    if a.record_expected:
        expected = record_expected(a.workload, raw)

    e2e, samples = metrics.end_to_end(raw, expected)
    attempted, failed, wrong, wrong_q = metrics.count_outcomes(raw["executions"], expected)
    for q in wrong_q:
        print("perfbench: WRONG %s: digest differs from perfbench/expected.json" % q)
    health.update(xmx_mb=raw["xmx_mb"], java_version=raw["java_version"],
                  spark_version=raw["spark_version"], cores=raw["cores"])
    result = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "seconds": a.seconds, "passes": len(raw["passes"]),
              "box": health, "end_to_end": e2e, **samples,
              "failures": failures, "wrong_queries": wrong_q,
              "queries": per_query(raw)}
    if a.trace:
        layers = metrics.per_layer(raw)
        result["per_layer"] = layers
        result["uncovered_ms"] = metrics.uncovered_ms(raw)
        with open(os.path.join(BUILD, "traces", tag + ".json"), "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed,
                       "spans": metrics.spans(raw)}, f)
        units = metrics.per_layer_units()
        out = {k: {"value": layers[k], "unit": units[k]} for k in units}
    else:
        out = {k: {"value": e2e[k], "unit": metrics.UNITS[k]} for k in metrics.RESULT_LINE}
    with open(os.path.join(BUILD, "results", tag + ".json"), "w") as f:
        json.dump(result, f, indent=1)
    print("perfbench: box " + json.dumps(health))
    print("perfbench: end_to_end " + json.dumps(dict(
        {k: {"value": e2e[k], "unit": metrics.UNITS[k]} for k in metrics.END_TO_END},
        **samples)))
    print(json.dumps({"correct": wrong == 0 and failed == 0,
                      "attempted": attempted, "failed": failed, "metrics": out}))


def per_query(raw):
    """Median wall ms per query and pass kind, for reading a result file."""
    rows = {}
    for e in raw["executions"]:
        kind = "cold" if e["pass"] == 1 else "warm"
        rows.setdefault(e["query"], {}).setdefault(kind, []).append(
            metrics.wall_ms(e) if e["error"] is None else None)
    return {q: {k: (statistics.median([v for v in vs if v is not None])
                    if any(v is not None for v in vs) else None)
                for k, vs in kinds.items()} for q, kinds in sorted(rows.items())}


def record_expected(workload, raw):
    """Store the run's digests as the expected ones. Every pass must agree
    and no query may have failed."""
    digests = {}
    for e in raw["executions"]:
        if e["error"] is not None:
            die("cannot record: %s failed: %s" % (e["query"], e["error"]))
        if digests.setdefault(e["query"], e["digest"]) != e["digest"]:
            die("cannot record: %s changed digest between passes" % e["query"])
    allx = {}
    if os.path.exists(EXPECTED):
        with open(EXPECTED) as f:
            allx = json.load(f)
    allx[workload] = dict(sorted(digests.items()))
    with open(EXPECTED, "w") as f:
        json.dump(allx, f, indent=1, sort_keys=True)
        f.write("\n")
    return allx[workload]


if __name__ == "__main__":
    main()
