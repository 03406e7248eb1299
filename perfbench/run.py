#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program and the benchmark's
own sources when they changed (sbt, offline), generates the
seeded inputs once per (workload, seed), runs one workload in a fresh
JVM, checks the outputs, and prints every metric by name and unit. The
last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. Exits non-zero when a
check fails or the run cannot complete.

Everything it writes goes under .bench_build/perfbench/ in the checkout.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "target", "scala-2.13", "classes")
DEADLINE_S = 170

sys.path.insert(0, HERE)
import gen  # noqa: E402


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    """The Spark distribution: $SPARK_HOME, else the one whose
    spark-submit is on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark distribution found (set SPARK_HOME)")
    return home


def sources():
    files = []
    for pattern in ("src/main/**/*", "perfbench/src/**/*.scala"):
        files += [f for f in glob.glob(os.path.join(ROOT, pattern), recursive=True)
                  if os.path.isfile(f)]
    files += [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    return sorted(files)


def build(deadline):
    """Compile when any source changed since the last build."""
    digest = hashlib.sha256()
    for f in sources():
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = os.path.join(OUT, "build.stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp) \
            and open(stamp).read() == digest.hexdigest():
        return
    os.makedirs(OUT, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    with open(os.path.join(OUT, "build.log"), "w") as log:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                         HERE, env, log, deadline)
    if rc != 0:
        fail(f"build failed (exit {rc}); see .bench_build/perfbench/build.log")
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())


def run_bounded(cmd, cwd, env, log, deadline):
    """Run cmd in its own process group; kill the group at the deadline."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{cmd[0]} did not finish in time")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def cpu_ticks():
    """Host-wide CPU ticks from /proc/stat (Linux), or None."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def java_cmd(work, args):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = ["java", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in opens:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cp = os.pathsep.join([CLASSES, os.path.join(os.environ["SPARK_HOME"], "jars", "*")])
    return cmd + ["-cp", cp, "perfbench.Main"] + args


def canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return "NULL" if v is None else str(v)


def norm(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon(r[i]) for i in order) for r in rows), [cols[i] for i in order]


def oracle_check(data, work):
    """Compare each query result with its DuckDB oracle; returns the
    names that mismatch (a missing result is already a JVM error)."""
    import duckdb
    con = duckdb.connect()
    for t in ("events", "documents"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    with open(os.path.join(work, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    bad = []
    for name in sorted(oracle):
        files = glob.glob(os.path.join(work, "results", name, "*.parquet"))
        if not files:
            continue
        s = con.execute(f"SELECT * FROM '{work}/results/{name}/*.parquet'")
        scols = [d[0] for d in s.description]
        srows = s.fetchall()
        try:
            o = con.execute(oracle[name])
            ocols = [d[0] for d in o.description]
            orows = o.fetchall()
        except Exception as ex:  # oracle SQL error counts as a mismatch
            bad.append(f"{name}: oracle error {ex}")
            continue
        if norm(srows, scols) != norm(orows, ocols):
            bad.append(f"{name}: differs from oracle ({len(srows)} vs {len(orows)} rows)")
    return bad, len(oracle)


def main():
    start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("program sources (src/main/scala/graft) not found; run from a checkout root")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if a.workload not in gen.WORKLOADS:
        fail(f"unknown workload {a.workload}")

    # build.sbt and the JVM's classpath both read it
    os.environ["SPARK_HOME"] = spark_home()
    # the first build in a checkout may take longer than a run
    build(start + 700)
    deadline = time.time() + DEADLINE_S

    data = gen.ensure(os.path.join(OUT, "data"), a.workload, a.seed)
    work = os.path.join(OUT, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count() or 4))
    ticks0 = cpu_ticks()
    try:
        with open(os.path.join(work, "jvm.log"), "w") as log:
            rc = run_bounded(java_cmd(work, [a.workload, data, work, str(a.seconds),
                                             str(a.trace)]), ROOT, env, log, deadline)
        if rc != 0:
            with open(os.path.join(work, "jvm.log")) as fh:
                sys.stderr.write(fh.read()[-4000:])
            fail(f"benchmark JVM exited {rc}")
        with open(os.path.join(work, "result.json")) as fh:
            res = json.load(fh)
        detail = res.pop("detail")
        ticks1 = cpu_ticks()
        if ticks0 and ticks1 and len(ticks0) > 7:
            # share of CPU time the hypervisor gave to other guests while the
            # JVM ran: runs on a contended host read slower
            d = [b - a for a, b in zip(ticks0, ticks1)]
            detail["host_steal_share"] = d[7] / max(1, sum(d))
        if a.workload == "batch_queries":
            t0 = time.time()
            bad, n = oracle_check(data, work)
            detail["oracle_s"] = time.time() - t0
            res["failed"] += len(bad)
            if bad:
                detail["oracle_mismatches"] = bad
            detail["oracle_checked"] = n
        if a.trace:
            traces = os.path.join(OUT, "traces")
            os.makedirs(traces, exist_ok=True)
            span_file = os.path.join(traces, f"{a.workload}-seed{a.seed}.spans.json")
            shutil.copy(os.path.join(work, "spans.json"), span_file)
            detail["span_file"] = os.path.relpath(span_file, ROOT)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # Every workload reports every metric of the mode; a layer a
    # workload does not run did no work in it.
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    got = res["metrics"]
    metrics = {}
    for m in wanted:
        v = got.get(m["name"], {"value": 0.0, "unit": m["unit"]})
        if m["name"] not in got and not a.trace:
            fail(f"end-to-end metric {m['name']} missing")
        if v["unit"] != m["unit"] or v["value"] is None:
            fail(f"metric {m['name']}: got {v}, want a number in {m['unit']}")
        metrics[m["name"]] = {"value": v["value"], "unit": m["unit"]}
    res["correct"] = res["failed"] == 0
    res["metrics"] = metrics

    print(f"perfbench {a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace}")
    for k, v in metrics.items():
        print(f"  {k:40s} {v['value']:>16.6g} {v['unit']}")
    print("  detail " + json.dumps(detail, sort_keys=True))
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
