#!/usr/bin/env python3
"""Repository benchmark: builds the library from source, runs one workload
in a fresh JVM, checks every result against an independent reference and
prints one JSON line with the metrics.

    python3 perfbench/run.py --workload flagship --seed 42 --seconds 4 --trace 0

Workloads (see perfbench/README.md for what each one stresses):
  flagship   images -> phash decode -> broadcast cover join -> tiles, 4.2M rows a pass
  query_mix  short single-pass driver queries at sf0.01
  iterative  fixed-point driver queries at sf0.01

--trace 0 prints the end-to-end metrics; --trace 1 runs the same passes with
spans recorded (alternate passes untraced, to measure the overhead), adds
the flagship layer ladder, and prints the per-layer metrics. The last line
of standard output is the result; the exit code is 1 when any output did not
match its reference.
"""
import argparse
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
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)

import build  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("flagship", "query_mix", "iterative")
HEAP = "4g"
RUN_TIMEOUT_S = 170

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def unit_of(name):
    base = name[:-3] if name.endswith("_1c") else name
    for suffix, unit in (("_mops", "Mops/s"), ("_ms", "ms"), ("_mb", "MB"), ("_pct", "%"),
                         ("mrows_s", "Mrows/s"), ("_s", "s"), (".s", "s"), ("s_per_job", "s"),
                         ("_frac", "ratio"), ("eff", "ratio"), ("_ratio", "ratio")):
        if base.endswith(suffix):
            return unit
    return "count"


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def check_oracles(result, sql):
    """Failed operations per query whose verified output differs from its
    DuckDB oracle (every operation of such a query counts as failed)."""
    con = oracle.connect()
    bad = {}
    for q, (attempted, failed) in result["ops"].items():
        reason = None
        try:
            got = oracle.spark_digest(con, os.path.join(result["verify_dir"], q + ".parquet"))
            if q not in sql:
                reason = "no oracle SQL"
            else:
                want = oracle.oracle_digest(con, sql[q])
                if (got["rows"], got["digest"]) != (want["rows"], want["digest"]):
                    reason = f"{got['rows']} rows differ from DuckDB oracle ({want['rows']} rows)"
        except Exception as e:  # unreadable output or oracle error: the query failed
            reason = f"{type(e).__name__}: {e}"
        if reason:
            bad[q] = (attempted - failed, reason)
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    try:
        classpath = build.build()
    except SystemExit as e:
        fail(str(e), 2)
    t_start = time.monotonic()

    work = os.path.join(build.build_dir(), f"run-{a.workload}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    nproc = len(os.sched_getaffinity(0))
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    env.pop("SPARK_CONF_DIR", None)
    cmd = (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + ADD_OPENS +
           ["-cp", os.pathsep.join(classpath), "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--data", oracle.DATA,
            "--nproc", str(nproc), "--t0-ms", str(int(time.time() * 1000))])
    # oracle SQL is a function of the library build: dumped once per build and workload
    sql_path = os.path.join(build.build_dir(),
                            f"oracle-sql-{a.workload}-{build.stamp(classpath[0])[:12]}{build.stamp(classpath[1])[:12]}.json")
    if a.workload != "flagship" and not os.path.isfile(sql_path):
        cmd += ["--oracle-sql", sql_path]
    log_path = os.path.join(work, "jvm.log")
    # a terminated benchmark takes its JVM down with it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work, env=env)
        try:
            rc = proc.wait(timeout=max(10, RUN_TIMEOUT_S - (time.monotonic() - t_start)))
        except subprocess.TimeoutExpired:
            fail(f"run exceeded {RUN_TIMEOUT_S} s, see {log_path}", 4)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    result_path = os.path.join(work, "result.json")
    if rc != 0 or not os.path.isfile(result_path):
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"benchmark JVM exited with {rc}", 3)
    with open(result_path) as fh:
        result = json.load(fh)

    t_jvm = time.monotonic()
    attempted, failed = result["attempted"], result["failed"]
    failures = list(result["failures"])
    if a.workload != "flagship":
        with open(sql_path) as fh:
            sql = json.load(fh)
        for q, (n, reason) in check_oracles(result, sql).items():
            failed += n
            failures.append(f"{q}: {reason}")
    for f in failures:
        print(f"perfbench: FAILED {f}", file=sys.stderr)

    if a.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in result["per_layer"].items()}
    else:
        metrics = result["end_to_end"]
    finite = all(isinstance(m["value"], (int, float)) and math.isfinite(m["value"]) for m in metrics.values())
    correct = failed == 0 and finite
    host = {k: v for k, v in result["per_layer"].items() if k.startswith("host.")}
    print(json.dumps({"workload": a.workload, "seed": a.seed, "host": host,
                      "jvm_s": round(t_jvm - t_start, 2), "check_s": round(time.monotonic() - t_jvm, 2),
                      "passes": result["passes"], "failures": failures}))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    for d in ("tmp", "spark-local", "images_base"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
