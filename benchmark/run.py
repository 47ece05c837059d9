#!/usr/bin/env python3
"""graft's benchmark: build the engine with the benchmark, run one workload.

    python3 benchmark/run.py --workload conn_search --seed 1 --seconds 10 --trace 0
    python3 benchmark/run.py --workload conn_search --steadiness 10 --trace 0

The first form builds (once per source change), runs one workload in one
JVM and prints, as its last stdout line, the result object with the
end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1). The
line before it is the run record. The second form repeats a workload on
seeds 1..N and prints each metric's values, median and spread against the
bounds in BENCHMARK.json. See benchmark/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = os.path.join(ROOT, "src", "main", "scala")
WORK = os.path.join(HERE, ".work")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
WORKLOADS = ["conn_search", "mixed_shapes"]
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these opens when it is not started by spark-submit.
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[benchmark] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Content hash of every file the build reads."""
    h = hashlib.sha256()
    roots = [ENGINE, os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def spark_home():
    """SPARK_HOME, or the first Spark installation whose bin/ is on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    sys.exit("Spark not found: set SPARK_HOME")


def build():
    if not os.path.isdir(ENGINE):
        sys.exit(f"engine sources not found at {os.path.relpath(ENGINE)}")
    os.makedirs(WORK, exist_ok=True)
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building engine and benchmark with sbt")
    # keep the build's scratch files in the checkout: no sbt server socket,
    # temp files under .work/tmp, no JVM perf-data files
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["TMPDIR"] = tmp
    env["JAVA_TOOL_OPTIONS"] = (env.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                        f"-Djava.io.tmpdir={tmp}", "compile"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit(f"build failed ({r.returncode})")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


def commit():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 and r.stdout.strip() else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_once(workload, seed, seconds, trace):
    """Run one workload in a fresh JVM; return (record, result) or exit."""
    build()
    # the host's CPU calibration is measured by the first run in a checkout
    cal_file = os.path.join(WORK, "calibration_s")
    cal = []
    if os.path.exists(cal_file):
        with open(cal_file) as fh:
            cal = ["--calibration", fh.read().strip()]
    cp = os.pathsep.join([CLASSES, os.path.join(spark_home(), "jars", "*")])
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", cp, "graftbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--cores", str(len(os.sched_getaffinity(0))),
            "--work", WORK, "--commit", commit()] + cal
    proc = subprocess.Popen(cmd, cwd=HERE, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        sys.exit(f"{workload} did not finish within {RUN_TIMEOUT_S} s")
    finally:
        # never leave the JVM behind: on timeout, Ctrl-C or SIGTERM
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(os.path.join(WORK, workload), ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or len(lines) < 2:
        sys.exit(f"{workload} failed (exit {proc.returncode})")
    record, result = json.loads(lines[-2]), json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit("malformed result line")
    if not cal:
        with open(cal_file, "w") as fh:
            fh.write(repr(record["run_record"]["calibration_s"]))
    return record, result


def quartile_spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def steadiness(workload, runs, seconds, trace, first_seed):
    """Repeat a workload on `runs` seeds; report each metric's spread."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    values, failed = {}, 0
    for i in range(runs):
        seed = first_seed + i
        record, result = run_once(workload, seed, seconds, trace)
        failed += result["failed"]
        for k, m in result["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        log(f"{workload} seed {seed}: " + ", ".join(
            f"{k}={m['value']:.4g}" for k, m in result["metrics"].items() if k in bounds))
    report = {}
    for k, vs in values.items():
        spread = quartile_spread(vs) if len(vs) >= 2 else None
        b = bounds.get(k)
        report[k] = {"values": vs, "median": statistics.median(vs), "spread": spread,
                     "bound": b, "within_third_of_bound":
                         None if b is None or spread is None else spread < b / 3}
    print(json.dumps({"steadiness": workload, "runs": runs, "failed_ops": failed,
                      "metrics": report}))


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("terminated"))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--steadiness", type=int, default=0,
                    help="repeat on this many seeds, starting at --seed, and report spreads")
    a = ap.parse_args()
    if a.steadiness:
        steadiness(a.workload, a.steadiness, a.seconds, a.trace == 1, a.seed)
        return
    record, result = run_once(a.workload, a.seed, a.seconds, a.trace == 1)
    print(json.dumps(record))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
